"""Transverse Mercator — Poder/Engsager "exact" + Evenden/Snyder "approx".

Numpy re-derivation of the two TM algorithms PROJ ships
(reference: /root/reference/src/projections/tmerc.cpp — exact fwd/inv at
:328-485, series setup at :487-596; approx fwd/inv at :71-190; UTM wrapper at
:737-779). The 6th-order series in the third flattening ``n`` follows
Engsager & Poder (ICC 2007) / Koenig & Weise; coefficient polynomials are
evaluated in the same nesting order as the reference so float64 results agree
to well under the 50 nm gie tolerance (test/gie/builtins.gie:6720).

Kernel convention (same as PROJ's internal one, src/fwd.cpp:123-175): fwd
kernels consume (lam, phi) in radians *relative to lam0* and produce x,y in
units of the semi-major axis; the pipeline layer applies ``a``, ``k0``-free
false easting/northing and degree conversion.

Everything is vectorized: Clenshaw loops have a fixed trip count of 6, the
domain check |Ce| <= 2.623395162778 rad (reference tmerc.cpp:404) maps
out-of-domain points to NaN in-band.
"""

from __future__ import annotations

import math
from dataclasses import dataclass

import numpy as np

from proj_spark.crs import Ellipsoid
from proj_spark.kernels.common import adjlon

ORDER = 6
# |Ce| domain limit, ~150 degrees from the central meridian
_DOMAIN_CE = 2.623395162778


# --------------------------------------------------------------------------
# series helpers (fixed-trip Clenshaw summations, vectorized over points)
# --------------------------------------------------------------------------

def _gatg(coefs: tuple[float, ...], B, cos_2B, sin_2B):
    """Trig-series latitude conversion: B + sin(2B) * clenshaw(coefs, 2B)."""
    two_cos = 2.0 * cos_2B
    h1 = np.full_like(np.asarray(B, dtype=np.float64), coefs[-1])
    h2 = np.zeros_like(h1)
    for c in coefs[-2::-1]:
        h1, h2 = -h2 + two_cos * h1 + c, h1
    return B + h1 * sin_2B


def _clen_complex(coefs: tuple[float, ...], sin_r, cos_r, sinh_i, cosh_i):
    """Complex Clenshaw summation of sum(c_k * sin(2k*(N + iE))).

    Returns (real, imag) parts; argument trig/hyperbolic values of the
    doubled argument are supplied precomputed (they have cheap closed forms
    at both call sites).
    """
    r = 2.0 * cos_r * cosh_i
    i = -2.0 * sin_r * sinh_i
    hr = np.full_like(np.asarray(r, dtype=np.float64), coefs[-1])
    hi = np.zeros_like(hr)
    hr1 = np.zeros_like(hr)
    hi1 = np.zeros_like(hr)
    for c in coefs[-2::-1]:
        hr2, hi2 = hr1, hi1
        hr1, hi1 = hr, hi
        hr = -hr2 + r * hr1 - i * hi1 + c
        hi = -hi2 + i * hr1 + r * hi1
    rr = sin_r * cosh_i
    ii = cos_r * sinh_i
    return rr * hr - ii * hi, rr * hi + ii * hr


def _clen_real(coefs: tuple[float, ...], arg: float) -> float:
    """Scalar real Clenshaw (setup-time only)."""
    r = 2.0 * math.cos(arg)
    hr1 = 0.0
    hr = coefs[-1]
    for c in coefs[-2::-1]:
        hr, hr1 = -hr1 + r * hr + c, hr
    return math.sin(arg) * hr


# --------------------------------------------------------------------------
# setup: series coefficients from third flattening n (driver-side, scalar)
# --------------------------------------------------------------------------

@dataclass(frozen=True)
class TMercExact:
    """Frozen Poder/Engsager constants (PROJ struct PoderEngsager,
    reference tmerc.cpp:35-42)."""

    cgb: tuple[float, ...]  # gaussian -> geodetic lat series
    cbg: tuple[float, ...]  # geodetic -> gaussian lat series
    utg: tuple[float, ...]  # ell. N,E -> sph. N,E
    gtu: tuple[float, ...]  # sph. N,E -> ell. N,E
    Qn: float               # normalized meridian quadrant (includes k0)
    Zb: float               # origin-northing offset


def setup_exact(ell: Ellipsoid, k0: float = 1.0, phi0: float = 0.0) -> TMercExact:
    n = ell.n
    # Gauss <-> geodetic latitude series (Koenig & Weise (51)-(52), (61)-(62))
    cgb = [0.0] * ORDER
    cbg = [0.0] * ORDER
    cgb[0] = n * (2 + n * (-2 / 3.0 + n * (-2 + n * (116 / 45.0 + n * (26 / 45.0 + n * (-2854 / 675.0))))))
    cbg[0] = n * (-2 + n * (2 / 3.0 + n * (4 / 3.0 + n * (-82 / 45.0 + n * (32 / 45.0 + n * (4642 / 4725.0))))))
    np_ = n * n
    cgb[1] = np_ * (7 / 3.0 + n * (-8 / 5.0 + n * (-227 / 45.0 + n * (2704 / 315.0 + n * (2323 / 945.0)))))
    cbg[1] = np_ * (5 / 3.0 + n * (-16 / 15.0 + n * (-13 / 9.0 + n * (904 / 315.0 + n * (-1522 / 945.0)))))
    np_ *= n
    cgb[2] = np_ * (56 / 15.0 + n * (-136 / 35.0 + n * (-1262 / 105.0 + n * (73814 / 2835.0))))
    cbg[2] = np_ * (-26 / 15.0 + n * (34 / 21.0 + n * (8 / 5.0 + n * (-12686 / 2835.0))))
    np_ *= n
    cgb[3] = np_ * (4279 / 630.0 + n * (-332 / 35.0 + n * (-399572 / 14175.0)))
    cbg[3] = np_ * (1237 / 630.0 + n * (-12 / 5.0 + n * (-24832 / 14175.0)))
    np_ *= n
    cgb[4] = np_ * (4174 / 315.0 + n * (-144838 / 6237.0))
    cbg[4] = np_ * (-734 / 315.0 + n * (109598 / 31185.0))
    np_ *= n
    cgb[5] = np_ * (601676 / 22275.0)
    cbg[5] = np_ * (444337 / 155925.0)

    # normalized meridian quadrant, K&W p.50 (96)
    n2 = n * n
    Qn = k0 / (1 + n) * (1 + n2 * (1 / 4.0 + n2 * (1 / 64.0 + n2 / 256.0)))

    # ellipsoidal <-> spherical normalized N,E series, K&W p194 (65), p196 (69)
    utg = [0.0] * ORDER
    gtu = [0.0] * ORDER
    utg[0] = n * (-0.5 + n * (2 / 3.0 + n * (-37 / 96.0 + n * (1 / 360.0 + n * (81 / 512.0 + n * (-96199 / 604800.0))))))
    gtu[0] = n * (0.5 + n * (-2 / 3.0 + n * (5 / 16.0 + n * (41 / 180.0 + n * (-127 / 288.0 + n * (7891 / 37800.0))))))
    np_ = n * n
    utg[1] = np_ * (-1 / 48.0 + n * (-1 / 15.0 + n * (437 / 1440.0 + n * (-46 / 105.0 + n * (1118711 / 3870720.0)))))
    gtu[1] = np_ * (13 / 48.0 + n * (-3 / 5.0 + n * (557 / 1440.0 + n * (281 / 630.0 + n * (-1983433 / 1935360.0)))))
    np_ *= n
    utg[2] = np_ * (-17 / 480.0 + n * (37 / 840.0 + n * (209 / 4480.0 + n * (-5569 / 90720.0))))
    gtu[2] = np_ * (61 / 240.0 + n * (-103 / 140.0 + n * (15061 / 26880.0 + n * (167603 / 181440.0))))
    np_ *= n
    utg[3] = np_ * (-4397 / 161280.0 + n * (11 / 504.0 + n * (830251 / 7257600.0)))
    gtu[3] = np_ * (49561 / 161280.0 + n * (-179 / 168.0 + n * (6601661 / 7257600.0)))
    np_ *= n
    utg[4] = np_ * (-4583 / 161280.0 + n * (108847 / 3991680.0))
    gtu[4] = np_ * (34729 / 80640.0 + n * (-3418889 / 1995840.0))
    np_ *= n
    utg[5] = np_ * (-20648693 / 638668800.0)
    gtu[5] = np_ * (212378941 / 319334400.0)

    # gaussian latitude of the origin, then the origin-northing offset
    Z = float(_gatg(tuple(cbg), phi0, math.cos(2 * phi0), math.sin(2 * phi0)))
    Zb = -Qn * (Z + _clen_real(tuple(gtu), 2 * Z))

    return TMercExact(tuple(cgb), tuple(cbg), tuple(utg), tuple(gtu), Qn, Zb)


# --------------------------------------------------------------------------
# exact kernels (vectorized; x,y in units of a)
# --------------------------------------------------------------------------

def exact_fwd(lam: np.ndarray, phi: np.ndarray, C: TMercExact):
    """(lam-from-central-meridian, phi) radians -> (x, y) / a."""
    lam = np.asarray(lam, dtype=np.float64)
    phi = np.asarray(phi, dtype=np.float64)

    # geodetic -> gaussian latitude
    Cn = _gatg(C.cbg, phi, np.cos(2 * phi), np.sin(2 * phi))
    sin_Cn, cos_Cn = np.sin(Cn), np.cos(Cn)
    sin_Ce, cos_Ce = np.sin(lam), np.cos(lam)

    cos_Cn_cos_Ce = cos_Cn * cos_Ce
    Cn = np.arctan2(sin_Cn, cos_Cn_cos_Ce)
    inv_denom = 1.0 / np.hypot(sin_Cn, cos_Cn_cos_Ce)
    tan_Ce = sin_Ce * cos_Cn * inv_denom
    Ce = np.arcsinh(tan_Ce)

    # doubled-argument trig/hyperbolic values via the tangent identities
    two_inv = 2.0 * inv_denom
    two_inv_sq = two_inv * inv_denom
    tmp_r = cos_Cn_cos_Ce * two_inv_sq
    sin_arg_r = sin_Cn * tmp_r
    cos_arg_r = cos_Cn_cos_Ce * tmp_r - 1.0
    sinh_arg_i = tan_Ce * two_inv
    cosh_arg_i = two_inv_sq - 1.0

    dCn, dCe = _clen_complex(C.gtu, sin_arg_r, cos_arg_r, sinh_arg_i, cosh_arg_i)
    Cn = Cn + dCn
    Ce = Ce + dCe

    ok = np.abs(Ce) <= _DOMAIN_CE
    y = np.where(ok, C.Qn * Cn + C.Zb, np.nan)
    x = np.where(ok, C.Qn * Ce, np.nan)
    return x, y


def exact_inv(x: np.ndarray, y: np.ndarray, C: TMercExact):
    """(x, y) / a -> (lam-from-central-meridian, phi) radians."""
    x = np.asarray(x, dtype=np.float64)
    y = np.asarray(y, dtype=np.float64)

    Cn = (y - C.Zb) / C.Qn
    Ce = x / C.Qn
    ok = np.abs(Ce) <= _DOMAIN_CE
    Ce = np.where(ok, Ce, 0.0)  # keep math finite; mask at the end

    sin_arg_r = np.sin(2 * Cn)
    cos_arg_r = np.cos(2 * Cn)
    exp2 = np.exp(2 * Ce)
    half_inv = 0.5 / exp2
    sinh_arg_i = 0.5 * exp2 - half_inv
    cosh_arg_i = 0.5 * exp2 + half_inv

    dCn, dCe = _clen_complex(C.utg, sin_arg_r, cos_arg_r, sinh_arg_i, cosh_arg_i)
    Cn = Cn + dCn
    Ce = Ce + dCe

    sin_Cn, cos_Cn = np.sin(Cn), np.cos(Cn)
    sinh_Ce = np.sinh(Ce)
    Ce = np.arctan2(sinh_Ce, cos_Cn)
    modulus = np.hypot(sinh_Ce, cos_Cn)
    Cn = np.arctan2(sin_Cn, modulus)

    # gaussian -> geodetic latitude with doubled-angle identities
    tmp = 2.0 * modulus / (sinh_Ce * sinh_Ce + 1.0)
    sin_2Cn = sin_Cn * tmp
    cos_2Cn = tmp * modulus - 1.0
    phi = _gatg(C.cgb, Cn, cos_2Cn, sin_2Cn)

    return np.where(ok, Ce, np.nan), np.where(ok, phi, np.nan)


# --------------------------------------------------------------------------
# approx (Evenden/Snyder) kernels — meridian-distance series
# (reference tmerc.cpp:71-190 + src/mlfn.cpp 6th-order expansion)
# --------------------------------------------------------------------------

_FC = (1.0, 0.5, 1 / 6.0, 1 / 12.0, 0.05, 1 / 30.0, 1 / 42.0, 1 / 56.0)
_LMAX = 6


@dataclass(frozen=True)
class TMercApprox:
    es: float
    esp: float   # es / (1 - es)
    ml0: float
    k0: float
    en: tuple[float, ...]  # (scale, mu<-phi coefs[6], phi<-mu coefs[6])
    phi0: float = 0.0


def _enfn(n: float) -> tuple[float, ...]:
    """Meridian-distance series coefficients (reference src/mlfn.cpp)."""
    coeff_rad = (1.0, 1 / 4.0, 1 / 64.0, 1 / 256.0)
    coeff_mu_phi = (
        -3 / 2.0, 9 / 16.0, -3 / 32.0, 15 / 16.0, -15 / 32.0, 135 / 2048.0,
        -35 / 48.0, 105 / 256.0, 315 / 512.0, -189 / 512.0, -693 / 1280.0,
        1001 / 2048.0,
    )
    coeff_phi_mu = (
        3 / 2.0, -27 / 32.0, 269 / 512.0, 21 / 16.0, -55 / 32.0, 6759 / 4096.0,
        151 / 96.0, -417 / 128.0, 1097 / 512.0, -15543 / 2560.0, 8011 / 2560.0,
        293393 / 61440.0,
    )

    def polyval(xv: float, p: tuple[float, ...]) -> float:
        y = 0.0
        for c in p[::-1]:
            y = y * xv + c
        return y

    n2 = n * n
    en = [0.0] * (2 * _LMAX + 1)
    en[0] = polyval(n2, coeff_rad[: _LMAX // 2 + 1]) / (1 + n)
    d = n
    o = 0
    for level in range(_LMAX):
        m = (_LMAX - level - 1) // 2
        en[level + 1] = d * polyval(n2, coeff_mu_phi[o : o + m + 1])
        en[level + 1 + _LMAX] = d * polyval(n2, coeff_phi_mu[o : o + m + 1])
        d *= n
        o += m + 1
    return tuple(en)


def _clenshaw_sin2k(s, c, coefs):
    """sum(c_k sin((2k+2) zeta)) given sin/cos of zeta (vectorized)."""
    X = 2.0 * (c - s) * (c + s)
    u0 = np.zeros_like(np.asarray(s, dtype=np.float64))
    u1 = np.zeros_like(u0)
    for ck in coefs[::-1]:
        u0, u1 = X * u0 - u1 + ck, u0
    return 2.0 * s * c * u0


def mlfn(phi, sphi, cphi, en):
    return en[0] * (phi + _clenshaw_sin2k(sphi, cphi, en[1 : 1 + _LMAX]))


def inv_mlfn(mu, en):
    mu = mu / en[0]
    return mu + _clenshaw_sin2k(np.sin(mu), np.cos(mu), en[1 + _LMAX :])


def setup_approx(ell: Ellipsoid, k0: float = 1.0, phi0: float = 0.0) -> TMercApprox:
    if ell.es != 0.0:
        en = _enfn(ell.n)
        ml0 = float(mlfn(phi0, math.sin(phi0), math.cos(phi0), en))
        esp = ell.es / (1.0 - ell.es)
    else:  # spherical: esp/ml0 get reused as k0-ish constants
        en = ()
        esp = k0
        ml0 = 0.5 * esp
    return TMercApprox(ell.es, esp, ml0, k0, en, phi0)


def sph_fwd(lam, phi, C: TMercApprox):
    """Spherical transverse Mercator (reference tmerc.cpp:118-151
    tmerc_spherical_fwd, Snyder eq. 8-1/8-3)."""
    lam = np.asarray(lam, dtype=np.float64)
    phi = np.asarray(phi, dtype=np.float64)
    cosphi = np.cos(phi)
    b = cosphi * np.sin(lam)
    bad = np.abs(np.abs(b) - 1.0) <= 1e-10
    with np.errstate(divide="ignore", invalid="ignore"):
        x = C.ml0 * np.log((1.0 + b) / (1.0 - b))
        yr = cosphi * np.cos(lam) / np.sqrt(1.0 - b * b)
    ay = np.abs(yr)
    # |lam| > 90 at the equator maps to the far branch (tmerc.cpp:134-137)
    equator_far = (cosphi == 1.0) & ((lam < -np.pi / 2) | (lam > np.pi / 2))
    y = np.where(ay >= 1.0, 0.0, np.arccos(np.clip(yr, -1.0, 1.0)))
    bad |= (ay >= 1.0) & ((ay - 1.0) > 1e-10)
    y = np.where(equator_far, np.pi, y)
    y = np.where(phi < 0.0, -y, y)
    y = C.esp * (y - C.phi0)
    return np.where(bad, np.nan, x), np.where(bad, np.nan, y)


def sph_inv(x, y, C: TMercApprox):
    """Spherical transverse Mercator inverse (tmerc_spherical_inv,
    USGS Working Manual eq. 8-6..8-8)."""
    x = np.asarray(x, dtype=np.float64)
    y = np.asarray(y, dtype=np.float64)
    with np.errstate(divide="ignore", invalid="ignore", over="ignore"):
        h = np.exp(x / C.esp)
        g = 0.5 * (h - 1.0 / h)
        D = C.phi0 + y / C.esp
        hc = np.cos(D)
        phi = np.arcsin(np.sqrt(np.clip(
            (1.0 - hc * hc) / (1.0 + g * g), 0.0, 1.0)))
        phi = np.copysign(phi, D)
        lam = np.where((g != 0.0) | (hc != 0.0), np.arctan2(g, hc), 0.0)
    bad = h == 0.0
    return np.where(bad, np.nan, lam), np.where(bad, np.nan, phi)


def approx_fwd(lam, phi, C: TMercApprox):
    lam = np.asarray(lam, dtype=np.float64)
    phi = np.asarray(phi, dtype=np.float64)
    sinphi, cosphi = np.sin(phi), np.cos(phi)
    t = np.where(np.abs(cosphi) > 1e-10, sinphi / cosphi, 0.0)
    t = t * t
    al = cosphi * lam
    als = al * al
    al = al / np.sqrt(1.0 - C.es * sinphi * sinphi)
    nn = C.esp * cosphi * cosphi
    x = C.k0 * al * (
        _FC[0]
        + _FC[2] * als * (1.0 - t + nn + _FC[4] * als * (
            5.0 + t * (t - 18.0) + nn * (14.0 - 58.0 * t)
            + _FC[6] * als * (61.0 + t * (t * (179.0 - t) - 479.0))))
    )
    y = C.k0 * (
        mlfn(phi, sinphi, cosphi, C.en) - C.ml0
        + sinphi * al * lam * _FC[1] * (
            1.0 + _FC[3] * als * (
                5.0 - t + nn * (9.0 + 4.0 * nn) + _FC[5] * als * (
                    61.0 + t * (t - 58.0) + nn * (270.0 - 330.0 * t)
                    + _FC[7] * als * (1385.0 + t * (t * (543.0 - t) - 3111.0)))))
    )
    bad = (lam < -np.pi / 2) | (lam > np.pi / 2)
    return np.where(bad, np.nan, x), np.where(bad, np.nan, y)


def approx_inv(x, y, C: TMercApprox):
    x = np.asarray(x, dtype=np.float64)
    y = np.asarray(y, dtype=np.float64)
    phi = inv_mlfn(C.ml0 + y / C.k0, C.en)
    polar = np.abs(phi) >= np.pi / 2

    sinphi, cosphi = np.sin(phi), np.cos(phi)
    t = np.where(np.abs(cosphi) > 1e-10, sinphi / cosphi, 0.0)
    nn = C.esp * cosphi * cosphi
    con = 1.0 - C.es * sinphi * sinphi
    d = x * np.sqrt(con) / C.k0
    con = con * t
    t = t * t
    ds = d * d
    phi_out = phi - (con * ds / (1.0 - C.es)) * _FC[1] * (
        1.0 - ds * _FC[3] * (
            5.0 + t * (3.0 - 9.0 * nn) + nn * (1.0 - 4.0 * nn)
            - ds * _FC[5] * (
                61.0 + t * (90.0 - 252.0 * nn + 45.0 * t) + 46.0 * nn
                - ds * _FC[7] * (1385.0 + t * (3633.0 + t * (4095.0 + 1575.0 * t))))))
    safe_cos = np.where(np.abs(cosphi) < 1e-10, 1.0, cosphi)
    lam_out = d * (
        _FC[0] - ds * _FC[2] * (
            1.0 + 2.0 * t + nn - ds * _FC[4] * (
                5.0 + t * (28.0 + 24.0 * t + 8.0 * nn) + 6.0 * nn
                - ds * _FC[6] * (61.0 + t * (662.0 + t * (1320.0 + 720.0 * t)))))
    ) / safe_cos

    phi_out = np.where(polar, np.where(y < 0, -np.pi / 2, np.pi / 2), phi_out)
    lam_out = np.where(polar, 0.0, lam_out)
    return lam_out, phi_out


# --------------------------------------------------------------------------
# UTM zone helpers (reference tmerc.cpp:737-779)
# --------------------------------------------------------------------------

def utm_zone(lam) -> np.ndarray:
    """UTM zone 1..60 (float, NaN for NaN) of radians longitude: the
    6-degree band of the adjlon-wrapped longitude, so +180 degrees is zone
    60 (tmerc.cpp:763-767)."""
    return np.clip(np.floor((adjlon(lam) + np.pi) * 30.0 / np.pi), 0, 59) + 1.0


def utm_params(zone: int, south: bool = False) -> dict:
    """Central meridian + offsets for a UTM zone (zone is 1-based)."""
    if not 1 <= zone <= 60:
        raise ValueError(f"invalid UTM zone {zone}")
    lam0 = math.radians((zone - 1 + 0.5) * 6.0 - 180.0)
    return {
        "lam0": lam0,
        "k0": 0.9996,
        "phi0": 0.0,
        "x0": 500000.0,
        "y0": 10000000.0 if south else 0.0,
    }
