"""Karney geodesics (direct + inverse) on the ellipsoid, vectorized.

Numpy re-derivation of the algorithms in C. F. F. Karney, "Algorithms for
geodesics", J. Geodesy 87, 43-55 (2013), doi:10.1007/s00190-012-0578-z
(public paper; the reference ships a C transcription in
/root/reference/src/geodesic.c).  Sixth-order series in the third
flattening / eps, Newton's method with a bisection-bracket safeguard for
the inverse problem, and the astroid starting guess for nearly antipodal
pairs — so the inverse converges everywhere, including the antipodal
region where Vincenty diverges (see kernels/geodesic.py).

All public entry points take/return degrees and metres and are
vectorized over numpy arrays.  Reduced length m12 and geodesic scales
M12/M21 are available for the ellipsoidal gnomonic projection
(reference src/projections/gnom.cpp) and aeqd (aeqd.cpp e_fwd/e_inv).
"""

from __future__ import annotations

import math
from dataclasses import dataclass

import numpy as np

_TINY = math.sqrt(np.finfo(float).tiny)
_TOL0 = np.finfo(float).eps
_TOL1 = 200 * _TOL0
_TOL2 = math.sqrt(_TOL0)
_TOLB = _TOL0 * _TOL2
_XTHRESH = 1000 * _TOL2
_MAXIT1 = 20
_MAXIT2 = _MAXIT1 + 83 + 10  # bisection fallback budget (digits of double)


@dataclass(frozen=True)
class GeodConsts:
    a: float
    f: float
    f1: float
    e2: float
    ep2: float
    n: float
    b: float
    etol2: float


def geod_consts(a: float, f: float) -> GeodConsts:
    f1 = 1.0 - f
    e2 = f * (2.0 - f)
    ep2 = e2 / (f1 * f1)
    n = f / (2.0 - f)
    b = a * f1
    etol2 = 0.1 * _TOL2 / math.sqrt(max(0.001, abs(f)) *
                                    min(1.0, 1.0 - f / 2.0) / 2.0)
    return GeodConsts(a, f, f1, e2, ep2, n, b, etol2)


# ----------------------------------------------------------------- series

def _A1m1(eps):
    x = eps * eps
    t = ((x + 4.0) * x + 64.0) * x / 256.0
    return (t + eps) / (1.0 - eps)


def _C1(eps):
    x = eps * eps
    c = np.empty((6,) + np.shape(eps))
    c[0] = ((-x + 6.0) * x - 16.0) * eps / 32.0
    c[1] = ((-9.0 * x + 64.0) * x - 128.0) * x / 2048.0
    c[2] = (9.0 * x - 16.0) * x * eps / 768.0
    c[3] = (3.0 * x - 5.0) * x * x / 512.0
    c[4] = -7.0 * x * x * eps / 1280.0
    c[5] = -7.0 * x * x * x / 2048.0
    return c


def _C1p(eps):
    x = eps * eps
    c = np.empty((6,) + np.shape(eps))
    c[0] = ((205.0 * x - 432.0) * x + 768.0) * eps / 1536.0
    c[1] = ((4005.0 * x - 4736.0) * x + 3840.0) * x / 12288.0
    c[2] = (-225.0 * x + 116.0) * x * eps / 384.0
    c[3] = (-7173.0 * x + 2695.0) * x * x / 7680.0
    c[4] = 3467.0 * x * x * eps / 7680.0
    c[5] = 38081.0 * x * x * x / 61440.0
    return c


def _A2m1(eps):
    x = eps * eps
    t = ((-11.0 * x - 28.0) * x - 192.0) * x / 256.0
    return (t - eps) / (1.0 + eps)


def _C2(eps):
    x = eps * eps
    c = np.empty((6,) + np.shape(eps))
    c[0] = ((x + 2.0) * x + 16.0) * eps / 32.0
    c[1] = ((35.0 * x + 64.0) * x + 384.0) * x / 2048.0
    c[2] = (15.0 * x + 80.0) * x * eps / 768.0
    c[3] = (7.0 * x + 35.0) * x * x / 512.0
    c[4] = 63.0 * x * x * eps / 1280.0
    c[5] = 77.0 * x * x * x / 2048.0
    return c


def _A3(eps, n):
    # polynomial in eps, coefficients polynomial in third flattening n
    c5 = -3.0 / 128.0
    c4 = (-3.0 * n - 2.0) / 64.0
    c3 = ((-n - 3.0) * n - 1.0) / 16.0
    c2 = ((3.0 * n - 1.0) * n - 2.0) / 8.0
    c1 = (n - 1.0) / 2.0
    return ((((c5 * eps + c4) * eps + c3) * eps + c2) * eps + c1) * eps + 1.0


def _C3(eps, n):
    c = np.empty((5,) + np.shape(eps))
    # C3[1]
    p = 3.0 / 128.0
    p = p * eps + (2.0 * n + 5.0) / 128.0
    p = p * eps + ((-n + 3.0) * n + 3.0) / 64.0
    p = p * eps + (1.0 - n * n) / 8.0
    p = p * eps + (1.0 - n) / 4.0
    c[0] = p * eps
    # C3[2]
    p = 5.0 / 256.0
    p = p * eps + (n + 3.0) / 128.0
    p = p * eps + ((-3.0 * n - 2.0) * n + 3.0) / 64.0
    p = p * eps + ((n - 3.0) * n + 2.0) / 32.0
    c[1] = p * eps * eps
    # C3[3]
    p = 7.0 / 512.0
    p = p * eps + (9.0 - 10.0 * n) / 384.0
    p = p * eps + ((5.0 * n - 9.0) * n + 5.0) / 192.0
    c[2] = p * eps ** 3
    # C3[4]
    p = 7.0 / 512.0
    p = p * eps + (7.0 - 14.0 * n) / 512.0
    c[3] = p * eps ** 4
    # C3[5]
    c[4] = (21.0 / 2560.0) * eps ** 5
    return c


def _C4(eps, n):
    """Area series coefficients: I4 = sum C4[l] cos((2l+1) sigma)
    (paper eq. 65; 6th order)."""
    c = np.empty((6,) + np.shape(eps))
    # C4[0]: polynomial in eps (deg 5), coefficients polynomial in n
    p = 97.0 / 15015.0
    p = p * eps + (1088.0 * n + 156.0) / 45045.0
    p = p * eps + ((-224.0 * n - 4784.0) * n + 1573.0) / 45045.0
    p = p * eps + (((-10656.0 * n + 14144.0) * n - 4576.0) * n
                   - 858.0) / 45045.0
    p = p * eps + ((((64.0 * n + 624.0) * n - 4576.0) * n + 6864.0) * n
                   - 3003.0) / 15015.0
    p = p * eps + (((((100.0 * n + 208.0) * n + 572.0) * n + 3432.0) * n
                    - 12012.0) * n + 30030.0) / 45045.0
    c[0] = p
    # C4[1]
    p = 1.0 / 9009.0
    p = p * eps + (-2944.0 * n + 468.0) / 135135.0
    p = p * eps + ((5792.0 * n + 1040.0) * n - 1287.0) / 135135.0
    p = p * eps + (((5952.0 * n - 11648.0) * n + 9152.0) * n
                   - 2574.0) / 135135.0
    p = p * eps + ((((-64.0 * n - 624.0) * n + 4576.0) * n - 6864.0) * n
                   + 3003.0) / 135135.0
    c[1] = p * eps
    # C4[2]
    p = 8.0 / 10725.0
    p = p * eps + (1856.0 * n - 936.0) / 225225.0
    p = p * eps + ((-8448.0 * n + 4992.0) * n - 1144.0) / 225225.0
    p = p * eps + (((-1440.0 * n + 4160.0) * n - 4576.0) * n
                   + 1716.0) / 225225.0
    c[2] = p * eps ** 2
    # C4[3]
    p = -136.0 / 63063.0
    p = p * eps + (1024.0 * n - 208.0) / 105105.0
    p = p * eps + ((3584.0 * n - 3328.0) * n + 1144.0) / 315315.0
    c[3] = p * eps ** 3
    # C4[4]
    p = -128.0 / 135135.0
    p = p * eps + (-2560.0 * n + 832.0) / 405405.0
    c[4] = p * eps ** 4
    # C4[5]
    c[5] = (128.0 / 99099.0) * eps ** 5
    return c


def _cos_series(sinx, cosx, c):
    """sum_{l=0}^{k-1} c[l] * cos((2l+1) x) via Clenshaw."""
    k = c.shape[0]
    ar = 2.0 * (cosx - sinx) * (cosx + sinx)
    y0 = np.zeros_like(ar)
    y1 = np.zeros_like(ar)
    i = k
    if i % 2 == 1:
        i -= 1
        y0 = c[i] + np.zeros_like(ar)
    while i > 0:
        i -= 1
        y1 = ar * y0 - y1 + c[i]
        i -= 1
        y0 = ar * y1 - y0 + c[i]
    return cosx * (y0 - y1)


def authalic_c2(C: GeodConsts) -> float:
    """c2: half the authalic-sphere-squared factor used for areas
    (GeographicLib Geodesic constructor)."""
    b2 = C.b * C.b
    if C.e2 == 0.0:
        return (C.a * C.a + b2) / 2.0
    e = math.sqrt(abs(C.e2))
    t = math.atanh(e) if C.e2 > 0 else math.atan(e)
    return (C.a * C.a + b2 * t / e) / 2.0


def _sin_series(sinx, cosx, c):
    """sum_{l=1}^{k} c[l-1] * sin(2 l x) via Clenshaw."""
    k = c.shape[0]
    ar = 2.0 * (cosx - sinx) * (cosx + sinx)
    y0 = np.zeros_like(ar)
    y1 = np.zeros_like(ar)
    i = k
    if i % 2 == 1:
        i -= 1
        y0 = c[i] + np.zeros_like(ar)
    while i > 0:
        i -= 1
        y1 = ar * y0 - y1 + c[i]
        i -= 1
        y0 = ar * y1 - y0 + c[i]
    return 2.0 * sinx * cosx * y0


# ------------------------------------------------------------- helpers

def _norm2(x, y):
    h = np.hypot(x, y)
    with np.errstate(divide="ignore", invalid="ignore"):
        return x / h, y / h


def _ang_round(x):
    """Round tiny angles (degrees) to zero cleanly (paper sec. 9)."""
    z = 1.0 / 16.0
    y = np.abs(x)
    y = np.where(y < z, z - (z - y), y)
    return np.where(x < 0, -y, y) * 1.0


def lat_fix(x):
    """A latitude beyond +-90 degrees is NaN (GeographicLib LatFix)."""
    return np.where(np.abs(x) > 90.0, np.nan, x)


def _ang_diff(x, y):
    """(y - x) normalized to [-180, 180], exact-ish."""
    d = np.remainder(y - x, 360.0)
    d = np.where(d > 180.0, d - 360.0, d)
    d = np.where(d <= -180.0, d + 360.0, d)
    return d


def _sincosd(deg):
    r = np.radians(deg)
    s, c = np.sin(r), np.cos(r)
    # exact values at multiples of 90
    q = np.remainder(deg, 360.0)
    s = np.where(q == 0.0, 0.0, s)
    s = np.where(q == 180.0, 0.0, s)
    c = np.where(q == 90.0, 0.0, c)
    c = np.where(q == 270.0, 0.0, c)
    return s, c


def _astroid(x, y):
    """Solve k^4 + 2k^3 - (x^2+y^2-1)k^2 - 2y^2 k - y^2 = 0 for +ve root
    (paper eq. 65), vectorized."""
    p = x * x
    q = y * y
    r = (p + q - 1.0) / 6.0
    # q == 0 && r <= 0 -> k = 0
    zero_case = (q == 0.0) & (r <= 0.0)
    S = p * q / 4.0
    r2 = r * r
    r3 = r * r2
    disc = S * (S + 2.0 * r3)
    u = r.copy()
    pos = disc >= 0.0
    with np.errstate(invalid="ignore"):
        T3 = np.where(pos, S + r3, np.nan)
        T3 = np.where(pos,
                      T3 + np.where(T3 < 0.0, -1.0, 1.0)
                      * np.sqrt(np.where(pos, disc, 0.0)),
                      np.nan)
        T = np.cbrt(T3)
        u_pos = r + np.where(T != 0.0, T + r2 / np.where(T != 0.0, T, 1.0),
                             0.0)
        ang = np.arctan2(np.sqrt(np.where(~pos, -disc, 0.0)), -(S + r3))
        u_neg = r + 2.0 * r * np.cos(ang / 3.0)
        u = np.where(pos, u_pos, u_neg)
        v = np.sqrt(u * u + q)
        uv = np.where(u < 0.0, q / (v - u), u + v)
        w = (uv - q) / (2.0 * v)
        k = uv / (np.sqrt(uv + w * w) + w)
    return np.where(zero_case, 0.0, k)


def _lengths(C: GeodConsts, eps, sig12, ssig1, csig1, dn1, ssig2, csig2,
             dn2, cbet1, cbet2, scale: bool):
    """s12b, m12b (units of b), m0, M12, M21 over [sigma1, sigma2]."""
    A1m1 = _A1m1(eps)
    A2m1 = _A2m1(eps)
    A1 = 1.0 + A1m1
    A2 = 1.0 + A2m1
    m0x = A1m1 - A2m1
    Ca = _C1(eps)
    Cb = _C2(eps)
    B1 = _sin_series(ssig2, csig2, Ca) - _sin_series(ssig1, csig1, Ca)
    B2 = _sin_series(ssig2, csig2, Cb) - _sin_series(ssig1, csig1, Cb)
    s12b = A1 * (sig12 + B1)
    J12 = m0x * sig12 + (A1 * B1 - A2 * B2)
    m12b = (dn2 * (csig1 * ssig2) - dn1 * (ssig1 * csig2)
            - csig1 * csig2 * J12)
    if not scale:
        return s12b, m12b, m0x, None, None
    csig12 = csig1 * csig2 + ssig1 * ssig2
    t = C.ep2 * (cbet1 - cbet2) * (cbet1 + cbet2) / (dn1 + dn2)
    M12 = csig12 + (t * ssig2 - csig2 * J12) * ssig1 / dn1
    M21 = csig12 - (t * ssig1 - csig1 * J12) * ssig2 / dn2
    return s12b, m12b, m0x, M12, M21


def _inverse_start(C: GeodConsts, sbet1, cbet1, dn1, sbet2, cbet2, dn2,
                   lam12, slam12, clam12):
    """Starting guess for alpha1 (paper sec. 5); returns
    (sig12, salp1, calp1, salp2, calp2, dnm) with sig12 >= 0 only for the
    really-short-line shortcut."""
    sbet12 = sbet2 * cbet1 - cbet2 * sbet1
    cbet12 = cbet2 * cbet1 + sbet2 * sbet1
    sbet12a = sbet2 * cbet1 + cbet2 * sbet1

    shortline = (cbet12 >= 0.0) & (sbet12 < 0.5) & (cbet2 * lam12 < 0.5)
    sbetm2 = (sbet1 + sbet2) ** 2
    sbetm2 = sbetm2 / (sbetm2 + (cbet1 + cbet2) ** 2)
    dnm = np.sqrt(1.0 + C.ep2 * sbetm2)
    omg12 = np.where(shortline, lam12 / (C.f1 * dnm), lam12)
    somg12, comg12 = np.sin(omg12), np.cos(omg12)

    with np.errstate(divide="ignore", invalid="ignore"):
        salp1 = cbet2 * somg12
        calp1 = np.where(
            comg12 >= 0.0,
            sbet12 + cbet2 * sbet1 * somg12 ** 2 / (1.0 + comg12),
            sbet12a - cbet2 * sbet1 * somg12 ** 2 / (1.0 - comg12))
    ssig12 = np.hypot(salp1, calp1)
    csig12 = sbet1 * sbet2 + cbet1 * cbet2 * comg12

    really_short = shortline & (ssig12 < C.etol2)
    sig12 = np.where(really_short, np.arctan2(ssig12, csig12), -1.0)
    # alpha2 for the really-short-line shortcut (paper sec. 5)
    salp2 = cbet1 * somg12
    calp2 = sbet12 - cbet1 * sbet2 * np.where(
        comg12 >= 0.0, somg12 ** 2 / (1.0 + comg12), 1.0 - comg12)
    salp2, calp2 = _norm2(
        np.where((salp2 == 0.0) & (calp2 == 0.0), _TINY, salp2), calp2)

    ok = (csig12 >= 0.0) | (ssig12 >= 6.0 * abs(C.n) * math.pi
                            * cbet1 ** 2)

    # nearly antipodal: astroid problem (assumes f >= 0, true for Earth)
    x = np.zeros_like(sbet1)
    y = np.zeros_like(sbet1)
    lamscale = betscale = None
    if C.f >= 0:
        k2 = sbet1 ** 2 * C.ep2
        eps = k2 / (2.0 * (1.0 + np.sqrt(1.0 + k2)) + k2)
        lamscale = C.f * cbet1 * _A3(eps, C.n) * math.pi
        betscale = lamscale * cbet1
        x = (lam12 - math.pi) / np.where(lamscale != 0, lamscale, 1.0)
        y = sbet12a / np.where(betscale != 0, betscale, 1.0)
    else:  # pragma: no cover - oblate only in this engine
        raise NotImplementedError("prolate ellipsoids not supported")

    easy = (y > -_TOL1) & (x > -1.0 - _XTHRESH)
    salp1_e = np.minimum(1.0, -x)
    calp1_e = -np.sqrt(np.maximum(0.0, 1.0 - salp1_e ** 2))
    k = _astroid(x, y)
    omg12a = lamscale * (-x * k / (1.0 + k))
    somg12a, comg12a = np.sin(omg12a), -np.cos(omg12a)
    salp1_h = cbet2 * somg12a
    calp1_h = sbet12a - cbet2 * sbet1 * somg12a ** 2 / (1.0 - comg12a)

    salp1 = np.where(ok, salp1, np.where(easy, salp1_e, salp1_h))
    calp1 = np.where(ok, calp1, np.where(easy, calp1_e, calp1_h))

    # sanitize
    salp1, calp1 = _norm2(np.maximum(salp1, _TINY), calp1)
    return sig12, salp1, calp1, salp2, calp2, dnm


def _lambda12(C: GeodConsts, sbet1, cbet1, dn1, sbet2, cbet2, dn2,
              salp1, calp1, slam120, clam120, diffp: bool):
    """v = lambda12(alp1) - lambda12_target and its alpha1-derivative."""
    calp1 = np.where((sbet1 == 0.0) & (calp1 == 0.0), -_TINY, calp1)
    salp0 = salp1 * cbet1
    calp0 = np.hypot(calp1, salp1 * sbet1)

    ssig1 = sbet1
    somg1 = salp0 * sbet1
    csig1 = comg1 = calp1 * cbet1
    ssig1, csig1 = _norm2(ssig1, csig1)

    salp2 = np.where(cbet2 != cbet1, salp0 / cbet2, salp1)
    calp2 = np.sqrt(np.maximum(
        0.0,
        (calp1 * cbet1) ** 2
        + np.where(cbet1 < -sbet1,
                   (cbet2 - cbet1) * (cbet1 + cbet2),
                   (sbet1 - sbet2) * (sbet1 + sbet2)))) / cbet2
    same = (cbet2 == cbet1) & (np.abs(sbet2) == -sbet1)
    calp2 = np.where(same, np.abs(calp1), calp2)

    ssig2 = sbet2
    somg2 = salp0 * sbet2
    csig2 = comg2 = calp2 * cbet2
    ssig2, csig2 = _norm2(ssig2, csig2)

    sig12 = np.arctan2(np.maximum(0.0, csig1 * ssig2 - ssig1 * csig2) + 0.0,
                       csig1 * csig2 + ssig1 * ssig2)
    somg12 = np.maximum(0.0, comg1 * somg2 - somg1 * comg2) + 0.0
    comg12 = comg1 * comg2 + somg1 * somg2
    eta = np.arctan2(somg12 * clam120 - comg12 * slam120,
                     comg12 * clam120 + somg12 * slam120)

    k2 = calp0 ** 2 * C.ep2
    eps = k2 / (2.0 * (1.0 + np.sqrt(1.0 + k2)) + k2)
    B312 = (_sin_series(ssig2, csig2, _C3(eps, C.n))
            - _sin_series(ssig1, csig1, _C3(eps, C.n)))
    domg12 = -C.f * _A3(eps, C.n) * salp0 * (sig12 + B312)
    v = eta + domg12

    dv = None
    if diffp:
        _, m12b, _, _, _ = _lengths(C, eps, sig12, ssig1, csig1, dn1,
                                    ssig2, csig2, dn2, cbet1, cbet2, False)
        dv = np.where(calp2 == 0.0,
                      -2.0 * C.f1 * dn1 / np.where(sbet1 != 0, sbet1, -1.0),
                      m12b * C.f1 / (calp2 * cbet2))
    return (v, sig12, ssig1, csig1, ssig2, csig2, eps, domg12,
            salp2, calp2, dv, somg12, comg12)


def geod_inverse(C: GeodConsts, lat1, lon1, lat2, lon2,
                 want_scale: bool = False, want_area: bool = False):
    """Solve the inverse problem.  Returns dict with s12 (m), azi1, azi2
    (degrees), a12 (arc degrees) and, if want_scale, m12/M12/M21."""
    lat1 = np.atleast_1d(np.asarray(lat1, dtype=np.float64))
    lon1 = np.atleast_1d(np.asarray(lon1, dtype=np.float64))
    lat2 = np.atleast_1d(np.asarray(lat2, dtype=np.float64))
    lon2 = np.atleast_1d(np.asarray(lon2, dtype=np.float64))
    lat1, lon1, lat2, lon2 = np.broadcast_arrays(lat1, lon1, lat2, lon2)

    lon12 = _ang_diff(lon1, lon2)
    lonsign = np.where(lon12 >= 0.0, 1.0, -1.0)
    lon12 = lonsign * _ang_round(lon12)

    lat1 = _ang_round(lat_fix(lat1))
    lat2 = _ang_round(lat_fix(lat2))

    swapp = np.where(np.abs(lat1) < np.abs(lat2), -1.0, 1.0)
    lat1s = np.where(swapp < 0, lat2, lat1)
    lat2s = np.where(swapp < 0, lat1, lat2)
    lonsign = lonsign * swapp
    latsign = np.where(lat1s < 0.0, 1.0, -1.0)
    lat1s = lat1s * latsign
    lat2s = lat2s * latsign

    lam12 = np.radians(lon12)
    slam12, clam12 = _sincosd(lon12)

    sbet1, cbet1 = _sincosd(lat1s)
    sbet1 = sbet1 * C.f1
    sbet1, cbet1 = _norm2(sbet1, cbet1)
    cbet1 = np.maximum(cbet1, _TINY)

    sbet2, cbet2 = _sincosd(lat2s)
    sbet2 = sbet2 * C.f1
    sbet2, cbet2 = _norm2(sbet2, cbet2)
    cbet2 = np.maximum(cbet2, _TINY)

    # match |bet2| to bet1 at same |lat| (paper sec. 9 symmetry fix)
    close = cbet1 < -sbet1
    fix = np.where(close, np.abs(sbet2) == -sbet1, cbet2 == cbet1)
    sbet2 = np.where(fix & close, np.where(sbet2 < 0, sbet1, -sbet1), sbet2)
    cbet2 = np.where(fix & ~close, cbet1, cbet2)

    dn1 = np.sqrt(1.0 + C.ep2 * sbet1 ** 2)
    dn2 = np.sqrt(1.0 + C.ep2 * sbet2 ** 2)

    n = lat1.shape
    s12 = np.full(n, np.nan)
    m12 = np.full(n, np.nan)
    M12 = np.full(n, np.nan)
    M21 = np.full(n, np.nan)
    sig12_out = np.full(n, np.nan)
    salp1 = np.full(n, np.nan)
    calp1 = np.full(n, np.nan)
    salp2 = np.full(n, np.nan)
    calp2 = np.full(n, np.nan)
    somg12o = np.full(n, 2.0)   # sentinel: use azimuth-difference formula
    comg12o = np.full(n, 2.0)
    done = np.zeros(n, dtype=bool)

    # --- meridional case
    meridian = (lat1s == -90.0) | (slam12 == 0.0)
    if meridian.any():
        sa1, ca1 = slam12, clam12
        sa2 = np.zeros(n)
        ca2 = np.ones(n)
        ssig1 = sbet1
        csig1 = ca1 * cbet1
        ssig2 = sbet2
        csig2 = ca2 * cbet2
        sig12 = np.arctan2(
            np.maximum(0.0, csig1 * ssig2 - ssig1 * csig2) + 0.0,
            csig1 * csig2 + ssig1 * ssig2)
        s12b, m12b, m0, MM12, MM21 = _lengths(
            C, _eps_from_k2(np.full(n, C.ep2)),
            sig12, ssig1, csig1, dn1, ssig2, csig2, dn2, cbet1, cbet2,
            True)
        valid = meridian & ((sig12 < 1.0) | (m12b >= 0.0))
        # flush only sub-representable arcs (geodesic.c: sig12 < 3*tiny)
        tiny3 = 3.0 * _TINY
        sig12 = np.where(valid, np.where(sig12 < tiny3, 0.0, sig12), sig12)
        s12 = np.where(valid, C.b * np.where(sig12 < tiny3, 0.0, s12b), s12)
        m12 = np.where(valid, C.b * m12b, m12)
        M12 = np.where(valid, MM12, M12)
        M21 = np.where(valid, MM21, M21)
        salp1 = np.where(valid, sa1, salp1)
        calp1 = np.where(valid, ca1, calp1)
        salp2 = np.where(valid, sa2, salp2)
        calp2 = np.where(valid, ca2, calp2)
        sig12_out = np.where(valid, sig12, sig12_out)
        done |= valid

    # --- equatorial case
    equat = (~done) & (sbet1 == 0.0) & (sbet2 == 0.0) \
        & (lam12 <= C.f1 * math.pi)
    if equat.any():
        sig12 = lam12 / C.f1
        s12 = np.where(equat, C.a * lon12 * math.pi / 180.0, s12)
        m12 = np.where(equat, C.b * np.sin(sig12), m12)
        M12 = np.where(equat, np.cos(sig12), M12)
        M21 = np.where(equat, np.cos(sig12), M21)
        salp1 = np.where(equat, 1.0, salp1)
        calp1 = np.where(equat, 0.0, calp1)
        salp2 = np.where(equat, 1.0, salp2)
        calp2 = np.where(equat, 0.0, calp2)
        sig12_out = np.where(equat, sig12, sig12_out)
        done |= equat

    # --- general case: Newton with bracketing
    todo = ~done
    if todo.any():
        sig12g, sa1, ca1, sa2s, ca2s, dnm = _inverse_start(
            C, sbet1, cbet1, dn1, sbet2, cbet2, dn2, lam12, slam12, clam12)
        shortcut = todo & (sig12g >= 0.0)
        if shortcut.any():
            s12 = np.where(shortcut, C.b * sig12g * dnm, s12)
            m12 = np.where(shortcut,
                           C.b * dnm * dnm * np.sin(sig12g / dnm), m12)
            M12 = np.where(shortcut, np.cos(sig12g / dnm), M12)
            M21 = np.where(shortcut, np.cos(sig12g / dnm), M21)
            sig12_out = np.where(shortcut, sig12g, sig12_out)
            salp1 = np.where(shortcut, sa1, salp1)
            calp1 = np.where(shortcut, ca1, calp1)
            salp2 = np.where(shortcut, sa2s, salp2)
            calp2 = np.where(shortcut, ca2s, calp2)
            omg12s = lam12 / (C.f1 * dnm)
            somg12o = np.where(shortcut, np.sin(omg12s), somg12o)
            comg12o = np.where(shortcut, np.cos(omg12s), comg12o)
            done |= shortcut

        it = todo & ~shortcut
        if it.any():
            salp1a = np.full(n, _TINY)
            calp1a = np.ones(n)
            salp1b = np.full(n, _TINY)
            calp1b = np.full(n, -1.0)
            tripn = np.zeros(n, dtype=bool)
            tripb = np.zeros(n, dtype=bool)
            active = it.copy()
            cur_sa, cur_ca = sa1.copy(), ca1.copy()
            last = {}
            for _iter in range(_MAXIT2):
                if not active.any():
                    break
                (v, sig12c, ssig1, csig1, ssig2, csig2, eps, domg12,
                 sa2, ca2, dv, _so12, _co12) = _lambda12(
                    C, sbet1, cbet1, dn1, sbet2, cbet2, dn2,
                    cur_sa, cur_ca, slam12, clam12, True)
                conv = np.abs(v) < np.where(tripn, 8.0, 1.0) * _TOL0
                newly = active & (conv | tripb)
                if newly.any():
                    s12b, m12b, m0, MM12, MM21 = _lengths(
                        C, eps, sig12c, ssig1, csig1, dn1, ssig2, csig2,
                        dn2, cbet1, cbet2, True)
                    s12 = np.where(newly, C.b * s12b, s12)
                    m12 = np.where(newly, C.b * m12b, m12)
                    M12 = np.where(newly, MM12, M12)
                    M21 = np.where(newly, MM21, M21)
                    sig12_out = np.where(newly, sig12c, sig12_out)
                    salp1 = np.where(newly, cur_sa, salp1)
                    calp1 = np.where(newly, cur_ca, calp1)
                    salp2 = np.where(newly, sa2, salp2)
                    calp2 = np.where(newly, ca2, calp2)
                    # omg12 = lam12 - domg12 (reference geodesic.c:943-947)
                    sd, cd = np.sin(domg12), np.cos(domg12)
                    somg12o = np.where(newly,
                                       slam12 * cd - clam12 * sd, somg12o)
                    comg12o = np.where(newly,
                                       clam12 * cd + slam12 * sd, comg12o)
                    done |= newly
                    active &= ~newly
                    if not active.any():
                        break
                # bracket update
                upd_b = active & (v > 0.0) & ((_iter > _MAXIT1) |
                                              (cur_ca / cur_sa >
                                               calp1b / salp1b))
                salp1b = np.where(upd_b, cur_sa, salp1b)
                calp1b = np.where(upd_b, cur_ca, calp1b)
                upd_a = active & (v < 0.0) & ((_iter > _MAXIT1) |
                                              (cur_ca / cur_sa <
                                               calp1a / salp1a))
                salp1a = np.where(upd_a, cur_sa, salp1a)
                calp1a = np.where(upd_a, cur_ca, calp1a)

                ok_newton = active & (_iter < _MAXIT1) & (dv > 0.0)
                dalp1 = np.where(ok_newton, -v / np.where(dv != 0, dv, 1.0),
                                 0.0)
                sdalp1, cdalp1 = np.sin(dalp1), np.cos(dalp1)
                nsalp1 = cur_sa * cdalp1 + cur_ca * sdalp1
                good = ok_newton & (nsalp1 > 0.0) & (np.abs(dalp1) < math.pi)
                ncalp1 = cur_ca * cdalp1 - cur_sa * sdalp1
                tripn = np.where(good, np.abs(v) <= 16.0 * _TOL0, tripn)
                # bisection for the rest
                bs_sa = salp1a + salp1b
                bs_ca = calp1a + calp1b
                cur_sa = np.where(active,
                                  np.where(good, nsalp1, bs_sa), cur_sa)
                cur_ca = np.where(active,
                                  np.where(good, ncalp1, bs_ca), cur_ca)
                h = np.hypot(cur_sa, cur_ca)
                cur_sa = cur_sa / h
                cur_ca = cur_ca / h
                tripn = np.where(active & ~good, False, tripn)
                tripb_new = (np.abs(salp1a - cur_sa) + (calp1a - cur_ca)
                             < _TOLB) | \
                            (np.abs(cur_sa - salp1b) + (cur_ca - calp1b)
                             < _TOLB)
                tripb = np.where(active & ~good, tripb_new, tripb)

    S12 = None
    if want_area:
        # paper sec. 6 (eq. 60-65): S12 = c2*alp12 + A4*(B42 - B41)
        salp0 = salp1 * cbet1
        calp0 = np.hypot(calp1, salp1 * sbet1)
        S12 = np.zeros(n)
        mask = (calp0 != 0.0) & (salp0 != 0.0)
        k2 = calp0 ** 2 * C.ep2
        eps = _eps_from_k2(k2)
        A4 = C.a * C.a * calp0 * salp0 * C.e2
        ssig1a, csig1a = _norm2(sbet1, calp1 * cbet1)
        ssig2a, csig2a = _norm2(sbet2, calp2 * cbet2)
        C4a = _C4(eps, C.n)
        B41 = _cos_series(ssig1a, csig1a, C4a)
        B42 = _cos_series(ssig2a, csig2a, C4a)
        S12 = np.where(mask, A4 * (B42 - B41), 0.0)
        # alp12: tan-half formula where accurate (GenInverse :  comg12 >
        # -0.7071 and moderate dbet), else azimuth difference
        have_omg = somg12o <= 1.0
        tanhalf = have_omg & (comg12o > -0.7071) \
            & ((sbet2 - sbet1) < 1.75)
        domg12 = 1.0 + comg12o
        dbet1 = 1.0 + cbet1
        dbet2 = 1.0 + cbet2
        alp12_t = 2.0 * np.arctan2(
            somg12o * (sbet1 * dbet2 + sbet2 * dbet1),
            domg12 * (sbet1 * sbet2 + dbet1 * dbet2))
        salp12 = salp2 * calp1 - calp2 * salp1
        calp12 = calp2 * calp1 + salp2 * salp1
        deg = (salp12 == 0.0) & (calp12 < 0.0)
        salp12 = np.where(deg, _TINY * calp1, salp12)
        calp12 = np.where(deg, -1.0, calp12)
        alp12_a = np.arctan2(salp12, calp12)
        alp12 = np.where(tanhalf, alp12_t, alp12_a)
        S12 = S12 + authalic_c2(C) * alp12
        S12 = S12 * swapp * lonsign * latsign

    # un-canonicalize azimuths (and geodesic scales, which are direction-
    # sensitive: M12 <-> M21 under endpoint swap)
    sw = swapp < 0
    t_M = M12.copy()
    M12 = np.where(sw, M21, M12)
    M21 = np.where(sw, t_M, M21)
    t_sa, t_ca = salp1.copy(), calp1.copy()
    salp1 = np.where(sw, salp2, salp1)
    calp1 = np.where(sw, calp2, calp1)
    salp2 = np.where(sw, t_sa, salp2)
    calp2 = np.where(sw, t_ca, calp2)
    salp1 = salp1 * swapp * lonsign
    calp1 = calp1 * swapp * latsign
    salp2 = salp2 * swapp * lonsign
    calp2 = calp2 * swapp * latsign

    azi1 = np.degrees(np.arctan2(salp1, calp1))
    azi2 = np.degrees(np.arctan2(salp2, calp2))
    out = {"s12": s12, "azi1": azi1, "azi2": azi2,
           "a12": np.degrees(sig12_out)}
    if want_scale:
        out["m12"] = m12
        out["M12"] = M12
        out["M21"] = M21
    if want_area:
        out["S12"] = S12
    return out


def _eps_from_k2(k2):
    return k2 / (2.0 * (1.0 + np.sqrt(1.0 + k2)) + k2)


def geod_polygon_area(C: GeodConsts, lons, lats):
    """Ellipsoidal polygon area + perimeter (GeographicLib PolygonArea
    semantics): per-edge S12 accumulated, pole-encirclement fixed by
    longitude-crossing parity, result normalized into
    (-area0/2, area0/2] with counter-clockwise positive.

    Returns (area_m2, perimeter_m)."""
    lons = np.asarray(lons, dtype=np.float64)
    lats = np.asarray(lats, dtype=np.float64)
    lat2 = np.roll(lats, -1)
    lon2 = np.roll(lons, -1)
    r = geod_inverse(C, lats, lons, lat2, lon2, want_area=True)
    perimeter = float(np.nansum(r["s12"]))
    # the edge-S12 sum is clockwise-positive; flip for the conventional
    # counter-clockwise-positive result
    area = -float(np.nansum(r["S12"]))
    # longitude-crossing parity (PolygonArea::transit): odd number of
    # antimeridian transits means the ring encircles a pole
    d = _ang_diff(lons, lon2)
    crossings = int(np.sum((d > 0) & (lons > 0) & (lon2 <= 0))
                    - np.sum((d < 0) & (lons <= 0) & (lon2 > 0)))
    area0 = 4.0 * math.pi * authalic_c2(C)
    if crossings % 2 != 0:
        area += (1.0 if area < 0 else -1.0) * area0 / 2.0
    if area > area0 / 2.0:
        area -= area0
    elif area <= -area0 / 2.0:
        area += area0
    return area, perimeter


def geod_direct(C: GeodConsts, lat1, lon1, azi1, s12,
                want_scale: bool = False):
    """Solve the direct problem.  Returns dict with lat2, lon2, azi2
    (degrees), a12 and, if want_scale, m12/M12/M21."""
    lat1 = np.atleast_1d(np.asarray(lat1, dtype=np.float64))
    lon1 = np.atleast_1d(np.asarray(lon1, dtype=np.float64))
    azi1 = np.atleast_1d(np.asarray(azi1, dtype=np.float64))
    s12 = np.atleast_1d(np.asarray(s12, dtype=np.float64))
    lat1, lon1, azi1, s12 = np.broadcast_arrays(lat1, lon1, azi1, s12)

    lat1 = _ang_round(np.clip(lat1, -90.0, 90.0))
    salp1, calp1 = _sincosd(_ang_diff(0.0, azi1))

    sbet1, cbet1 = _sincosd(lat1)
    sbet1 = sbet1 * C.f1
    sbet1, cbet1 = _norm2(sbet1, cbet1)
    cbet1 = np.maximum(cbet1, _TINY)
    dn1 = np.sqrt(1.0 + C.ep2 * sbet1 ** 2)

    salp0 = salp1 * cbet1
    calp0 = np.hypot(calp1, salp1 * sbet1)

    ssig1 = sbet1
    somg1 = salp0 * sbet1
    csig1 = comg1 = np.where((sbet1 != 0.0) | (calp1 != 0.0),
                             calp1 * cbet1, 1.0)
    ssig1, csig1 = _norm2(ssig1, csig1)

    k2 = calp0 ** 2 * C.ep2
    eps = _eps_from_k2(k2)

    A1m1 = _A1m1(eps)
    C1a = _C1(eps)
    B11 = _sin_series(ssig1, csig1, C1a)
    s, c = np.sin(B11), np.cos(B11)
    stau1 = ssig1 * c + csig1 * s
    ctau1 = csig1 * c - ssig1 * s
    C1pa = _C1p(eps)

    tau12 = s12 / (C.b * (1.0 + A1m1))
    s, c = np.sin(tau12), np.cos(tau12)
    B12 = -_sin_series(stau1 * c + ctau1 * s, ctau1 * c - stau1 * s, C1pa)
    sig12 = tau12 - (B12 - B11)
    ssig12, csig12 = np.sin(sig12), np.cos(sig12)

    ssig2 = ssig1 * csig12 + csig1 * ssig12
    csig2 = csig1 * csig12 - ssig1 * ssig12
    dn2 = np.sqrt(1.0 + k2 * ssig2 ** 2)

    sbet2 = calp0 * ssig2
    cbet2 = np.hypot(salp0, calp0 * csig2)
    cbet2 = np.where(cbet2 == 0.0, _TINY, cbet2)
    somg2 = salp0 * ssig2
    comg2 = csig2
    salp2 = salp0
    calp2 = calp0 * csig2

    omg12 = np.arctan2(somg2 * comg1 - comg2 * somg1,
                       comg2 * comg1 + somg2 * somg1)
    C3a = _C3(eps, C.n)
    B31 = _sin_series(ssig1, csig1, C3a)
    B32 = _sin_series(ssig2, csig2, C3a)
    A3c = -C.f * salp0 * _A3(eps, C.n)
    lam12 = omg12 + A3c * (sig12 + (B32 - B31))
    lon12 = np.degrees(lam12)

    lat2 = np.degrees(np.arctan2(sbet2, C.f1 * cbet2))
    lon2 = lon1 + lon12
    lon2 = np.remainder(lon2 + 180.0, 360.0) - 180.0
    azi2 = np.degrees(np.arctan2(salp2, calp2))
    out = {"lat2": lat2, "lon2": lon2, "azi2": azi2,
           "a12": np.degrees(sig12)}
    if want_scale:
        s12b, m12b, m0, M12, M21 = _lengths(
            C, eps, sig12, ssig1, csig1, dn1, ssig2, csig2, dn2,
            cbet1, cbet2, True)
        out["m12"] = C.b * m12b
        out["M12"] = M12
        out["M21"] = M21
    return out
