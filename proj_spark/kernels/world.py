"""World / miscellaneous spherical projections — the long tail of the
reference's catalogue (SURVEY §2.4 bulk), vectorized.

Each kernel is a numpy re-derivation of the same-named reference file in
/root/reference/src/projections/ (constants are the published Snyder /
author values the reference also uses). Ops whose reference has no
inverse define only `<op>_fwd`; ops whose reference inverts
via the generic 2D Newton (wink2) or a specialized Newton (aitoff/wintri,
vandg) use kernels.common.generic_inverse_2d seeded with the forward's
approximate inverse — converging to the same fixed point within gie
tolerances.

The op table that wires these kernels (setup, radius, lam0) is
`plans/pipeline._PROJECTIONS`.
"""

from __future__ import annotations

import math
from dataclasses import dataclass

import numpy as np

from proj_spark.kernels.common import generic_inverse_2d

HALFPI = math.pi / 2
FORTPI = math.pi / 4
PI = math.pi


def _newton_theta(phi, k, num=10, tol=1e-7, form="moll"):
    """Shared phi + sin(phi)-family Newton solvers, vectorized with masks."""
    th = np.asarray(phi, dtype=np.float64).copy()
    conv = np.zeros(th.shape, dtype=bool)
    for _ in range(num):
        s, c = np.sin(th), np.cos(th)
        if form == "moll":
            V = (th + s - k) / (1.0 + c)
        elif form == "putp2":
            V = (th + s * (c - 1.0) - k) / (1.0 + c * (c - 1.0) - s * s)
        else:
            raise ValueError(form)
        th = np.where(conv, th, th - V)
        conv |= np.abs(V) < tol
        if conv.all():
            break
    return th, conv


# ---------------------------------------------------------------------------
# fixed-constant cylindrical / pseudocylindrical
# ---------------------------------------------------------------------------

def larr_fwd(lam, phi, C=None):
    lam = np.asarray(lam, dtype=np.float64); phi = np.asarray(phi, dtype=np.float64)
    return 0.5 * lam * (1.0 + np.sqrt(np.cos(phi))), phi / (
        np.cos(0.5 * phi) * np.cos(lam / 6.0))


def gins8_fwd(lam, phi, C=None):
    lam = np.asarray(lam, dtype=np.float64); phi = np.asarray(phi, dtype=np.float64)
    t = phi * phi
    y = phi * (1.0 + t / 12.0)
    x = lam * (1.0 - 0.162388 * t)
    t2 = lam * lam
    return x * (0.87 - 0.000952426 * t2 * t2), y


def wag7_fwd(lam, phi, C=None):
    lam = np.asarray(lam, dtype=np.float64); phi = np.asarray(phi, dtype=np.float64)
    s = 0.90630778703664996 * np.sin(phi)
    theta = np.arcsin(np.clip(s, -1, 1))
    ct = np.cos(theta)
    lam3 = lam / 3.0
    D = 1.0 / np.sqrt(0.5 * (1.0 + ct * np.cos(lam3)))
    return 2.66723 * ct * np.sin(lam3) * D, s * 1.24104 * D


def tcc_fwd(lam, phi, C=None):
    lam = np.asarray(lam, dtype=np.float64); phi = np.asarray(phi, dtype=np.float64)
    b = np.cos(phi) * np.sin(lam)
    bt = 1.0 - b * b
    with np.errstate(divide="ignore", invalid="ignore"):
        x = np.where(bt < 1e-10, np.nan, b / np.sqrt(bt))
    return x, np.arctan2(np.tan(phi), np.cos(lam))


def august_fwd(lam, phi, C=None):
    lam = np.asarray(lam, dtype=np.float64); phi = np.asarray(phi, dtype=np.float64)
    t = np.tan(0.5 * phi)
    c1 = np.sqrt(np.maximum(1.0 - t * t, 0.0))
    lam_h = lam * 0.5
    c = 1.0 + c1 * np.cos(lam_h)
    x1 = np.sin(lam_h) * c1 / c
    y1 = t / c
    x12, y12 = x1 * x1, y1 * y1
    M = 4.0 / 3.0
    return M * x1 * (3.0 + x12 - 3.0 * y12), M * y1 * (3.0 + 3.0 * x12 - y12)


def cc_fwd(lam, phi, C=None):
    lam = np.asarray(lam, dtype=np.float64); phi = np.asarray(phi, dtype=np.float64)
    with np.errstate(invalid="ignore"):
        y = np.where(np.abs(np.abs(phi) - HALFPI) <= 1e-10, np.nan, np.tan(phi))
    return lam, y


def cc_inv(x, y, C=None):
    return np.asarray(x, dtype=np.float64), np.arctan(np.asarray(y, dtype=np.float64))


def denoy_fwd(lam, phi, C=None):
    lam = np.asarray(lam, dtype=np.float64); phi = np.asarray(phi, dtype=np.float64)
    al = np.abs(lam)
    return lam * np.cos(
        (0.95 + al * (-1.0 / 12.0 + al * al / 600.0))
        * (phi * (0.9 + 0.03 * phi ** 4))
    ), phi


_E1_FC = 0.92131773192356127802
_E1_RP = 0.31830988618379067154


def eck1_fwd(lam, phi, C=None):
    lam = np.asarray(lam, dtype=np.float64); phi = np.asarray(phi, dtype=np.float64)
    return _E1_FC * lam * (1.0 - _E1_RP * np.abs(phi)), _E1_FC * phi


def eck1_inv(x, y, C=None):
    phi = np.asarray(y, dtype=np.float64) / _E1_FC
    return np.asarray(x, dtype=np.float64) / (_E1_FC * (1.0 - _E1_RP * np.abs(phi))), phi


def crast_fwd(lam, phi, C=None):
    lam = np.asarray(lam, dtype=np.float64)
    phi3 = np.asarray(phi, dtype=np.float64) / 3.0
    return 0.97720502380583984317 * lam * (2.0 * np.cos(2 * phi3) - 1.0), \
        3.06998012383946546542 * np.sin(phi3)


def crast_inv(x, y, C=None):
    phi = 3.0 * np.arcsin(np.clip(np.asarray(y, dtype=np.float64)
                                  * 0.32573500793527994772, -1, 1))
    return np.asarray(x, dtype=np.float64) * 1.02332670794648848847 / (
        2.0 * np.cos(2.0 * phi / 3.0) - 1.0), phi


def lask_fwd(lam, phi, C=None):
    lam = np.asarray(lam, dtype=np.float64); phi = np.asarray(phi, dtype=np.float64)
    l2 = lam * lam
    p2 = phi * phi
    x = lam * (0.975534 + p2 * (-0.119161 + l2 * -0.0143059 + p2 * -0.0547009))
    y = phi * (1.00384 + l2 * (0.0802894 + p2 * -0.0285500 + l2 * 0.000199025)
               + p2 * (0.0998909 + p2 * -0.0491032))
    return x, y


_E5_XF = 0.44101277172455148219
_E5_YF = 0.88202554344910296438


def eck5_fwd(lam, phi, C=None):
    lam = np.asarray(lam, dtype=np.float64); phi = np.asarray(phi, dtype=np.float64)
    return _E5_XF * (1.0 + np.cos(phi)) * lam, _E5_YF * phi


def eck5_inv(x, y, C=None):
    phi = np.asarray(y, dtype=np.float64) / _E5_YF
    return np.asarray(x, dtype=np.float64) / (_E5_XF * (1.0 + np.cos(phi))), phi


def fahey_fwd(lam, phi, C=None):
    lam = np.asarray(lam, dtype=np.float64); phi = np.asarray(phi, dtype=np.float64)
    t = np.tan(0.5 * phi)
    return 0.819152 * lam * np.sqrt(np.maximum(1.0 - t * t, 0.0)), 1.819152 * t


def fahey_inv(x, y, C=None):
    y = np.asarray(y, dtype=np.float64) / 1.819152
    phi = 2.0 * np.arctan(y)
    t = 1.0 - y * y
    with np.errstate(divide="ignore", invalid="ignore"):
        lam = np.where(np.abs(t) < 1e-6, 0.0,
                       np.asarray(x, dtype=np.float64) / (0.819152 * np.sqrt(np.abs(t))))
    return lam, phi


def wag2_fwd(lam, phi, C=None):
    lam = np.asarray(lam, dtype=np.float64); phi = np.asarray(phi, dtype=np.float64)
    ph = np.arcsin(np.clip(0.88022 * np.sin(0.88550 * phi), -1, 1))
    return 0.92483 * lam * np.cos(ph), 1.38725 * ph


def wag2_inv(x, y, C=None):
    ph = np.asarray(y, dtype=np.float64) / 1.38725
    lam = np.asarray(x, dtype=np.float64) / (0.92483 * np.cos(ph))
    return lam, np.arcsin(np.clip(np.sin(ph) / 0.88022, -1, 1)) / 0.88550


_GALL_X = math.sqrt(0.5)
_GALL_Y = 1.0 + math.sqrt(0.5)


def gall_fwd(lam, phi, C=None):
    lam = np.asarray(lam, dtype=np.float64); phi = np.asarray(phi, dtype=np.float64)
    return _GALL_X * lam, _GALL_Y * np.tan(0.5 * phi)


def gall_inv(x, y, C=None):
    return np.asarray(x, dtype=np.float64) / _GALL_X, \
        2.0 * np.arctan(np.asarray(y, dtype=np.float64) / _GALL_Y)


def boggs_fwd(lam, phi, C=None):
    lam = np.asarray(lam, dtype=np.float64); phi = np.asarray(phi, dtype=np.float64)
    k = np.sin(phi) * PI
    theta, _ = _newton_theta(phi, k, num=20, tol=1e-7)
    theta = theta * 0.5
    at_pole = np.abs(np.abs(phi) - HALFPI) < 1e-7
    with np.errstate(divide="ignore", invalid="ignore"):
        x = np.where(
            at_pole, 0.0,
            2.00276 * lam / (1.0 / np.cos(phi) + 1.11072 / np.cos(theta)),
        )
    return x, 0.49931 * (phi + math.sqrt(2.0) * np.sin(theta))


def nell_fwd(lam, phi, C=None):
    lam = np.asarray(lam, dtype=np.float64); phi = np.asarray(phi, dtype=np.float64)
    k = 2.0 * np.sin(phi)
    p2 = phi * phi
    th0 = phi * (1.00371 + p2 * (-0.0935382 + p2 * -0.011412))
    th, _ = _newton_theta(th0, k, num=10, tol=1e-7)
    return 0.5 * lam * (1.0 + np.cos(th)), th


def nell_inv(x, y, C=None):
    y = np.asarray(y, dtype=np.float64)
    return 2.0 * np.asarray(x, dtype=np.float64) / (1.0 + np.cos(y)), \
        np.arcsin(np.clip(0.5 * (y + np.sin(y)), -1, 1))


def nell_h_fwd(lam, phi, C=None):
    lam = np.asarray(lam, dtype=np.float64); phi = np.asarray(phi, dtype=np.float64)
    return 0.5 * lam * (1.0 + np.cos(phi)), 2.0 * (phi - np.tan(0.5 * phi))


def nell_h_inv(x, y, C=None):
    x = np.asarray(x, dtype=np.float64); y = np.asarray(y, dtype=np.float64)
    p = 0.5 * y
    phi = np.zeros_like(y)
    conv = np.zeros(y.shape, dtype=bool)
    for _ in range(9):
        c = np.cos(0.5 * phi)
        V = (phi - np.tan(phi / 2.0) - p) / (1.0 - 0.5 / (c * c))
        phi = np.where(conv, phi, phi - V)
        conv |= np.abs(V) < 1e-7
        if conv.all():
            break
    phi = np.where(conv, phi, np.where(p < 0, -HALFPI, HALFPI))
    lam = np.where(conv, 2.0 * x / (1.0 + np.cos(phi)), 2.0 * x)
    return lam, phi


_CG_FXC = 1.12837916709551257390
_CG_FYC = 1.77245385090551602729


def collg_fwd(lam, phi, C=None):
    lam = np.asarray(lam, dtype=np.float64); phi = np.asarray(phi, dtype=np.float64)
    yv = np.sqrt(np.maximum(1.0 - np.sin(phi), 0.0))
    return _CG_FXC * lam * yv, _CG_FYC * (1.0 - yv)


def collg_inv(x, y, C=None):
    x = np.asarray(x, dtype=np.float64); y = np.asarray(y, dtype=np.float64)
    s = y / _CG_FYC - 1.0
    s = 1.0 - s * s
    phi = np.where(np.abs(s) < 1.0, np.arcsin(np.clip(s, -1, 1)),
                   np.where(s < 0, -HALFPI, HALFPI))
    den = np.sqrt(np.maximum(1.0 - np.sin(phi), 0.0))
    with np.errstate(divide="ignore", invalid="ignore"):
        lam = np.where(den <= 0.0, 0.0, x / (_CG_FXC * den))
    return lam, phi


def putp2_fwd(lam, phi, C=None):
    lam = np.asarray(lam, dtype=np.float64); phi = np.asarray(phi, dtype=np.float64)
    p = 0.6141848493043784 * np.sin(phi)
    p2 = phi * phi
    th = phi * (0.615709 + p2 * (0.00909953 + p2 * 0.0046292))
    th, conv = _newton_theta(th, p, num=10, tol=1e-10, form="putp2")
    th = np.where(conv, th, np.where(th < 0, -PI / 3.0, PI / 3.0))
    return 1.89490 * lam * (np.cos(th) - 0.5), 1.71848 * np.sin(th)


def putp2_inv(x, y, C=None):
    c = np.arcsin(np.clip(np.asarray(y, dtype=np.float64) / 1.71848, -1, 1))
    cc = np.cos(c)
    lam = np.asarray(x, dtype=np.float64) / (1.89490 * (cc - 0.5))
    return lam, np.arcsin(np.clip((c + np.sin(c) * (cc - 1.0)) / 0.6141848493043784, -1, 1))


_MF_CS = 0.95257934441568037152
_MF_FXC = 0.92582009977255146156
_MF_FYC = 3.40168025708304504493


def mbtfpp_fwd(lam, phi, C=None):
    lam = np.asarray(lam, dtype=np.float64); phi = np.asarray(phi, dtype=np.float64)
    ph = np.arcsin(np.clip(_MF_CS * np.sin(phi), -1, 1))
    return _MF_FXC * lam * (2.0 * np.cos(2.0 * ph / 3.0) - 1.0), \
        _MF_FYC * np.sin(ph / 3.0)


def mbtfpp_inv(x, y, C=None):
    s = np.asarray(y, dtype=np.float64) / _MF_FYC
    ph = np.arcsin(np.clip(s, -1, 1)) * 3.0
    lam = np.asarray(x, dtype=np.float64) / (_MF_FXC * (2.0 * np.cos(2.0 * ph / 3.0) - 1.0))
    return lam, np.arcsin(np.clip(np.sin(ph) / _MF_CS, -1, 1))


# --- parameterized families -------------------------------------------------

@dataclass(frozen=True)
class ABConsts:
    C_x: float
    C_y: float
    A: float
    B: float


_ECK3_FAMILY = {
    "eck3": ABConsts(0.42223820031577120149, 0.84447640063154240298, 1.0,
                     0.4052847345693510857755),
    "kav7": ABConsts(0.8660254037844, 1.0, 0.0, 0.30396355092701331433),
    "wag6": ABConsts(0.94745, 0.94745, 0.0, 0.30396355092701331433),
    "putp1": ABConsts(1.89490, 0.94745, -0.5, 0.30396355092701331433),
}


def eck3_fwd(lam, phi, C: ABConsts):
    lam = np.asarray(lam, dtype=np.float64); phi = np.asarray(phi, dtype=np.float64)
    return C.C_x * lam * (C.A + np.sqrt(np.maximum(1.0 - C.B * phi * phi, 0.0))), \
        C.C_y * phi


def eck3_inv(x, y, C: ABConsts):
    phi = np.asarray(y, dtype=np.float64) / C.C_y
    den = C.C_x * (C.A + np.sqrt(np.maximum(1.0 - C.B * phi * phi, 0.0)))
    with np.errstate(divide="ignore", invalid="ignore"):
        lam = np.where(den == 0.0, np.nan, np.asarray(x, dtype=np.float64) / den)
    return lam, phi


@dataclass(frozen=True)
class STSConsts:
    C_x: float
    C_y: float
    C_p: float
    tan_mode: bool


_STS_FAMILY = {
    "fouc": STSConsts(2.0 / 2.0, 2.0, 1 / 2.0, True),
    "kav5": STSConsts(1.35439 / 1.50488, 1.50488, 1 / 1.35439, False),
    "qua_aut": STSConsts(1.0, 2.0, 0.5, False),
    "mbt_s": STSConsts(1.36509 / 1.48875, 1.48875, 1 / 1.36509, False),
}


def sts_fwd(lam, phi, C: STSConsts):
    lam = np.asarray(lam, dtype=np.float64); phi = np.asarray(phi, dtype=np.float64)
    x = C.C_x * lam * np.cos(phi)
    ph = phi * C.C_p
    c = np.cos(ph)
    if C.tan_mode:
        return x * c * c, C.C_y * np.tan(ph)
    return x / c, C.C_y * np.sin(ph)


def sts_inv(x, y, C: STSConsts):
    x = np.asarray(x, dtype=np.float64)
    yy = np.asarray(y, dtype=np.float64) / C.C_y
    ph = np.arctan(yy) if C.tan_mode else np.arcsin(np.clip(yy, -1, 1))
    c = np.cos(ph)
    phi = ph / C.C_p
    lam = x / (C.C_x * np.cos(phi))
    return (lam / (c * c) if C.tan_mode else lam * c), phi


@dataclass(frozen=True)
class Putp5Consts:
    A: float
    B: float


def putp5_fwd(lam, phi, C: Putp5Consts):
    lam = np.asarray(lam, dtype=np.float64); phi = np.asarray(phi, dtype=np.float64)
    return 1.01346 * lam * (C.A - C.B * np.sqrt(1.0 + 1.2158542 * phi * phi)), \
        1.01346 * phi


def putp5_inv(x, y, C: Putp5Consts):
    phi = np.asarray(y, dtype=np.float64) / 1.01346
    return np.asarray(x, dtype=np.float64) / (
        1.01346 * (C.A - C.B * np.sqrt(1.0 + 1.2158542 * phi * phi))), phi


@dataclass(frozen=True)
class Putp3Consts:
    A: float


def putp3_fwd(lam, phi, C: Putp3Consts):
    lam = np.asarray(lam, dtype=np.float64); phi = np.asarray(phi, dtype=np.float64)
    return 0.79788456 * lam * (1.0 - C.A * phi * phi), 0.79788456 * phi


def putp3_inv(x, y, C: Putp3Consts):
    phi = np.asarray(y, dtype=np.float64) / 0.79788456
    return np.asarray(x, dtype=np.float64) / (0.79788456 * (1.0 - C.A * phi * phi)), phi


@dataclass(frozen=True)
class Putp4pConsts:
    C_x: float
    C_y: float


def putp4p_fwd(lam, phi, C: Putp4pConsts):
    lam = np.asarray(lam, dtype=np.float64); phi = np.asarray(phi, dtype=np.float64)
    ph = np.arcsin(np.clip(0.883883476 * np.sin(phi), -1, 1))
    x = C.C_x * lam * np.cos(ph)
    ph3 = ph / 3.0
    return x / np.cos(ph3), C.C_y * np.sin(ph3)


def putp4p_inv(x, y, C: Putp4pConsts):
    ph3 = np.arcsin(np.clip(np.asarray(y, dtype=np.float64) / C.C_y, -1, 1))
    lam = np.asarray(x, dtype=np.float64) * np.cos(ph3) / C.C_x
    ph = ph3 * 3.0
    return lam / np.cos(ph), np.arcsin(np.clip(1.13137085 * np.sin(ph), -1, 1))


@dataclass(frozen=True)
class NConsts:
    n: float
    C_y: float = 0.0
    m: float = 0.0
    rmn: float = 0.0
    q3: float = 0.0


def urmfps_fwd(lam, phi, C: NConsts):
    lam = np.asarray(lam, dtype=np.float64); phi = np.asarray(phi, dtype=np.float64)
    ph = np.arcsin(np.clip(C.n * np.sin(phi), -1, 1))
    return 0.8773826753 * lam * np.cos(ph), C.C_y * ph


def urmfps_inv(x, y, C: NConsts):
    yy = np.asarray(y, dtype=np.float64) / C.C_y
    return np.asarray(x, dtype=np.float64) / (0.8773826753 * np.cos(yy)), \
        np.arcsin(np.clip(np.sin(yy) / C.n, -1, 1))


def urm5_fwd(lam, phi, C: NConsts):
    lam = np.asarray(lam, dtype=np.float64); phi = np.asarray(phi, dtype=np.float64)
    ph = np.arcsin(np.clip(C.n * np.sin(phi), -1, 1))
    t = ph * ph
    return C.m * lam * np.cos(ph), ph * (1.0 + t * C.q3) * C.rmn


@dataclass(frozen=True)
class Phi1Consts:
    phi1: float
    cosphi1: float
    tanphi1: float = 0.0


def loxim_fwd(lam, phi, C: Phi1Consts):
    lam = np.asarray(lam, dtype=np.float64); phi = np.asarray(phi, dtype=np.float64)
    dy = phi - C.phi1
    xa = FORTPI + 0.5 * phi
    with np.errstate(divide="ignore", invalid="ignore"):
        gen = np.where(
            (np.abs(xa) < 1e-8) | (np.abs(np.abs(xa) - HALFPI) < 1e-8),
            0.0,
            lam * dy / np.log(np.tan(xa) / C.tanphi1),
        )
    x = np.where(np.abs(dy) < 1e-8, lam * C.cosphi1, gen)
    return x, dy


def loxim_inv(x, y, C: Phi1Consts):
    x = np.asarray(x, dtype=np.float64); y = np.asarray(y, dtype=np.float64)
    phi = y + C.phi1
    la = FORTPI + 0.5 * phi
    with np.errstate(divide="ignore", invalid="ignore"):
        gen = np.where(
            (np.abs(la) < 1e-8) | (np.abs(np.abs(la) - HALFPI) < 1e-8),
            0.0,
            x * np.log(np.tan(la) / C.tanphi1) / y,
        )
    lam = np.where(np.abs(y) < 1e-8, x / C.cosphi1, gen)
    return lam, phi


def wink1_fwd(lam, phi, C: Phi1Consts):
    lam = np.asarray(lam, dtype=np.float64); phi = np.asarray(phi, dtype=np.float64)
    return 0.5 * lam * (C.cosphi1 + np.cos(phi)), phi


def wink1_inv(x, y, C: Phi1Consts):
    y = np.asarray(y, dtype=np.float64)
    return 2.0 * np.asarray(x, dtype=np.float64) / (C.cosphi1 + np.cos(y)), y


def wag3_fwd(lam, phi, C: Phi1Consts):
    # C.cosphi1 stores cos(ts)/cos(2ts/3)
    lam = np.asarray(lam, dtype=np.float64); phi = np.asarray(phi, dtype=np.float64)
    return C.cosphi1 * lam * np.cos(2.0 * phi / 3.0), phi


def wag3_inv(x, y, C: Phi1Consts):
    y = np.asarray(y, dtype=np.float64)
    return np.asarray(x, dtype=np.float64) / (C.cosphi1 * np.cos(2.0 * y / 3.0)), y


def wink2_fwd(lam, phi, C: Phi1Consts):
    lam = np.asarray(lam, dtype=np.float64); phi = np.asarray(phi, dtype=np.float64)
    y0 = phi * 2.0 / PI
    k = PI * np.sin(phi)
    th, conv = _newton_theta(phi * 1.8, k, num=10, tol=1e-7)
    th = np.where(conv, th * 0.5, np.where(th < 0, -HALFPI, HALFPI))
    return 0.5 * lam * (np.cos(th) + C.cosphi1), FORTPI * (np.sin(th) + y0)


def wink2_inv(x, y, C: Phi1Consts):
    # reference inverts via pj_generic_inverse_2d seeded at (x, y)
    return generic_inverse_2d(x, y, lambda L, P: wink2_fwd(L, P, C),
                              np.asarray(x, dtype=np.float64),
                              np.clip(np.asarray(y, dtype=np.float64), -HALFPI, HALFPI),
                              deltol=1e-10)


def fouc_s_fwd(lam, phi, C: NConsts):
    lam = np.asarray(lam, dtype=np.float64); phi = np.asarray(phi, dtype=np.float64)
    n1 = 1.0 - C.n
    t = np.cos(phi)
    return lam * t / (C.n + n1 * t), C.n * phi + n1 * np.sin(phi)


def fouc_s_inv(x, y, C: NConsts):
    x = np.asarray(x, dtype=np.float64); y = np.asarray(y, dtype=np.float64)
    n1 = 1.0 - C.n
    if C.n != 0.0:
        phi = y.copy()
        conv = np.zeros(y.shape, dtype=bool)
        for _ in range(10):
            V = (C.n * phi + n1 * np.sin(phi) - y) / (C.n + n1 * np.cos(phi))
            phi = np.where(conv, phi, phi - V)
            conv |= np.abs(V) < 1e-7
            if conv.all():
                break
        phi = np.where(conv, phi, np.where(y < 0, -HALFPI, HALFPI))
    else:
        phi = np.arcsin(np.clip(y, -1, 1))
    c = np.cos(phi)
    return x * (C.n + n1 * c) / c, phi


@dataclass(frozen=True)
class HammerConsts:
    w: float
    m: float
    rm: float


def hammer_fwd(lam, phi, C: HammerConsts):
    lam = np.asarray(lam, dtype=np.float64) * C.w
    phi = np.asarray(phi, dtype=np.float64)
    cosphi = np.cos(phi)
    denom = 1.0 + cosphi * np.cos(lam)
    with np.errstate(divide="ignore", invalid="ignore"):
        d = np.where(denom == 0.0, np.nan, np.sqrt(2.0 / denom))
    return C.m * d * cosphi * np.sin(lam), C.rm * d * np.sin(phi)


def hammer_inv(x, y, C: HammerConsts):
    x = np.asarray(x, dtype=np.float64); y = np.asarray(y, dtype=np.float64)
    z2 = 1.0 - 0.25 * C.w * C.w * x * x - 0.25 * y * y
    z = np.sqrt(np.maximum(z2, 0.0))
    bad = np.abs(2.0 * z * z - 1.0) < 1e-10
    with np.errstate(invalid="ignore"):
        lam = np.arctan2(C.w * x * z, 2.0 * z * z - 1.0) / C.w
        phi = np.arcsin(np.clip(z * y, -1, 1))
    return np.where(bad, np.nan, lam), np.where(bad, np.nan, phi)


def aitoff_fwd(lam, phi, C: Phi1Consts | None):
    """C None -> aitoff; C with cosphi1 -> wintri (Winkel Tripel)."""
    lam = np.asarray(lam, dtype=np.float64); phi = np.asarray(phi, dtype=np.float64)
    c = 0.5 * lam
    d = np.arccos(np.clip(np.cos(phi) * np.cos(c), -1, 1))
    with np.errstate(divide="ignore", invalid="ignore"):
        inv_sd = np.where(d == 0.0, 0.0, 1.0 / np.sin(d))
        x = 2.0 * d * np.cos(phi) * np.sin(c) * inv_sd
        y = d * np.sin(phi) * inv_sd
    x = np.where(d == 0.0, 0.0, x)
    y = np.where(d == 0.0, 0.0, y)
    if C is not None:  # Winkel Tripel averaging leg
        x = (x + lam * C.cosphi1) * 0.5
        y = (y + phi) * 0.5
    return x, y


def aitoff_inv(x, y, C: Phi1Consts | None):
    # reference uses a specialized Newton (aitoff.cpp :100-160); the shared
    # generic 2D Newton converges to the same unique fixed point
    x = np.asarray(x, dtype=np.float64)
    y = np.asarray(y, dtype=np.float64)
    lam, phi = generic_inverse_2d(
        x, y, lambda L, P: aitoff_fwd(L, P, C),
        x.copy(), np.clip(y, -HALFPI + 1e-9, HALFPI - 1e-9), deltol=1e-12,
    )
    zero = (np.abs(x) < 1e-12) & (np.abs(y) < 1e-12)
    return np.where(zero, 0.0, lam), np.where(zero, 0.0, phi)


def nicol_fwd(lam, phi, C=None):
    """Nicolosi globular (reference nicol.cpp; fwd only)."""
    lam = np.asarray(lam, dtype=np.float64); phi = np.asarray(phi, dtype=np.float64)
    EPS = 1e-10
    with np.errstate(divide="ignore", invalid="ignore"):
        tb = HALFPI / lam - lam / HALFPI
        c = phi / HALFPI
        sp = np.sin(phi)
        d = (1.0 - c * c) / (sp - c)
        r2 = (tb / d) ** 2
        m = (tb * sp / d - 0.5 * tb) / (1.0 + r2)
        n = (sp / r2 + 0.5 * d) / (1.0 + 1.0 / r2)
        xg = np.cos(phi)
        xg = np.sqrt(m * m + xg * xg / (1.0 + r2))
        xg = HALFPI * (m + np.where(lam < 0, -xg, xg))
        yg = np.sqrt(np.maximum(n * n - (sp * sp / r2 + d * sp - 1.0) / (1.0 + 1.0 / r2), 0.0))
        yg = HALFPI * (n + np.where(phi < 0, yg, -yg))
    x = np.where(np.abs(lam) < EPS, 0.0,
        np.where(np.abs(phi) < EPS, lam,
        np.where(np.abs(np.abs(lam) - HALFPI) < EPS, lam * np.cos(phi),
        np.where(np.abs(np.abs(phi) - HALFPI) < EPS, 0.0, xg))))
    y = np.where(np.abs(lam) < EPS, phi,
        np.where(np.abs(phi) < EPS, 0.0,
        np.where(np.abs(np.abs(lam) - HALFPI) < EPS, HALFPI * np.sin(phi),
        np.where(np.abs(np.abs(phi) - HALFPI) < EPS, phi, yg))))
    return x, y


def vandg_fwd(lam, phi, C=None):
    lam = np.asarray(lam, dtype=np.float64); phi = np.asarray(phi, dtype=np.float64)
    TOL = 1e-10
    # +over beyond |lam|>pi flips the A-term sign (reference vandg.cpp :46-48)
    sign = np.where((C or {}).get("over") and np.abs(lam) > PI, -1.0, 1.0) \
        if isinstance(C, dict) else 1.0
    p2 = np.minimum(np.abs(phi / HALFPI), 1.0)
    with np.errstate(divide="ignore", invalid="ignore"):
        al = 0.5 * sign * np.abs(PI / lam - lam / PI)
        al2 = al * al
        g = np.sqrt(np.maximum(1.0 - p2 * p2, 0.0))
        g = g / (p2 + g - 1.0)
        g2 = g * g
        pp = g * (2.0 / p2 - 1.0)
        pp2 = pp * pp
        xg = g - pp2
        gg = pp2 + al2
        x_gen = PI * np.abs(al * xg + np.sqrt(np.maximum(al2 * xg * xg - gg * (g2 - pp2), 0.0))) / gg
        x_gen = np.where(lam < 0, -x_gen, x_gen)
        yy = np.abs(x_gen / PI)
        yy = 1.0 - yy * (yy + 2.0 * al)
        y_gen = np.where(yy < -TOL, np.nan,
                         PI * np.sqrt(np.maximum(yy, 0.0)))
        y_gen = np.where(phi < 0, -y_gen, y_gen)
    x = np.where(np.abs(phi) <= TOL, lam, np.where(
        (np.abs(lam) <= TOL) | (np.abs(p2 - 1.0) < TOL), 0.0, x_gen))
    y_pole = PI * np.tan(0.5 * np.arcsin(np.clip(p2, -1, 1)))
    y_pole = np.where(phi < 0, -y_pole, y_pole)
    y = np.where(np.abs(phi) <= TOL, 0.0, np.where(
        (np.abs(lam) <= TOL) | (np.abs(p2 - 1.0) < TOL), y_pole, y_gen))
    return x, y


def vandg_inv(x, y, C=None):
    """Closed-form cubic inverse (reference vandg.cpp :105-155, Snyder
    29-11..29-17), vectorized."""
    x = np.asarray(x, dtype=np.float64)
    y = np.asarray(y, dtype=np.float64)
    TOL = 1e-10
    THIRD = 1.0 / 3.0
    PISQ = PI * PI
    TPISQ = 2.0 * PISQ
    HPISQ = 0.5 * PISQ
    C2_27 = 2.0 / 27.0
    PI4_3 = 4.0 * PI / 3.0

    x2 = x * x
    ay = np.abs(y)
    y2 = y * y
    r = x2 + y2
    r2 = r * r
    c1 = -PI * ay * (r + PISQ)
    c3 = r2 + 2.0 * PI * (ay * r + PI * (y2 + PI * (ay + HALFPI)))
    c2 = (c1 + PISQ * (r - 3.0 * y2)) / c3
    c0 = PI * ay
    with np.errstate(divide="ignore", invalid="ignore"):
        al = c1 / c3 - THIRD * c2 * c2
        m = 2.0 * np.sqrt(np.maximum(-THIRD * al, 0.0))
        d = C2_27 * c2 ** 3 + (c0 * c0 - THIRD * c2 * c1) / c3
        alm = al * m
        d = 3.0 * d / alm
        t = np.abs(d)
        d3 = np.where(t > 1.0, np.where(d > 0.0, 0.0, PI),
                      np.arccos(np.clip(d, -1.0, 1.0)))
        d3 = np.where(r > PISQ, 2.0 * PI - d3, d3)
        phi = PI * (m * np.cos(d3 * THIRD + PI4_3) - THIRD * c2)
        phi = np.where(y < 0, -phi, phi)
        tt = r2 + TPISQ * (x2 - y2 + HPISQ)
        lam = np.where(
            np.abs(x) <= TOL, 0.0,
            0.5 * (r - PISQ + np.sqrt(np.maximum(tt, 0.0))) / np.where(x == 0, 1.0, x),
        )
        bad = (np.abs(alm) < 1e-16) | ((t - TOL) > 1.0)
        # equator special case (|y| < TOL)
        teq = x2 * x2 + TPISQ * (x2 + HPISQ)
        lam_eq = np.where(np.abs(x) <= TOL, 0.0,
                          0.5 * (x2 - PISQ + np.sqrt(teq)) / np.where(x == 0, 1.0, x))
        on_eq = ay < TOL
        lam = np.where(on_eq, lam_eq, np.where(bad, np.nan, lam))
        phi = np.where(on_eq, 0.0, np.where(bad, np.nan, phi))
    return lam, phi
