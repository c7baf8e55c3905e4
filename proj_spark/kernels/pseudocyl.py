"""Pseudocylindrical projections: sinu / gn_sinu / eck6 / mbtfps, moll /
wag4 / wag5, eck4, robin.

Numpy re-derivations of:
  * gn_sinu family — /root/reference/src/projections/gn_sinu.cpp
    (generalized sinusoidal: sph kernel with (m, n); sinu adds the
    ellipsoidal meridian-distance variant)
  * moll family    — /root/reference/src/projections/moll.cpp
    (setup computes C_x, C_y, C_p from the bounding parallel p)
  * eck4           — /root/reference/src/projections/eck4.cpp
  * robin          — /root/reference/src/projections/robin.cpp
    (Robinson's published 5-degree spline table; stored float32 like the
    reference so interpolated values match bit-for-bit)
"""

from __future__ import annotations

import math
from dataclasses import dataclass

import numpy as np

from proj_spark.crs import Ellipsoid
from proj_spark.kernels.tmerc import _enfn, inv_mlfn, mlfn

EPS10 = 1e-10
HALFPI = math.pi / 2


# --------------------------------------------------------------------------
# gn_sinu family
# --------------------------------------------------------------------------

@dataclass(frozen=True)
class SinuConsts:
    ellips: bool
    es: float
    m: float
    n: float
    C_x: float
    C_y: float
    en: tuple = ()


def setup_gn_sinu(ell: Ellipsoid, m: float | None = None, n: float | None = None,
                  proj: str = "sinu") -> SinuConsts:
    if proj == "sinu" and ell.es != 0.0:
        return SinuConsts(True, ell.es, 0.0, 1.0, 0.0, 0.0, _enfn(ell.n))
    if proj == "sinu":
        m, n = 0.0, 1.0
    elif proj == "eck6":
        m, n = 1.0, 1.0 + HALFPI
    elif proj == "mbtfps":
        m, n = 0.5, 1.785398163397448309615660845
    elif proj == "gn_sinu":
        if m is None or n is None:
            raise ValueError("gn_sinu requires +m and +n")
    C_y = math.sqrt((m + 1.0) / n)
    return SinuConsts(False, 0.0, m, n, C_y / (m + 1.0), C_y)


def sinu_fwd(lam, phi, C: SinuConsts):
    lam = np.asarray(lam, dtype=np.float64)
    phi = np.asarray(phi, dtype=np.float64)
    if C.ellips:
        s = np.sin(phi)
        c = np.cos(phi)
        return lam * c / np.sqrt(1.0 - C.es * s * s), mlfn(phi, s, c, C.en)
    if C.m == 0.0:
        ph = np.arcsin(np.clip(C.n * np.sin(phi), -1, 1)) if C.n != 1.0 else phi
    else:
        k = C.n * np.sin(phi)
        ph = phi.copy()
        for _ in range(8):
            V = (C.m * ph + np.sin(ph) - k) / (C.m + np.cos(ph))
            ph = ph - V
            if np.all(np.abs(V) < 1e-7):
                break
    return C.C_x * lam * (C.m + np.cos(ph)), C.C_y * ph


def sinu_inv(x, y, C: SinuConsts):
    x = np.asarray(x, dtype=np.float64)
    y = np.asarray(y, dtype=np.float64)
    if C.ellips:
        phi = inv_mlfn(y, C.en)
        s = np.abs(phi)
        with np.errstate(divide="ignore", invalid="ignore"):
            sp = np.sin(phi)
            lam = x * np.sqrt(1.0 - C.es * sp * sp) / np.cos(phi)
        lam = np.where(s < HALFPI, lam, np.where(s - EPS10 < HALFPI, 0.0, np.nan))
        return lam, phi
    ys = y / C.C_y
    if C.m != 0.0:
        phi = np.arcsin(np.clip((C.m * ys + np.sin(ys)) / C.n, -1, 1))
    else:
        phi = np.arcsin(np.clip(np.sin(ys) / C.n, -1, 1)) if C.n != 1.0 else ys
    return x / (C.C_x * (C.m + np.cos(ys))), phi


# --------------------------------------------------------------------------
# moll family
# --------------------------------------------------------------------------

@dataclass(frozen=True)
class MollConsts:
    C_x: float
    C_y: float
    C_p: float


def setup_moll(proj: str = "moll") -> MollConsts:
    if proj == "wag5":
        return MollConsts(0.90977, 1.65014, 3.00896)
    p = HALFPI if proj == "moll" else math.pi / 3.0  # wag4
    p2 = p + p
    sp = math.sin(p)
    r = math.sqrt(2.0 * math.pi * sp / (p2 + math.sin(p2)))
    return MollConsts(2.0 * r / math.pi, r / sp, p2 + math.sin(p2))


def moll_fwd(lam, phi, C: MollConsts):
    lam = np.asarray(lam, dtype=np.float64)
    phi = np.asarray(phi, dtype=np.float64)
    k = C.C_p * np.sin(phi)
    th = phi.copy()
    converged = np.zeros(th.shape, dtype=bool)
    for _ in range(30):  # reference MAX_ITER=30 (slow convergence near poles)
        V = (th + np.sin(th) - k) / (1.0 + np.cos(th))
        th = np.where(converged, th, th - V)
        converged |= np.abs(V) < 1e-7
        if converged.all():
            break
    th = np.where(converged, th * 0.5, np.where(th < 0, -HALFPI, HALFPI))
    return C.C_x * lam * np.cos(th), C.C_y * np.sin(th)


def moll_inv(x, y, C: MollConsts):
    x = np.asarray(x, dtype=np.float64)
    y = np.asarray(y, dtype=np.float64)
    th = np.arcsin(np.clip(y / C.C_y, -1, 1))
    with np.errstate(divide="ignore", invalid="ignore"):
        lam = x / (C.C_x * np.cos(th))
        th2 = th + th
        phi = np.arcsin(np.clip((th2 + np.sin(th2)) / C.C_p, -1, 1))
    bad = np.abs(lam) >= np.pi
    return np.where(bad, np.nan, lam), np.where(bad, np.nan, phi)


# --------------------------------------------------------------------------
# eck4
# --------------------------------------------------------------------------

_E4_C_x = 2.0 / math.sqrt(math.pi * (4.0 + math.pi))
_E4_C_y = 2.0 * math.sqrt(math.pi / (4.0 + math.pi))
_E4_C_p = 2.0 + HALFPI


def eck4_fwd(lam, phi, _C=None):
    lam = np.asarray(lam, dtype=np.float64)
    phi = np.asarray(phi, dtype=np.float64)
    p = _E4_C_p * np.sin(phi)
    V = phi * phi
    th = phi * (0.895168 + V * (0.0218849 + V * 0.00826809))
    converged = np.zeros(th.shape, dtype=bool)
    for _ in range(6):
        c = np.cos(th)
        s = np.sin(th)
        V = (th + s * (c + 2.0) - p) / (1.0 + c * (c + 2.0) - s * s)
        th = np.where(converged, th, th - V)
        converged |= np.abs(V) < 1e-7
        if converged.all():
            break
    x = np.where(converged, _E4_C_x * lam * (1.0 + np.cos(th)), _E4_C_x * lam)
    y = np.where(converged, _E4_C_y * np.sin(th),
                 np.where(th < 0, -_E4_C_y, _E4_C_y))
    return x, y


def eck4_inv(x, y, _C=None):
    x = np.asarray(x, dtype=np.float64)
    y = np.asarray(y, dtype=np.float64)
    sin_th = y / _E4_C_y
    # aasin domain (reference aasincos.cpp ONE_TOL): |arg| beyond the
    # tolerance is outside the projection domain -> NaN
    dom = np.abs(sin_th) > 1.00000000000001
    at_pole = (np.abs(sin_th) >= 1.0 - 1e-12) & ~dom
    sin_th = np.clip(sin_th, -1.0, 1.0)
    th = np.arcsin(np.clip(sin_th, -1, 1))
    cos_th = np.cos(th)
    with np.errstate(divide="ignore", invalid="ignore"):
        lam = np.where(at_pole, x / _E4_C_x, x / (_E4_C_x * (1.0 + cos_th)))
        phi = np.where(
            at_pole,
            np.where(sin_th > 0, HALFPI, -HALFPI),
            np.arcsin(np.clip((th + sin_th * (cos_th + 2.0)) / _E4_C_p, -1, 1)),
        )
    over = (np.abs(lam) - np.pi > 1e-10) | dom
    lam = np.where(np.abs(np.abs(lam) - np.pi) <= 1e-10, np.sign(lam) * np.pi, lam)
    return np.where(over, np.nan, lam), np.where(over, np.nan, phi)


# --------------------------------------------------------------------------
# robin
# --------------------------------------------------------------------------

# Robinson's published spline coefficients at 5-degree nodes (Robinson 1974
# table; stored float32 to match the reference's legacy storage exactly,
# reference robin.cpp:39-80).
_RX = np.array([
    [1.0, 2.2199e-17, -7.15515e-05, 3.1103e-06],
    [0.9986, -0.000482243, -2.4897e-05, -1.3309e-06],
    [0.9954, -0.00083103, -4.48605e-05, -9.86701e-07],
    [0.99, -0.00135364, -5.9661e-05, 3.6777e-06],
    [0.9822, -0.00167442, -4.49547e-06, -5.72411e-06],
    [0.973, -0.00214868, -9.03571e-05, 1.8736e-08],
    [0.96, -0.00305085, -9.00761e-05, 1.64917e-06],
    [0.9427, -0.00382792, -6.53386e-05, -2.6154e-06],
    [0.9216, -0.00467746, -0.00010457, 4.81243e-06],
    [0.8962, -0.00536223, -3.23831e-05, -5.43432e-06],
    [0.8679, -0.00609363, -0.000113898, 3.32484e-06],
    [0.835, -0.00698325, -6.40253e-05, 9.34959e-07],
    [0.7986, -0.00755338, -5.00009e-05, 9.35324e-07],
    [0.7597, -0.00798324, -3.5971e-05, -2.27626e-06],
    [0.7186, -0.00851367, -7.01149e-05, -8.6303e-06],
    [0.6732, -0.00986209, -0.000199569, 1.91974e-05],
    [0.6213, -0.010418, 8.83923e-05, 6.24051e-06],
    [0.5722, -0.00906601, 0.000182, 6.24051e-06],
    [0.5322, -0.00677797, 0.000275608, 6.24051e-06],
], dtype=np.float32).astype(np.float64)

_RY = np.array([
    [-5.20417e-18, 0.0124, 1.21431e-18, -8.45284e-11],
    [0.062, 0.0124, -1.26793e-09, 4.22642e-10],
    [0.124, 0.0124, 5.07171e-09, -1.60604e-09],
    [0.186, 0.0123999, -1.90189e-08, 6.00152e-09],
    [0.248, 0.0124002, 7.10039e-08, -2.24e-08],
    [0.31, 0.0123992, -2.64997e-07, 8.35986e-08],
    [0.372, 0.0124029, 9.88983e-07, -3.11994e-07],
    [0.434, 0.0123893, -3.69093e-06, -4.35621e-07],
    [0.4958, 0.0123198, -1.02252e-05, -3.45523e-07],
    [0.5571, 0.0121916, -1.54081e-05, -5.82288e-07],
    [0.6176, 0.0119938, -2.41424e-05, -5.25327e-07],
    [0.6769, 0.011713, -3.20223e-05, -5.16405e-07],
    [0.7346, 0.0113541, -3.97684e-05, -6.09052e-07],
    [0.7903, 0.0109107, -4.89042e-05, -1.04739e-06],
    [0.8435, 0.0103431, -6.4615e-05, -1.40374e-09],
    [0.8936, 0.00969686, -6.4636e-05, -8.547e-06],
    [0.9394, 0.00840947, -0.000192841, -4.2106e-06],
    [0.9761, 0.00616527, -0.000256, -4.2106e-06],
    [1.0, 0.00328947, -0.000319159, -4.2106e-06],
], dtype=np.float32).astype(np.float64)

_FXC = 0.8487
_FYC = 1.3523
_RC1 = math.radians(5.0)
_C1R = 1.0 / _RC1
_NODES = 18


def _spline_v(tab: np.ndarray, i: np.ndarray, z: np.ndarray) -> np.ndarray:
    c0, c1, c2, c3 = tab[i, 0], tab[i, 1], tab[i, 2], tab[i, 3]
    return c0 + z * (c1 + z * (c2 + z * c3))


def _spline_dv(tab: np.ndarray, i: np.ndarray, z: np.ndarray) -> np.ndarray:
    c1, c2, c3 = tab[i, 1], tab[i, 2], tab[i, 3]
    return c1 + z * (c2 + c2 + z * 3.0 * c3)


def robin_fwd(lam, phi, _C=None):
    lam = np.asarray(lam, dtype=np.float64)
    phi = np.asarray(phi, dtype=np.float64)
    dphi = np.abs(phi)
    # a NaN latitude reads node 0 and stays NaN through z
    i = np.minimum(np.nan_to_num(np.floor(dphi * _C1R + 1e-15)),
                   _NODES).astype(np.int64)
    z = np.degrees(dphi - _RC1 * i)
    x = _spline_v(_RX, i, z) * _FXC * lam
    y = np.copysign(_spline_v(_RY, i, z) * _FYC, phi)
    return x, y


def robin_inv(x, y, _C=None):
    x = np.asarray(x, dtype=np.float64)
    y = np.asarray(y, dtype=np.float64)
    lam = x / _FXC
    yabs = np.abs(y / _FYC)
    # node search: Y table c0 is monotone increasing over 18 intervals
    i = np.searchsorted(_RY[:, 0], yabs, side="right") - 1
    i = np.clip(i, 0, _NODES - 1)
    at_pole = yabs >= 1.0
    over_pole = yabs > 1.000001
    t = 5.0 * (yabs - _RY[i, 0]) / (_RY[i + 1, 0] - _RY[i, 0])
    for _ in range(20):
        t1 = (_spline_v(_RY, i, t) - yabs) / _spline_dv(_RY, i, t)
        t = t - t1
        if np.all(np.abs(t1) < 1e-10):
            break
    phi = np.where(at_pole, np.copysign(HALFPI, y),
                   np.copysign(np.radians(5.0 * i + t), y))
    lam = np.where(at_pole, lam / _RX[_NODES, 0], lam / _spline_v(_RX, i, t))
    bad = over_pole | (np.abs(lam) > np.pi + 1e-9)
    return np.where(bad, np.nan, lam), np.where(bad, np.nan, phi)
