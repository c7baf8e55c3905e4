"""Helmert transforms: 3/4/7-parameter static + 14-parameter kinematic.

Reference: /root/reference/src/transformations/helmert.cpp —
parameter propagation P(t) = P(epoch) + dP*(t-epoch) (:102-160), rotation
matrix in coordinate_frame convention with optional exact trig or small-angle
form (:161-322, position_vector = transpose :301-310), 3D kernel
x' = scale * R * (x - refp) + T (:362-400), reverse via transpose (:402-437),
4D = per-row parameter propagation then the 3D kernel (:438-...).

Fixture anchors: GDA94->GDA2020 7-param at 75 um and kinematic
ITRF2014@2018->GDA2020 at 40 um (test/gie/GDA.gie:27-75).

Spark-side realization: the rotation matrix entries are scalars computed
driver-side; the kernel is a broadcasted 3x3 matmul over numpy columns.
Kinematic transforms rebuild the 9 entries per *distinct epoch* (vectorized
via np.unique) — datasets overwhelmingly carry one epoch, matching PROJ's
"only rebuild when t_obs changes" caching.
"""

from __future__ import annotations

import math
from dataclasses import dataclass, field

import numpy as np

_ARCSEC_TO_RAD = math.pi / (180.0 * 3600.0)


@dataclass(frozen=True)
class HelmertConsts:
    # translations [m], rotations [rad], scale [ppm] at the reference epoch
    x: float = 0.0
    y: float = 0.0
    z: float = 0.0
    rx: float = 0.0
    ry: float = 0.0
    rz: float = 0.0
    s: float = 0.0
    # rates per year (same units)
    dx: float = 0.0
    dy: float = 0.0
    dz: float = 0.0
    drx: float = 0.0
    dry: float = 0.0
    drz: float = 0.0
    ds: float = 0.0
    t_epoch: float | None = None
    exact: bool = False
    position_vector: bool = False  # False => coordinate_frame convention
    refp: tuple[float, float, float] = (0.0, 0.0, 0.0)  # Molodensky-Badekas
    # 2D 4-parameter mode (reference helmert.cpp:324-359): theta rotation
    # [rad] in the projected plane with DIRECT scale (not ppm), default 1.
    theta: float | None = None


def from_params(params: dict) -> HelmertConsts:
    """Build from proj-string params (rotations in arc-seconds, s in ppm)."""
    conv = params.get("convention", "")
    g = lambda k: float(params.get(k, 0.0))
    fourparam = "theta" in params
    # Molodensky-Badekas: the reference folds the evaluation point into the
    # translation terms (helmert.cpp:750-753), so fwd is
    # X' = (T + P) + s*R*(X - P)
    return HelmertConsts(
        x=g("x") + g("px"), y=g("y") + g("py"), z=g("z") + g("pz"),
        rx=g("rx") * _ARCSEC_TO_RAD,
        ry=g("ry") * _ARCSEC_TO_RAD,
        rz=g("rz") * _ARCSEC_TO_RAD,
        s=float(params.get("s", 1.0 if fourparam else 0.0)),
        theta=g("theta") * _ARCSEC_TO_RAD if fourparam else None,
        dx=g("dx"), dy=g("dy"), dz=g("dz"),
        drx=g("drx") * _ARCSEC_TO_RAD,
        dry=g("dry") * _ARCSEC_TO_RAD,
        drz=g("drz") * _ARCSEC_TO_RAD,
        ds=g("ds"),
        t_epoch=float(params["t_epoch"]) if "t_epoch" in params else None,
        exact="exact" in params,
        position_vector=(conv == "position_vector"),
        # Molodensky-Badekas evaluation point (reference helmert.cpp:727-733;
        # +proj=molobadekas routes here with px/py/pz mandatory)
        refp=(g("px"), g("py"), g("pz")),
    )


def _rot_matrix(rx: float, ry: float, rz: float, exact: bool, position_vector: bool) -> np.ndarray:
    """Rotation matrix (coordinate_frame by default; PV = transpose)."""
    if exact:
        cf, sf = math.cos(rx), math.sin(rx)
        ct, st = math.cos(ry), math.sin(ry)
        cp, sp = math.cos(rz), math.sin(rz)
        R = np.array([
            [ct * cp, cf * sp + sf * st * cp, sf * sp - cf * st * cp],
            [-ct * sp, cf * cp - sf * st * sp, sf * cp + cf * st * sp],
            [st, -sf * ct, cf * ct],
        ])
    else:  # small-angle linearization (the historically published form)
        R = np.array([
            [1.0, rz, -ry],
            [-rz, 1.0, rx],
            [ry, -rx, 1.0],
        ])
    if position_vector:
        R = R.T
    return R


def _params_at(C: HelmertConsts, t: float):
    if C.t_epoch is None:
        return (C.x, C.y, C.z), (C.rx, C.ry, C.rz), C.s
    dt = t - C.t_epoch
    return (
        (C.x + C.dx * dt, C.y + C.dy * dt, C.z + C.dz * dt),
        (C.rx + C.drx * dt, C.ry + C.dry * dt, C.rz + C.drz * dt),
        C.s + C.ds * dt,
    )


def helmert_fwd(X, Y, Z, C: HelmertConsts, t=None):
    """Forward 3D/4D Helmert. ``t`` is an optional epoch array (decimal years)."""
    X = np.asarray(X, dtype=np.float64)
    Y = np.asarray(Y, dtype=np.float64)
    Z = np.asarray(Z, dtype=np.float64)
    if C.theta is not None:  # 2D 4-parameter planar shift
        cr = math.cos(C.theta) * C.s
        sr = math.sin(C.theta) * C.s
        return cr * X + sr * Y + C.x, -sr * X + cr * Y + C.y, Z
    outX = np.empty_like(X)
    outY = np.empty_like(Y)
    outZ = np.empty_like(Z)

    if t is None or C.t_epoch is None:
        epochs = [None]
        groups = [...]
    else:
        t = np.asarray(t, dtype=np.float64)
        t = np.broadcast_to(np.where(np.isfinite(t), t, C.t_epoch), X.shape)
        epochs = list(np.unique(t))
        groups = [t == e for e in epochs]

    rx0, ry0, rz0 = C.refp
    for epoch, sel in zip(epochs, groups):
        (tx, ty, tz), (rx, ry, rz), s = _params_at(C, epoch if epoch is not None else (C.t_epoch or 0.0))
        R = _rot_matrix(rx, ry, rz, C.exact, C.position_vector)
        scale = 1.0 + s * 1e-6
        dX = X[sel] - rx0
        dY = Y[sel] - ry0
        dZ = Z[sel] - rz0
        outX[sel] = scale * (R[0, 0] * dX + R[0, 1] * dY + R[0, 2] * dZ) + tx
        outY[sel] = scale * (R[1, 0] * dX + R[1, 1] * dY + R[1, 2] * dZ) + ty
        outZ[sel] = scale * (R[2, 0] * dX + R[2, 1] * dY + R[2, 2] * dZ) + tz
    return outX, outY, outZ


def helmert_inv(X, Y, Z, C: HelmertConsts, t=None):
    """Inverse: unscale/detranslate then multiply by the transpose."""
    X = np.asarray(X, dtype=np.float64)
    Y = np.asarray(Y, dtype=np.float64)
    Z = np.asarray(Z, dtype=np.float64)
    if C.theta is not None:
        cr = math.cos(C.theta) / C.s
        sr = math.sin(C.theta) / C.s
        dX = X - C.x
        dY = Y - C.y
        return dX * cr - dY * sr, dX * sr + dY * cr, Z
    outX = np.empty_like(X)
    outY = np.empty_like(Y)
    outZ = np.empty_like(Z)

    if t is None or C.t_epoch is None:
        epochs = [None]
        groups = [...]
    else:
        t = np.asarray(t, dtype=np.float64)
        t = np.broadcast_to(np.where(np.isfinite(t), t, C.t_epoch), X.shape)
        epochs = list(np.unique(t))
        groups = [t == e for e in epochs]

    rx0, ry0, rz0 = C.refp
    for epoch, sel in zip(epochs, groups):
        (tx, ty, tz), (rx, ry, rz), s = _params_at(C, epoch if epoch is not None else (C.t_epoch or 0.0))
        R = _rot_matrix(rx, ry, rz, C.exact, C.position_vector)
        scale = 1.0 + s * 1e-6
        dX = (X[sel] - tx) / scale
        dY = (Y[sel] - ty) / scale
        dZ = (Z[sel] - tz) / scale
        outX[sel] = R[0, 0] * dX + R[1, 0] * dY + R[2, 0] * dZ + rx0
        outY[sel] = R[0, 1] * dX + R[1, 1] * dY + R[2, 1] * dZ + ry0
        outZ[sel] = R[0, 2] * dX + R[1, 2] * dY + R[2, 2] * dZ + rz0
    return outX, outY, outZ
