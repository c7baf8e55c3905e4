"""Horizontal datum shift by grid: bilinear interpolation + iterative
inverse, vectorized; multi-subgrid selection.

Re-derivation of the reference's grid application path:
  * bilinear weights + edge-tolerance clamping —
    /root/reference/src/grids.cpp pj_hgrid_interpolate :3314-3397
  * forward add / inverse fixed-point iteration (MAX_ITERATIONS=10,
    TOL=1e-12) — pj_hgrid_apply_internal :3400-3490
  * grid selection per point — sources.grids.select (findGrid / gridAt)

Grids are small numpy arrays — broadcast to executors by closure capture
(the moral equivalent of PROJ's per-context grid cache, SURVEY §1.4).
"""

from __future__ import annotations

import numpy as np

from proj_spark.sources.grids import _REL_TOL, bilinear, cell, full_world, select
from proj_spark.sources.ntv2 import ShiftGrid

_MAX_ITER = 10
_TOL = 1e-12


def _interpolate(lam_n: np.ndarray, phi_n: np.ndarray, g: ShiftGrid):
    """Bilinear sample at grid-normalized coords (radians from SW corner).
    Returns (dlam, dphi, valid)."""
    ix, iy, fx, fy, valid = cell(g, lam_n, phi_n)
    return (bilinear(g.lon_shift, ix, iy, fx, fy),
            bilinear(g.lat_shift, ix, iy, fx, fy), valid)


def hgrid_shift(lam, phi, grids: list[ShiftGrid]):
    """Interpolated (dlam, dphi) at each point from the grid the gridAt
    descent selects; NaN outside every subgrid (PROJ HUGE_VAL)."""
    out_l = np.full_like(lam, np.nan)
    out_p = np.full_like(phi, np.nan)
    for g, m, xg in select(grids, lam, phi, _REL_TOL):
        dlam, dphi, valid = _interpolate(xg - g.west, phi[m] - g.south, g)
        out_l[m] = np.where(valid, dlam, np.nan)
        out_p[m] = np.where(valid, dphi, np.nan)
    return out_l, out_p


def hgridshift_fwd(lam, phi, grids: list[ShiftGrid]):
    lam = np.asarray(lam, dtype=np.float64)
    phi = np.asarray(phi, dtype=np.float64)
    dlam, dphi = hgrid_shift(lam, phi, grids)
    return lam + dlam, phi + dphi


def vgrid_value(lam, phi, grids) -> np.ndarray:
    """Bilinear geoid/vertical-shift value in metres from the grid
    ``select`` picks (reference read_vgrid_value, grids.cpp:3582-3740:
    plain floor indexing, column wrap for full-world grids, nodata corners
    dropped with weight renormalization; outside -> NaN error-in-band)."""
    lam = np.asarray(lam, dtype=np.float64)
    phi = np.asarray(phi, dtype=np.float64)
    out = np.full_like(lam, np.nan)
    for g, m, xg in select(grids, lam, phi, 0.0):
        wrap = full_world(g)
        gx = ((lam[m] if wrap else xg) - g.west) / g.resx
        if wrap:
            gx = np.mod(np.mod(gx + g.width, g.width) + g.width, g.width)
        gy = (phi[m] - g.south) / g.resy
        ix = np.floor(gx).astype(np.int64)
        iy = np.floor(gy).astype(np.int64)
        ok = (ix >= 0) & (ix < g.width) & (iy >= 0) & (iy < g.height)
        fx = gx - ix
        fy = gy - iy
        ixc = np.clip(ix, 0, g.width - 1)
        iyc = np.clip(iy, 0, g.height - 1)
        ix2 = ixc + 1
        if wrap:
            ix2 = np.where(ix2 >= g.width, 0, ix2)
        else:
            ix2 = np.minimum(ix2, g.width - 1)
        iy2 = np.minimum(iyc + 1, g.height - 1)
        v = g.values
        corners = (v[iyc, ixc], v[iyc, ix2], v[iy2, ixc], v[iy2, ix2])
        weights = ((1 - fx) * (1 - fy), fx * (1 - fy), (1 - fx) * fy, fx * fy)
        # nodata corners (NaN) are dropped and the remaining weights
        # renormalized (grids.cpp :3710-3738); all-nodata -> NaN in-band
        vsum = np.zeros_like(fx)
        wsum = np.zeros_like(fx)
        for c, w in zip(corners, weights):
            cv = ~np.isnan(c)
            vsum = vsum + np.where(cv, c * w, 0.0)
            wsum = wsum + np.where(cv, w, 0.0)
        with np.errstate(divide="ignore", invalid="ignore"):
            out[m] = np.where(ok & (wsum > 0), vsum / wsum, np.nan)
    return out


def hgridshift_inv(lam, phi, grids: list[ShiftGrid]):
    """Fixed-point: find t with t + shift(t) == input (reference :3445-3480)."""
    lam = np.asarray(lam, dtype=np.float64)
    phi = np.asarray(phi, dtype=np.float64)
    out_l = np.full_like(lam, np.nan)
    out_p = np.full_like(phi, np.nan)
    for g, m, xg in select(grids, lam, phi, _REL_TOL):
        tb_l = xg - g.west
        tb_p = phi[m] - g.south
        d0_l, d0_p, valid = _interpolate(tb_l, tb_p, g)
        t_l = tb_l - np.where(valid, d0_l, 0.0)
        t_p = tb_p - np.where(valid, d0_p, 0.0)
        done = ~valid
        for _ in range(_MAX_ITER):
            if done.all():
                break
            dl, dp, v2 = _interpolate(t_l, t_p, g)
            dif_l = np.where(v2, t_l + dl - tb_l, 0.0)
            dif_p = np.where(v2, t_p + dp - tb_p, 0.0)
            t_l = np.where(done, t_l, t_l - dif_l)
            t_p = np.where(done, t_p, t_p - dif_p)
            done |= (dif_l * dif_l + dif_p * dif_p) <= _TOL * _TOL
            done |= ~v2
        out_l[m] = np.where(valid, t_l + g.west, np.nan)
        out_p[m] = np.where(valid, t_p + g.south, np.nan)
    return out_l, out_p
