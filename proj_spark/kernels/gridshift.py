"""The one horizontal grid kernel, its sampler and the vertical grid value.

  * ``interpolate``, the one edge-clamped sampler: bilinear (grids.cpp
    pj_hgrid_interpolate :3314-3397, gridshift.cpp grid_interpolate
    :381-408) or NOAA's biquadratic window (gridshift.cpp :410-555)
  * ``hgrid_apply``, the one horizontal kernel of hgridshift, gridshift and
    deformation ``+xy_grids``: forward add, inverse fixed-point iteration
    with grid-switch fallback (grids.cpp pj_hgrid_apply_internal :3400-3490)
  * grid selection per point — sources.grids.select (findGrid / gridAt)

Grids are small numpy arrays — broadcast to executors by closure capture
(the moral equivalent of PROJ's per-context grid cache, SURVEY §1.4).
"""

from __future__ import annotations

import numpy as np

from proj_spark.sources.grids import (_REL_TOL, bilinear, cell, floor_index,
                                      full_world, select, wrap)
from proj_spark.sources.ntv2 import ShiftGrid

_MAX_ITER = 10
_TOL = 1e-12


def _qterp(x, f0, f1, f2):
    df0 = f1 - f0
    d2f0 = f2 - f1 - df0
    return f0 + x * df0 + 0.5 * x * (x - 1.0) * d2f0


def interpolate(g, dx, dy, planes, biquadratic=False):
    """``(valid, bilinear_used, *values)``: each (rows, cols) plane of g at
    offsets (dx, dy) from its south-west node (a None plane reads zeros).
    Bilinear, or on a grid of 3x3 nodes or more the biquadratic window,
    shifted before/after the half pixel (NOAA qterp). A point outside g,
    or whose window holds g's nodata value, is invalid."""
    il, ip, fl, fp, valid = cell(g, dx, dy)

    def node(p, iyy, ixx):
        return p[np.clip(iyy, 0, g.height - 1), np.clip(ixx, 0, g.width - 1)]

    bilinear_used = not biquadratic or g.width < 3 or g.height < 3
    if bilinear_used:
        n = 2

        def interp(p):
            return bilinear(p, il, ip, fl, fp)
    else:
        n = 3
        shift_l = ((fl <= 0.5) & (il > 0)) | (il + 2 == g.width)
        il = np.where(shift_l, il - 1, il)
        fl = np.where(shift_l, fl + 1.0, fl)
        shift_p = ((fp <= 0.5) & (ip > 0)) | (ip + 2 == g.height)
        ip = np.where(shift_p, ip - 1, ip)
        fp = np.where(shift_p, fp + 1.0, fp)
        valid &= (il >= 0) & (il + 2 < g.width) & (ip >= 0) & (ip + 2 < g.height)

        def interp(p):
            rows = [_qterp(fl, *(node(p, ip + j, il + i) for i in range(3)))
                    for j in range(3)]
            return _qterp(fp, *rows)

    values = [np.zeros_like(dx) if p is None else interp(p) for p in planes]
    for p in planes:
        if p is not None and g.nodata is not None:
            for j in range(n):
                for i in range(n):
                    valid &= node(p, ip + j, il + i) != g.nodata
    return valid, bilinear_used, *values


def _hgrid(g: ShiftGrid, dx, dy):
    return interpolate(g, dx, dy, (g.lon_shift, g.lat_shift))


def hgrid_apply(lam, phi, grids, inverse=False, eps=_REL_TOL, sample=_hgrid):
    """The one horizontal grid kernel: ``(x, y, ok, held, rest)``. Each
    point takes the grid ``select`` picks (``held``), and ``sample(grid,
    dx, dy)`` there returns ``interpolate``'s tuple: lon and lat shifts,
    then ``rest`` values (NaN where no grid holds). x, y are NaN where the
    sample is not ``ok``.

    Forward, x and y are the shifts. Inverse, they are the t with t +
    shift(t) == input, iterated in the first grid until an iterate leaves
    it; then the grid holding the iterate takes over (spending one of the
    ten iterations), or, if none but ``null`` does, the iterate stays. A
    point ``null`` serves comes back unchanged, and a biquadratic one takes
    the single step input - shift (NOAA NCAT)."""
    lam = np.asarray(lam, dtype=np.float64)
    phi = np.asarray(phi, dtype=np.float64)
    out_l, out_p = np.full_like(lam, np.nan), np.full_like(phi, np.nan)
    ok, held, active = (np.zeros(lam.shape, dtype=bool) for _ in range(3))
    rest: list = []
    # inverse state: grid index gi, target tb and iterate t in that grid
    index = {id(g): k for k, g in enumerate(grids)}
    gi = np.zeros(lam.shape, dtype=np.int64)
    tb_l, tb_p, t_l, t_p = (np.zeros_like(lam) for _ in range(4))
    for g, m, xg in select(grids, lam, phi, eps):
        bl, bp = xg - g.west, phi[m] - g.south
        valid, bilinear_used, dl, dp, *r = sample(g, bl, bp)
        rest = rest or [np.full_like(lam, np.nan) for _ in r]
        for o, v in zip(rest, r):
            o[m] = v
        ok[m], held[m] = valid, True
        if not inverse:
            out_l[m], out_p[m] = (np.where(valid, d, np.nan) for d in (dl, dp))
        elif g.name == "null":  # grids.cpp isNullGrid
            out_l[m], out_p[m] = (np.where(valid, v, np.nan)
                                  for v in (lam[m], phi[m]))
        elif not bilinear_used:
            out_l[m], out_p[m] = (np.where(valid, v - d, np.nan)
                                  for v, d in ((lam[m], dl), (phi[m], dp)))
        else:
            gi[m], tb_l[m], tb_p[m] = index[id(g)], bl, bp
            t_l[m] = bl - np.where(valid, dl, 0.0)
            t_p[m] = bp - np.where(valid, dp, 0.0)
            active[m] = valid
    iterated = np.flatnonzero(active)
    west = np.array([g.west for g in grids])
    south = np.array([g.south for g in grids])
    for _ in range(_MAX_ITER):
        if not active.any():
            break
        left = np.zeros(lam.shape, dtype=bool)
        for k in np.unique(gi[active]):
            s = np.flatnonzero(active & (gi == k))
            v2, _, dl, dp, *r = sample(grids[k], t_l[s], t_p[s])
            dif_l = np.where(v2, t_l[s] + dl - tb_l[s], 0.0)
            dif_p = np.where(v2, t_p[s] + dp - tb_p[s], 0.0)
            t_l[s] -= dif_l
            t_p[s] -= dif_p
            for o, v in zip(rest, r):
                o[s] = np.where(v2, v, o[s])
            active[s] = v2 & (dif_l * dif_l + dif_p * dif_p > _TOL * _TOL)
            left[s[~v2]] = True
        s = np.flatnonzero(left)
        lp_p = t_p[s] + south[gi[s]]
        for h, m, xg in select(grids, t_l[s] + west[gi[s]], lp_p, eps):
            new = (gi[s[m]] != index[id(h)]) & (h.name != "null")
            sw = s[m][new]
            tol = (h.resx + h.resy) * (_REL_TOL if eps is None else eps)
            gi[sw] = index[id(h)]
            t_l[sw], t_p[sw] = xg[new] - h.west, lp_p[m][new] - h.south
            tb_l[sw], tb_p[sw] = wrap(h, lam[sw], tol) - h.west, phi[sw] - h.south
            active[sw] = True
    out_l[iterated] = t_l[iterated] + west[gi[iterated]]
    out_p[iterated] = t_p[iterated] + south[gi[iterated]]
    return out_l, out_p, ok, held, rest


def hgridshift_fwd(lam, phi, grids: list[ShiftGrid]):
    lam = np.asarray(lam, dtype=np.float64)
    phi = np.asarray(phi, dtype=np.float64)
    dlam, dphi = hgrid_apply(lam, phi, grids)[:2]
    return lam + dlam, phi + dphi


def hgridshift_inv(lam, phi, grids: list[ShiftGrid]):
    return hgrid_apply(lam, phi, grids, inverse=True)[:2]


def vgrid_value(lam, phi, grids) -> np.ndarray:
    """Bilinear geoid/vertical-shift value in metres from the grid
    ``select`` picks (reference read_vgrid_value, grids.cpp:3582-3740:
    plain floor indexing, column wrap for full-world grids, nodata corners
    dropped with weight renormalization; outside -> NaN error-in-band)."""
    lam = np.asarray(lam, dtype=np.float64)
    phi = np.asarray(phi, dtype=np.float64)
    out = np.full_like(lam, np.nan)
    for g, m, xg in select(grids, lam, phi, 0.0):
        world = full_world(g)
        gx = ((lam[m] if world else xg) - g.west) / g.resx
        if world:
            gx = np.mod(np.mod(gx + g.width, g.width) + g.width, g.width)
        gy = (phi[m] - g.south) / g.resy
        ix = floor_index(gx)
        iy = floor_index(gy)
        ok = (ix >= 0) & (ix < g.width) & (iy >= 0) & (iy < g.height)
        fx = gx - ix
        fy = gy - iy
        ixc = np.clip(ix, 0, g.width - 1)
        iyc = np.clip(iy, 0, g.height - 1)
        ix2 = ixc + 1
        if world:
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
