"""Horizontal datum shift by grid: bilinear interpolation + iterative
inverse, vectorized; multi-subgrid selection.

Re-derivation of the reference's grid application path:
  * bilinear weights + edge-tolerance clamping —
    /root/reference/src/grids.cpp pj_hgrid_interpolate :3314-3397
  * forward add / inverse fixed-point iteration (MAX_ITERATIONS=10,
    TOL=1e-12) — pj_hgrid_apply_internal :3400-3490
  * grid selection per point (first subgrid whose extent contains it) —
    findGrid / ListOfHGrids

Grids are small numpy arrays — broadcast to executors by closure capture
(the moral equivalent of PROJ's per-context grid cache, SURVEY §1.4).
"""

from __future__ import annotations

import numpy as np

from proj_spark.sources.grids import _REL_TOL, bilinear, cell
from proj_spark.sources.ntv2 import ShiftGrid

_MAX_ITER = 10
_TOL = 1e-12


def _interpolate(lam_n: np.ndarray, phi_n: np.ndarray, g: ShiftGrid):
    """Bilinear sample at grid-normalized coords (radians from SW corner).
    Returns (dlam, dphi, valid)."""
    ix, iy, fx, fy, valid = cell(g, lam_n, phi_n)
    return (bilinear(g.lon_shift, ix, iy, fx, fy),
            bilinear(g.lat_shift, ix, iy, fx, fy), valid)


def _select_grid_masks(lam, phi, grids):
    """Yield (grid, mask) with each point assigned per the reference's
    gridAt descent (grids.cpp:2751-2775): take the FIRST top-level grid
    (file order) whose extent contains the point, then recursively descend
    into its child subgrids (PARENT records, file order) so the finest
    containing child wins. Grids without hierarchy info (PARENT absent or
    naming no grid in the set) are top-level, falling back to plain
    first-containing file order — the reference's behavior for overlapping
    top-level grids."""
    # reference NTv2GridSet::open (:2310-2318): the PARENT name must match a
    # grid seen EARLIER in the file; unresolved parents make a top-level grid
    seen: set[str] = set()
    children: dict[str, list] = {}
    top = []
    for g in grids:
        p = getattr(g, "parent", "NONE")
        if p and p != "NONE" and p in seen:
            children.setdefault(p, []).append(g)
        else:
            top.append(g)
        if g.name:
            seen.add(g.name)

    out = []

    def descend(g, m, depth=0):
        # m: points assigned to g's subtree (already inside g's extent)
        if depth < 16:  # cycle guard; real files nest 2-3 deep
            for c in children.get(g.name, []):
                eps_c = (c.resx + c.resy) * _REL_TOL
                mc = m & c.contains(lam, phi, eps_c)
                if mc.any():
                    descend(c, mc, depth + 1)
                    m = m & ~mc
        if m.any():
            out.append((g, m))

    remaining = np.ones(lam.shape, dtype=bool)
    for g in top:
        eps = (g.resx + g.resy) * _REL_TOL
        m = remaining & g.contains(lam, phi, eps)
        if m.any():
            remaining &= ~m
            descend(g, m)
    yield from out


def hgrid_shift(lam, phi, grids: list[ShiftGrid]):
    """Interpolated (dlam, dphi) at each point from the grid the gridAt
    descent selects; NaN outside every subgrid (PROJ HUGE_VAL)."""
    out_l = np.full_like(lam, np.nan)
    out_p = np.full_like(phi, np.nan)
    for g, m in _select_grid_masks(lam, phi, grids):
        dlam, dphi, valid = _interpolate(lam[m] - g.west, phi[m] - g.south, g)
        out_l[m] = np.where(valid, dlam, np.nan)
        out_p[m] = np.where(valid, dphi, np.nan)
    return out_l, out_p


def hgridshift_fwd(lam, phi, grids: list[ShiftGrid]):
    lam = np.asarray(lam, dtype=np.float64)
    phi = np.asarray(phi, dtype=np.float64)
    dlam, dphi = hgrid_shift(lam, phi, grids)
    return lam + dlam, phi + dphi


def vgrid_value(lam, phi, grids) -> np.ndarray:
    """Bilinear geoid/vertical-shift value in metres (reference
    read_vgrid_value, grids.cpp:3582-3740: plain floor indexing, longitude
    wrap into the grid span, column wrap for full-world grids, nodata
    corners dropped with weight renormalization; outside -> NaN
    error-in-band). Most-detailed (smallest-extent) grid wins."""
    lam = np.asarray(lam, dtype=np.float64)
    phi = np.asarray(phi, dtype=np.float64)
    out = np.full_like(lam, np.nan)
    remaining = np.ones(lam.shape, dtype=bool)
    for g in sorted(grids, key=lambda g: (g.east - g.west) * (g.north - g.south)):
        gx = (lam - g.west) / g.resx
        if g.full_world:
            gx = np.mod(np.mod(gx + g.width, g.width) + g.width, g.width)
        else:
            gx = np.where(lam < g.west, (lam + 2 * np.pi - g.west) / g.resx, gx)
            gx = np.where(lam > g.east, (lam - 2 * np.pi - g.west) / g.resx, gx)
        gy = (phi - g.south) / g.resy
        ix = np.floor(gx).astype(np.int64)
        iy = np.floor(gy).astype(np.int64)
        # strict extent containment BEFORE index math (reference
        # isPointInExtent, grids.cpp:1679, eps=0, called from gridAt):
        # a point one sub-cell past the last node is outside the grid,
        # not clamp-extrapolated — gie geotiff_grids expects failure at
        # 180.184 just past the antimeridian subset's east edge
        in_ext = (phi >= g.south) & (phi <= g.north) & (
            g.full_world
            | ((gx * g.resx >= -1e-12) & (gx * g.resx <= g.east - g.west + 1e-12)))
        ok = (remaining & in_ext & (ix >= 0) & (ix < g.width)
              & (iy >= 0) & (iy < g.height))
        if not ok.any():
            continue
        fx = gx - ix
        fy = gy - iy
        ixc = np.clip(ix, 0, g.width - 1)
        iyc = np.clip(iy, 0, g.height - 1)
        ix2 = ixc + 1
        if g.full_world:
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
            val = np.where(wsum > 0, vsum / wsum, np.nan)
        out = np.where(ok, val, out)
        remaining &= ~ok
    return out


def hgridshift_inv(lam, phi, grids: list[ShiftGrid]):
    """Fixed-point: find t with t + shift(t) == input (reference :3445-3480)."""
    lam = np.asarray(lam, dtype=np.float64)
    phi = np.asarray(phi, dtype=np.float64)
    out_l = np.full_like(lam, np.nan)
    out_p = np.full_like(phi, np.nan)
    for g, m in _select_grid_masks(lam, phi, grids):
        tb_l = lam[m] - g.west
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
