"""TIN-based transformation (+proj=tinshift).

Numpy re-derivation of /root/reference/src/transformations/tinshift_impl.hpp
(Finnish KKJ->ETRS / N60->N2000 style triangulation files): JSON
triangulation with per-vertex source/target coordinates, barycentric
point-in-triangle evaluation (lambda formulas :486-492), optional
fallback_strategy nearest_side / nearest_centroid (format 1.1), horizontal
and/or vertical components. The reference accelerates lookup with its
quadtree; here candidate triangles are scanned with vectorized masks —
a containing triangle is unique in a proper TIN, so order is immaterial.
"""

from __future__ import annotations

import json
from dataclasses import dataclass

import numpy as np

_EPS = 1e-10


@dataclass
class TinShift:
    horizontal: bool
    vertical: bool
    fallback: str                  # none | nearest_side | nearest_centroid
    verts: np.ndarray              # (N, colCount)
    tris: np.ndarray               # (M, 3) int
    col_count: int


def parse_tinshift(path: str) -> TinShift:
    with open(path) as f:
        j = json.load(f)
    if j.get("file_type") != "triangulation_file":
        raise ValueError(f"{path}: not a triangulation file")
    fallback = j.get("fallback_strategy", "none")
    if fallback != "none" and j.get("format_version") != "1.1":
        raise ValueError("fallback_strategy needs format_version 1.1")
    if fallback not in ("none", "nearest_side", "nearest_centroid"):
        raise ValueError(f"invalid fallback_strategy {fallback!r}")
    comps = j["transformed_components"]
    horizontal = "horizontal" in comps
    vertical = "vertical" in comps

    cols = j["vertices_columns"]
    idx = {name: i for i, name in enumerate(cols)}
    col_count = 2 + (2 if horizontal else 0) + (1 if vertical else 0)
    out = []
    for v in j["vertices"]:
        row = [v[idx["source_x"]], v[idx["source_y"]]]
        if horizontal:
            row += [v[idx["target_x"]], v[idx["target_y"]]]
        if vertical:
            if "offset_z" in idx:
                row.append(v[idx["offset_z"]])
            else:
                row.append(v[idx["target_z"]] - v[idx["source_z"]])
        out.append(row)
    verts = np.array(out, dtype=np.float64)

    tcols = j["triangles_columns"]
    tidx = [tcols.index(k) for k in ("idx_vertex1", "idx_vertex2", "idx_vertex3")]
    tris = np.array([[t[i] for i in tidx] for t in j["triangles"]],
                    dtype=np.int64)
    return TinShift(horizontal, vertical, fallback, verts, tris, col_count)


def _tri_xy(T: TinShift, forward: bool):
    """Per-triangle corner coordinates in the lookup frame."""
    ix = 2 if (T.horizontal and not forward) else 0
    iy = 3 if (T.horizontal and not forward) else 1
    v = T.verts
    t = T.tris
    return (v[t[:, 0], ix], v[t[:, 0], iy], v[t[:, 1], ix], v[t[:, 1], iy],
            v[t[:, 2], ix], v[t[:, 2], iy])


def _find_triangle(T: TinShift, x, y, forward: bool):
    """(tri_index, l1, l2, l3) per point; tri_index -1 when not found."""
    x1, y1, x2, y2, x3, y3 = _tri_xy(T, forward)
    n = x.shape[0]
    tri = np.full(n, -1, dtype=np.int64)
    l1 = np.zeros(n)
    l2 = np.zeros(n)
    l3 = np.zeros(n)
    remaining = np.ones(n, dtype=bool)
    with np.errstate(divide="ignore", invalid="ignore"):
        for i in range(len(T.tris)):
            if not remaining.any():
                break
            det = (y2[i] - y3[i]) * (x1[i] - x3[i]) + (x3[i] - x2[i]) * (y1[i] - y3[i])
            a = ((y2[i] - y3[i]) * (x - x3[i]) + (x3[i] - x2[i]) * (y - y3[i])) / det
            b = ((y3[i] - y1[i]) * (x - x3[i]) + (x1[i] - x3[i]) * (y - y3[i])) / det
            c = 1.0 - a - b
            hit = (remaining & (a >= -_EPS) & (a <= 1 + _EPS)
                   & (b >= -_EPS) & (b <= 1 + _EPS) & (c >= 0))
            tri[hit] = i
            l1[hit] = a[hit]
            l2[hit] = b[hit]
            l3[hit] = c[hit]
            remaining &= ~hit

    if T.fallback != "none" and remaining.any():
        # nearest triangle by side or centroid distance (tinshift_impl.hpp
        # :500-566); degenerate triangles excluded
        xr, yr = x[remaining], y[remaining]
        best = np.full(xr.shape, np.inf)
        besti = np.full(xr.shape, -1, dtype=np.int64)
        for i in range(len(T.tris)):
            d12 = (x1[i] - x2[i]) ** 2 + (y1[i] - y2[i]) ** 2
            d23 = (x2[i] - x3[i]) ** 2 + (y2[i] - y3[i]) ** 2
            d13 = (x1[i] - x3[i]) ** 2 + (y1[i] - y3[i]) ** 2
            if d12 < _EPS or d23 < _EPS or d13 < _EPS:
                continue
            if T.fallback == "nearest_side":
                d = np.minimum(
                    _seg_dist2(xr, yr, x1[i], y1[i], x2[i], y2[i], d12),
                    np.minimum(
                        _seg_dist2(xr, yr, x2[i], y2[i], x3[i], y3[i], d23),
                        _seg_dist2(xr, yr, x1[i], y1[i], x3[i], y3[i], d13)))
            else:
                cx = (x1[i] + x2[i] + x3[i]) / 3.0
                cy = (y1[i] + y2[i] + y3[i]) / 3.0
                d = (xr - cx) ** 2 + (yr - cy) ** 2
            upd = d < best
            best = np.where(upd, d, best)
            besti = np.where(upd, i, besti)
        ridx = np.flatnonzero(remaining)
        for k, i in zip(ridx, besti):
            if i < 0:
                continue
            det = (y2[i] - y3[i]) * (x1[i] - x3[i]) + (x3[i] - x2[i]) * (y1[i] - y3[i])
            if abs(det) < _EPS:
                continue
            a = ((y2[i] - y3[i]) * (x[k] - x3[i]) + (x3[i] - x2[i]) * (y[k] - y3[i])) / det
            b = ((y3[i] - y1[i]) * (x[k] - x3[i]) + (x1[i] - x3[i]) * (y[k] - y3[i])) / det
            tri[k] = i
            l1[k] = a
            l2[k] = b
            l3[k] = 1.0 - a - b
    return tri, l1, l2, l3


def _seg_dist2(x, y, x1, y1, x2, y2, seg_len2):
    t = ((x - x1) * (x2 - x1) + (y - y1) * (y2 - y1)) / seg_len2
    px = np.where(t <= 0, x1, np.where(t >= 1, x2, x1 + t * (x2 - x1)))
    py = np.where(t <= 0, y1, np.where(t >= 1, y2, y1 + t * (y2 - y1)))
    return (x - px) ** 2 + (y - py) ** 2


def tinshift_apply(T: TinShift, x, y, z, forward: bool):
    x = np.asarray(x, dtype=np.float64)
    y = np.asarray(y, dtype=np.float64)
    z = np.asarray(z, dtype=np.float64)
    tri, l1, l2, l3 = _find_triangle(T, x, y, forward)
    ok = tri >= 0
    ts = np.where(ok, tri, 0)
    v = T.verts
    t = T.tris[ts]
    if T.horizontal:
        # forward emits target columns (2,3), inverse source columns (0,1)
        ox_col = 0 if not forward else 2
        oy_col = 1 if not forward else 3
        ox = (v[t[:, 0], ox_col] * l1 + v[t[:, 1], ox_col] * l2
              + v[t[:, 2], ox_col] * l3)
        oy = (v[t[:, 0], oy_col] * l1 + v[t[:, 1], oy_col] * l2
              + v[t[:, 2], oy_col] * l3)
    else:
        ox, oy = x, y
    if T.vertical:
        zc = T.col_count - 1
        dz = (v[t[:, 0], zc] * l1 + v[t[:, 1], zc] * l2 + v[t[:, 2], zc] * l3)
        oz = z + dz if forward else z - dz
    else:
        oz = z
    return (np.where(ok, ox, np.nan), np.where(ok, oy, np.nan),
            np.where(ok, oz, np.nan))
