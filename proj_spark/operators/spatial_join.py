"""Point-in-polygon spatial join: S2 cell-cover prefilter + exact ray-cast.

Plan shape (the north rule's prescribed strategy):

  points ──pandas_udf──> s2_cell ──┐
                                   ├─ equi-join on cell ──> candidate pairs
  polygons ──driver cover──> cells ┘         (broadcast if the cover fits,
                                              sort-merge join otherwise)
  candidates ──mapInPandas ray-cast──> exact matches

Why this scales: the expensive O(points x polygons) predicate becomes an
int64 equality join Catalyst can broadcast or SMJ; AQE handles skewed
megacells. The exact test is vectorized numpy over Arrow batches grouped by polygon —
no per-row Python.

The only spatial index in the reference is a bucket quadtree used for
point-in-triangle lookup (/root/reference/src/quadtree.hpp:85-123); the
cell cover plays that role here, as a *relational* structure instead of a
pointer structure, because at 10^12 rows the index must be a join, not a
tree walk.
"""

from __future__ import annotations

import math
from typing import NamedTuple, Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from proj_spark import cells
from proj_spark.functions import s2_cell_udf
from proj_spark.sources.synth import Polygon

# S2 ST-space edge of one cell at level L is 1/2^L of a face; one face is
# ~90 deg, and quadratic-ST distortion keeps linear cell size within ~1.6x,
# so 0.35 * 90/2^L sampling spacing guarantees >=2 samples per cell span.
_FACE_DEG = 90.0


def _cell_size_deg(level: int) -> float:
    return _FACE_DEG / (1 << level)


def polygon_cover(polys: Sequence[Polygon], level: int) -> pd.DataFrame:
    """Driver-side cover: (cell, polygon_id) rows for every level-``level``
    cell intersecting each polygon's padded bbox.

    Sampling-based cover: the padded bbox is rasterized at sub-cell spacing
    and sample points are encoded; dedup yields the cell set. Deterministic,
    exact enough by construction (spacing < half min cell edge, padding >
    one cell edge), and validated against brute force in tests.
    """
    out_cells: list[np.ndarray] = []
    out_ids: list[np.ndarray] = []
    out_idx: list[np.ndarray] = []
    size = _cell_size_deg(level)
    pad = 1.5 * size
    step = 0.35 * size
    for k, p in enumerate(polys):
        min_lon, min_lat, max_lon, max_lat = p.bbox
        lat_lo = max(min_lat - pad, -89.99)
        lat_hi = min(max_lat + pad, 89.99)
        lats = np.arange(lat_lo, lat_hi + step, step)
        # stretch lon spacing by 1/cos(lat) but never wider than the pole cap
        coslat = max(math.cos(math.radians(min(abs(lat_lo), abs(lat_hi), 89.0))), 0.02)
        lon_step = step / coslat if abs(max_lat) < 89 and abs(min_lat) < 89 else step
        lon_step = min(lon_step, 1.0)
        lons = np.arange(min_lon - pad, max_lon + pad + lon_step, lon_step)
        glon, glat = np.meshgrid(lons, lats)
        glon = ((glon + 180.0) % 360.0) - 180.0  # wrap continuous lon
        cid = np.unique(cells.s2_cell_id(glon.ravel(), glat.ravel(), level))
        out_cells.append(cid)
        out_ids.append(np.full(cid.shape, p.polygon_id, dtype=object))
        out_idx.append(np.full(cid.shape, k, dtype=np.int64))
    return pd.DataFrame(
        {
            "cell": np.concatenate(out_cells).astype(np.int64),
            "polygon_id": np.concatenate(out_ids),
            "poly_idx": np.concatenate(out_idx),
        }
    )


def _ray_cast(lon: np.ndarray, lat: np.ndarray, ring: np.ndarray) -> np.ndarray:
    """Vectorized even-odd crossing test; ring is packed [x0,y0,x1,y1,...].

    Rings may use continuous longitudes beyond +-180 (antimeridian); points
    are tested at lon and lon+360 and OR-ed.
    """
    xs = ring[0::2]
    ys = ring[1::2]
    x1 = xs
    y1 = ys
    x2 = np.roll(xs, -1)
    y2 = np.roll(ys, -1)

    def parity(px):
        # (n_points, n_edges) broadcasting; polygons are small (<=16 edges)
        py = lat[:, None]
        pxb = px[:, None]
        cond = (y1[None, :] > py) != (y2[None, :] > py)
        with np.errstate(divide="ignore", invalid="ignore"):
            xint = (x2 - x1)[None, :] * (py - y1[None, :]) / (y2 - y1)[None, :] + x1[None, :]
        cross = cond & (pxb < xint)
        return (cross.sum(axis=1) % 2).astype(bool)

    return parity(lon) | parity(lon + 360.0)


def _point_in_poly(lon: np.ndarray, lat: np.ndarray, p: Polygon) -> np.ndarray:
    """One polygon at a time: the brute-force reference the tests compare
    both joins against. The joins themselves use ``_verify_vec``."""
    if p.kind == "cap":
        clon, clat, radius = p.cap
        d = np.degrees(
            np.arccos(
                np.clip(
                    np.sin(np.radians(clat)) * np.sin(np.radians(lat))
                    + np.cos(np.radians(clat)) * np.cos(np.radians(lat))
                    * np.cos(np.radians(lon - clon)),
                    -1.0, 1.0,
                )
            )
        )
        return d <= radius
    return _ray_cast(lon, lat, p.ring)


class _Edges(NamedTuple):
    """Padded edge matrices, (n_polys, max_edges) each, plus cap rows."""

    x1: np.ndarray
    y1: np.ndarray
    x2: np.ndarray
    y2: np.ndarray
    cap: np.ndarray      # (n_polys, 3): lon, lat, radius; NaN for rings
    is_cap: np.ndarray


def _edge_matrices(polys: Sequence[Polygon]) -> _Edges:
    """Degenerate padding edges (repeated first vertex => y1 == y2)
    contribute no ray crossings, so a single (candidates x max_edges)
    broadcast evaluates EVERY candidate against its own polygon with no
    per-polygon python loop."""
    max_e = max((len(p.ring) // 2 for p in polys if p.kind == "poly"), default=1)
    P = len(polys)
    EX1 = np.zeros((P, max_e)); EY1 = np.zeros((P, max_e))
    EX2 = np.zeros((P, max_e)); EY2 = np.zeros((P, max_e))
    CAP = np.full((P, 3), np.nan)
    is_cap = np.zeros(P, dtype=bool)
    for k, p in enumerate(polys):
        if p.kind == "cap":
            is_cap[k] = True
            CAP[k] = p.cap
            continue
        xs, ys = p.ring[0::2], p.ring[1::2]
        ne = len(xs)
        EX1[k, :ne] = xs; EY1[k, :ne] = ys
        EX2[k, :ne] = np.roll(xs, -1); EY2[k, :ne] = np.roll(ys, -1)
        if ne < max_e:  # pad with the closing vertex (degenerate edges)
            EX1[k, ne:] = xs[0]; EY1[k, ne:] = ys[0]
            EX2[k, ne:] = xs[0]; EY2[k, ne:] = ys[0]
    return _Edges(EX1, EY1, EX2, EY2, CAP, is_cap)


def _verify_vec(edges: _Edges, lon: np.ndarray, lat: np.ndarray,
                pl: np.ndarray) -> np.ndarray:
    """Vectorized exact test for candidate (point, poly index) pairs."""
    out = np.zeros(len(pl), dtype=bool)
    ring_sel = ~edges.is_cap[pl]
    if ring_sel.any():
        rp = pl[ring_sel]
        x1 = edges.x1[rp]; y1 = edges.y1[rp]; x2 = edges.x2[rp]; y2 = edges.y2[rp]
        py = lat[ring_sel][:, None]
        cond = (y1 > py) != (y2 > py)
        with np.errstate(divide="ignore", invalid="ignore"):
            xint = (x2 - x1) * (py - y1) / (y2 - y1) + x1
        parity = np.zeros(len(rp), dtype=np.int64)
        for px in (lon[ring_sel], lon[ring_sel] + 360.0):  # antimeridian
            cross = cond & (px[:, None] < xint)
            parity += cross.sum(axis=1)
        # the two parities are mutually exclusive per the ring layout
        out[ring_sel] = (parity % 2).astype(bool)
    cap_sel = edges.is_cap[pl]
    if cap_sel.any():
        cp = edges.cap[pl[cap_sel]]
        d = np.degrees(np.arccos(np.clip(
            np.sin(np.radians(cp[:, 1])) * np.sin(np.radians(lat[cap_sel]))
            + np.cos(np.radians(cp[:, 1])) * np.cos(np.radians(lat[cap_sel]))
            * np.cos(np.radians(lon[cap_sel] - cp[:, 0])), -1.0, 1.0)))
        out[cap_sel] = d <= cp[:, 2]
    return out


def spatial_join_fused(
    points: DataFrame,
    polys: Sequence[Polygon],
    *,
    lon_col: str = "lon",
    lat_col: str = "lat",
    level: int = 8,
    cell_col: str,
    cell_level: int,
) -> DataFrame:
    """Broadcast-index variant: the cover (cell -> candidate poly indices)
    ships INSIDE a pandas UDF as a CSR array index, and the UDF returns the
    matching poly indices per point as ``array<int>`` — exploded and mapped
    to polygon ids by a JVM lookup into a literal array.

    vs the relational ``spatial_join``: no join stage and no Python-RDD
    scan, and pass-through payload columns (captions, image bytes) never
    cross the Arrow boundary; only (lon, lat, cell) go in. The match UDF
    is still its own Arrow crossing, so after an upstream kernel UDF the
    plan holds two ArrowEvalPython nodes. This is the north rule's
    "broadcast of the polygon R-tree/cell-cover index when it fits"; fall
    back to ``spatial_join(strategy='smj')`` when it doesn't.
    """
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    from proj_spark.functions import cell_parent

    cover_pdf = polygon_cover(polys, level).sort_values(["cell", "poly_idx"])
    # CSR layout: sorted unique cells -> [start, end) ranges into poly ids
    cov_cells, starts = np.unique(cover_pdf["cell"].to_numpy(np.int64),
                                  return_index=True)
    cov_polys = cover_pdf["poly_idx"].to_numpy(np.int64)
    ends = np.append(starts[1:], len(cov_polys))
    poly_list = list(polys)
    edges = _edge_matrices(poly_list)

    @pandas_udf("array<int>")
    def _matches(lon_s: pd.Series, lat_s: pd.Series, cell_s: pd.Series) -> pd.Series:
        lon = lon_s.to_numpy(dtype=np.float64)
        lat = lat_s.to_numpy(dtype=np.float64)
        cells_arr = cell_s.to_numpy(dtype=np.int64)
        n = len(lon)
        # vectorized cover lookup: searchsorted into the CSR cell index
        pos = np.searchsorted(cov_cells, cells_arr)
        pos_c = np.minimum(pos, len(cov_cells) - 1)
        covered = cov_cells[pos_c] == cells_arr
        # expand candidates: point i spans cnt[i] (point, poly) pairs
        cnt = np.where(covered, ends[pos_c] - starts[pos_c], 0)
        pt_idx = np.repeat(np.arange(n), cnt)
        # candidate poly ids: starts[pos]+offset-within-range, ranges packed
        csum = np.concatenate(([0], np.cumsum(cnt)))
        offs = np.arange(csum[-1]) - np.repeat(csum[:-1], cnt)
        pl_idx = cov_polys[np.repeat(starts[pos_c], cnt) + offs]
        # exact test for ALL candidates in one vectorized evaluation
        match = _verify_vec(edges, lon[pt_idx], lat[pt_idx], pl_idx)
        # assemble array<int> per point from the (small) match set
        m_pt = pt_idx[match]
        m_pl = pl_idx[match]
        out: list = [None] * n
        for i, k in zip(m_pt.tolist(), m_pl.tolist()):  # matches only (~few %)
            cur = out[i]
            if cur is None:
                out[i] = [k]
            else:
                cur.append(k)
        return pd.Series(out)

    pts = points.withColumn(
        "_cell_j",
        F.col(cell_col) if cell_level == level
        else cell_parent(F.col(cell_col), level),
    )
    matched = pts.withColumn(
        "_pidx", F.explode(_matches(F.col(lon_col), F.col(lat_col), F.col("_cell_j")))
    ).drop("_cell_j")
    # poly index -> id inside codegen: a literal-array lookup, not a join
    # against a driver-built (Python-RDD) table
    poly_ids = F.array(*[F.lit(p.polygon_id) for p in poly_list])
    return matched.withColumn("polygon_id", F.get(poly_ids, F.col("_pidx"))).drop("_pidx")


def spatial_join(
    points: DataFrame,
    polys: Sequence[Polygon],
    *,
    lon_col: str = "lon",
    lat_col: str = "lat",
    level: int = 10,
    strategy: str = "auto",
    keep_cols: Sequence[str] | None = None,
    cell_col: str | None = None,
    cell_level: int | None = None,
    cover: DataFrame | None = None,
) -> DataFrame:
    """points (with lon/lat cols) x polygons -> rows that fall inside.

    strategy: "broadcast" | "smj" | "auto" (broadcast when the cover is
    small enough to ship to every executor; SMJ on (cell) otherwise).

    cell_col/cell_level: reuse an existing cell column computed at a finer
    (>=) level — the join key becomes a pure JVM prefix-truncation instead
    of a second pandas-UDF pass over all points.

    cover: a precomputed cover DataFrame (cell, polygon_id, poly_idx) from
    ``polygon_cover`` — pass it when joining repeatedly against the same
    polygon set so the driver-side sampling + upload happen once.
    """
    spark = points.sparkSession
    if cover is None:
        cover_pdf = polygon_cover(polys, level)
        cover = spark.createDataFrame(cover_pdf)
        n_cover = len(cover_pdf)
    else:
        n_cover = None

    if cell_col is not None and (cell_level or level) >= level:
        from proj_spark.functions import cell_parent

        src = F.col(cell_col)
        pts = points.withColumn(
            "cell", src if (cell_level or level) == level else cell_parent(src, level)
        )
    else:
        pts = points.withColumn(
            "cell", s2_cell_udf(level)(F.col(lon_col), F.col(lat_col))
        )

    if strategy == "auto":
        strategy = "broadcast" if (n_cover is None or n_cover <= 2_000_000) else "smj"
    if strategy == "broadcast":
        cand = pts.join(F.broadcast(cover), "cell")
    else:
        # co-locate both sides on the cell key; AQE splits skewed cells
        cand = pts.hint("merge").join(cover.hint("merge"), "cell")

    # Exact verify as a BOOLEAN pandas UDF over (lon, lat, poly_idx) only —
    # strings (image_id, caption, ...) never cross the Arrow boundary; the
    # filter itself runs JVM-side. This is what makes the stage scale: the
    # python path moves 3 numeric columns in and 1 bit out per candidate.
    edges = _edge_matrices(list(polys))

    from pyspark.sql.functions import pandas_udf

    @pandas_udf("boolean")
    def _inside(lon_s: pd.Series, lat_s: pd.Series, pidx_s: pd.Series) -> pd.Series:
        return pd.Series(_verify_vec(edges, lon_s.to_numpy(dtype=np.float64),
                                     lat_s.to_numpy(dtype=np.float64),
                                     pidx_s.to_numpy(dtype=np.int64)))

    keep = list(keep_cols) if keep_cols else [c for c in points.columns]
    sel_cols = list(dict.fromkeys(keep + [lon_col, lat_col, "polygon_id"]))
    return (
        cand.filter(_inside(F.col(lon_col), F.col(lat_col), F.col("poly_idx")))
        .select(*sel_cols)
    )
