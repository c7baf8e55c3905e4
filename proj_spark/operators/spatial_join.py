"""Point-in-polygon spatial join: S2 cell-cover prefilter + exact ray-cast.

The one broadcast path and its fallback:

  broadcast (``spatial_join_fused``; ``spatial_join`` when the cover fits):
    points ──JVM occupancy filter──> covered points ──Arrow match UDF (CSR
    cover lookup, exact test)──> list of poly idx ──explode──> poly idx
  smj (``spatial_join(strategy="smj")``, for a cover too big to ship; the
  only path that reads a ``cover=`` DataFrame):
    points ──sort-merge join on cell── cover ──exact-test UDF filter──> poly idx
  both: poly idx ──literal-array lookup──> polygon_id

The O(points x polygons) predicate becomes an int64 cell lookup or
equi-join, and the exact test is vectorized numpy over Arrow batches that
carry only numeric columns. On the broadcast path a bitmap of the cover's
coarse ancestor cells, tested in whole-stage codegen, drops the points
that cannot match before they cross into Python. The match UDF reads and
writes Arrow arrays directly: the survivors are looked up and tested, and
the match lists are built from numpy offsets, with no Python object per
row. The cell cover stands in for the reference's bucket quadtree
(src/quadtree.hpp) as a flat or relational structure, because at 10^12
rows the index must be a lookup or a join, not a tree walk.
"""

from __future__ import annotations

import math
from typing import TYPE_CHECKING, NamedTuple, Sequence

import numpy as np
import pyarrow as pa
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import arrow_udf

from proj_spark import cells
from proj_spark.functions import cell_parent, from_arrow, s2_cell_udf, to_arrow
from proj_spark.sources.synth import Polygon

if TYPE_CHECKING:
    import pandas as pd

# S2 ST-space edge of one cell at level L is 1/2^L of a face; one face is
# ~90 deg, and quadratic-ST distortion keeps linear cell size within ~1.6x,
# so 0.35 * 90/2^L sampling spacing guarantees >=2 samples per cell span.
_FACE_DEG = 90.0
# finest level of the JVM occupancy filter in front of the match UDF
_FILTER_LEVEL = 6


def _cell_size_deg(level: int) -> float:
    return _FACE_DEG / (1 << level)


def polygon_cover(polys: Sequence[Polygon], level: int) -> pd.DataFrame:
    """Driver-side cover: int64 (cell, poly_idx) rows for every
    level-``level`` cell intersecting each polygon's padded bbox;
    ``poly_idx`` is the polygon's position in ``polys``.

    Sampling-based cover: the padded bbox is rasterized at sub-cell spacing
    and sample points are encoded; dedup yields the cell set. Deterministic,
    exact enough by construction (spacing < half min cell edge, padding >
    one cell edge), and validated against brute force in tests.
    """
    import pandas as pd  # driver-side only: the join UDFs never load pandas

    out_cells: list[np.ndarray] = []
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
        out_idx.append(np.full(cid.shape, k, dtype=np.int64))
    return pd.DataFrame(
        {
            "cell": np.concatenate(out_cells).astype(np.int64),
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


def _poly_id(polys: Sequence[Polygon], idx: Column) -> Column:
    """poly index -> polygon id inside codegen: a literal-array lookup, not
    a join against a driver-built (Python-RDD) table."""
    return F.get(F.array(*[F.lit(p.polygon_id) for p in polys]), idx)


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
    """The one broadcast path: the cover (cell -> candidate poly indices)
    ships INSIDE an Arrow UDF as a CSR array index, and the UDF returns the
    matching poly indices per point as ``array<int>`` (null where none
    matches) — exploded and mapped to polygon ids by a JVM lookup into a
    literal array.

    In front of the UDF, a JVM filter keeps only the points whose
    level-``min(level, 6)`` ancestor holds a cover cell: one bit per
    ancestor in a literal array of 384 bigint words. The survivors are
    searched in the CSR index, expanded to (point, poly) candidates and
    tested exactly in one vectorized pass. The match lists come back as one
    ``ListArray`` whose offsets are the cumulative per-point match counts,
    polygons in ascending index order within a point. A null cell or a
    null/NaN lon/lat matches nothing.

    vs the smj path: no join stage and no Python-RDD scan, and
    pass-through payload columns (captions, image bytes) never cross the
    Arrow boundary; only (lon, lat, cell) of the covered points go in. The
    match UDF is still its own Arrow crossing, so after an upstream kernel
    UDF the plan holds two ArrowEvalPython nodes. Spark pushes the filter
    below a deterministic Python UDF and runs that UDF again: if a UDF of
    the caller's feeds ``cell_col``, mark it ``asNondeterministic()``, as
    ``image_geo_full_udf`` is. This is the north rule's "broadcast of the
    polygon R-tree/cell-cover index when it fits"; fall back to
    ``spatial_join(strategy='smj')`` when it doesn't.
    """
    return _fused_join(points, polys, polygon_cover(polys, level), lon_col=lon_col,
                       lat_col=lat_col, level=level, cell_col=cell_col, cell_level=cell_level)


def _fused_join(points: DataFrame, polys: Sequence[Polygon], cover_pdf: pd.DataFrame, *,
                lon_col: str, lat_col: str, level: int, cell_col: str,
                cell_level: int) -> DataFrame:
    """``spatial_join_fused`` over an already built ``polygon_cover``."""
    cover_pdf = cover_pdf.sort_values(["cell", "poly_idx"])
    # CSR layout: sorted unique cells -> [start, end) ranges into poly ids
    cov_cells, starts = np.unique(cover_pdf["cell"].to_numpy(np.int64),
                                  return_index=True)
    cov_polys = cover_pdf["poly_idx"].to_numpy(np.int64)
    ends = np.append(starts[1:], len(cov_polys))
    poly_list = list(polys)
    edges = _edge_matrices(poly_list)

    @arrow_udf("array<int>")
    def _matches(lon_a: pa.Array, lat_a: pa.Array, cell_a: pa.Array) -> pa.Array:
        n = len(cell_a)
        # a null cell reads as 0 (no S2 id), a null lon/lat as NaN
        cell = from_arrow(cell_a, np.int64)
        lon = from_arrow(lon_a)
        lat = from_arrow(lat_a)
        # NaN coordinates match nothing
        pt = np.flatnonzero(~(np.isnan(lon) | np.isnan(lat)))
        lon, lat, cell = lon[pt], lat[pt], cell[pt]
        # cover lookup: searchsorted into the CSR cell index
        pos = np.minimum(np.searchsorted(cov_cells, cell), len(cov_cells) - 1)
        cnt = np.where(cov_cells[pos] == cell, ends[pos] - starts[pos], 0)
        # expand candidates: survivor k spans cnt[k] (point, poly) pairs
        k_idx = np.repeat(np.arange(len(pt)), cnt)
        csum = np.concatenate(([0], np.cumsum(cnt)))
        offs = np.arange(csum[-1]) - csum[k_idx]
        pl_idx = cov_polys[starts[pos][k_idx] + offs]
        # exact test for ALL candidates in one vectorized evaluation
        match = _verify_vec(edges, lon[k_idx], lat[k_idx], pl_idx)
        # matches come out grouped by point, polys ascending within each:
        # per-point counts give the list offsets directly
        count = np.bincount(pt[k_idx[match]], minlength=n)
        offsets = np.zeros(n + 1, dtype=np.int32)
        np.cumsum(count, out=offsets[1:])
        return pa.Array.from_buffers(
            pa.list_(pa.int32()), n,
            [pa.py_buffer(np.packbits(count > 0, bitorder="little")), pa.py_buffer(offsets)],
            children=[to_arrow(pl_idx[match], np.int32)])

    # occupancy bitmap: one bit per level-c ancestor (face + 2c Hilbert
    # bits) of a cover cell, c = min(level, 6): 24,576 bits, 384 bigint words
    c = min(level, _FILTER_LEVEL)
    shift = 2 * (cells.MAX_LEVEL - c) + 1
    anc = cov_cells.view(np.uint64) >> np.uint64(shift)
    words = np.zeros(-(-(6 << 2 * c) // 64), dtype=np.uint64)
    np.bitwise_or.at(words, anc >> np.uint64(6), np.uint64(1) << (anc & np.uint64(63)))
    occupied = ", ".join(f"{w}L" for w in words.view(np.int64))
    # an unsigned shift: faces 4-5 have negative ids
    a = f"shiftrightunsigned(_cell_j, {shift})"
    covered = F.expr(f"shiftright(get(array({occupied}), int(shiftright({a}, 6))), "
                     f"int({a} & 63)) & 1 = 1")
    pts = points.withColumn(
        "_cell_j",
        F.col(cell_col) if cell_level == level
        else cell_parent(F.col(cell_col), level),
    ).filter(covered)
    matched = pts.withColumn(
        "_pidx", F.explode(_matches(F.col(lon_col), F.col(lat_col), F.col("_cell_j")))
    ).drop("_cell_j")
    return matched.withColumn("polygon_id", _poly_id(poly_list, F.col("_pidx"))).drop("_pidx")


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

    strategy: "broadcast" (``spatial_join_fused``'s in-UDF cover index),
    "smj" (sort-merge join with the cover on cell, then an exact-test UDF
    filter) or "auto" (broadcast when the cover has <= 2,000,000 rows).

    cell_col/cell_level: reuse an existing cell column computed at a finer
    (>=) level — the join key becomes a pure JVM prefix-truncation instead
    of a second UDF pass over all points.

    cover: a Spark DataFrame of ``polygon_cover`` rows, read by smj only —
    pass it when joining repeatedly against the same polygons so the
    sampling + upload happen once. Broadcast builds its index from polys.
    """
    polys = list(polys)
    cover_pdf = None if strategy == "smj" and cover is not None else polygon_cover(polys, level)
    if strategy == "auto":
        strategy = "broadcast" if len(cover_pdf) <= 2_000_000 else "smj"

    if cell_col is not None and (cell_level or level) >= level:
        src = F.col(cell_col)
        cell = src if (cell_level or level) == level else cell_parent(src, level)
    else:  # nondeterministic: else a filter on the cell runs the UDF again
        cell = s2_cell_udf(level).asNondeterministic()(F.col(lon_col), F.col(lat_col))
    # non-null: else the join infers isnotnull(cell), re-running the UDF; 0 is no S2 id
    pts = points.withColumn("cell", F.coalesce(cell, F.lit(0)))

    if strategy == "broadcast":
        out = _fused_join(pts, polys, cover_pdf, lon_col=lon_col, lat_col=lat_col,
                          level=level, cell_col="cell", cell_level=level)
    else:
        if cover is None:
            cover = points.sparkSession.createDataFrame(cover_pdf)
        # Exact verify as a BOOLEAN Arrow UDF over (lon, lat, poly_idx)
        # only — strings (image_id, caption, ...) never cross the Arrow
        # boundary; the filter itself runs JVM-side.
        edges = _edge_matrices(polys)

        @arrow_udf("boolean")
        def _inside(lon_a: pa.Array, lat_a: pa.Array, pidx_a: pa.Array) -> pa.Array:
            return to_arrow(_verify_vec(edges, from_arrow(lon_a), from_arrow(lat_a),
                                        from_arrow(pidx_a, np.int64)))

        # co-locate both sides on the cell key; AQE splits skewed cells
        out = (
            pts.hint("merge").join(cover.hint("merge"), "cell")
            .filter(_inside(F.col(lon_col), F.col(lat_col), F.col("poly_idx")))
            .withColumn("polygon_id", _poly_id(polys, F.col("poly_idx")))
        )

    keep = list(keep_cols) if keep_cols else points.columns
    return out.select(*dict.fromkeys(keep + [lon_col, lat_col, "polygon_id"]))
