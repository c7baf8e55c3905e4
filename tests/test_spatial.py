"""Spatial operators vs brute-force oracles on deterministic synthetic data."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from proj_spark.functions import tile_x, tile_y
from proj_spark.operators import knn as knn_ops
from proj_spark.operators import spatial_join as sj
from proj_spark.sources import synth


@pytest.fixture(scope="module")
def polys():
    return synth.make_polygons(count=24)


@pytest.fixture(scope="module")
def points_pdf():
    n = 4000
    ids = np.arange(n, dtype=np.int64)
    ph = synth.splitmix64(ids.astype(np.uint64)).view(np.int64)
    lon, lat = synth.lonlat_from_phash(ph)
    return pd.DataFrame({"pid": ids, "lon": lon, "lat": lat})


def brute_force_matches(points_pdf, polys):
    lon = points_pdf["lon"].to_numpy()
    lat = points_pdf["lat"].to_numpy()
    pid = points_pdf["pid"].to_numpy()
    rows = set()
    for p in polys:
        inside = sj._point_in_poly(lon, lat, p)
        for q in pid[inside]:
            rows.add((int(q), p.polygon_id))
    return rows


def test_spatial_join_matches_bruteforce(spark, polys, points_pdf):
    pts = spark.createDataFrame(points_pdf)
    got = sj.spatial_join(pts, polys, lon_col="lon", lat_col="lat", level=10)
    got_rows = {(int(r.pid), r.polygon_id) for r in got.collect()}
    expect = brute_force_matches(points_pdf, polys)
    missing = expect - got_rows
    extra = got_rows - expect
    assert not missing, f"cover prefilter dropped true matches: {sorted(missing)[:5]}"
    assert not extra, f"ray-cast accepted wrong pairs: {sorted(extra)[:5]}"
    assert len(expect) > 0, "degenerate fixture: no matches at all"


def test_spatial_join_smj_same_result(spark, polys, points_pdf):
    pts = spark.createDataFrame(points_pdf)
    b = sj.spatial_join(pts, polys, lon_col="lon", lat_col="lat", level=10, strategy="broadcast")
    s = sj.spatial_join(pts, polys, lon_col="lon", lat_col="lat", level=10, strategy="smj")
    rb = {(int(r.pid), r.polygon_id) for r in b.collect()}
    rs = {(int(r.pid), r.polygon_id) for r in s.collect()}
    assert rb == rs


def test_spatial_join_bad_coordinates_match_nothing(spark, polys, points_pdf):
    """NaN lon/lat rows and null cell_col rows match nothing, under both
    strategies and both cell sources, and fail no task; the other rows
    still match brute force."""
    from proj_spark.functions import s2_cell_udf

    bad = pd.DataFrame({"pid": [-1, -2, -3], "lon": [np.nan, 10.0, np.nan],
                        "lat": [5.0, np.nan, np.nan]})
    pdf = pd.concat([points_pdf.head(1000), bad], ignore_index=True)
    pts = spark.createDataFrame(pdf)
    # every 7th good row loses its cell
    celled = pts.withColumn("cell", s2_cell_udf(10)(F.col("lon"), F.col("lat"))).withColumn(
        "cell", F.when(F.col("pid") % 7 != 0, F.col("cell")))
    expect = brute_force_matches(points_pdf.head(1000), polys)
    assert expect
    for strategy in ("broadcast", "smj"):
        a = sj.spatial_join(pts, polys, level=10, strategy=strategy)
        b = sj.spatial_join(celled, polys, level=10, strategy=strategy,
                            cell_col="cell", cell_level=10)
        assert {(int(r.pid), r.polygon_id) for r in a.collect()} == expect, strategy
        assert {(int(r.pid), r.polygon_id) for r in b.collect()} == \
            {(q, p) for q, p in expect if q % 7 != 0}, strategy


def test_spatial_join_builds_the_cover_once(spark, polys, points_pdf, monkeypatch):
    """One polygon_cover call per spatial_join, whichever strategy "auto"
    picks, and the cover holds only the int64 cell and poly_idx columns."""
    calls = []
    build = sj.polygon_cover

    def counted(ps, level):
        calls.append(build(ps, level))
        return calls[-1]

    monkeypatch.setattr(sj, "polygon_cover", counted)
    pts = spark.createDataFrame(points_pdf.head(200))
    for strategy in ("auto", "broadcast", "smj"):
        calls.clear()
        sj.spatial_join(pts, polys, level=10, strategy=strategy)
        assert len(calls) == 1, strategy
    assert list(calls[0].columns) == ["cell", "poly_idx"]
    assert all(str(t) == "int64" for t in calls[0].dtypes)


def test_knn_matches_bruteforce(spark, points_pdf):
    qs = spark.createDataFrame(points_pdf.head(150).rename(columns={"pid": "qid"}))
    rs = spark.createDataFrame(points_pdf.tail(1200).rename(columns={"pid": "rid", "lon": "rlon", "lat": "rlat"}))
    fast = knn_ops.knn_join(
        qs, rs, 3, q_id="qid", q_lon="lon", q_lat="lat",
        r_id="rid", r_lon="rlon", r_lat="rlat", cell_deg=6.0,
    )
    slow = knn_ops.knn_bruteforce(
        qs, rs, 3, q_id="qid", q_lon="lon", q_lat="lat",
        r_id="rid", r_lon="rlon", r_lat="rlat",
    )
    f = {(int(r.qid), int(r.rid), r.rank) for r in fast.collect()}
    s = {(int(r.qid), int(r.rid), r.rank) for r in slow.collect()}
    assert f == s
    assert len(f) == 150 * 3


def test_knn_guarded_tail_no_ref_broadcast(spark, points_pdf):
    """With the ref side over the broadcast threshold, the plan must not
    broadcast the ref table anywhere — unsettled queries ring-expand to the
    full-cover cell instead — and results still match brute force."""
    qs = spark.createDataFrame(points_pdf.head(60).rename(columns={"pid": "qid"}))
    rs = spark.createDataFrame(
        points_pdf.tail(800).rename(columns={"pid": "rid", "lon": "rlon", "lat": "rlat"}))
    fast = knn_ops.knn_join(
        qs, rs, 3, q_id="qid", q_lon="lon", q_lat="lat",
        r_id="rid", r_lon="rlon", r_lat="rlat", cell_deg=6.0,
        tail_broadcast_rows=0,  # force the over-threshold path
    )
    plan = fast._jdf.queryExecution().executedPlan().toString()
    # the only broadcasts allowed are the settled-id / anti-join id lists
    # (single-column), never a 3-column ref relation
    import re as _re
    for m in _re.finditer(r"BroadcastExchange[^\n]*", plan):
        assert "rlon" not in m.group(0) and "rlat" not in m.group(0), m.group(0)
    slow = knn_ops.knn_bruteforce(
        qs, rs, 3, q_id="qid", q_lon="lon", q_lat="lat",
        r_id="rid", r_lon="rlon", r_lat="rlat",
    )
    f = {(int(r.qid), int(r.rid), r.rank) for r in fast.collect()}
    s = {(int(r.qid), int(r.rid), r.rank) for r in slow.collect()}
    assert f == s
    assert len(f) == 60 * 3


def test_tile_assign_and_cover(spark, points_pdf):
    pts = spark.createDataFrame(points_pdf)
    tiled = pts.withColumn("tile_x", tile_x(F.col("lon"), 6)).withColumn(
        "tile_y", tile_y(F.col("lat"), 6))
    rows = tiled.collect()
    # oracle: numpy slippy math must agree with the Column expressions
    from proj_spark import cells

    lon = points_pdf["lon"].to_numpy()
    lat = points_pdf["lat"].to_numpy()
    tx, ty = cells.slippy_tile(lon, lat, 6)
    got = {int(r.pid): (r.tile_x, r.tile_y) for r in rows}
    for i, p in enumerate(points_pdf["pid"]):
        assert got[int(p)] == (tx[i], ty[i])


def test_images_df_deterministic(spark):
    df = synth.images_df(spark, 64, real_png=True)
    rows = {r.image_id: r for r in df.collect()}
    assert len(rows) == 64
    # caption byte-equality + pixel fidelity for the PNG half
    for i in (0, 2, 10):
        r = rows[f"img{i:012d}"]
        ref = synth.make_image_row(i, real_png=True)
        assert r.caption == ref["caption"]
        assert r.phash == ref["phash"]
        px = synth.decode_png(bytes(r.bytes))
        ref_px = synth._gradient_pixels(int(np.uint64(np.int64(r.phash))), r.w, r.h)
        assert np.array_equal(px, ref_px), "decoded pixels must be bit-exact"


def test_fused_join_matches_relational(spark):
    """spatial_join_fused (broadcast cover index inside the UDF) returns the
    same (point, polygon) set as the relational (smj) cell-cover join."""
    from pyspark.sql import functions as F

    from proj_spark.functions import s2_cell_udf
    from proj_spark.operators.spatial_join import spatial_join, spatial_join_fused
    from proj_spark.sources.synth import make_polygons

    polys = make_polygons(24)
    pts = (
        spark.range(5000)
        .withColumn("lon", ((F.col("id") * 9973) % 36000) / 100.0 - 180.0)
        .withColumn("lat", ((F.col("id") * 7919) % 17000) / 100.0 - 85.0)
        .withColumn("cell", s2_cell_udf(10)(F.col("lon"), F.col("lat")))
    )
    rel = spatial_join(pts, polys, level=8, cell_col="cell", cell_level=10, strategy="smj")
    fus = spatial_join_fused(pts, polys, level=8, cell_col="cell", cell_level=10)
    a = {(r.id, r.polygon_id) for r in rel.select("id", "polygon_id").collect()}
    b = {(r.id, r.polygon_id) for r in fus.select("id", "polygon_id").collect()}
    assert a == b and len(a) > 0


def _fused_rows(spark, pdf, polys, **kw):
    """spatial_join_fused over ``pdf`` (pid, lon, lat) with a level-10 cell
    column; rows as a multiset of (pid, polygon_id)."""
    from collections import Counter

    from proj_spark import cells

    pdf = pdf.assign(cell=cells.s2_cell_id(pdf["lon"].to_numpy(), pdf["lat"].to_numpy(), 10))
    pts = spark.createDataFrame(pdf)
    for name, col in kw.items():
        pts = pts.withColumn(name, col)
    out = sj.spatial_join_fused(pts, polys, level=8, cell_col="cell", cell_level=10)
    return Counter((int(r.pid), r.polygon_id) for r in out.select("pid", "polygon_id").collect())


def test_fused_join_overlapping_polygons(spark, polys):
    """A square laid over a grid polygon and the hotspot: a point inside
    two polygons gets one row per polygon, as brute force says."""
    from collections import Counter

    sq = np.array([-10.0, -10.0, 10.0, -10.0, 10.0, 10.0, -10.0, 10.0])
    over = list(polys) + [synth.Polygon("poly_square", "poly", sq, (-10.0, -10.0, 10.0, 10.0))]
    g = np.linspace(-12.0, 12.0, 97)
    lon, lat = np.meshgrid(g, g)
    pdf = pd.DataFrame({"pid": np.arange(lon.size), "lon": lon.ravel(), "lat": lat.ravel()})
    got = _fused_rows(spark, pdf, over)
    expect = brute_force_matches(pdf, over)
    assert got == Counter(expect)
    assert max(Counter(q for q, _ in expect).values()) == 2, "no point in two polygons"


def test_fused_join_bad_rows_match_nothing(spark, polys, points_pdf):
    """A null cell, a NaN or a null lon/lat matches nothing, even when the
    row's cell is covered, and fails no task."""
    from collections import Counter

    good = points_pdf.head(1000)
    expect = brute_force_matches(good, polys)
    # rows -1..-3 keep the cell of a matching point but lose a coordinate
    q = min(expect)[0]
    bad = pd.DataFrame({"pid": [-1, -2, -3], "lon": good.lon[q], "lat": good.lat[q]})
    pdf = pd.concat([good, bad], ignore_index=True)
    got = _fused_rows(
        spark, pdf, polys,
        cell=F.when(F.col("pid") % 7 != 0, F.col("cell")),
        lon=F.when(F.col("pid") == -1, F.lit(float("nan"))).otherwise(F.col("lon")),
        lat=F.when(F.col("pid") == -2, F.lit(float("nan")))
        .when(F.col("pid") == -3, F.lit(None)).otherwise(F.col("lat")))
    assert got == Counter((p, g) for p, g in expect if p % 7 != 0)
    assert any(p % 7 == 0 for p, _ in expect)


def test_fused_join_batch_with_no_covered_point(spark, polys):
    """No point has a cover cell: the join returns no rows."""
    from proj_spark import cells

    rng = np.random.default_rng(5)
    pdf = pd.DataFrame({"pid": np.arange(500), "lon": rng.uniform(-180.0, 180.0, 500),
                        "lat": rng.uniform(-85.0, -80.0, 500)})
    cover = sj.polygon_cover(polys, 8)["cell"].to_numpy()
    prefix = cells.s2_cell_id(pdf["lon"].to_numpy(), pdf["lat"].to_numpy(), 8)
    assert not np.isin(prefix, cover).any()
    assert not brute_force_matches(pdf, polys)
    assert not _fused_rows(spark, pdf, polys)


def _square(pid, lon0, lat0, lon1, lat1):
    ring = np.array([lon0, lat0, lon1, lat0, lon1, lat1, lon0, lat1], dtype=float)
    return synth.Polygon(pid, "poly", ring, (lon0, lat0, lon1, lat1))


def test_occupancy_filter_keeps_matches_on_every_face(spark):
    """One polygon on each of the six S2 faces and one across the
    antimeridian: the JVM occupancy filter drops no match, on faces 4-5
    (negative cell ids) too, so spatial_join_fused and the broadcast
    spatial_join both equal brute force on a dense global grid."""
    from collections import Counter

    from proj_spark import cells

    polys = [_square("face0", -10, -10, 10, 10), _square("face1", 80, -10, 100, 10),
             _square("face2", 20, 60, 40, 75), _square("face3", 150, -10, 170, 10),
             _square("face4", -100, -10, -80, 10), _square("face5", 20, -75, 40, -60),
             _square("antimeridian", 170, 20, 190, 30)]
    centre = np.array([((p.bbox[0] + p.bbox[2]) / 2, (p.bbox[1] + p.bbox[3]) / 2)
                       for p in polys[:6]])
    face = (cells.s2_cell_id(centre[:, 0], centre[:, 1], 0) >> 61) & 7
    assert face.tolist() == [0, 1, 2, 3, 4, 5]
    lon, lat = np.meshgrid(np.arange(-180.0, 180.0, 0.5), np.arange(-89.75, 90.0, 0.5))
    pdf = pd.DataFrame({"pid": np.arange(lon.size), "lon": lon.ravel(), "lat": lat.ravel()})
    expect = brute_force_matches(pdf, polys)
    assert {g for _, g in expect} == {p.polygon_id for p in polys}
    assert _fused_rows(spark, pdf, polys) == Counter(expect)
    got = sj.spatial_join(spark.createDataFrame(pdf), polys, level=8, strategy="broadcast")
    assert Counter((int(r.pid), r.polygon_id) for r in got.collect()) == Counter(expect)


def test_s2_cell_id_every_level_is_the_leaf_parent():
    """An id encoded at level L, which skips the lookup rounds past L,
    equals the level-30 id truncated to L: random points, the poles, the
    antimeridian and the cube-face edges (two equal |xyz| components)."""
    from proj_spark import cells

    rng = np.random.default_rng(11)
    lon = [rng.uniform(-180.0, 180.0, 100_000)]
    lat = [np.degrees(np.arcsin(rng.uniform(-1.0, 1.0, 100_000)))]
    t = np.linspace(-180.0, 180.0, 2001)
    for edge in (np.full_like(t, 35.26438968275466),             # |x| = |y| = |z|
                 np.degrees(np.arctan(np.abs(np.cos(np.radians(t))))),  # |z| = |x|
                 np.degrees(np.arctan(np.abs(np.sin(np.radians(t))))),  # |z| = |y|
                 np.zeros_like(t), np.full_like(t, 90.0), np.full_like(t, -90.0)):
        lon.append(t)
        lat.append(edge)
    lon.append(np.array([45.0, -45.0, 135.0, -135.0, 180.0, -180.0]))  # |x| = |y|, lat 0
    lat.append(np.zeros(6))
    lon, lat = np.concatenate(lon), np.concatenate(lat)
    leaf = cells.s2_cell_id(lon, lat, 30)
    for level in range(31):
        assert np.array_equal(cells.s2_cell_id(lon, lat, level),
                              cells.parent_id(leaf, level)), level


def test_s2_cell_id_of_a_non_finite_point_is_zero():
    """A NaN or infinite lon or lat has no S2 cell: its id is 0, the value
    spatial_join keys null cells to, at every level and with or without
    the geocentric latitude shift, and no warning is raised; the finite
    points of the same batch keep their ids."""
    import warnings

    from proj_spark import cells

    lon = np.array([np.nan, 10.0, np.inf, 3.0, -np.inf, 3.0])
    lat = np.array([5.0, np.nan, 0.0, 4.0, 1.0, np.inf])
    bad = ~(np.isfinite(lon) & np.isfinite(lat))
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        for level in (0, 10, 30):
            for es in (None, 0.99):
                got = cells.s2_cell_id(lon, lat, level, es)
                assert (got[bad] == 0).all(), (level, es)
                good = cells.s2_cell_id(lon[~bad], lat[~bad], level, es)
                assert (good != 0).all()
                assert np.array_equal(got[~bad], good), (level, es)
