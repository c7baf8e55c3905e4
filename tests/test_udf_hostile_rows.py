"""Hostile rows through every numeric engine UDF: null, NaN, +-inf and
out-of-domain lon/lat, extreme phash values, degenerate rings, and
non-double input columns give the rows recorded in
``fixtures/hostile_udf_rows.json`` (written by the pandas-UDF versions of
these UDFs). A NaN double result reaches Spark as null, a null or
non-finite point has cell 0, and a sliced (non-zero offset) Arrow batch
reads the rows it shows."""

from __future__ import annotations

import json
import math
import os

import numpy as np
import pyarrow as pa
import pytest

FIXTURE = os.path.join(os.path.dirname(__file__), "fixtures", "hostile_udf_rows.json")

NAN, INF = float("nan"), float("inf")
# (lon, lat): a plain point, nulls, NaN, +-inf, out of domain, poles
LONLAT = [
    (2.35, 48.85), (None, 10.0), (10.0, None), (None, None), (NAN, 10.0),
    (10.0, NAN), (INF, 10.0), (-INF, 10.0), (10.0, INF), (10.0, -INF),
    (500.0, 95.0), (0.0, 91.0), (-200.0, -100.0), (1e300, -1e300),
    (180.0, -90.0), (-3.0, 40.0), (-170.0, -20.0), (9.0, 46.0),
]
# third and fourth coordinates: height and epoch
Z = [0.0, 10.0, None, NAN, INF, -1e3, 0.0, 5.0]
T = [2015.0, None, NAN, 2020.5, -INF, 2010.0]
PHASH = [0, 1, -1, -(1 << 63), (1 << 63) - 1, 123456789, -987654321012, 42]
# packed lon,lat rings: CCW octant, too short, null, NaN and null vertices
RINGS = [
    [0.0, 0.0, 90.0, 0.0, 0.0, 90.0], [0.0, 0.0, 1.0, 1.0], None,
    [0.0, 0.0, NAN, 0.0, 0.0, 90.0], [0.0, 0.0, 45.0, None, 0.0, 90.0],
    [0.0, 0.0, 0.0, 90.0, 90.0, 0.0], [],
]
HELMERT_RATES = (
    "+proj=pipeline +ellps=GRS80 +step +proj=cart "
    "+step +proj=helmert +x=0.1 +y=-0.2 +z=0.05 +dx=0.01 +dy=0.002 +dz=-0.003 "
    "+rx=0.001 +drx=0.0001 +t_epoch=2010 +convention=position_vector "
    "+step +proj=cart +inv"
)


SCHEMA = ("id int, lon double, lat double, z double, t double, flon float, "
          "ilat int, phash long, ring array<double>")
ARROW_TYPES = [pa.int32(), pa.float64(), pa.float64(), pa.float64(), pa.float64(),
               pa.float32(), pa.int32(), pa.int64(), pa.list_(pa.float64())]


def hostile_rows() -> list[tuple]:
    """One row per LONLAT point, with the other hostile inputs cycled
    beside it; ``flon`` (float) and ``ilat`` (int) test the input cast."""
    return [(i, lon, lat, Z[i % len(Z)], T[i % len(T)], lon,
             int(lat) if lat is not None and abs(lat) < 1e3 else None,
             PHASH[i % len(PHASH)], RINGS[i % len(RINGS)])
            for i, (lon, lat) in enumerate(LONLAT)]


def hostile_frame(spark):
    return spark.createDataFrame(hostile_rows(), SCHEMA).repartition(1)


def udf_cases():
    """name -> (udf, its input columns); every output is a struct or a long."""
    from proj_spark import functions as fn
    from proj_spark.sources.epsg_ops import crs_to_crs_epsg_dispatch

    utm = "+proj=utm +zone=31 +ellps=WGS84"
    return {
        "transform_utm": (fn.transform_udf(utm), ["lon", "lat"]),
        "transform_utm_inv": (fn.transform_udf(utm, "inv"), ["z", "lat"]),
        "transform_cast": (fn.transform_udf("+proj=merc +ellps=WGS84"), ["flon", "ilat"]),
        "transform3d": (fn.transform3d_udf(fn.GDA_DATUM_SPEC), ["lon", "lat", "z"]),
        "transform4d": (fn.transform4d_udf(HELMERT_RATES), ["lon", "lat", "z", "t"]),
        "dispatch": (fn.dispatch_udf(crs_to_crs_epsg_dispatch("EPSG:4230", "EPSG:4326")),
                     ["lon", "lat"]),
        "lonlat": (fn.lonlat_udf(), ["phash"]),
        "image_geo_full": (fn.image_geo_full_udf(10), ["phash"]),
        "s2_cell": (fn.s2_cell_udf(10), ["lon", "lat"]),
        "geod_inverse": (fn.geod_inverse_udf(), ["lon", "lat", "z", "lat"]),
        "geod_karney": (fn.geod_karney_udf(), ["lon", "lat", "z", "lat"]),
        "polygon_area": (fn.polygon_area_udf(), ["ring"]),
    }


def run_cases(spark) -> dict:
    """Every case's output per row id, plus both joins' (id, polygon_id)
    pairs, in the fixture's JSON encoding."""
    from proj_spark.operators.spatial_join import spatial_join
    from proj_spark.sources.synth import make_polygons

    df = hostile_frame(spark)
    out = {}
    for name, (udf, cols) in udf_cases().items():
        rows = df.select("id", udf(*cols).alias("o")).collect()
        out[name] = {str(r.id): _encode(r.o.asDict() if hasattr(r.o, "asDict") else r.o)
                     for r in rows}
    polys = make_polygons(16)
    # hostile points plus one point at every polygon's bbox centre
    centres = spark.createDataFrame(
        [(100 + k, (p.bbox[0] + p.bbox[2]) / 2, (p.bbox[1] + p.bbox[3]) / 2)
         for k, p in enumerate(polys)], "id int, lon double, lat double")
    pts = df.select("id", "lon", "lat").unionByName(centres)
    for strategy in ("broadcast", "smj"):
        got = spatial_join(pts, polys, level=8, strategy=strategy)
        out[f"join_{strategy}"] = sorted([r.id, r.polygon_id] for r in got.collect())
    return out


def _encode(v):
    if isinstance(v, dict):
        return {k: _encode(x) for k, x in v.items()}
    if isinstance(v, float) and not math.isfinite(v):
        return repr(v)   # 'nan', 'inf', '-inf'
    return v


def _same(got, want) -> bool:
    if isinstance(want, dict):
        return got.keys() == want.keys() and all(_same(got[k], want[k]) for k in want)
    if want is None or isinstance(want, (str, int)) or isinstance(got, (str, int)):
        return type(got) is type(want) and got == want
    return math.isclose(got, want, rel_tol=1e-12, abs_tol=1e-9)


@pytest.fixture(scope="module")
def recorded():
    with open(FIXTURE) as f:
        return json.load(f)


@pytest.fixture(scope="module")
def results(spark):
    return run_cases(spark)


@pytest.mark.parametrize("name", [
    "transform_utm", "transform_utm_inv", "transform_cast", "transform3d", "transform4d",
    "dispatch", "lonlat", "image_geo_full", "s2_cell", "geod_inverse", "geod_karney",
    "polygon_area", "join_broadcast", "join_smj"])
def test_hostile_rows_give_the_recorded_rows(results, recorded, name):
    got, want = results[name], recorded[name]
    if isinstance(want, list):
        assert got == want
        return
    assert got.keys() == want.keys()
    bad = {i: (got[i], want[i]) for i in want if not _same(got[i], want[i])}
    assert not bad, bad


def test_nan_result_is_null_and_bad_point_has_cell_zero(results):
    """The two rules every caller keys on: an out-of-domain, NaN or null
    point projects to x = None, and its S2 cell is 0."""
    utm, cell = results["transform_utm"], results["s2_cell"]
    for i, (lon, lat) in enumerate(LONLAT):
        finite = lon is not None and lat is not None and math.isfinite(lon) \
            and math.isfinite(lat)
        if not finite:
            assert utm[str(i)]["x"] is None and cell[str(i)] == 0, (i, lon, lat)
    assert utm["10"]["x"] is None   # (500, 95): out of domain


def test_sliced_batch_reads_its_own_rows(spark, recorded):
    """An Arrow UDF called on a sliced batch (offset > 0, with nulls)
    gives the rows the whole-frame run recorded for those ids."""
    names = SCHEMA.replace(",", "").split()[0::2]
    columns = {c: pa.array(list(v), type=t)
               for c, v, t in zip(names, zip(*hostile_rows()), ARROW_TYPES)}
    start = 5
    for name, (udf, cols) in udf_cases().items():
        got = udf.func(*(columns[c].slice(start) for c in cols)).to_pylist()
        want = recorded[name]
        assert len(got) == len(LONLAT) - start
        for k, v in enumerate(got):
            i = str(start + k)
            assert _same(_encode(v), want[i]), (name, i, v, want[i])


def test_join_udfs_read_sliced_batches(spark, monkeypatch):
    """Both join UDFs give a sliced batch (offset > 0; null and NaN
    points, a null cell) the rows they give the whole batch from there."""
    from proj_spark import cells
    from proj_spark.operators import spatial_join as sj
    from proj_spark.sources.synth import make_polygons

    made = []

    def capture(*args, **kw):
        def wrap(f):
            made.append(f)
            return sj_arrow_udf(*args, **kw)(f)
        return wrap

    sj_arrow_udf = sj.arrow_udf
    monkeypatch.setattr(sj, "arrow_udf", capture)
    polys = make_polygons(16)
    centres = [((p.bbox[0] + p.bbox[2]) / 2, (p.bbox[1] + p.bbox[3]) / 2) for p in polys]
    pts = spark.createDataFrame(LONLAT + centres, "lon double, lat double")
    for strategy in ("broadcast", "smj"):
        sj.spatial_join(pts, polys, level=8, strategy=strategy)
    matches, inside = made
    lon = pa.array([p[0] for p in LONLAT + centres], pa.float64())
    lat = pa.array([p[1] for p in LONLAT + centres], pa.float64())
    cid = cells.s2_cell_id(*(np.array(a.to_pylist(), float) for a in (lon, lat)), 8)
    cell = pa.array([None if k == 20 else int(c) for k, c in enumerate(cid)], pa.int64())
    pidx = pa.array([k % len(polys) for k in range(len(lon))], pa.int64())
    start = 3
    whole = matches(lon, lat, cell).to_pylist()
    assert whole[20] is None and any(whole[21:])
    assert matches(lon.slice(start), lat.slice(start), cell.slice(start)).to_pylist() \
        == whole[start:]
    whole = inside(lon, lat, pidx).to_pylist()
    assert inside(lon.slice(start), lat.slice(start), pidx.slice(start)).to_pylist() \
        == whole[start:]


def test_null_phash_reads_as_zero(spark):
    """A null phash gives phash 0's coordinates (the pandas-UDF versions
    cast it through NaN to int64, which on x86 gave -2**63's)."""
    from proj_spark import functions as fn

    for udf in (fn.lonlat_udf(), fn.image_geo_full_udf(10)):
        a, b = udf.func(pa.array([0, None], pa.int64())).to_pylist()
        assert a == b
