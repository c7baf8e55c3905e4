"""Spark-facing function surface.

Two tiers, chosen by cost:
  * Pure Column expressions (JVM, whole-stage codegen) for everything
    elementary: slippy tiles, UTM zone selection, webmerc forward,
    haversine distance, bbox predicates. These stay inside codegen spans,
    push down, and never cross the Python boundary.
  * Arrow-batched pandas UDFs ONLY for series kernels (tmerc/lcc/datum
    pipelines) and S2 cell encoding, where the math genuinely needs numpy.
    One UDF per *pipeline*, not per step — steps are fused driver-side by
    plans.compile_pipeline, so a cs2cs-style chain costs a single
    JVM->Arrow->numpy->Arrow->JVM round trip per batch.

A coordinate UDF hands its whole Arrow batch to its operation: Pipeline's
degree entry points run long inputs in KERNEL_CHUNK cache blocks
(plans.pipeline), and a CandidateDispatch walks its candidates once per
batch. Only the fused flagship kernel (image_geo_full_udf) slices the
batch here, so its intermediates between pipelines stay L2-resident too.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from proj_spark import cells
from proj_spark.plans.pipeline import KERNEL_CHUNK, compile_pipeline

# ---------------------------------------------------------------------------
# pandas UDF factories (numpy kernels)
# ---------------------------------------------------------------------------


def _coord_udf(op, direction: str, out: tuple[str, ...]):
    """pandas UDF (2, 3 or 4 coordinate columns) -> struct<``out`` double>.

    ``op`` is anything with fwd_deg/inv_deg: a compiled Pipeline or a
    plans.dispatch.CandidateDispatch (per-point candidate-operation
    dispatch with bbox ranking + invalid-result retry). It is built
    driver-side and closure-captured; executors run pure numpy over Arrow
    batches — the distributed analogue of proj_trans_generic's strided
    columnar loop (reference 4D_api.cpp:609-705). The first len(out)
    output coordinates are returned.
    """
    run_op = op.fwd_deg if direction == "fwd" else op.inv_deg

    @pandas_udf(", ".join(f"{c} double" for c in out))
    def _udf(*cols: pd.Series) -> pd.DataFrame:
        res = run_op(*(c.to_numpy(dtype=np.float64) for c in cols))
        return pd.DataFrame(dict(zip(out, res)))

    return _udf


def transform_udf(spec: str, direction: str = "fwd"):
    """(lon_or_x, lat_or_y) -> struct<x, y> through a proj-string pipeline."""
    return _coord_udf(compile_pipeline(spec), direction, ("x", "y"))


def dispatch_udf(disp, direction: str = "fwd"):
    """(lon_or_x, lat_or_y) -> struct<x, y> through a CandidateDispatch."""
    return _coord_udf(disp, direction, ("x", "y"))


def transform3d_udf(spec: str, direction: str = "fwd"):
    """(x, y, z) -> struct<x, y, z> for datum pipelines."""
    return _coord_udf(compile_pipeline(spec), direction, ("x", "y", "z"))


def transform4d_udf(spec: str, direction: str = "fwd"):
    """(x, y, z, t) -> struct<x, y, z>; t is the coordinate epoch in decimal
    years (time-dependent Helmert, reference helmert.cpp)."""
    return _coord_udf(compile_pipeline(spec), direction, ("x", "y", "z"))


def lonlat_udf():
    """pandas UDF phash -> struct<lon double, lat double>: the canonical
    deterministic image coordinates (sources.synth.lonlat_from_phash)."""
    from proj_spark.sources.synth import lonlat_from_phash

    @pandas_udf("lon double, lat double")
    def _udf(ph: pd.Series) -> pd.DataFrame:
        lon, lat = lonlat_from_phash(ph.to_numpy())
        return pd.DataFrame({"lon": lon, "lat": lat})

    return _udf


def s2_cell_udf(level: int):
    """pandas UDF (lon, lat) -> int64 S2 cell id at ``level``."""

    @pandas_udf("long")
    def _udf(lon: pd.Series, lat: pd.Series) -> pd.Series:
        cid = cells.s2_cell_id(
            lon.to_numpy(dtype=np.float64), lat.to_numpy(dtype=np.float64), level
        )
        return pd.Series(cid)

    return _udf


def geod_inverse_udf(ellps: str = "WGS84"):
    """pandas UDF (lon1, lat1, lon2, lat2) -> struct<s12, azi1, azi2>:
    Vincenty ellipsoidal distance + forward/back azimuths (kernels.geodesic)."""
    from proj_spark.crs import ELLIPSOIDS
    from proj_spark.kernels.geodesic import geod_inverse, setup_vincenty

    C = setup_vincenty(ELLIPSOIDS[ellps])

    @pandas_udf("s12 double, azi1 double, azi2 double")
    def _udf(lon1: pd.Series, lat1: pd.Series, lon2: pd.Series, lat2: pd.Series) -> pd.DataFrame:
        s12, a1, a2, ok = geod_inverse(
            lon1.to_numpy(np.float64), lat1.to_numpy(np.float64),
            lon2.to_numpy(np.float64), lat2.to_numpy(np.float64), C)
        s12 = np.where(ok, s12, np.nan)  # near-antipodal non-convergence
        return pd.DataFrame({"s12": s12, "azi1": a1, "azi2": a2})

    return _udf


def geod_karney_udf(ellps: str = "WGS84"):
    """pandas UDF (lon1, lat1, lon2, lat2) -> struct<s12, azi1, azi2,
    m12, M12>: Karney (2013) geodesic inverse (kernels.karney) —
    converges everywhere including the antipodal region, with reduced
    length and geodesic scale for distortion-aware ranking."""
    from proj_spark.crs import ELLIPSOIDS
    from proj_spark.kernels.karney import geod_consts, geod_inverse

    ell = ELLIPSOIDS[ellps]
    C = geod_consts(ell.a, ell.f)

    @pandas_udf("s12 double, azi1 double, azi2 double, m12 double, gscale double")
    def _udf(lon1: pd.Series, lat1: pd.Series, lon2: pd.Series,
             lat2: pd.Series) -> pd.DataFrame:
        r = geod_inverse(
            C, lat1.to_numpy(np.float64), lon1.to_numpy(np.float64),
            lat2.to_numpy(np.float64), lon2.to_numpy(np.float64),
            want_scale=True)
        return pd.DataFrame({"s12": r["s12"], "azi1": r["azi1"],
                             "azi2": r["azi2"], "m12": r["m12"],
                             "gscale": r["M12"]})

    return _udf


def polygon_area_udf(ellps: str = "WGS84"):
    """pandas UDF ring(array<double> lon,lat interleaved) ->
    struct<area double, perimeter double>: exact ellipsoidal polygon
    area/perimeter via Karney's C4 series (kernels.karney
    geod_polygon_area) — CCW positive, antimeridian and pole-encircling
    rings handled."""
    from proj_spark.crs import ELLIPSOIDS
    from proj_spark.kernels.karney import geod_consts, geod_polygon_area

    ell = ELLIPSOIDS[ellps]
    C = geod_consts(ell.a, ell.f)

    @pandas_udf("area double, perimeter double")
    def _udf(ring: pd.Series) -> pd.DataFrame:
        areas = np.empty(len(ring))
        perims = np.empty(len(ring))
        for i, r in enumerate(ring):
            arr = np.asarray(r, dtype=np.float64)
            if arr.size < 6:
                areas[i] = np.nan
                perims[i] = np.nan
                continue
            a, p = geod_polygon_area(C, arr[0::2], arr[1::2])
            areas[i] = a
            perims[i] = p
        return pd.DataFrame({"area": areas, "perimeter": perims})

    return _udf


def cell_parent(cell: Column, level: int) -> Column:
    """Ancestor cell at ``level`` as pure JVM bit math (no UDF): a parent is
    a bit-prefix truncation + new sentinel bit (cells.parent_id semantics).
    Lets one fine-level UDF cell encode serve every coarser join/partition
    level for free inside whole-stage codegen."""
    lsb = 1 << (2 * (cells.MAX_LEVEL - level))
    return cell.bitwiseAND(F.lit(-lsb)).bitwiseOR(F.lit(lsb))


# the gie-fixture-style CRS chain every record passes through in the
# flagship/bench job (north star: "Every record is reprojected through the
# same CRS pipeline steps PROJ's gie/builtins.gie regression suite
# exercises"): a GDA-style 7-param Helmert datum pipeline, Poder/Engsager
# UTM with per-point zone, and a 2SP Lambert Conformal Conic.
GDA_DATUM_SPEC = (
    "+proj=pipeline +ellps=GRS80 "
    "+step +proj=cart "
    "+step +proj=helmert +x=0.06155 +y=-0.01087 +z=-0.04019 "
    "+rx=-0.0394924 +ry=-0.0327221 +rz=-0.0328979 +s=-0.009994 "
    "+convention=coordinate_frame "
    "+step +proj=cart +inv"
)
LCC_CONUS_SPEC = "+proj=lcc +ellps=WGS84 +lat_1=33 +lat_2=45 +lat_0=39 +lon_0=-96"


# KERNEL_CHUNK, the cache block, lives with Pipeline (plans.pipeline), whose
# degree entry points block every long input by it. _chunked blocks the
# fused flagship kernel, whose intermediates pass between pipelines.


def _chunked(fn, n: int, out_cols: list[str]):
    """Run fn(sl) -> dict over KERNEL_CHUNK slices; concat into one frame."""
    if n <= KERNEL_CHUNK:
        return pd.DataFrame(fn(slice(0, n)))
    parts = [fn(slice(i, min(i + KERNEL_CHUNK, n))) for i in range(0, n, KERNEL_CHUNK)]
    return pd.DataFrame(
        {c: np.concatenate([p[c] for p in parts]) for c in out_cols}
    )


def image_geo_full_udf(level: int = 10):
    """Fused full-chain kernel: phash -> struct<lon, lat, utm_x, utm_y,
    lcc_x, lcc_y, cell>.

    datum Helmert (cart->7-param->cart^-1) + UTM(auto zone, exact series)
    + LCC 2SP + S2 cell encode, all in ONE Arrow round trip. The
    datum-shifted lon/lat feed UTM, LCC and the cell but are not returned:
    no caller reads them, and every returned field crosses back to the JVM.
    This is the per-record work profile of the north-star job; it is
    compute-dominated, which is what the scaling-efficiency evidence must
    measure.
    """
    from proj_spark.sources.synth import lonlat_from_phash

    datum = compile_pipeline(GDA_DATUM_SPEC)
    utm = compile_pipeline("+proj=utm +ellps=WGS84")
    lcc = compile_pipeline(LCC_CONUS_SPEC)

    cols = ["lon", "lat", "utm_x", "utm_y", "lcc_x", "lcc_y", "cell"]

    @pandas_udf(
        "lon double, lat double, "
        "utm_x double, utm_y double, lcc_x double, lcc_y double, cell long"
    )
    def _udf(ph: pd.Series) -> pd.DataFrame:
        phv = ph.to_numpy()

        def run(sl):
            lon, lat = lonlat_from_phash(phv[sl])
            lon2, lat2, _, _ = datum.fwd_deg(lon, lat, np.zeros_like(lon))
            ux, uy, _, _ = utm.fwd_deg(lon2, lat2)
            lx, ly, _, _ = lcc.fwd_deg(lon2, lat2)
            cid = cells.s2_cell_id(lon2, lat2, level)
            return {"lon": lon, "lat": lat, "utm_x": ux, "utm_y": uy,
                    "lcc_x": lx, "lcc_y": ly, "cell": cid}

        return _chunked(run, len(phv), cols)

    return _udf


# ---------------------------------------------------------------------------
# pure Column expressions (JVM-side, codegen-friendly)
# ---------------------------------------------------------------------------

WEBMERC_A = 6378137.0
WEBMERC_MAX_LAT = cells.WEBMERC_MAX_LAT


def webmerc_x(lon: Column) -> Column:
    return F.radians(lon) * F.lit(WEBMERC_A)


def webmerc_y(lat: Column) -> Column:
    phi = F.radians(clip_lat(lat))
    # asinh(tan phi) written as ln(tan + sec): identical in DuckDB oracles
    return F.log(F.tan(phi) + 1.0 / F.cos(phi)) * F.lit(WEBMERC_A)


def clip_lat(lat: Column) -> Column:
    return F.least(F.greatest(lat, F.lit(-WEBMERC_MAX_LAT)), F.lit(WEBMERC_MAX_LAT))


def tile_x(lon: Column, zoom: int) -> Column:
    n = F.lit(float(1 << zoom))
    return F.least(
        F.greatest(F.floor((lon + 180.0) / 360.0 * n), F.lit(0)),
        F.lit((1 << zoom) - 1),
    ).cast("long")


def tile_y(lat: Column, zoom: int) -> Column:
    n = F.lit(float(1 << zoom))
    phi = F.radians(clip_lat(lat))
    yy = (1.0 - F.log(F.tan(phi) + 1.0 / F.cos(phi)) / F.lit(math.pi)) / 2.0
    return F.least(
        F.greatest(F.floor(yy * n), F.lit(0)), F.lit((1 << zoom) - 1)
    ).cast("long")


def utm_zone(lon: Column) -> Column:
    """UTM zone 1..60 (reference tmerc.cpp:763-767 floor formula)."""
    wrapped = lon - F.floor((lon + 180.0) / 360.0) * 360.0
    return F.least(
        F.greatest(F.floor((wrapped + 180.0) / 6.0), F.lit(0)), F.lit(59)
    ).cast("int") + 1


def haversine_m(lon1: Column, lat1: Column, lon2: Column, lat2: Column) -> Column:
    """Great-circle metres on the authalic-ish sphere R=6371000."""
    r = F.lit(6371000.0)
    p1 = F.radians(lat1)
    p2 = F.radians(lat2)
    dphi = p2 - p1
    dlmb = F.radians(lon2 - lon1)
    a = F.sin(dphi / 2) ** 2 + F.cos(p1) * F.cos(p2) * F.sin(dlmb / 2) ** 2
    return 2 * r * F.asin(F.sqrt(a))
