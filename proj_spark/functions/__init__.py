"""Spark-facing function surface.

Two tiers, chosen by cost:
  * Pure Column expressions (JVM, whole-stage codegen) for everything
    elementary: slippy tiles, UTM zone selection, webmerc forward,
    haversine distance, bbox predicates. These stay inside codegen spans,
    push down, and never cross the Python boundary.
  * Arrow UDFs ONLY for series kernels (tmerc/lcc/datum pipelines) and
    S2 cell encoding, where the math genuinely needs numpy.
    One UDF per *pipeline*, not per step — steps are fused driver-side by
    plans.compile_pipeline, so a cs2cs-style chain costs a single
    JVM->Arrow->numpy->Arrow->JVM round trip per batch.

Every numeric UDF goes through one numpy<->Arrow buffer bridge
(``from_arrow``/``to_arrow``), so its workers never import pandas.

A coordinate UDF hands its whole Arrow batch to its operation: Pipeline's
degree entry points run long inputs in KERNEL_CHUNK cache blocks
(plans.pipeline), and a CandidateDispatch walks its candidates once per
batch. Only the fused flagship kernel (image_geo_full_udf) slices the
batch here, so its intermediates between pipelines stay L2-resident too.
"""

from __future__ import annotations

import math

import numpy as np
import pyarrow as pa
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.functions import arrow_udf

from proj_spark import cells
from proj_spark.plans.pipeline import KERNEL_CHUNK, compile_pipeline

# ---------------------------------------------------------------------------
# numpy <-> Arrow bridge. pyarrow 16 imports pandas on Array.to_numpy,
# np.asarray(arr), pa.array(ndarray) and pa.scalar; reading and wrapping
# the buffers themselves does not.
# ---------------------------------------------------------------------------


def valid_mask(arr: pa.Array) -> np.ndarray:
    """Bool vector of ``arr``'s non-null slots, from its validity bitmap."""
    if not arr.null_count:
        return np.ones(len(arr), dtype=bool)
    bits = np.unpackbits(np.frombuffer(arr.buffers()[0], np.uint8), bitorder="little")
    return bits[arr.offset:arr.offset + len(arr)].astype(bool)


def from_arrow(arr: pa.Array, dtype=np.float64) -> np.ndarray:
    """A numeric Arrow column as a ``dtype`` vector over its value buffer,
    cast first if its type differs; a null reads as NaN (0 for integers)."""
    dtype = np.dtype(dtype)
    if arr.type != pa.from_numpy_dtype(dtype):
        arr = arr.cast(pa.from_numpy_dtype(dtype), safe=False)
    v = np.frombuffer(arr.buffers()[1], dtype, len(arr), arr.offset * dtype.itemsize)
    return np.where(valid_mask(arr), v, 0 if dtype.kind == "i" else np.nan) \
        if arr.null_count else v


def to_arrow(v: np.ndarray, dtype=None) -> pa.Array:
    """A numpy vector as an Arrow array over its buffer. A float's NaNs
    become nulls, as the pandas UDF serializer made them."""
    v = np.ascontiguousarray(v, dtype)
    mask = None
    if v.dtype.kind == "f" and np.isnan(v).any():
        mask = pa.py_buffer(np.packbits(~np.isnan(v), bitorder="little"))
    data = np.packbits(v, bitorder="little") if v.dtype == bool else v
    return pa.Array.from_buffers(pa.from_numpy_dtype(v.dtype), len(v),
                                 [mask, pa.py_buffer(data)])


def _struct(names, vecs) -> pa.Array:
    return pa.StructArray.from_arrays([to_arrow(v) for v in vecs], names=list(names))


# ---------------------------------------------------------------------------
# Arrow UDF factories (numpy kernels)
# ---------------------------------------------------------------------------


def _coord_udf(op, direction: str, out: tuple[str, ...]):
    """Arrow UDF (2, 3 or 4 coordinate columns) -> struct<``out`` double>.

    ``op`` is anything with fwd_deg/inv_deg: a compiled Pipeline or a
    plans.dispatch.CandidateDispatch (per-point candidate-operation
    dispatch with bbox ranking + invalid-result retry). It is built
    driver-side and closure-captured; executors run pure numpy over Arrow
    batches — the distributed analogue of proj_trans_generic's strided
    columnar loop (reference 4D_api.cpp:609-705). The first len(out)
    output coordinates are returned.
    """
    run_op = op.fwd_deg if direction == "fwd" else op.inv_deg

    @arrow_udf(", ".join(f"{c} double" for c in out))
    def _udf(*cols: pa.Array) -> pa.Array:
        res = run_op(*(from_arrow(c) for c in cols))
        return _struct(out, res[:len(out)])

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
    """Arrow UDF phash -> struct<lon double, lat double>: the canonical
    deterministic image coordinates (sources.synth.lonlat_from_phash). A
    null phash reads as 0."""
    from proj_spark.sources.synth import lonlat_from_phash

    @arrow_udf("lon double, lat double")
    def _udf(ph: pa.Array) -> pa.Array:
        return _struct(("lon", "lat"), lonlat_from_phash(from_arrow(ph, np.int64)))

    return _udf


def s2_cell_udf(level: int):
    """Arrow UDF (lon, lat) -> int64 S2 cell id at ``level``; 0 for a null
    or non-finite point."""

    @arrow_udf("long")
    def _udf(lon: pa.Array, lat: pa.Array) -> pa.Array:
        return to_arrow(cells.s2_cell_id(from_arrow(lon), from_arrow(lat), level), np.int64)

    return _udf


def geod_inverse_udf(ellps: str = "WGS84"):
    """Arrow UDF (lon1, lat1, lon2, lat2) -> struct<s12, azi1, azi2>:
    Vincenty ellipsoidal distance + forward/back azimuths (kernels.geodesic)."""
    from proj_spark.crs import ELLIPSOIDS
    from proj_spark.kernels.geodesic import geod_inverse, setup_vincenty

    C = setup_vincenty(ELLIPSOIDS[ellps])

    @arrow_udf("s12 double, azi1 double, azi2 double")
    def _udf(lon1: pa.Array, lat1: pa.Array, lon2: pa.Array, lat2: pa.Array) -> pa.Array:
        s12, a1, a2, ok = geod_inverse(*(from_arrow(c) for c in (lon1, lat1, lon2, lat2)), C)
        s12 = np.where(ok, s12, np.nan)  # near-antipodal non-convergence
        return _struct(("s12", "azi1", "azi2"), (s12, a1, a2))

    return _udf


def geod_karney_udf(ellps: str = "WGS84"):
    """Arrow UDF (lon1, lat1, lon2, lat2) -> struct<s12, azi1, azi2,
    m12, M12>: Karney (2013) geodesic inverse (kernels.karney) —
    converges everywhere including the antipodal region, with reduced
    length and geodesic scale for distortion-aware ranking."""
    from proj_spark.crs import ELLIPSOIDS
    from proj_spark.kernels.karney import geod_consts, geod_inverse

    ell = ELLIPSOIDS[ellps]
    C = geod_consts(ell.a, ell.f)

    @arrow_udf("s12 double, azi1 double, azi2 double, m12 double, gscale double")
    def _udf(lon1: pa.Array, lat1: pa.Array, lon2: pa.Array, lat2: pa.Array) -> pa.Array:
        r = geod_inverse(C, *(from_arrow(c) for c in (lat1, lon1, lat2, lon2)),
                         want_scale=True)
        return _struct(("s12", "azi1", "azi2", "m12", "gscale"),
                       (r["s12"], r["azi1"], r["azi2"], r["m12"], r["M12"]))

    return _udf


def polygon_area_udf(ellps: str = "WGS84"):
    """Arrow UDF ring(array<double> lon,lat interleaved) ->
    struct<area double, perimeter double>: exact ellipsoidal polygon
    area/perimeter via Karney's C4 series (kernels.karney
    geod_polygon_area) — CCW positive, antimeridian and pole-encircling
    rings handled."""
    from proj_spark.crs import ELLIPSOIDS
    from proj_spark.kernels.karney import geod_consts, geod_polygon_area

    ell = ELLIPSOIDS[ellps]
    C = geod_consts(ell.a, ell.f)

    @arrow_udf("area double, perimeter double")
    def _udf(ring: pa.Array) -> pa.Array:
        # a ring is values[offs[i]:offs[i + 1]]; a null or short one has no area
        offs = from_arrow(ring.offsets, np.int64)
        vals = from_arrow(ring.values)
        areas = np.full(len(ring), np.nan)
        perims = np.full(len(ring), np.nan)
        for i in np.flatnonzero(valid_mask(ring) & (np.diff(offs) >= 6)):
            r = vals[offs[i]:offs[i + 1]]
            areas[i], perims[i] = geod_polygon_area(C, r[0::2], r[1::2])
        return _struct(("area", "perimeter"), (areas, perims))

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


def image_geo_full_udf(level: int = 10):
    """Fused full-chain kernel: phash -> struct<lon, lat, utm_x, utm_y,
    lcc_x, lcc_y, cell>.

    datum Helmert (cart->7-param->cart^-1) + UTM(auto zone, exact series)
    + LCC 2SP + S2 cell encode, all in ONE Arrow round trip. The
    datum-shifted lon/lat feed UTM, LCC and the cell but are not returned:
    no caller reads them, and every returned field crosses back to the JVM.
    This is the per-record work profile of the north-star job; it is
    compute-dominated, which is what the scaling-efficiency evidence must
    measure. KERNEL_CHUNK blocks keep the intermediates between pipelines
    L2-resident; each is written into the preallocated outputs.

    The UDF is marked nondeterministic, though its output depends on phash
    alone: Spark then keeps a filter on that output (the fused join's
    occupancy filter on the cell) above it instead of running it twice.
    """
    from proj_spark.sources.synth import lonlat_from_phash

    datum = compile_pipeline(GDA_DATUM_SPEC)
    utm = compile_pipeline("+proj=utm +ellps=WGS84")
    lcc = compile_pipeline(LCC_CONUS_SPEC)

    cols = ["lon", "lat", "utm_x", "utm_y", "lcc_x", "lcc_y", "cell"]

    @arrow_udf(
        "lon double, lat double, "
        "utm_x double, utm_y double, lcc_x double, lcc_y double, cell long"
    )
    def _udf(ph: pa.Array) -> pa.Array:
        phv = from_arrow(ph, np.int64)
        out = [np.empty(len(phv), np.int64 if c == "cell" else np.float64) for c in cols]
        for i in range(0, len(phv), KERNEL_CHUNK):
            sl = slice(i, i + KERNEL_CHUNK)
            lon, lat = lonlat_from_phash(phv[sl])
            lon2, lat2, _, _ = datum.fwd_deg(lon, lat, np.zeros_like(lon))
            ux, uy, _, _ = utm.fwd_deg(lon2, lat2)
            lx, ly, _, _ = lcc.fwd_deg(lon2, lat2)
            cid = cells.s2_cell_id(lon2, lat2, level)
            for o, v in zip(out, (lon, lat, ux, uy, lx, ly, cid)):
                o[sl] = v
        return _struct(cols, out)

    return _udf.asNondeterministic()


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
