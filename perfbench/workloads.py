"""The benchmark's workloads: job builders, ladder rungs, timed-pass sinks
and output checks.

A timed pass ends in a one-row aggregate instead of a noop sink, so every
pass is checked: the aggregate reads every output column (payload
checksum) and counts rows carrying NaN coordinates. Ladder rungs use the
noop sink, as the ROADMAP ladder did.
"""

from __future__ import annotations

import os
import shutil
import time
from dataclasses import dataclass, field

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from perfbench import inputs, layers

IMAGE_ROWS = 1_000_000
CELL_LEVEL = 10           # level of the kernel UDF's S2 cell column
JOIN_LEVEL = 8            # cover level of both joins
FLAGSHIP_POLYS = 64
DEFAULT_SEED_MATCHES = 38_178   # flagship matched rows at seed 0 (bench.py's flagship_matched_rows)
JOIN_WRITE_FILES = 32     # 32 of the 256 image files: the first 125,000 rows
JOIN_WRITE_POLYS = 1024
DISPATCH_POINTS = 1_000_000
DISPATCH_PARTITIONS = 8
KERNEL_SAMPLE = 200_000   # points in the driver-side Step microbench
DISPATCH_SAMPLE = 200_000
LADDER_REPS = 2

# epsg_dispatch_ed50's hand-derived anchors: (id, lon, lat) in and the
# oracle's literal outputs, rounded to 7 decimals
ED50_ANCHORS = [
    (-1, -5.35, 36.10, -5.3512973, 36.0986573),   # Gibraltar, EPSG:1629
    (-2, -8.00, 38.00, -8.0013725, 37.9988184),   # Portugal, EPSG:1989
    (-3, -3.00, 40.00, -3.0012836, 39.9988116),   # central Spain, EPSG:1633
]


def noop(df: DataFrame) -> None:
    df.write.format("noop").mode("overwrite").save()


def identity_udf():
    """A pandas UDF that returns its input: the Arrow crossing alone."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("long")
    def _ident(s: pd.Series) -> pd.Series:
        return s

    return _ident


def _nan_flag(cols: list[str]):
    bad = None
    for c in cols:
        b = F.isnan(F.col(c)) | F.col(c).isNull()
        bad = b if bad is None else bad | b
    return F.when(bad, 1).otherwise(0)


def _payload_xor(df: DataFrame):
    return F.expr("bit_xor(xxhash64(" + ", ".join(f"`{c}`" for c in df.columns) + "))")


@dataclass
class Ctx:
    spark: object
    seed: int
    work_dir: str
    cache_dir: str
    tracer: object
    state: dict = field(default_factory=dict)


def _rung(ctx: Ctx, name: str, action, reps: int = LADDER_REPS) -> float:
    """Run one ladder rung ``reps`` times; the median of its wall times."""
    times = []
    ctx.spark.sparkContext.setJobDescription(f"rung:{name}")
    with ctx.tracer.span(f"ladder.{name}"):
        for _ in range(reps):
            with ctx.tracer.span(f"ladder.{name}.rep"):
                t0 = time.perf_counter()
                action()
                times.append(time.perf_counter() - t0)
    ctx.spark.sparkContext.setJobDescription(None)
    times.sort()
    return (times[(reps - 1) // 2] + times[reps // 2]) / 2


# --------------------------------------------------------------------------
# flagship
# --------------------------------------------------------------------------

def image_points(imgs: DataFrame) -> DataFrame:
    """bench.flagship's point stage: one fused kernel UDF, then JVM tiles."""
    from proj_spark.functions import image_geo_full_udf, tile_x, tile_y

    g = image_geo_full_udf(level=CELL_LEVEL)("phash")
    return (
        imgs.withColumn("g", g)
        .select("image_id", "caption",
                *[F.col(f"g.{c}").alias(c) for c in
                  ("lon", "lat", "utm_x", "utm_y", "lcc_x", "lcc_y", "cell")])
        .withColumn("tile_x", tile_x(F.col("lon"), 12))
        .withColumn("tile_y", tile_y(F.col("lat"), 12))
    )


def _member_key(row_id, poly_pos):
    """Key of one (row id, 1-based polygon index) pair; the bit_xor of all
    keys identifies the pair set, and is the same in Spark SQL and numpy."""
    return row_id * 131 + poly_pos


def _collect_sink(ctx) -> dict:
    """Run the aggregate sink as a new Dataset: collecting the same Dataset
    twice reuses its executed plan, and Spark then skips the shuffle-map
    stage (the whole job up to the aggregate) on every pass but the first."""
    r = ctx.state["job"].agg(*ctx.state["sink"]).collect()[0].asDict()
    return {k: int(v or 0) for k, v in r.items()}


class Flagship:
    """bench.flagship: kernel UDF -> tiles -> spatial_join_fused (64
    polygons, level 8) over the 1M-row image table."""

    name = "flagship"
    rows = IMAGE_ROWS
    warmup_passes = 2   # after one, the next pass ran ~40% slow

    def prepare(self, ctx: Ctx) -> None:
        ctx.state["path"] = inputs.image_table(ctx.cache_dir, self.name, ctx.seed, self.rows)

    def build(self, ctx: Ctx) -> None:
        from proj_spark.operators.spatial_join import spatial_join_fused
        from proj_spark.sources.synth import make_polygons

        polys = make_polygons(FLAGSHIP_POLYS)
        imgs = ctx.spark.read.parquet(ctx.state["path"]).select("image_id", "caption", "phash")
        job = spatial_join_fused(image_points(imgs), polys, level=JOIN_LEVEL,
                                 cell_col="cell", cell_level=CELL_LEVEL)
        ids = ", ".join(f"'{p.polygon_id}'" for p in polys)
        # the whole digit suffix: past seed 0 a row id can exceed 12 digits
        row_id = F.expr("cast(substring(image_id, 4) as long)")
        pos = F.expr(f"array_position(array({ids}), polygon_id)")
        ctx.state.update(polys=polys, imgs=imgs, job=job, sink=[
            F.count(F.lit(1)).alias("rows"),
            F.sum(_nan_flag(["lon", "lat", "utm_x", "utm_y", "lcc_x", "lcc_y"])).alias("error_rows"),
            F.bit_xor(_member_key(row_id, pos)).alias("members"),
            _payload_xor(job).alias("payload"),
        ])

    def run_pass(self, ctx: Ctx) -> dict:
        return _collect_sink(ctx)

    def expected(self, ctx: Ctx) -> dict:
        """Brute-force reference over the whole input table."""
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        from proj_spark.sources.synth import lonlat_from_phash

        tab = pq.read_table(ctx.state["path"], columns=["image_id", "phash"])
        ids = pc.cast(pc.utf8_slice_codeunits(tab["image_id"], 3), "int64").to_numpy()
        lon, lat = lonlat_from_phash(tab["phash"].to_numpy())
        pt, pl = layers.brute_force_pip(lon, lat, ctx.state["polys"])
        ctx.state["oracle"] = (lon, lat, pt, pl)
        members = np.bitwise_xor.reduce(_member_key(ids[pt], pl + 1)) if len(pt) else 0
        # at seed 0 the engine's count is checked against the recorded literal
        rows = DEFAULT_SEED_MATCHES if ctx.seed == 0 else int(len(pt))
        return {"rows": rows, "error_rows": 0, "members": int(members)}

    def ladder(self, ctx: Ctx) -> dict[str, float]:
        imgs = ctx.state["imgs"]
        scan = _rung(ctx, "scan", lambda: noop(imgs))
        ident = _rung(ctx, "identity", lambda: noop(
            imgs.withColumn("phash2", identity_udf()("phash"))))
        kern = _rung(ctx, "kernel", lambda: noop(image_points(imgs)))
        full = _rung(ctx, "full", lambda: noop(ctx.state["job"]))
        return {"scan.pass_s": scan, "functions.identity_pass_s": ident,
                "kernels.udf_pass_s": kern, "join.tail_s": full - kern,
                "ladder.full_pass_s": full}

    def layer_metrics(self, ctx: Ctx) -> dict[str, float]:
        from proj_spark import cells
        from proj_spark.functions import GDA_DATUM_SPEC, compile_pipeline

        lon, lat, pt, _ = ctx.state["oracle"]
        ph = inputs.phash_of(inputs.row_ids(ctx.seed, self.rows)[:KERNEL_SAMPLE])
        out = layers.kernel_steps(ph, CELL_LEVEL)
        cov, cover = layers.cover_layers(ctx.state["polys"], JOIN_LEVEL)
        # the fused join keys on the parent of the kernel's cell, which is
        # encoded from the datum-shifted coordinates
        lon2, lat2, _, _ = compile_pipeline(GDA_DATUM_SPEC).fwd_deg(lon, lat, np.zeros_like(lon))
        pairs = layers.candidate_pairs(cover, cells.s2_cell_id(lon2, lat2, JOIN_LEVEL))
        out.update({"cover.build_s": cov["build_s"], "cover.rows": cov["rows"],
                    "pip.cands_per_pt": pairs / len(lon),
                    "pip.match_ratio": len(pt) / pairs if pairs else 0.0})
        return out


# --------------------------------------------------------------------------
# dispatch
# --------------------------------------------------------------------------

def _unit(ids, a: int, b: int, m: int, lit):
    """((id*a + b) mod m) / m in [0, 1), the same doubles in Spark and numpy."""
    return ((ids * a + b) % m) / lit(float(m))


def dispatch_points(seed: int, ids: np.ndarray | None = None, spark=None, n: int = 0):
    """Points for the dispatch workload, generated JVM-side from
    ``spark.range`` (``spark`` given) or in numpy (``ids`` given).

    Nine in ten fall in Iberia, where the regional ED50 candidates overlap;
    every tenth falls in the mid-Atlantic, outside every area of use, and
    is served by the fallback.
    """
    s = seed % 1_000_003
    if spark is not None:
        col = F.col("id")
        lit, when = F.lit, (lambda c, a, b: F.when(c, a).otherwise(b))
    else:
        col = ids
        lit, when = (lambda v: v), np.where
    u = _unit(col, 40503, s, 1_000_003, lit)
    v = _unit(col, 69069, s * 31 + 12345, 999_983, lit)
    out = (col % 10) == 9
    lon = when(out, lit(-40.0) + u * lit(10.0), lit(-9.5) + u * lit(6.0))
    lat = when(out, lit(20.0) + v * lit(10.0), lit(36.0) + v * lit(7.8))
    if spark is None:
        return lon, lat
    pts = spark.range(0, n, numPartitions=DISPATCH_PARTITIONS).select(
        "id", lon.alias("lon"), lat.alias("lat"))
    anchors = spark.createDataFrame([a[:3] for a in ED50_ANCHORS],
                                    "id long, lon double, lat double")
    return pts.unionByName(anchors)


class Dispatch:
    """ED50 -> WGS84 per-point registry dispatch over JVM-generated points
    plus the three hand-derived anchors."""

    name = "dispatch"
    rows = DISPATCH_POINTS + len(ED50_ANCHORS)
    warmup_passes = 4   # after two, passes still sped up by ~15% over the next four

    def prepare(self, ctx: Ctx) -> None:
        pass

    def build(self, ctx: Ctx) -> None:
        from proj_spark.functions import dispatch_udf
        from proj_spark.sources.epsg_ops import crs_to_crs_epsg_dispatch

        t0 = time.perf_counter()
        disp = crs_to_crs_epsg_dispatch("EPSG:4230", "EPSG:4326")
        ctx.state["resolve_s"] = time.perf_counter() - t0
        pts = dispatch_points(ctx.seed, spark=ctx.spark, n=DISPATCH_POINTS)
        job = pts.withColumn("s", dispatch_udf(disp)("lon", "lat")).select(
            "id", F.col("s.x").alias("x"), F.col("s.y").alias("y"))
        anchor_ok = F.lit(False)
        for i, _, _, ex, ey in ED50_ANCHORS:
            anchor_ok = anchor_ok | ((F.col("id") == i) & (F.round("x", 7) == ex)
                                     & (F.round("y", 7) == ey))
        finite = ~(F.isnan("x") | F.isnan("y"))
        ctx.state.update(disp=disp, pts=pts, job=job, sink=[
            F.count(F.lit(1)).alias("rows"),
            F.sum(_nan_flag(["x", "y"])).alias("error_rows"),
            F.sum(F.when(finite, F.floor(F.col("x") * 1e7))).alias("sum_x"),
            F.sum(F.when(finite, F.floor(F.col("y") * 1e7))).alias("sum_y"),
            F.sum(F.when((F.col("id") < 0) & ~anchor_ok, 1).otherwise(0)).alias("anchors_bad"),
        ])

    def run_pass(self, ctx: Ctx) -> dict:
        return _collect_sink(ctx)

    def expected(self, ctx: Ctx) -> dict:
        """The same points through the driver-side CandidateDispatch; the
        anchors must also reproduce the oracle's literals."""
        from proj_spark.functions import KERNEL_CHUNK

        ids = np.arange(DISPATCH_POINTS, dtype=np.int64)
        lon, lat = dispatch_points(ctx.seed, ids=ids)
        lon = np.concatenate([lon, [a[1] for a in ED50_ANCHORS]])
        lat = np.concatenate([lat, [a[2] for a in ED50_ANCHORS]])
        disp = ctx.state["disp"]
        xs, ys = [], []
        for i in range(0, len(lon), KERNEL_CHUNK):
            x, y, _, _ = disp.fwd_deg(lon[i:i + KERNEL_CHUNK], lat[i:i + KERNEL_CHUNK])
            xs.append(x)
            ys.append(y)
        x, y = np.concatenate(xs), np.concatenate(ys)
        ctx.state["oracle"] = (lon, lat)
        fin = np.isfinite(x) & np.isfinite(y)
        return {"rows": len(lon), "error_rows": int((~fin).sum()),
                "sum_x": int(np.floor(x[fin] * 1e7).astype(np.int64).sum()),
                "sum_y": int(np.floor(y[fin] * 1e7).astype(np.int64).sum()),
                "anchors_bad": 0}

    def ladder(self, ctx: Ctx) -> dict[str, float]:
        from proj_spark.functions import dispatch_udf

        pts = ctx.state["pts"]
        scan = _rung(ctx, "range", lambda: noop(pts))
        ident = _rung(ctx, "identity", lambda: noop(
            pts.withColumn("id2", identity_udf()("id"))))
        udf = _rung(ctx, "dispatch", lambda: noop(
            pts.withColumn("s", dispatch_udf(ctx.state["disp"])("lon", "lat"))))
        return {"scan.pass_s": scan, "functions.identity_pass_s": ident,
                "kernels.udf_pass_s": udf, "join.tail_s": 0.0,
                "ladder.full_pass_s": udf}

    def layer_metrics(self, ctx: Ctx) -> dict[str, float]:
        lon, lat = ctx.state["oracle"]
        out = layers.dispatch_layers(ctx.state["disp"], lon[:DISPATCH_SAMPLE],
                                     lat[:DISPATCH_SAMPLE])
        out["dispatch.resolve_s"] = ctx.state["resolve_s"]
        return out


# --------------------------------------------------------------------------
# join_write
# --------------------------------------------------------------------------

class JoinWrite:
    """lonlat_udf -> spatial_join(strategy="smj") against 1024 polygons ->
    lineage.write_with_manifests, over the first 125,000 image rows."""

    name = "join_write"
    rows = IMAGE_ROWS * JOIN_WRITE_FILES // inputs.FILES
    warmup_passes = 1

    def prepare(self, ctx: Ctx) -> None:
        path = inputs.image_table(ctx.cache_dir, "flagship", ctx.seed, IMAGE_ROWS)
        ctx.state["files"] = inputs.table_slice(path, JOIN_WRITE_FILES)

    def build(self, ctx: Ctx) -> None:
        from proj_spark.functions import lonlat_udf
        from proj_spark.operators.spatial_join import polygon_cover, spatial_join
        from proj_spark.sources.synth import make_polygons

        polys = make_polygons(JOIN_WRITE_POLYS)
        t0 = time.perf_counter()
        cover_pdf = polygon_cover(polys, JOIN_LEVEL)
        ctx.state["cover_s"] = time.perf_counter() - t0
        cover = ctx.spark.createDataFrame(cover_pdf)
        imgs = ctx.spark.read.parquet(*ctx.state["files"]).select("image_id", "caption", "phash")
        pts = imgs.withColumn("g", lonlat_udf()("phash")).select(
            "image_id", "caption", "phash", "g.lon", "g.lat")

        def join(strategy):
            return spatial_join(pts, polys, level=JOIN_LEVEL, strategy=strategy,
                                cover=cover, keep_cols=["image_id", "caption", "phash", "cell"])

        ctx.state.update(polys=polys, cover_pdf=cover_pdf, imgs=imgs, pts=pts,
                         job=join("smj"), broadcast_job=join("broadcast"), outputs=[])

    def _write(self, ctx: Ctx) -> str:
        from proj_spark.lineage import write_with_manifests

        out = os.path.join(ctx.work_dir, f"join_write-{len(ctx.state['outputs'])}")
        shutil.rmtree(out, ignore_errors=True)
        write_with_manifests(ctx.state["job"], out)
        ctx.state["outputs"].append(out)
        return out

    def run_pass(self, ctx: Ctx) -> dict:
        return {"dir": self._write(ctx)}

    def expected(self, ctx: Ctx) -> dict:
        import pyarrow.parquet as pq

        from proj_spark.sources.synth import lonlat_from_phash

        ph = pq.read_table(ctx.state["files"], columns=["phash"])["phash"].to_numpy()
        lon, lat = lonlat_from_phash(ph)
        pt, pl = layers.brute_force_pip(lon, lat, ctx.state["polys"])
        ctx.state["oracle"] = (lon, lat, pt, pl)
        return {}   # every written output is checked by check_output

    def check_output(self, ctx: Ctx, out: str) -> list[str]:
        """The manifests must count the brute force's matches,
        verify_manifests must pass for every bucket, and a deterministic
        sample of the written rows must equal the broadcast join's."""
        from proj_spark.lineage import verify_manifests

        problems = []
        v = verify_manifests(ctx.spark, out)
        want = len(ctx.state["oracle"][2])
        if int(v["rows"].sum()) != want:
            problems.append(f"manifests count {int(v['rows'].sum())} rows, expected {want}")
        if len(v) == 0 or not bool(v["ok"].all()):
            problems.append(f"verify_manifests failed for {int((~v['ok']).sum())} buckets")
        sample = F.abs(F.xxhash64("image_id")) % 97 == 0
        got = ctx.spark.read.parquet(os.path.join(out, "data")).filter(sample)
        ref = ctx.state["broadcast_job"].filter(sample)
        key = ["image_id", "polygon_id"]
        a = sorted(map(tuple, got.select(*key).collect()))
        b = sorted(map(tuple, ref.select(*key).collect()))
        if a != b:
            problems.append(f"sampled rows differ from the broadcast join ({len(a)} vs {len(b)})")
        return problems

    def ladder(self, ctx: Ctx) -> dict[str, float]:
        # one rep per rung: this ladder rides on the dispatch trace, which
        # must end within 180 s (it took 162 s with two reps under 6% steal)
        scan = _rung(ctx, "jw_scan", lambda: noop(ctx.state["imgs"]), reps=1)
        lonlat = _rung(ctx, "jw_lonlat", lambda: noop(ctx.state["pts"]), reps=1)
        smj = _rung(ctx, "jw_smj", lambda: noop(ctx.state["job"]), reps=1)
        write = _rung(ctx, "jw_write", lambda: self._write(ctx), reps=1)
        return {"join_write.scan_pass_s": scan, "join_write.lonlat_pass_s": lonlat,
                "join.smj_tail_s": smj - lonlat, "lineage.write_pass_s": write - smj}

    def layer_metrics(self, ctx: Ctx) -> dict[str, float]:
        from proj_spark import cells

        lon, lat, pt, _ = ctx.state["oracle"]
        cover = ctx.state["cover_pdf"]
        pairs = layers.candidate_pairs(cover, cells.s2_cell_id(lon, lat, JOIN_LEVEL))
        out_dir = ctx.state["outputs"][-1]
        files = [os.path.join(d, f) for d, _, fs in os.walk(os.path.join(out_dir, "data"))
                 for f in fs if f.endswith(".parquet")]
        return {"cover.smj_build_s": ctx.state["cover_s"], "cover.smj_rows": float(len(cover)),
                "pip.smj_cands_per_pt": pairs / len(lon),
                "pip.smj_match_ratio": len(pt) / pairs if pairs else 0.0,
                "lineage.files": float(len(files)),
                "lineage.bytes_per_row":
                    sum(os.path.getsize(f) for f in files) / max(len(pt), 1)}


WORKLOADS = {w.name: w for w in (Flagship, Dispatch, JoinWrite)}
