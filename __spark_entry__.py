"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship pipeline on sf0.001 (smoke).
``queries()``    — one entry per implemented operator family (SURVEY.md §2
                   + the training-data-pipeline ops).
``oracle_sql()`` — DuckDB-equivalent ANSI SQL for every query. Series /
                   iterative kernels (tmerc Poder series, cart+helmert,
                   Vincenty, S2 Hilbert ids) are mirrored by generated SQL
                   (proj_spark.oracles: unrolled Clenshaw, recursive CTEs,
                   inlined lookup tables). Only hgridshift_ntv2 stays
                   rows-only (its .gsb grid nodes can't sanely inline);
                   hgridshift_synth covers the same kernel path with a
                   formula grid + SQL bilinear oracle.

Determinism & parity conventions (see FIXTURES.md §5):
  * synthetic coordinates from integer keys:
      lon = (key % 36000)/100 - 180,  lat = (key2 % 17000)/100 - 85
  * every float output is round()-ed identically on both sides;
  * every aggregate/computed column is aliased identically on both sides.
"""

from __future__ import annotations

from collections.abc import Callable

import pandas as pd  # noqa: F401  (struct pandas_udf type hints resolve here)
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

SF0001 = "/root/testdata/sf0.001"

# ---------------------------------------------------------------------------
# fixed literal geometries (embedded identically in Spark + oracle SQL)
# ---------------------------------------------------------------------------

# (box_id, min_lon, min_lat, max_lon, max_lat)
BOXES = [
    (1, -30.0, -20.0, 25.0, 30.0),
    (2, 60.0, 5.0, 140.0, 60.0),
    (3, -170.0, -60.0, -60.0, -10.0),
    (4, 100.0, -80.0, 179.0, -40.0),
]

# simple polygons as vertex lists (lon, lat); ray-cast parity with the SQL
# edge-table oracle. P3 is non-convex (L-shape), P1 a triangle, P2 a quad.
POLYGONS = {
    "tri": [(-20.0, -10.0), (10.0, -5.0), (-5.0, 25.0)],
    "quad": [(-10.0, 40.0), (15.0, 38.0), (18.0, 55.0), (-8.0, 57.0)],
    "ell": [(60.0, 0.0), (80.0, 0.0), (80.0, 10.0), (70.0, 10.0),
            (70.0, 20.0), (60.0, 20.0)],
}

_EN_SW_SQL = "('the','a','an','and','of','to','in','is','for','on')"


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _pts(df: DataFrame, key1: str, key2: str) -> DataFrame:
    """Deterministic lon/lat derivation shared with the oracle.

    Prime multipliers spread small sequential keys over the whole globe
    (plain ``key % 36000`` would pin every sf0.01 key into one corner).
    """
    return df.withColumn(
        "lon", ((F.col(key1) * 9973) % 36000) / 100.0 - 180.0
    ).withColumn("lat", ((F.col(key2) * 7919) % 17000) / 100.0 - 85.0)


def _pts_sql(key1: str, key2: str) -> str:
    return (
        f"(({key1} * 9973) % 36000)/100.0 - 180 AS lon, "
        f"(({key2} * 7919) % 17000)/100.0 - 85 AS lat"
    )


_NTV2_SPECS = [
    "proj=hgridshift +grids=ntf_r93.gsb +ellps=GRS80",
    "proj=latlong datum=potsdam ellps=bessel",  # BETA2007 via cs2cs hooks
]


def _ntv2_anchor_cases():
    """(accept, expect, spec_id, inverse) tuples from the reference's own
    gie corpus (data-only extracts in tests/fixtures/gie)."""
    import json
    import pathlib

    fixdir = pathlib.Path(__file__).parent / "tests" / "fixtures" / "gie"
    cases = []
    for spec_id, fname, opsub in (
            (0, "more_builtins.json", "ntf_r93"),
            (1, "DHDN_ETRS89.json", "datum=potsdam")):
        for block in json.load(open(fixdir / fname)):
            if opsub not in block["operation"]:
                continue
            for p in block["points"]:
                cases.append((tuple(p["accept"][:2]),
                              tuple(p["expect"][:2]),
                              spec_id, p["dir"] == "inverse"))
    return cases


def _polygon_objs():
    import numpy as np

    from proj_spark.sources.synth import Polygon

    out = []
    for pid, verts in POLYGONS.items():
        ring = np.array([c for xy in verts for c in xy], dtype=np.float64)
        xs, ys = ring[0::2], ring[1::2]
        out.append(
            Polygon(pid, "poly", ring,
                    (float(xs.min()), float(ys.min()), float(xs.max()), float(ys.max())))
        )
    return out


def _synth_gsb_path() -> str:
    """Deterministic synthetic NTv2 fixture (formula node values, float32-
    exact) — lets the full file-parse -> grid-select -> bilinear kernel path
    run under a hard DuckDB oracle (the real ntf_r93 grid stays rows-only:
    inlining its 100k nodes into SQL is not sane)."""
    import os

    path = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                        "tests", "fixtures", "synth_shift.gsb")
    if not os.path.exists(path):
        from proj_spark.sources.ntv2 import synth_grid, write_gsb

        os.makedirs(os.path.dirname(path), exist_ok=True)
        write_gsb(path, [synth_grid()])
    return path


def _synth_gtx_path() -> str:
    """Deterministic synthetic GTX geoid fixture (formula undulations,
    float32-exact) — drives the compound-CRS vertical path (geoidgrids ->
    VgridshiftStep bilinear) under a hard DuckDB oracle."""
    import os

    path = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                        "tests", "fixtures", "synth_geoid.gtx")
    if not os.path.exists(path):
        from proj_spark.sources.gtx import synth_values, write_gtx

        os.makedirs(os.path.dirname(path), exist_ok=True)
        write_gtx(path, 40.0, 0.0, 0.5, synth_values())
    return path


def _edges_sql() -> str:
    rows = []
    for pid, verts in POLYGONS.items():
        n = len(verts)
        for i in range(n):
            x1, y1 = verts[i]
            x2, y2 = verts[(i + 1) % n]
            rows.append(f"('{pid}', {x1!r}, {y1!r}, {x2!r}, {y2!r})")
    return "(VALUES " + ", ".join(rows) + ") AS e(polygon_id, x1, y1, x2, y2)"


# ---------------------------------------------------------------------------
# flagship smoke
# ---------------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    """Flagship: orders-derived points -> Poder/Engsager UTM (auto zone) ->
    S2 cell -> slippy tile -> ray-cast polygon join. Exercises the numpy
    kernel UDF, cell encoding, Column-expression tile math and the
    cell-cover + exact-verify spatial join in one plan."""
    from proj_spark.functions import s2_cell_udf, tile_x, tile_y, transform_udf, utm_zone
    from proj_spark.operators.spatial_join import spatial_join

    orders = _t(spark, SF0001, "orders")
    pts = _pts(orders, "o_orderkey", "o_custkey").select(
        "o_orderkey", "o_totalprice", "lon", "lat"
    )
    utm = transform_udf("+proj=utm +ellps=WGS84")  # auto-zone kernel
    pts = (
        pts.withColumn("utm", utm(F.col("lon"), F.col("lat")))
        .withColumn("zone", utm_zone(F.col("lon")))
        .withColumn("cell", s2_cell_udf(10)(F.col("lon"), F.col("lat")))
        .withColumn("tile_x", tile_x(F.col("lon"), 8))
        .withColumn("tile_y", tile_y(F.col("lat"), 8))
        .select(
            "o_orderkey", "lon", "lat",
            F.col("utm.x").alias("utm_x"), F.col("utm.y").alias("utm_y"),
            "zone", "cell", "tile_x", "tile_y",
        )
    )
    return spatial_join(pts, _polygon_objs(), level=8)


# ---------------------------------------------------------------------------
# queries
# ---------------------------------------------------------------------------

def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    q: dict[str, Callable[[SparkSession, str], DataFrame]] = {}

    # ---------------- geospatial: oracle-backed ----------------

    def tile_assign_z8(spark, sf):
        from proj_spark.functions import tile_x, tile_y

        o = _pts(_t(spark, sf, "orders"), "o_orderkey", "o_custkey")
        return (
            o.withColumn("tx", tile_x(F.col("lon"), 8))
            .withColumn("ty", tile_y(F.col("lat"), 8))
            .groupBy("tx", "ty")
            .agg(F.count(F.lit(1)).alias("n"))
        )

    q["tile_assign_z8"] = tile_assign_z8

    def utm_zone_hist(spark, sf):
        from proj_spark.functions import utm_zone

        o = _pts(_t(spark, sf, "orders"), "o_orderkey", "o_custkey")
        return (
            o.withColumn("zone", utm_zone(F.col("lon")).cast("long"))
            .groupBy("zone")
            .agg(F.count(F.lit(1)).alias("n"))
        )

    q["utm_zone_hist"] = utm_zone_hist

    def webmerc_project(spark, sf):
        from proj_spark.functions import webmerc_x, webmerc_y

        o = _pts(_t(spark, sf, "orders"), "o_orderkey", "o_custkey")
        return o.select(
            "o_orderkey",
            F.round(webmerc_x(F.col("lon")), 3).alias("wx"),
            F.round(webmerc_y(F.col("lat")), 3).alias("wy"),
        )

    q["webmerc_project"] = webmerc_project

    def bbox_pip_join(spark, sf):
        c = _pts(_t(spark, sf, "customer"), "c_custkey", "c_custkey")
        boxes = spark.createDataFrame(
            BOXES, "box_id long, min_lon double, min_lat double, max_lon double, max_lat double"
        )
        return (
            c.join(
                F.broadcast(boxes),
                (c.lon >= boxes.min_lon) & (c.lon <= boxes.max_lon)
                & (c.lat >= boxes.min_lat) & (c.lat <= boxes.max_lat),
            )
            .select(F.col("c_custkey").alias("pt_id"), "box_id")
        )

    q["bbox_pip_join"] = bbox_pip_join

    def pip_raycast_join(spark, sf):
        from proj_spark.operators.spatial_join import spatial_join

        c = _pts(_t(spark, sf, "customer"), "c_custkey", "c_custkey").select(
            "c_custkey", "lon", "lat"
        )
        out = spatial_join(c, _polygon_objs(), level=8)
        return out.select(F.col("c_custkey").alias("pt_id"), "polygon_id")

    q["pip_raycast_join"] = pip_raycast_join

    def knn_nation_k3(spark, sf):
        from proj_spark.operators.knn import knn_bruteforce

        cust = _pts(_t(spark, sf, "customer"), "c_custkey", "c_custkey").select(
            F.col("c_custkey").alias("qid"), "lon", "lat"
        )
        nat = _pts(_t(spark, sf, "nation"), "n_nationkey", "n_nationkey").select(
            F.col("n_nationkey").cast("long").alias("rid"),
            F.col("lon").alias("rlon"), F.col("lat").alias("rlat"),
        )
        out = knn_bruteforce(
            cust, nat, 3, q_id="qid", q_lon="lon", q_lat="lat",
            r_id="rid", r_lon="rlon", r_lat="rlat",
        )
        return out.select(
            "qid", "rid", F.round(F.col("dist_m"), 3).alias("dist_m"),
            F.col("rank").cast("long").alias("rank"),
        )

    q["knn_nation_k3"] = knn_nation_k3

    def events_daily_tiles(spark, sf):
        from proj_spark.functions import tile_x, tile_y

        e = _pts(_t(spark, sf, "events"), "event_id", "user_id")
        return (
            e.withColumn("day", F.to_date(F.col("ts")))
            .withColumn("tx", tile_x(F.col("lon"), 6))
            .withColumn("ty", tile_y(F.col("lat"), 6))
            .groupBy("day", "tx", "ty")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.round(F.sum("value"), 3).alias("sum_value"),
            )
        )

    q["events_daily_tiles"] = events_daily_tiles

    # ---------------- text / dedup: oracle-backed ----------------

    def token_stats(spark, sf):
        from proj_spark.functions import text as T

        d = _t(spark, sf, "documents")
        return d.select(
            "doc_id",
            T.token_count(F.col("text")).cast("long").alias("n_tokens"),
            T.char_count(F.col("text")).cast("long").alias("n_chars_actual"),
            F.round(T.avg_token_len(F.col("text")), 4).alias("avg_tok_len"),
        )

    q["token_stats"] = token_stats

    def text_quality(spark, sf):
        from proj_spark.functions import text as T

        d = _t(spark, sf, "documents")
        return d.select(
            "doc_id",
            F.round(T.punct_ratio(F.col("text")), 4).alias("punct_ratio"),
            F.round(T.digit_ratio(F.col("text")), 4).alias("digit_ratio"),
            F.round(T.quality_score(F.col("text")), 4).alias("quality"),
        )

    q["text_quality"] = text_quality

    def lang_id(spark, sf):
        from proj_spark.functions import text as T

        d = _t(spark, sf, "documents")
        return d.select(
            "doc_id",
            F.round(T.stopword_ratio(F.col("text")), 4).alias("stop_ratio"),
            T.is_english_heuristic(F.col("text")).cast("long").alias("is_en"),
        )

    q["lang_id"] = lang_id

    def exact_dedup_hashes(spark, sf):
        d = _t(spark, sf, "documents")
        return (
            d.groupBy(F.md5(F.col("text")).alias("content_hash"))
            .agg(F.count(F.lit(1)).alias("n_dups"), F.min("doc_id").alias("canonical_id"))
        )

    q["exact_dedup_hashes"] = exact_dedup_hashes

    def minhash_sigs(spark, sf):
        from proj_spark.functions import text as T
        from proj_spark.operators.dedup import minhash_signatures

        d = _t(spark, sf, "documents").filter(T.token_count(F.col("text")) >= 3)
        return minhash_signatures(d, num_hashes=8)

    q["minhash_sigs"] = minhash_sigs

    def ngram_jaccard(spark, sf):
        from proj_spark.functions import text as T
        from proj_spark.operators.dedup import ngram_jaccard_pairs

        d = _t(spark, sf, "documents").filter(T.token_count(F.col("text")) >= 3)
        out = ngram_jaccard_pairs(d, threshold=0.2)
        return out.select(
            "id_a", "id_b", F.round(F.col("jaccard"), 4).alias("jaccard")
        )

    q["ngram_jaccard"] = ngram_jaccard

    def dedup_clusters(spark, sf):
        """Near-duplicate CLUSTERS: hash-to-min connected components over
        the exact n-gram Jaccard pair set (>= 0.5), every document
        labeled with (min-id) cluster and cluster size — the step that
        turns pairwise dedup into keep/drop decisions at corpus scale.
        Oracle: DuckDB recursive-CTE transitive closure over the identical
        pair set. The LSH banded tier plugs into the same operator
        (dedup_clusters(pairs=minhash_lsh_pairs(...))) — label
        propagation is pair-source-agnostic."""
        from proj_spark.operators.dedup import dedup_clusters as dc

        d = _t(spark, sf, "documents")
        return dc(d, threshold=0.5).select(
            "doc_id",
            F.col("cluster_id").cast("long").alias("cluster_id"),
            F.col("cluster_size").cast("long").alias("cluster_size"),
        )

    q["dedup_clusters"] = dedup_clusters

    def corpus_curation(spark, sf):
        """END-TO-END training-corpus curation: language gate (English
        stopword heuristic) -> quality gate (composite score >= 0.6) ->
        exact-dup canonicalization (min doc_id per md5) -> near-dup
        cluster canonicalization (connected components over n-gram
        Jaccard >= 0.5) -> per-source survivor stats. Every stage is the
        already-oracle-verified operator; this query proves they COMPOSE
        into the pipeline a 100 TB curation run would execute, with one
        SQL mirror for the whole chain."""
        from pyspark.sql import Window as W

        from proj_spark.functions import text as T
        from proj_spark.operators.dedup import dedup_clusters as dc

        d = _t(spark, sf, "documents")
        scored = d.withColumn("quality", T.quality_score(F.col("text"))) \
            .withColumn("is_en", T.is_english_heuristic(F.col("text")))
        keep1 = scored.filter(F.col("is_en") & (F.col("quality") >= 0.6))
        w = W.partitionBy(F.md5(F.col("text"))).orderBy(F.col("doc_id"))
        keep2 = keep1.withColumn("_rn", F.row_number().over(w)) \
            .filter(F.col("_rn") == 1).drop("_rn")
        clusters = dc(keep2, threshold=0.5)
        surv = keep2.join(clusters, "doc_id") \
            .filter(F.col("doc_id") == F.col("cluster_id"))
        return surv.groupBy("source").agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.avg("quality"), 4).alias("avg_quality"))

    q["corpus_curation"] = corpus_curation

    def images_curation(spark, sf):
        """END-TO-END image+caption curation over the north-star input
        schema (image_id, bytes, w, h, fmt, caption, phash): decode ->
        feature gates (brightness band on mean_r + gradient-contrast on
        std_gray) -> caption content gate (banned adjectives) -> exact
        near-dup canonicalization by phash (planted duplicates: the first
        300 images re-enter under 'dup' ids, carrying identical pixels) ->
        per-shape survivor stats with the pre-dedup candidate count kept
        so the dedup stage is observable. Composes the separately verified
        multimodal + text stages the way a 10^12-image curation run would;
        the oracle regenerates pixels AND captions from the deterministic
        synth recipe in one SQL chain."""
        from pyspark.sql import Window as W

        from proj_spark.operators.multimodal import image_features
        from proj_spark.sources.synth import images_df

        base = images_df(spark, 1200)
        dups = images_df(spark, 300).withColumn(
            "image_id",
            F.concat(F.lit("dup"), F.expr("substring(image_id, 4)")))
        imgs = base.unionByName(dups)
        feats = image_features(imgs)
        j = (imgs.select("image_id", "caption", "phash", "w", "h")
             .join(feats, "image_id"))
        gated = j.filter(
            (F.col("std_gray") >= 36.0)
            & (F.col("mean_r") >= 100.0) & (F.col("mean_r") <= 160.0)
            & ~F.col("caption").rlike(" (velvet|iron) "))
        wnd = W.partitionBy("phash").orderBy("image_id")
        surv = (gated.withColumn("_rn", F.row_number().over(wnd))
                .filter(F.col("_rn") == 1))
        cand = gated.groupBy("w", "h").agg(
            F.count(F.lit(1)).alias("n_candidates"))
        out = surv.groupBy("w", "h").agg(
            F.count(F.lit(1)).alias("n_images"),
            F.round(F.avg("std_gray"), 4).alias("avg_contrast"),
            F.round(F.avg("mean_r"), 4).alias("avg_r"))
        return (out.join(cand, ["w", "h"])
                .select(F.col("w").cast("long").alias("w"),
                        F.col("h").cast("long").alias("h"),
                        "n_candidates", "n_images",
                        "avg_contrast", "avg_r"))

    q["images_curation"] = images_curation

    # ---------------- similarity: oracle-backed ----------------

    def cosine_top3(spark, sf):
        from proj_spark.operators.similarity import cosine_self_topk

        e = _t(spark, sf, "embeddings")
        out = cosine_self_topk(e, 3)
        return out.select(
            "qid", "rid", F.round(F.col("cosine"), 6).alias("cosine"),
            F.col("rank").cast("long").alias("rank"),
        )

    q["cosine_top3"] = cosine_top3

    def cosine_topk_lsh(spark, sf):
        """Scale-tier ANN (rhp_lsh_topk: banded random-hyperplane signatures
        -> exact re-rank inside each bucket) graded by a recall
        golden: recall@3 against the exact brute-force tier must clear 0.9.
        The oracle row asserts the same literals, so the hash matches IFF
        the distributed LSH path actually achieves the recall — a hard check
        of the 100 TB path, not of the driver-collect tier."""
        from proj_spark.operators.similarity import (cosine_self_topk,
                                                     rhp_lsh_topk)

        import math

        e = _t(spark, sf, "embeddings").persist()
        n = e.count()
        dim = len(e.select("embedding").head()[0])
        # one count serves both the adaptive banding and the recall
        # denominator (exact top-3 has exactly 3 rows per query)
        block_bits = min(24, max(3, math.ceil(math.log2(max(n, 2) / 16))))
        approx = rhp_lsh_topk(e, 3, dim, id_col="vec_id",
                              vec_col="embedding", block_bits=block_bits)
        exact = cosine_self_topk(e, 3).select("qid", "rid")
        n_hit = exact.join(approx.select("qid", "rid"), ["qid", "rid"],
                           "left_semi").count()  # ONE action over the DAG
        e.unpersist()
        recall = n_hit / max(3 * n, 1)
        return spark.createDataFrame(
            [("recall_at_3_ge_0.9", bool(recall >= 0.9), int(n))],
            "metric string, pass boolean, n_vectors long")

    q["cosine_topk_lsh"] = cosine_topk_lsh

    def cosine_topk_ivf(spark, sf):
        """Second ANN scale tier (ivf_topk: sample-trained k-means coarse
        quantizer -> multi-assigned inverted lists -> exact re-rank),
        graded by the same recall@3 >= 0.9 golden as the LSH tier. IVF is
        data-ADAPTIVE where LSH is data-oblivious — both scale paths are
        verified against the same exact brute-force truth."""
        from proj_spark.operators.similarity import (cosine_self_topk,
                                                     ivf_topk)

        e = _t(spark, sf, "embeddings").persist()
        n = e.count()
        dim = len(e.select("embedding").head()[0])
        approx = ivf_topk(e, 3, dim, id_col="vec_id",
                          vec_col="embedding", n_hint=n)
        exact = cosine_self_topk(e, 3).select("qid", "rid")
        n_hit = exact.join(approx.select("qid", "rid"), ["qid", "rid"],
                           "left_semi").count()
        e.unpersist()
        recall = n_hit / max(3 * n, 1)
        return spark.createDataFrame(
            [("recall_at_3_ge_0.9", bool(recall >= 0.9), int(n))],
            "metric string, pass boolean, n_vectors long")

    q["cosine_topk_ivf"] = cosine_topk_ivf

    # ---------------- numpy-kernel ops: rows-only ----------------

    def utm_project_poder(spark, sf):
        from proj_spark.functions import transform_udf

        o = _pts(_t(spark, sf, "orders"), "o_orderkey", "o_custkey")
        utm = transform_udf("+proj=utm +ellps=WGS84")
        # cm rounding: the DuckDB oracle unrolls the identical Poder series
        # (proj_spark.oracles) but libm-vs-numpy transcendental ulps leave
        # ~1e-8 m cross-engine noise; 2 decimals absorbs it.
        return o.withColumn("utm", utm(F.col("lon"), F.col("lat"))).select(
            "o_orderkey",
            F.round(F.col("utm.x"), 2).alias("utm_x"),
            F.round(F.col("utm.y"), 2).alias("utm_y"),
        )

    q["utm_project_poder"] = utm_project_poder

    def gda_helmert_pipeline(spark, sf):
        from proj_spark.functions import transform3d_udf

        o = _pts(_t(spark, sf, "orders"), "o_orderkey", "o_custkey")
        # GDA94 -> GDA2020 7-param Helmert via geodetic->cart->helmert->cart^-1
        # (params from the reference's GDA.gie fixture semantics)
        spec = (
            "+proj=pipeline +ellps=GRS80 "
            "+step +proj=cart "
            "+step +proj=helmert +x=0.06155 +y=-0.01087 +z=-0.04019 "
            "+rx=-0.0394924 +ry=-0.0327221 +rz=-0.0328979 +s=-0.009994 "
            "+convention=coordinate_frame "
            "+step +proj=cart +inv"
        )
        tr = transform3d_udf(spec)
        # 7 decimals (~1 cm) absorbs libm-vs-numpy ulps in the SQL mirror
        return o.withColumn(
            "g", tr(F.col("lon"), F.col("lat"), F.lit(0.0))
        ).select(
            "o_orderkey",
            F.round(F.col("g.x"), 7).alias("lon2020"),
            F.round(F.col("g.y"), 7).alias("lat2020"),
        )

    q["gda_helmert_pipeline"] = gda_helmert_pipeline

    def iau_mars_pipeline(spark, sf):
        """IAU_2015 planetary registry (round 5, iau.sql): Mars
        Equirectangular on the sphere (49910, x = R*lon), the
        west-positive ographic CRS (49901, +axis=wnu) and the
        spherical-planetocentric +geoc CRS (49902, geocentric->geodetic
        latitude) — all resolved from the bundled registry and run as
        one Arrow-batched plan."""
        from proj_spark.functions import transform_udf
        from proj_spark.sources.epsg import epsg_to_proj

        o = _pts(_t(spark, sf, "orders"), "o_orderkey", "o_custkey")
        eqc = transform_udf(epsg_to_proj("IAU_2015:49910"))
        ogr = transform_udf(epsg_to_proj("IAU_2015:49901"))
        ocb = transform_udf(epsg_to_proj("IAU_2015:49902"))
        return (
            o.withColumn("m", eqc(F.col("lon"), F.col("lat")))
            .withColumn("w", ogr(F.col("lon"), F.col("lat")))
            .withColumn("g", ocb(F.col("lon"), F.col("lat")))
            .select(
                "o_orderkey",
                F.round("m.x", 3).alias("mx"),
                F.round("m.y", 3).alias("my"),
                F.round("w.x", 9).alias("wlon"),
                F.round("g.y", 9).alias("glat"),
            )
        )

    q["iau_mars_pipeline"] = iau_mars_pipeline

    def s2_cells_l10(spark, sf):
        from proj_spark.functions import s2_cell_udf

        o = _pts(_t(spark, sf, "orders"), "o_orderkey", "o_custkey")
        return o.select(
            "o_orderkey", s2_cell_udf(10)(F.col("lon"), F.col("lat")).alias("cell")
        )

    q["s2_cells_l10"] = s2_cells_l10

    def minhash_lsh_pairs_docs(spark, sf):
        from proj_spark.functions import text as T
        from proj_spark.operators.dedup import minhash_lsh_pairs

        d = _t(spark, sf, "documents").filter(T.token_count(F.col("text")) >= 3)
        out = minhash_lsh_pairs(d, jaccard_threshold=0.5)
        return out.select("id_a", "id_b", F.round(F.col("jaccard"), 4).alias("jaccard"))

    q["minhash_lsh_pairs_docs"] = minhash_lsh_pairs_docs

    def simhash_pairs_docs(spark, sf):
        from proj_spark.operators.dedup import simhash_near_pairs

        d = _t(spark, sf, "documents")
        return simhash_near_pairs(d, max_hamming=3)

    q["simhash_pairs_docs"] = simhash_pairs_docs

    def doc_fingerprints(spark, sf):
        from proj_spark.functions import text as T

        d = _t(spark, sf, "documents")
        return d.select("doc_id", T.fingerprint64(F.col("text")).alias("fp"))

    q["doc_fingerprints"] = doc_fingerprints

    def image_features_synth(spark, sf):
        from proj_spark.operators.multimodal import image_features
        from proj_spark.sources.synth import images_df

        imgs = images_df(spark, 2000, real_png=False)
        out = image_features(imgs)
        return out.select(
            "image_id",
            F.round(F.col("mean_r"), 4).alias("mean_r"),
            F.round(F.col("std_gray"), 4).alias("std_gray"),
            F.round(F.col("aspect"), 4).alias("aspect"),
        )

    q["image_features_synth"] = image_features_synth

    def hgridshift_ntv2(spark, sf):
        """Real-grid NTv2 datum shifts evaluated at the reference's OWN
        regression anchors: every (accept -> expect) pair of
        more_builtins.gie ntf_r93 and DHDN_ETRS89.gie BETA2007
        (+datum=potsdam cs2cs emulation), both directions. The oracle is
        the reference-published expected coordinates as literals — a hard
        independent check of the .gsb parse + subgrid select + bilinear +
        iterative-inverse path on real grids (the bulk-path oracle is
        hgridshift_synth's SQL-bilinear formula grid)."""
        from proj_spark.functions import transform_udf

        anchors = _ntv2_anchor_cases()
        rows = [(i, a[0], a[1], spec_id, inv)
                for i, (a, _e, spec_id, inv) in enumerate(anchors)]
        df = spark.createDataFrame(
            rows, "case_id int, lon double, lat double, "
                  "spec_id int, inv boolean")
        out = None
        for spec_id, spec in enumerate(_NTV2_SPECS):
            for inv in (False, True):
                sub = df.filter((F.col("spec_id") == spec_id)
                                & (F.col("inv") == inv))
                u = transform_udf(spec, direction="inv" if inv else "fwd")
                part = sub.withColumn(
                    "s", u(F.col("lon"), F.col("lat"))).select(
                    "case_id",
                    F.round(F.col("s.x"), 9).alias("lon_out"),
                    F.round(F.col("s.y"), 9).alias("lat_out"))
                out = part if out is None else out.unionByName(part)
        return out

    q["hgridshift_ntv2"] = hgridshift_ntv2

    def hgridshift_synth(spark, sf):
        """NTv2 bilinear grid shift over a synthetic formula grid — same
        kernel path as hgridshift_ntv2 but with a DuckDB-reproducible grid,
        so the bilinear gather gets a hard oracle."""
        from proj_spark.functions import transform_udf

        c = _t(spark, sf, "customer")
        c = c.withColumn(
            "lon", ((F.col("c_custkey") * 9973) % 760) / 100.0 + 1.2
        ).withColumn("lat", ((F.col("c_custkey") * 7919) % 380) / 100.0 + 40.6)
        udf = transform_udf(f"+proj=hgridshift +grids={_synth_gsb_path()} +ellps=GRS80")
        return c.withColumn("s", udf(F.col("lon"), F.col("lat"))).select(
            "c_custkey",
            F.round(F.col("s.x"), 9).alias("lon_sh"),
            F.round(F.col("s.y"), 9).alias("lat_sh"),
        )

    q["hgridshift_synth"] = hgridshift_synth

    def crs_dispatch_mixed(spark, sf):
        """Per-point candidate-operation dispatch (reference 4D_api.cpp
        proj_trans :421-535): a regional grid candidate (area-of-use bbox
        LARGER than the grid) ranked above a global offset fallback. Three
        deterministic point regions: inside the grid (grid candidate wins),
        inside the bbox but outside the grid (invalid result -> retry ->
        fallback, the ntv2_0.gsb case of 4D_api.cpp:431-437), and outside
        the bbox (fallback directly). Oracle mirrors the same bilinear /
        constant-offset split as a SQL CASE, plus three INDEPENDENT
        anchor rows (keys -1/-2/-3, one per region) whose expected
        outputs were derived from the published formulas alone (synth
        node formula + geogoffset radian arithmetic, numpy one-off, no
        engine code) and hard-coded as SQL literals."""
        from proj_spark.functions import dispatch_udf
        from proj_spark.plans.dispatch import CandidateDispatch, candidate

        c = _t(spark, sf, "customer")
        k = F.col("c_custkey")
        base_lon = ((k * 9973) % 760) / 100.0 + 1.2    # [1.2, 8.8] in-grid
        base_lat = ((k * 7919) % 380) / 100.0 + 40.6   # [40.6, 44.4]
        c = c.select(
            "c_custkey",
            (k % 3).cast("long").alias("region"),
            F.when(k % 3 == 0, base_lon)
            .when(k % 3 == 1, base_lon - 12.0)   # bbox yes, grid no
            .otherwise(base_lon + 100.0)         # out of bbox
            .alias("lon"),
            base_lat.alias("lat"),
        )
        kt = c.schema["c_custkey"].dataType
        anchors = spark.createDataFrame(
            [(-1, 0, 5.25, 42.25), (-2, 1, -10.0, 42.0),
             (-3, 2, 105.0, 42.0)],
            "c_custkey long, region long, lon double, lat double",
        ).select(F.col("c_custkey").cast(kt), "region", "lon", "lat")
        c = c.unionByName(anchors)
        disp = CandidateDispatch([
            candidate(
                f"+proj=hgridshift +grids={_synth_gsb_path()} +ellps=GRS80",
                src_bbox=(-12.0, 38.0, 12.0, 47.0), accuracy=0.05,
                name="regional-grid"),
            candidate("+proj=geogoffset +dlon=1800 +dlat=900 +ellps=GRS80",
                      accuracy=2.0, name="global-fallback"),
        ])
        u = dispatch_udf(disp)
        return c.withColumn("s", u(F.col("lon"), F.col("lat"))).select(
            "c_custkey",
            "region",
            F.round(F.col("s.x"), 9).alias("lon_out"),
            F.round(F.col("s.y"), 9).alias("lat_out"),
        )

    q["crs_dispatch_mixed"] = crs_dispatch_mixed

    def epsg_dispatch_ed50(spark, sf):
        """REGISTRY-driven per-point dispatch (sources.epsg_ops): ED50 ->
        WGS84 resolved from the bundled EPSG operation tables into ~25
        ranked Helmert candidates; an Iberia/Gibraltar point window makes
        several regional ops AND the ballpark reachable. Oracle: the same
        static selection order as a SQL CASE whose branches are full
        cart -> helmert -> cart^-1 mirrors, plus three INDEPENDENT anchor
        rows (keys -1/-2/-3): fixed points whose winning operation was
        derived BY HAND from the published registry data — each sits in
        exactly one candidate's area of use at the best accuracy tier
        (Gibraltar -> EPSG:1629 @1.0m, Portugal -> EPSG:1989 @1.0m,
        central Spain -> EPSG:1633 @1.5m, no pseudo-area tie-break
        involved) — so the oracle does not share the engine's
        selection-order encoding for them; their expected outputs are
        hard-coded literals in the SQL."""
        from proj_spark.functions import dispatch_udf
        from proj_spark.sources.epsg_ops import crs_to_crs_epsg_dispatch

        c = _t(spark, sf, "customer")
        k = F.col("c_custkey")
        c = c.select(
            "c_custkey",
            (((k * 9973) % 500) / 100.0 - 9.5).alias("lon"),   # [-9.5,-4.5)
            (((k * 7919) % 710) / 100.0 + 34.9).alias("lat"),  # [34.9,42.0)
        )
        kt = c.schema["c_custkey"].dataType
        anchors = spark.createDataFrame(
            [(-1, -5.35, 36.10), (-2, -8.00, 38.00), (-3, -3.00, 40.00)],
            "c_custkey long, lon double, lat double",
        ).select(F.col("c_custkey").cast(kt), "lon", "lat")
        c = c.unionByName(anchors)
        u = dispatch_udf(crs_to_crs_epsg_dispatch("EPSG:4230", "EPSG:4326"))
        return c.withColumn("s", u(F.col("lon"), F.col("lat"))).select(
            "c_custkey",
            F.round(F.col("s.x"), 7).alias("lon_out"),
            F.round(F.col("s.y"), 7).alias("lat_out"),
        )

    q["epsg_dispatch_ed50"] = epsg_dispatch_ed50

    def pivot_etrf89_mgi(spark, sf):
        """Intermediate-CRS pivot search (round 5): ETRF89 (EPSG:9059) ->
        MGI (EPSG:4312) has NO direct registry op and NO WGS84-hub leg —
        ETRF89's only published connection is its ETRS89 datum-ensemble
        membership — so the planner composes 'ETRS89 to ETRF89 (ensemble
        null, 0.1 m)' + the INVERSE of a published 'MGI to ETRS89 (n)'
        Helmert through the ETRS89 pivot, accuracies summed (1.1 / 1.6 m)
        and areas intersected (reference coordinateoperationfactory.cpp
        :1986 findsOpsInRegistryWithIntermediate, :761
        createOperationsWithDatumPivot). Points across a lon [9,18) x
        lat [46,49) window split three ways: eastern-Austria points take
        EPSG:1024 (9607 coordinate frame, acc 1.1), the rest of Austria
        EPSG:1619 (9606 position vector, acc 1.6), out-of-Austria the
        ballpark. Oracle: static-selection-order SQL CASE of
        cart -> helmert-INVERSE -> cart^-1 mirrors, plus three anchors
        whose winning operation AND outputs were derived by an
        independent numpy formulation (Hirvonen-Moritz iteration,
        explicit matrix transpose), hard-coded as literals."""
        from proj_spark.functions import dispatch_udf
        from proj_spark.sources.epsg_ops import crs_to_crs_epsg_dispatch

        c = _t(spark, sf, "customer")
        k = F.col("c_custkey")
        c = c.select(
            "c_custkey",
            (((k * 9973) % 900) / 100.0 + 9.0).alias("lon"),   # [9.0,18.0)
            (((k * 7919) % 300) / 100.0 + 46.0).alias("lat"),  # [46.0,49.0)
        )
        kt = c.schema["c_custkey"].dataType
        anchors = spark.createDataFrame(
            [(-1, 16.0, 47.5), (-2, 10.0, 47.0), (-3, 17.5, 48.5)],
            "c_custkey long, lon double, lat double",
        ).select(F.col("c_custkey").cast(kt), "lon", "lat")
        c = c.unionByName(anchors)
        u = dispatch_udf(crs_to_crs_epsg_dispatch("EPSG:9059", "EPSG:4312"))
        return c.withColumn("s", u(F.col("lon"), F.col("lat"))).select(
            "c_custkey",
            F.round(F.col("s.x"), 7).alias("lon_out"),
            F.round(F.col("s.y"), 7).alias("lat_out"),
        )

    q["pivot_etrf89_mgi"] = pivot_etrf89_mgi

    def kinematic_itrf_gda2020(spark, sf):
        """Time-dependent Helmert from the REGISTRY (round-4): ITRF2014 ->
        GDA2020 resolves to EPSG:8049 (method 1056, rate columns + 2020.0
        reference epoch, published between the geocentric CRSs — the datum
        bridge in sources.epsg_ops). Points carry per-row coordinate
        epochs 2013.0-2020.0; the kernel propagates the rotation rates to
        each epoch (reference src/transformations/helmert.cpp:102-160,
        anchored by test/gie/GDA.gie:66-75 at 40 um). Oracle: the same
        linear propagation + small-angle matrix in SQL
        (oracles.emit_helmert_kinematic_fwd)."""
        from proj_spark.functions import transform4d_udf
        from proj_spark.sources.epsg_ops import candidate_operations

        cand = next(c for c in candidate_operations("EPSG:9000", "EPSG:7844")
                    if "EPSG:8049" in c.name)
        o = _t(spark, sf, "orders")
        k = F.col("o_orderkey")
        o = o.select(
            "o_orderkey",
            (((k * 9973) % 4000) / 100.0 + 113.0).alias("lon"),   # [113,153)
            (((k * 7919) % 3200) / 100.0 - 43.0).alias("lat"),    # [-43,-11)
            (((k % 15) * 0.5) + 2013.0).alias("epoch"),
        )
        u = transform4d_udf(cand.pipeline.spec)
        return o.withColumn(
            "g", u(F.col("lon"), F.col("lat"), F.lit(0.0), F.col("epoch"))
        ).select(
            "o_orderkey",
            F.round(F.col("g.x"), 7).alias("lon_gda"),
            F.round(F.col("g.y"), 7).alias("lat_gda"),
        )

    q["kinematic_itrf_gda2020"] = kinematic_itrf_gda2020

    def concat_mgi_ferro(spark, sf):
        """Multi-step CONCATENATED operation from the registry (round-4):
        MGI (Ferro) -> WGS 84 resolves to EPSG:3896 — a published 2-step
        chain (9601 longitude rotation EPSG:3895, then position-vector
        Helmert EPSG:1618) walked from concatenated_operation(_step).sql
        exactly as the reference's createOperations does (reference
        src/iso19111/operation/coordinateoperationfactory.cpp). Oracle:
        the same dlon offset + cart -> helmert -> cart^-1 chain in SQL,
        params read from the SAME registry rows."""
        from proj_spark.functions import transform_udf
        from proj_spark.sources.epsg_ops import candidate_operations

        cand = next(c for c in candidate_operations("EPSG:4805",
                                                    "EPSG:4326")
                    if "EPSG:3896" in c.name)
        o = _t(spark, sf, "orders")
        k = F.col("o_orderkey")
        o = o.select(
            "o_orderkey",
            # Austria in Ferro-referenced longitudes (~27.2..34.5 E)
            (((k * 9973) % 700) / 100.0 + 27.2).alias("lon"),
            (((k * 7919) % 260) / 100.0 + 46.5).alias("lat"),
        )
        u = transform_udf(cand.pipeline.spec)
        return o.withColumn(
            "g", u(F.col("lon"), F.col("lat"))
        ).select(
            "o_orderkey",
            F.round(F.col("g.x"), 9).alias("lon_wgs"),
            F.round(F.col("g.y"), 9).alias("lat_wgs"),
        )

    q["concat_mgi_ferro"] = concat_mgi_ferro

    def compound_vgrid_synth(spark, sf):
        """Compound-CRS vertical resolution (round-4): the EPSG:9707-style
        'horizontal + geoid height' spec (sources.epsg compound_crs ->
        +geoidgrids lowering) with the registry grid swapped for the
        synthetic formula GTX, run orthometric -> ellipsoidal. Exercises
        the geoidgrids datum hook + GTX bilinear kernel under a hard SQL
        oracle (h_ell = H + N, N mirrored bilinearly)."""
        import re as _re

        from proj_spark.functions import transform3d_udf
        from proj_spark.sources.epsg import epsg_to_proj

        spec = epsg_to_proj("9707")   # WGS 84 + EGM96 height
        assert "+geoidgrids=" in spec
        spec = _re.sub(r"\+geoidgrids=\S+",
                       f"+geoidgrids={_synth_gtx_path()}", spec)
        c = _t(spark, sf, "customer")
        k = F.col("c_custkey")
        c = c.select(
            "c_custkey",
            (((k * 9973) % 960) / 100.0 + 0.2).alias("lon"),
            (((k * 7919) % 440) / 100.0 + 40.3).alias("lat"),
            ((k % 500) / 10.0).alias("h_orth"),
        )
        u = transform3d_udf(spec, direction="inv")
        return c.withColumn(
            "g", u(F.col("lon"), F.col("lat"), F.col("h_orth"))
        ).select(
            "c_custkey",
            F.round(F.col("g.x"), 9).alias("lon_out"),
            F.round(F.col("g.y"), 9).alias("lat_out"),
            F.round(F.col("g.z"), 6).alias("h_ell"),
        )

    q["compound_vgrid_synth"] = compound_vgrid_synth

    def crs_text_inputs_webmerc(spark, sf):
        """Round-4 CRS text readers graded end-to-end: the ESRI .prj
        spelling (sources.wkt ESRI dialect — Mercator_Auxiliary_Sphere,
        GCS_/D_ naming) and the PROJJSON spelling (sources.projjson) of
        web mercator are lowered and executed by the engine kernel side
        by side. Oracle: the spherical-mercator closed form for BOTH
        column pairs — a mislowering in either reader hash-mismatches."""
        from proj_spark.functions import transform_udf
        from proj_spark.sources.projjson import projjson_to_proj
        from proj_spark.sources.wkt import wkt_to_proj

        esri = (
            'PROJCS["WGS_1984_Web_Mercator_Auxiliary_Sphere",'
            'GEOGCS["GCS_WGS_1984",DATUM["D_WGS_1984",'
            'SPHEROID["WGS_1984",6378137.0,298.257223563]],'
            'PRIMEM["Greenwich",0.0],UNIT["Degree",0.0174532925199433]],'
            'PROJECTION["Mercator_Auxiliary_Sphere"],'
            'PARAMETER["False_Easting",0.0],'
            'PARAMETER["False_Northing",0.0],'
            'PARAMETER["Central_Meridian",0.0],'
            'PARAMETER["Standard_Parallel_1",0.0],'
            'PARAMETER["Auxiliary_Sphere_Type",0.0],UNIT["Meter",1.0]]')
        pj = {
            "type": "ProjectedCRS", "name": "WGS 84 / Pseudo-Mercator",
            "base_crs": {
                "type": "GeographicCRS", "name": "WGS 84",
                "datum": {"type": "GeodeticReferenceFrame",
                          "name": "World Geodetic System 1984",
                          "ellipsoid": {"name": "WGS 84",
                                        "semi_major_axis": 6378137,
                                        "inverse_flattening": 298.257223563}},
            },
            "conversion": {
                "name": "Popular Visualisation Pseudo-Mercator",
                "method": {"name": "Popular Visualisation Pseudo Mercator",
                           "id": {"authority": "EPSG", "code": 1024}},
                "parameters": [
                    {"name": "Longitude of natural origin", "value": 0,
                     "unit": "degree",
                     "id": {"authority": "EPSG", "code": 8802}},
                    {"name": "False easting", "value": 0, "unit": "metre",
                     "id": {"authority": "EPSG", "code": 8806}},
                    {"name": "False northing", "value": 0, "unit": "metre",
                     "id": {"authority": "EPSG", "code": 8807}},
                ],
            },
        }
        ue = transform_udf(wkt_to_proj(esri))
        uj = transform_udf(projjson_to_proj(pj))
        o = _pts(_t(spark, sf, "orders"), "o_orderkey", "o_custkey")
        return o.select(
            "o_orderkey", "lon", "lat",
            ue(F.col("lon"), F.col("lat")).alias("e"),
            uj(F.col("lon"), F.col("lat")).alias("j"),
        ).select(
            "o_orderkey",
            F.round(F.col("e.x"), 3).alias("wx_esri"),
            F.round(F.col("e.y"), 3).alias("wy_esri"),
            F.round(F.col("j.x"), 3).alias("wx_json"),
            F.round(F.col("j.y"), 3).alias("wy_json"),
        )

    q["crs_text_inputs_webmerc"] = crs_text_inputs_webmerc

    def geod_vincenty_pairs(spark, sf):
        """Ellipsoidal geodesic distance + azimuths between derived point
        pairs. Oracle: recursive-CTE mirror of the same lambda iteration
        (proj_spark.oracles.vincenty_inverse_sql). Converged rows only —
        near-antipodal non-convergence carries no accuracy guarantee on
        either side. 0.1 m / 1e-6 deg rounding absorbs the <=1e-13-rad
        freeze-window mismatch between engines."""
        from proj_spark.functions import geod_inverse_udf

        o = _pts(_t(spark, sf, "orders"), "o_orderkey", "o_custkey").filter(
            F.col("o_orderkey") % 3 == 0
        )
        o = o.withColumn("lon2", ((F.col("o_orderkey") * 7919) % 36000) / 100.0 - 180.0)
        o = o.withColumn("lat2", ((F.col("o_orderkey") * 104729) % 17000) / 100.0 - 85.0)
        g = geod_inverse_udf()
        return o.withColumn(
            "g", g(F.col("lon"), F.col("lat"), F.col("lon2"), F.col("lat2"))
        ).filter(~F.isnan(F.col("g.s12"))).select(
            "o_orderkey",
            F.round(F.col("g.s12"), 1).alias("s12"),
            F.round(F.col("g.azi1"), 6).alias("azi1"),
        )

    q["geod_vincenty_pairs"] = geod_vincenty_pairs

    def geod_karney_pairs(spark, sf):
        """Karney geodesic inverse over the reference's own embedded
        GeographicLib test geodesics (reference src/tests/geodtest.c:43,
        data-only extract tests/fixtures/geodtest_cases.json) — includes
        pairs where Vincenty diverges. Oracle: the published expected
        s12/azi1/azi2/m12/M12 values as literals, both sides rounded well
        clear of any boundary (verified margins >= 0.018 ulp-of-rounding)."""
        import json
        import pathlib

        from proj_spark.functions import geod_karney_udf

        cases = json.load(open(
            pathlib.Path(__file__).parent
            / "tests" / "fixtures" / "geodtest_cases.json"))
        rows = [(i, c[0], c[1], c[3], c[4]) for i, c in enumerate(cases)]
        df = spark.createDataFrame(
            rows, "case_id int, lat1 double, lon1 double, "
                  "lat2 double, lon2 double")
        g = geod_karney_udf()
        return df.withColumn(
            "g", g(F.col("lon1"), F.col("lat1"), F.col("lon2"),
                   F.col("lat2"))
        ).select(
            "case_id",
            F.round(F.col("g.s12"), 4).alias("s12"),
            F.round(F.col("g.azi1"), 8).alias("azi1"),
            F.round(F.col("g.azi2"), 8).alias("azi2"),
            F.round(F.col("g.m12"), 4).alias("m12"),
            F.round(F.col("g.gscale"), 10).alias("bigm12"),
        )

    q["geod_karney_pairs"] = geod_karney_pairs

    def geod_polygon_areas(spark, sf):
        """Ellipsoidal polygon area (Karney C4 series) over pole-to-equator
        lune triangles whose exact areas are area0 * w/720 by symmetry —
        mathematically derivable anchors, independent of our code. Also a
        clockwise ring (sign flip) and an antimeridian-crossing ring
        (greater-than-zero sanity bound, exact value asserted in pytest)."""
        from proj_spark.functions import polygon_area_udf

        rings = [
            (0, [0.0, 0.0, 90.0, 0.0, 0.0, 90.0], 90.0),    # octant CCW
            (1, [0.0, 0.0, 45.0, 0.0, 0.0, 90.0], 45.0),    # 45-deg lune
            (2, [0.0, 0.0, 30.0, 0.0, 0.0, 90.0], 30.0),    # 30-deg lune
            (3, [0.0, 0.0, 0.0, 90.0, 90.0, 0.0], -90.0),   # octant CW
            (4, [0.0, 0.0, 60.0, 0.0, 0.0, -90.0], -60.0),  # south, CW walk
        ]
        df = spark.createDataFrame(
            [(i, r) for i, r, _ in rings],
            "ring_id int, ring array<double>")
        u = polygon_area_udf()
        return df.withColumn("g", u(F.col("ring"))).select(
            "ring_id", F.round(F.col("g.area"), 0).alias("area_m2"))

    q["geod_polygon_areas"] = geod_polygon_areas

    def proj_factors_utm(spark, sf):
        """Tissot distortion of UTM zone 32 at derived points (rows-only)."""
        from pyspark.sql.functions import pandas_udf

        from proj_spark.plans.factors import factors

        o = _pts(_t(spark, sf, "orders"), "o_orderkey", "o_custkey")
        o = o.withColumn("lon", (F.col("lon") % 6) + 6.0).withColumn(
            "lat", (F.col("lat") % 60) - 30.0
        )
        # keep the h=0.1 finite-difference stencil inside the projection
        # domain: |lat| beyond 90 is an invalid coordinate (reference
        # fwd_prepare, mirrored by the engine since round 4), so a point
        # at -89.99 would NaN its lat-h evaluation
        o = o.withColumn("lat", F.greatest(F.col("lat"), F.lit(-89.7)))

        # h=0.1 deg: large enough that finite-difference noise amplification
        # (1/2h) keeps cross-engine libm ulps below 2e-10 in k (measured);
        # truncation error is identical on both sides because the oracle
        # mirrors the same central-difference formula, not the analytic
        # scale factor.  Emit integer-quantized values (floor(x*q + 0.5) as
        # bigint) so the compare is immune to HALF_UP-vs-HALF_EVEN rounding
        # and float-repr hashing differences between engines; measured
        # expected cross-engine flip count at q=1e5 is 2e-4 over 15k rows.
        @pandas_udf("k double, omega double, conv double")
        def _fac(lon: pd.Series, lat: pd.Series) -> pd.DataFrame:
            out = factors("+proj=utm +zone=32 +ellps=WGS84",
                          lon.to_numpy(), lat.to_numpy(), h=0.1)
            return pd.DataFrame(
                {"k": out["k"], "omega": out["omega"], "conv": out["conv"]}
            )

        return o.withColumn("f", _fac(F.col("lon"), F.col("lat"))).select(
            "o_orderkey",
            F.floor(F.col("f.k") * 100000.0 + 0.5).cast("long").alias("k_q5"),
            F.floor(F.col("f.conv") * 1000.0 + 0.5).cast("long").alias("conv_q3"),
        )

    q["proj_factors_utm"] = proj_factors_utm

    def knn_images_cellgrid(spark, sf):
        from proj_spark.functions import lonlat_udf
        from proj_spark.operators.knn import knn_join
        from proj_spark.sources.synth import images_df

        imgs = images_df(spark, 3000)
        pts = imgs.withColumn("c", lonlat_udf()("phash")).select(
            F.col("image_id").alias("qid"), F.col("c.lon").alias("lon"),
            F.col("c.lat").alias("lat"),
        )
        nat = _pts(_t(spark, sf, "nation"), "n_nationkey", "n_nationkey").select(
            F.col("n_nationkey").cast("long").alias("rid"),
            F.col("lon").alias("rlon"), F.col("lat").alias("rlat"),
        )
        out = knn_join(
            pts, nat, 2, q_id="qid", q_lon="lon", q_lat="lat",
            r_id="rid", r_lon="rlon", r_lat="rlat", cell_deg=30.0, rounds=2,
        )
        return out.select("qid", "rid", F.round("dist_m", 3).alias("dist_m"), "rank")

    q["knn_images_cellgrid"] = knn_images_cellgrid

    return q


# ---------------------------------------------------------------------------
# oracles
# ---------------------------------------------------------------------------

def oracle_sql() -> dict[str, str]:
    pts_o = _pts_sql("o_orderkey", "o_custkey")
    pts_c = _pts_sql("c_custkey", "c_custkey")
    pts_n = _pts_sql("n_nationkey", "n_nationkey")
    pts_e = _pts_sql("event_id", "user_id")

    # shared tile expressions (zoom z): clamped lat, floor arithmetic
    def tx(z: int) -> str:
        return f"CAST(least(greatest(floor((lon + 180)/360*{1 << z}), 0), {(1 << z) - 1}) AS BIGINT)"

    def ty(z: int) -> str:
        clat = "least(greatest(lat, -85.05112877980659), 85.05112877980659)"
        return (
            f"CAST(least(greatest(floor((1 - ln(tan(radians({clat})) + "
            f"1/cos(radians({clat})))/pi())/2*{1 << z}), 0), {(1 << z) - 1}) AS BIGINT)"
        )

    hav = (
        "2 * 6371000.0 * asin(sqrt("
        "pow(sin(radians(rlat - lat)/2), 2) + "
        "cos(radians(lat)) * cos(radians(rlat)) * pow(sin(radians(rlon - lon)/2), 2)))"
    )

    boxes_values = ", ".join(
        f"({i}, {a!r}, {b!r}, {c!r}, {d!r})" for i, a, b, c, d in BOXES
    )

    # minhash permutation columns
    from proj_spark.operators.dedup import _MINHASH_A, _MINHASH_B

    mh_mins = ", ".join(
        f"min((h * {_MINHASH_A[i]} + {_MINHASH_B[i]}) % 18446744073709551616::HUGEINT) AS u{i}"
        for i in range(8)
    )
    mh_cast = ", ".join(
        f"CAST(CASE WHEN u{i} >= 9223372036854775808::HUGEINT "
        f"THEN u{i} - 18446744073709551616::HUGEINT ELSE u{i} END AS BIGINT) AS m{i}"
        for i in range(8)
    )

    # splitmix64 in SQL (UBIGINT xor/shift + HUGEINT modular multiply) —
    # regenerates sources.synth.images_df's phash column from the row index
    # so synth-image queries get a hard oracle without registering the table.
    M64 = 1 << 64

    def mulmod(z: str, c: int) -> str:
        """(z * c) mod 2^64 without INT128 overflow: split z into 32-bit
        halves so every intermediate stays under 2^97."""
        return (
            f"((({z} % 4294967296)::HUGEINT * {c} + "
            f"(((({z} >> 32)::HUGEINT * {c}) % 4294967296) * 4294967296)) % {M64})::UBIGINT"
        )

    def splitmix_cte(n: int) -> str:
        return f"""
            ids AS (SELECT range AS i FROM range(0, {n})),
            s0 AS (SELECT i, ((i::HUGEINT + {0x9E3779B97F4A7C15}) % {M64})::UBIGINT AS z FROM ids),
            s1 AS (SELECT i, {mulmod('xor(z, z >> 30)', 0xBF58476D1CE4E5B9)} AS z FROM s0),
            s2 AS (SELECT i, {mulmod('xor(z, z >> 27)', 0x94D049BB133111EB)} AS z FROM s1),
            ph AS (SELECT i, xor(z, z >> 31) AS ph FROM s2)
        """

    # SimHash: first-8-bytes-of-md5 token hash (with multiplicity), per-bit
    # sign vote, bit set where the vote is positive (dedup.simhash64).
    simhash_cte = r"""
            stoks AS (
              SELECT doc_id, unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS t
              FROM documents WHERE length(trim(text)) > 0),
            sth AS (SELECT doc_id, ('0x' || substr(md5(t), 1, 16))::UBIGINT AS h FROM stoks),
            sbits AS (
              SELECT doc_id, b.i,
                     CASE WHEN ((h >> b.i::UBIGINT) & 1) = 1 THEN 1 ELSE -1 END AS c
              FROM sth, (SELECT range AS i FROM range(64)) b),
            sacc AS (SELECT doc_id, i, sum(c) AS s FROM sbits GROUP BY doc_id, i),
            spos AS (SELECT doc_id, sum(CASE WHEN s > 0 THEN (1::HUGEINT << i) ELSE 0 END) AS acc
                     FROM sacc GROUP BY doc_id),
            ssim AS (
              SELECT d.doc_id, coalesce(p.acc, 0)::UBIGINT AS sim
              FROM documents d LEFT JOIN spos p ON d.doc_id = p.doc_id)
    """

    # hgridshift_synth: bilinear interpolation mirrored in SQL. Constants
    # are the PARSED grid's values (post .gsb double roundtrip), inlined at
    # full precision; node values are the float32-exact formula.
    from proj_spark.sources.ntv2 import parse_gsb

    sg = parse_gsb(_synth_gsb_path())[0]

    def node(which: str, ip: str, il: str) -> str:
        mul = (31, 17) if which == "lat" else (13, 29)
        return (
            f"CAST(CAST((({ip}) * {mul[0]} + ({il}) * {mul[1]}) % 200 - 100 AS DOUBLE)"
            f" / 1024.0 AS FLOAT)::DOUBLE * (pi()/180.0/3600.0)"
        )

    def node32(which: str, ip: str, il: str) -> str:
        return f"CAST({node(which, ip, il)} AS FLOAT)::DOUBLE"

    def bilin(which: str) -> str:
        return (
            f"(1-fl)*(1-fp)*{node32(which, 'ip', 'il')} "
            f"+ fl*(1-fp)*{node32(which, 'ip', 'il + 1')} "
            f"+ (1-fl)*fp*{node32(which, 'ip + 1', 'il')} "
            f"+ fl*fp*{node32(which, 'ip + 1', 'il + 1')}"
        )

    hgrid_synth_sql = f"""
        WITH p AS (
          SELECT c_custkey,
                 ((c_custkey * 9973) % 760)/100.0 + 1.2 AS lon,
                 ((c_custkey * 7919) % 380)/100.0 + 40.6 AS lat
          FROM customer),
        g AS (SELECT c_custkey, radians(lon) AS lam, radians(lat) AS phi FROM p),
        t AS (SELECT c_custkey, lam, phi,
                     (lam - {sg.west!r}) / {sg.resx!r} AS tl,
                     (phi - {sg.south!r}) / {sg.resy!r} AS tp
              FROM g),
        fr AS (SELECT c_custkey, lam, phi,
                      CAST(floor(tl) AS BIGINT) AS il, CAST(floor(tp) AS BIGINT) AS ip,
                      tl - floor(tl) AS fl, tp - floor(tp) AS fp
               FROM t)
        SELECT c_custkey,
               round(degrees(lam + ({bilin('lon')})), 9) AS lon_sh,
               round(degrees(phi + ({bilin('lat')})), 9) AS lat_sh
        FROM fr
    """

    # crs_dispatch_mixed: the per-point candidate dispatch split as a SQL
    # CASE — region 0 points take the grid candidate (same bilinear mirror
    # as hgridshift_synth), regions 1 (bbox-hit retry) and 2 (bbox miss)
    # take the geogoffset fallback, mirrored in the kernel's exact radian
    # arithmetic (pipeline.py GeogoffsetStep: x*DEG2RAD + 1800*SEC2RAD).
    _goff = ("degrees(radians({c}) + {a} * (pi() / 648000.0))")
    dispatch_sql = f"""
        WITH p0 AS (
          SELECT c_custkey, CAST(c_custkey % 3 AS BIGINT) AS region,
                 ((c_custkey * 9973) % 760)/100.0 + 1.2 AS blon,
                 ((c_custkey * 7919) % 380)/100.0 + 40.6 AS lat
          FROM customer),
        p AS (
          SELECT c_custkey, region,
                 CASE WHEN region = 0 THEN blon
                      WHEN region = 1 THEN blon - 12.0
                      ELSE blon + 100.0 END AS lon, lat
          FROM p0),
        g AS (SELECT c_custkey, region, lon, lat,
                     radians(lon) AS lam, radians(lat) AS phi FROM p),
        t AS (SELECT *, (lam - {sg.west!r}) / {sg.resx!r} AS tl,
                     (phi - {sg.south!r}) / {sg.resy!r} AS tp
              FROM g),
        fr AS (SELECT *, CAST(floor(tl) AS BIGINT) AS il,
                      CAST(floor(tp) AS BIGINT) AS ip,
                      tl - floor(tl) AS fl, tp - floor(tp) AS fp
               FROM t)
        SELECT c_custkey, region,
               round(CASE WHEN region = 0
                     THEN degrees(lam + ({bilin('lon')}))
                     ELSE {_goff.format(c='lon', a='1800.0')} END, 9)
                 AS lon_out,
               round(CASE WHEN region = 0
                     THEN degrees(phi + ({bilin('lat')}))
                     ELSE {_goff.format(c='lat', a='900.0')} END, 9)
                 AS lat_out
        FROM fr
        UNION ALL
        -- independent anchors: expected outputs derived from the
        -- published synth-node formula + geogoffset arithmetic alone
        -- (numpy one-off, no engine code), literals not via the CASE
        SELECT * FROM (VALUES
          (CAST(-1 AS BIGINT), CAST(0 AS BIGINT), 5.25001709, 42.250004883),
          (CAST(-2 AS BIGINT), CAST(1 AS BIGINT), -9.5, 42.25),
          (CAST(-3 AS BIGINT), CAST(2 AS BIGINT), 105.5, 42.25)
        ) AS a(c_custkey, region, lon_out, lat_out)
    """

    # image_features_synth: regenerate the fmt='raw' gradient pixels from
    # splitmix64(i) and aggregate channel stats per image (two-pass std to
    # mirror numpy's mean-then-moments evaluation).
    image_features_sql = f"""
        WITH {splitmix_cte(2000)},
        dims AS (SELECT i, ph, 16 + (i % 5) * 16 AS w, 16 + (i % 7) * 16 AS h FROM ph),
        px AS (SELECT d.i, d.ph, d.w, d.h, x, y
               FROM dims d, UNNEST(range(0, d.w)) AS tx(x), UNNEST(range(0, d.h)) AS ty(y)),
        ch AS (SELECT i, w, h,
                 ((ph % 256)::BIGINT + 3*x + y) % 256 AS r,
                 (((ph >> 8) % 256)::BIGINT + x + 5*y) % 256 AS g,
                 (((ph >> 16) % 256)::BIGINT + 2*x + 7*y) % 256 AS b
               FROM px),
        gr AS (SELECT i, w, h, r, (r + g + b)/3.0 AS gray FROM ch),
        mu AS (SELECT i, any_value(w) AS w, any_value(h) AS h,
                      avg(r) AS mean_r, avg(gray) AS mug
               FROM gr GROUP BY i),
        st AS (SELECT g2.i, sqrt(avg((g2.gray - mu.mug)*(g2.gray - mu.mug))) AS std
               FROM gr g2 JOIN mu ON g2.i = mu.i GROUP BY g2.i)
        SELECT 'img' || lpad(mu.i::VARCHAR, 12, '0') AS image_id,
               round(mu.mean_r, 4) AS mean_r, round(st.std, 4) AS std_gray,
               round(mu.w::DOUBLE / mu.h, 4) AS aspect
        FROM mu JOIN st ON mu.i = st.i
    """

    # images_curation: regenerate pixels AND captions from the synth
    # recipe for the 1200-image base (the 300 'dup' rows share i<300's
    # pixels/phash, so features are computed once per i and the dup side
    # enters only as copies=2 in the candidate count; the min-image_id
    # canonicalization keeps exactly one row per phash either way).
    images_curation_sql = f"""
        WITH {splitmix_cte(1200)},
        dims AS (SELECT i, ph, 16 + (i % 5) * 16 AS w, 16 + (i % 7) * 16 AS h FROM ph),
        px AS (SELECT d.i, d.ph, d.w, d.h, x, y
               FROM dims d, UNNEST(range(0, d.w)) AS tx(x), UNNEST(range(0, d.h)) AS ty(y)),
        ch AS (SELECT i, w, h,
                 ((ph % 256)::BIGINT + 3*x + y) % 256 AS r,
                 (((ph >> 8) % 256)::BIGINT + x + 5*y) % 256 AS g,
                 (((ph >> 16) % 256)::BIGINT + 2*x + 7*y) % 256 AS b
               FROM px),
        gr AS (SELECT i, w, h, r, (r + g + b)/3.0 AS gray FROM ch),
        mu AS (SELECT i, any_value(w) AS w, any_value(h) AS h,
                      avg(r) AS mean_r, avg(gray) AS mug
               FROM gr GROUP BY i),
        st AS (SELECT g2.i, sqrt(avg((g2.gray - mu.mug)*(g2.gray - mu.mug))) AS std
               FROM gr g2 JOIN mu ON g2.i = mu.i GROUP BY g2.i),
        feat AS (SELECT mu.i, mu.w, mu.h, mu.mean_r, st.std
                 FROM mu JOIN st ON mu.i = st.i),
        gated AS (SELECT *, CASE WHEN i < 300 THEN 2 ELSE 1 END AS copies
                  FROM feat
                  WHERE std >= 36.0 AND mean_r >= 100.0 AND mean_r <= 160.0
                    AND (i % 8) NOT IN (6, 7))
        SELECT w::BIGINT AS w, h::BIGINT AS h,
               sum(copies)::BIGINT AS n_candidates,
               count(*)::BIGINT AS n_images,
               round(avg(std), 4) AS avg_contrast,
               round(avg(mean_r), 4) AS avg_r
        FROM gated GROUP BY w, h
    """

    # --- series-kernel mirrors (proj_spark.oracles unrolls the numpy
    # evaluation order into layered CTEs) ---
    import math as _math

    from proj_spark import oracles as OR
    from proj_spark.crs import ELLIPSOIDS
    from proj_spark.kernels.tmerc import setup_exact

    wgs84 = ELLIPSOIDS["WGS84"]
    grs80 = ELLIPSOIDS["GRS80"]
    utmC = setup_exact(wgs84, k0=0.9996, phi0=0.0)

    # utm_project_poder: per-point zone -> lam -> Poder/Engsager forward
    utm_cols: list[tuple[str, str]] = []
    utm_cols.append(("zone", "least(greatest(floor((lonr + pi()) * 30.0 / pi()), 0), 59)"))
    utm_cols.append(("lam", "lonr - ((zone + 0.5) * pi() / 30.0 - pi())"))
    ux, uy = OR.emit_tmerc_exact_fwd(utm_cols, utmC, "lam", "phi")
    utm_poder_sql = OR.chain_sql(
        f"SELECT o_orderkey, lat, radians(lon) AS lonr, radians(lat) AS phi "
        f"FROM (SELECT o_orderkey, {pts_o} FROM orders)",
        utm_cols,
        f"SELECT o_orderkey, round({wgs84.a!r} * {ux} + 500000.0, 2) AS utm_x, "
        f"round({wgs84.a!r} * {uy} + CASE WHEN lat < 0 THEN 10000000.0 ELSE 0.0 END, 2) AS utm_y",
    )

    # gda_helmert_pipeline: cart fwd -> 7-param helmert -> cart inv
    from proj_spark.kernels.helmert import from_params as helmert_from_params

    gdaC = helmert_from_params({
        "x": "0.06155", "y": "-0.01087", "z": "-0.04019",
        "rx": "-0.0394924", "ry": "-0.0327221", "rz": "-0.0328979",
        "s": "-0.009994", "convention": "coordinate_frame",
    })
    g_cols: list[tuple[str, str]] = []
    cX, cY, cZ = OR.emit_cart_fwd(g_cols, grs80, "lam", "phi", "0.0")
    hX, hY, hZ = OR.emit_helmert_fwd(g_cols, gdaC, cX, cY, cZ)
    olam, ophi, _oh = OR.emit_cart_inv(g_cols, grs80, hX, hY, hZ)
    gda_sql = OR.chain_sql(
        f"SELECT o_orderkey, radians(lon) AS lam, radians(lat) AS phi "
        f"FROM (SELECT o_orderkey, {pts_o} FROM orders)",
        g_cols,
        f"SELECT o_orderkey, round(degrees({olam}), 7) AS lon2020, "
        f"round(degrees({ophi}), 7) AS lat2020",
    )

    # proj_factors_utm: four tmerc evaluations (zone 32) + the identical
    # central-difference algebra (plans.factors)
    fh = 0.1
    lam0_32 = _math.radians(9.0)
    f_cols: list[tuple[str, str]] = []
    for tag, dlon, dlat in (("e", fh, 0.0), ("w", -fh, 0.0),
                            ("n", 0.0, fh), ("s", 0.0, -fh)):
        f_cols.append((f"lam_{tag}", f"radians(lon + {dlon!r}) - {lam0_32!r}"))
        f_cols.append((f"phi_{tag}", f"radians(lat + {dlat!r})"))
        fx, fy = OR.emit_tmerc_exact_fwd(f_cols, utmC, f"lam_{tag}", f"phi_{tag}",
                                         pfx=f"t{tag}")
        f_cols.append((f"x_{tag}", f"{wgs84.a!r} * {fx} + 500000.0"))
        f_cols.append((f"y_{tag}", f"{wgs84.a!r} * {fy}"))
    dh_lit = repr(2.0 * fh * (_math.pi / 180.0))
    f_cols.append(("x_l", f"(x_e - x_w) / {dh_lit}"))
    f_cols.append(("y_l", f"(y_e - y_w) / {dh_lit}"))
    f_cols.append(("x_p", f"(x_n - x_s) / {dh_lit}"))
    f_cols.append(("y_p", f"(y_n - y_s) / {dh_lit}"))
    f_cols.append(("fsin", "sin(radians(lat))"))
    f_cols.append(("fcos", "cos(radians(lat))"))
    f_cols.append(("ft", f"1.0 - {wgs84.es!r} * fsin * fsin"))
    f_cols.append(("fN", f"{wgs84.a!r} / sqrt(ft)"))
    f_cols.append(("fk", "sqrt(x_l * x_l + y_l * y_l) / (fN * fcos)"))
    f_cols.append(("fconv", "-degrees(atan2(x_p, y_p))"))
    # Spark's Double % is truncated (sign of dividend, C fmod); DuckDB's
    # fmod() is floored (sign of divisor) — shift negative results back.
    def cfmod(x: str, m: float) -> str:
        return (f"CASE WHEN {x} < 0 AND fmod({x}, {m}) != 0 "
                f"THEN fmod({x}, {m}) - {m} ELSE fmod({x}, {m}) END")

    factors_sql = OR.chain_sql(
        f"SELECT o_orderkey, lon2 AS lon, lat2 AS lat FROM ("
        f"SELECT o_orderkey, {cfmod('lon', 6)} + 6.0 AS lon2, "
        f"greatest({cfmod('lat', 60)} - 30.0, -89.7) AS lat2 "
        f"FROM (SELECT o_orderkey, {pts_o} FROM orders))",
        f_cols,
        "SELECT o_orderkey, "
        "CAST(floor(fk * 100000.0 + 0.5) AS BIGINT) AS k_q5, "
        "CAST(floor(fconv * 1000.0 + 0.5) AS BIGINT) AS conv_q3",
    )

    # kinematic_itrf_gda2020: cart fwd -> 14-param helmert propagated to
    # the per-row epoch -> cart inv, params from the SAME registry row
    # (EPSG:8049) the Spark side resolves
    from proj_spark.sources.epsg_ops import candidate_operations as _cops

    _kin = next(c for c in _cops("EPSG:9000", "EPSG:7844")
                if "EPSG:8049" in c.name)
    _km = _kin.meta
    kinC = helmert_from_params({
        "x": repr(_km["tx"]), "y": repr(_km["ty"]), "z": repr(_km["tz"]),
        "rx": repr(_km["rx"]), "ry": repr(_km["ry"]), "rz": repr(_km["rz"]),
        "s": repr(_km["ds"]),
        "dx": repr(_km["dtx"]), "dy": repr(_km["dty"]), "dz": repr(_km["dtz"]),
        "drx": repr(_km["drx"]), "dry": repr(_km["dry"]),
        "drz": repr(_km["drz"]), "ds": repr(_km["dds"]),
        "t_epoch": repr(_km["t_epoch"]),
        "convention": "coordinate_frame",
    })
    k_cols: list[tuple[str, str]] = []
    kX, kY, kZ = OR.emit_cart_fwd(k_cols, grs80, "lam", "phi", "0.0", pfx="kc")
    khX, khY, khZ = OR.emit_helmert_kinematic_fwd(k_cols, kinC, kX, kY, kZ,
                                                  "epoch")
    klam, kphi, _kh = OR.emit_cart_inv(k_cols, grs80, khX, khY, khZ, pfx="ki")
    kin_sql = OR.chain_sql(
        "SELECT o_orderkey, "
        "radians(((o_orderkey * 9973) % 4000)/100.0 + 113.0) AS lam, "
        "radians(((o_orderkey * 7919) % 3200)/100.0 - 43.0) AS phi, "
        "((o_orderkey % 15) * 0.5) + 2013.0 AS epoch "
        "FROM orders",
        k_cols,
        f"SELECT o_orderkey, round(degrees({klam}), 7) AS lon_gda, "
        f"round(degrees({kphi}), 7) AS lat_gda",
    )

    # concat_mgi_ferro: the registry's published 2-step chain (EPSG:3896 =
    # 9601 longitude rotation EPSG:3895, then position-vector Helmert
    # EPSG:1618) mirrored step by step — geogoffset radian arithmetic
    # (lam + dlon_arcsec * pi/648000) then cart(bessel) -> helmert ->
    # cart^-1(WGS84), params read from the SAME registry rows
    from proj_spark.crs import ELLIPSOIDS as _ELL0
    from proj_spark.sources.epsg_ops import candidate_operations as _cops2

    _mg = next(c for c in _cops2("EPSG:4805", "EPSG:4326")
               if "EPSG:3896" in c.name)
    _moff = _mg.meta["steps"][0][0]
    _mhel = _mg.meta["steps"][1][0]
    assert _moff["kind"] == "offset" and _mhel["kind"] == "helmert"
    _mhp = {"x": repr(_mhel["tx"]), "y": repr(_mhel["ty"]),
            "z": repr(_mhel["tz"])}
    if "rx" in _mhel:
        _mhp.update(rx=repr(_mhel["rx"]), ry=repr(_mhel["ry"]),
                    rz=repr(_mhel["rz"]), s=repr(_mhel["ds"]),
                    convention=("coordinate_frame"
                                if _mhel["method"] == "9607"
                                else "position_vector"))
    mgC = helmert_from_params(_mhp)
    m_cols: list[tuple[str, str]] = []
    m_cols.append(("lam2", f"lam + {_moff['dlon']!r} * (pi()/648000.0)"))
    m_cols.append(("phi2", f"phi + {_moff['dlat']!r} * (pi()/648000.0)"))
    mX, mY, mZ = OR.emit_cart_fwd(m_cols, _ELL0["bessel"], "lam2", "phi2",
                                  "0.0", pfx="mc")
    mhX, mhY, mhZ = OR.emit_helmert_fwd(m_cols, mgC, mX, mY, mZ, pfx="mh")
    mlam, mphi, _mh2 = OR.emit_cart_inv(m_cols, wgs84, mhX, mhY, mhZ,
                                        pfx="mi")
    concat_sql = OR.chain_sql(
        "SELECT o_orderkey, "
        "radians(((o_orderkey * 9973) % 700)/100.0 + 27.2) AS lam, "
        "radians(((o_orderkey * 7919) % 260)/100.0 + 46.5) AS phi "
        "FROM orders",
        m_cols,
        f"SELECT o_orderkey, round(degrees({mlam}), 9) AS lon_wgs, "
        f"round(degrees({mphi}), 9) AS lat_wgs",
    )

    # compound_vgrid_synth: h_ell = H + N with N bilinear over the
    # float32-exact formula GTX nodes (((iy*37 + ix*23) % 400 - 200)/8 m),
    # grid header literals read from the same file the engine loads;
    # lon/lat pass through unchanged
    from proj_spark.sources.gtx import parse_gtx as _parse_gtx

    _vg = _parse_gtx(_synth_gtx_path())[0]

    def _gnode(ip: str, il: str) -> str:
        return (f"CAST(CAST((({ip}) * 37 + ({il}) * 23) % 400 - 200 "
                f"AS DOUBLE) / 8.0 AS FLOAT)::DOUBLE")

    _gbilin = (
        f"(1-fl)*(1-fp)*{_gnode('ip', 'il')} "
        f"+ fl*(1-fp)*{_gnode('ip', 'il + 1')} "
        f"+ (1-fl)*fp*{_gnode('ip + 1', 'il')} "
        f"+ fl*fp*{_gnode('ip + 1', 'il + 1')}"
    )
    compound_sql = f"""
        WITH p AS (
          SELECT c_custkey,
                 ((c_custkey * 9973) % 960)/100.0 + 0.2 AS lon,
                 ((c_custkey * 7919) % 440)/100.0 + 40.3 AS lat,
                 (c_custkey % 500)/10.0 AS h_orth
          FROM customer),
        t AS (SELECT c_custkey, lon, lat, h_orth,
                     (radians(lon) - {_vg.west!r}) / {_vg.resx!r} AS tl,
                     (radians(lat) - {_vg.south!r}) / {_vg.resy!r} AS tp
              FROM p),
        fr AS (SELECT c_custkey, lon, lat, h_orth,
                      CAST(floor(tl) AS BIGINT) AS il,
                      CAST(floor(tp) AS BIGINT) AS ip,
                      tl - floor(tl) AS fl, tp - floor(tp) AS fp
               FROM t)
        SELECT c_custkey,
               round(lon, 9) AS lon_out,
               round(lat, 9) AS lat_out,
               round(h_orth + ({_gbilin}), 6) AS h_ell
        FROM fr
    """

    # epsg_dispatch_ed50: the registry candidate list in its static
    # selection order (accuracy, then pseudo-area) as a SQL CASE; branches
    # emitted only for candidates whose area of use intersects the query
    # window (others can never match a window point, and both sides use
    # the same candidate_operations() builder, so the lists agree). Each
    # branch is a full cart -> helmert -> cart^-1 mirror; the ELSE is the
    # ballpark passthrough. Helmert ops never return NaN, so the dispatch
    # retry path cannot fire and single-pass selection == CASE.
    from proj_spark.crs import ELLIPSOIDS as _ELL
    from proj_spark.kernels.helmert import from_params as helmert_from_params
    from proj_spark.sources.epsg_ops import crs_to_crs_epsg_dispatch as _ctd

    _ed = _ctd("EPSG:4230", "EPSG:4326")
    _win = (-9.5, 34.9, -4.51, 42.0)
    _intl = _ELL["intl"]

    def _isect(b):
        return (b is None or (b[0] <= _win[2] and b[2] >= _win[0]
                              and b[1] <= _win[3] and b[3] >= _win[1]))

    _reach = [
        _ed.candidates[i] for i in _ed.order
        if _ed.candidates[i].name != "ballpark"
        and _isect(_ed.candidates[i].src_bbox)
    ]
    e_cols: list[tuple[str, str]] = []
    _conds, _lams, _phis = [], [], []
    for j, cdn in enumerate(_reach):
        m = cdn.meta
        assert m is not None and not m["inverse"] and m["kind"] == "helmert"
        hp = {"x": repr(m["tx"]), "y": repr(m["ty"]), "z": repr(m["tz"])}
        if "rx" in m:
            hp.update(rx=repr(m["rx"]), ry=repr(m["ry"]), rz=repr(m["rz"]),
                      s=repr(m["ds"]))
            hp["convention"] = ("coordinate_frame" if m["method"] == "9607"
                                else "position_vector")
        hC = helmert_from_params(hp)
        cX, cY, cZ = OR.emit_cart_fwd(e_cols, _intl, "lam", "phi", "0.0",
                                      pfx=f"e{j}f")
        hX, hY, hZ = OR.emit_helmert_fwd(e_cols, hC, cX, cY, cZ, pfx=f"e{j}h")
        olam, ophi, _oh2 = OR.emit_cart_inv(e_cols, wgs84, hX, hY, hZ,
                                            pfx=f"e{j}i")
        w, s_, e_, n_ = cdn.src_bbox
        _conds.append(f"(lon >= {w!r} AND lon <= {e_!r} "
                      f"AND lat >= {s_!r} AND lat <= {n_!r})")
        _lams.append(olam)
        _phis.append(ophi)

    def _case(exprs, fallback):
        branches = " ".join(
            f"WHEN {c} THEN {x}" for c, x in zip(_conds, exprs))
        return f"CASE {branches} ELSE {fallback} END"

    ed50_sql = OR.chain_sql(
        "SELECT c_custkey, lon, lat, radians(lon) AS lam, radians(lat) AS phi "
        "FROM (SELECT c_custkey, "
        "((c_custkey * 9973) % 500)/100.0 - 9.5 AS lon, "
        "((c_custkey * 7919) % 710)/100.0 + 34.9 AS lat "
        "FROM customer)",
        e_cols,
        f"SELECT c_custkey, "
        f"round(degrees({_case(_lams, 'lam')}), 7) AS lon_out, "
        f"round(degrees({_case(_phis, 'phi')}), 7) AS lat_out",
    ) + (
        # independent anchor rows: selection derived by hand from the
        # registry (one containing candidate at the best accuracy tier
        # each — 1629 Gibraltar, 1989 Portugal, 1633 Spain), expected
        # outputs as literals, NOT via the shared CASE encoding
        " UNION ALL SELECT * FROM (VALUES "
        "(CAST(-1 AS BIGINT), -5.3512973, 36.0986573), "
        "(CAST(-2 AS BIGINT), -8.0013725, 37.9988184), "
        "(CAST(-3 AS BIGINT), -3.0012836, 39.9988116)"
        ") AS a(c_custkey, lon_out, lat_out)"
    )


    # pivot_etrf89_mgi: the ETRS89-pivoted candidate list in static
    # selection order as a SQL CASE. The ensemble-null leg is the
    # identity; each branch mirrors cart(GRS80) -> helmert INVERSE
    # (transpose path, emit_helmert_inv) -> cart^-1(Bessel). Candidate
    # metadata comes from the leg-2 op row in by_code (the composed
    # candidates carry the leg codes in their names); anchors are
    # independent literals (keys -1/-2/-3).
    import re as _re

    from proj_spark.sources.epsg_ops import _ops_by_crs as _obc

    _pv = _ctd("EPSG:9059", "EPSG:4312")
    _pwin = (9.0, 46.0, 18.0, 49.0)
    _grs80 = _ELL["GRS80"]
    _bessel = _ELL["bessel"]
    _by_code = _obc()["by_code"]

    def _pisect(b):
        return (b is None or (b[0] <= _pwin[2] and b[2] >= _pwin[0]
                              and b[1] <= _pwin[3] and b[3] >= _pwin[1]))

    _preach = [
        _pv.candidates[i] for i in _pv.order
        if _pv.candidates[i].name != "ballpark"
        and _pisect(_pv.candidates[i].src_bbox)
    ]
    p_cols: list[tuple[str, str]] = []
    _pconds, _plams, _pphis = [], [], []
    for j, cdn in enumerate(_preach):
        codes = _re.findall(r"EPSG\)?:([\w-]+) ", cdn.name + " ")
        assert len(codes) == 2 and "member" in codes[0], cdn.name
        m = _by_code[codes[1]]
        assert m["kind"] == "helmert" and "rx" in m
        hp = {"x": repr(m["tx"]), "y": repr(m["ty"]), "z": repr(m["tz"]),
              "rx": repr(m["rx"]), "ry": repr(m["ry"]), "rz": repr(m["rz"]),
              "s": repr(m["ds"]),
              "convention": ("coordinate_frame" if m["method"] == "9607"
                             else "position_vector")}
        hC = helmert_from_params(hp)
        cX, cY, cZ = OR.emit_cart_fwd(p_cols, _grs80, "lam", "phi", "0.0",
                                      pfx=f"p{j}f")
        hX, hY, hZ = OR.emit_helmert_inv(p_cols, hC, cX, cY, cZ,
                                         pfx=f"p{j}h")
        olam, ophi, _oh3 = OR.emit_cart_inv(p_cols, _bessel, hX, hY, hZ,
                                            pfx=f"p{j}i")
        w, s_, e_, n_ = cdn.src_bbox
        _pconds.append(f"(lon >= {w!r} AND lon <= {e_!r} "
                       f"AND lat >= {s_!r} AND lat <= {n_!r})")
        _plams.append(olam)
        _pphis.append(ophi)

    def _pcase(exprs, fallback):
        branches = " ".join(
            f"WHEN {c} THEN {x}" for c, x in zip(_pconds, exprs))
        return f"CASE {branches} ELSE {fallback} END"

    pivot_sql = OR.chain_sql(
        "SELECT c_custkey, lon, lat, radians(lon) AS lam, radians(lat) AS phi "
        "FROM (SELECT c_custkey, "
        "((c_custkey * 9973) % 900)/100.0 + 9.0 AS lon, "
        "((c_custkey * 7919) % 300)/100.0 + 46.0 AS lat "
        "FROM customer)",
        p_cols,
        f"SELECT c_custkey, "
        f"round(degrees({_pcase(_plams, 'lam')}), 7) AS lon_out, "
        f"round(degrees({_pcase(_pphis, 'phi')}), 7) AS lat_out",
    ) + (
        # independent anchors: winning candidate derived by hand from the
        # published extents/accuracies (16,47.5 -> EPSG:1024 eastern
        # Austria @1.1; 10,47 -> EPSG:1619 Austria @1.6; 17.5,48.5 ->
        # outside both -> ballpark); outputs from an independent numpy
        # formulation, NOT the shared CASE encoding
        " UNION ALL SELECT * FROM (VALUES "
        "(CAST(-1 AS BIGINT), 16.0011081, 47.5004331), "
        "(CAST(-2 AS BIGINT), 10.0002524, 47.0005564), "
        "(CAST(-3 AS BIGINT), 17.5, 48.5)"
        ") AS a(c_custkey, lon_out, lat_out)"
    )

    # geod_vincenty_pairs: recursive-CTE lambda iteration mirror
    from proj_spark.kernels.geodesic import setup_vincenty

    vinC = setup_vincenty(wgs84)
    vincenty_sql = OR.vincenty_inverse_sql(
        vinC,
        f"SELECT o_orderkey, lon AS lon1, lat AS lat1, "
        f"((o_orderkey * 7919) % 36000)/100.0 - 180.0 AS lon2, "
        f"((o_orderkey * 104729) % 17000)/100.0 - 85.0 AS lat2 "
        f"FROM (SELECT o_orderkey, {pts_o} FROM orders) "
        f"WHERE o_orderkey % 3 = 0",
        "o_orderkey",
        "SELECT o_orderkey, round(s12, 1) AS s12, round(azi1, 6) AS azi1 "
        "FROM fin WHERE done",
    )

    s2_sql = OR.s2_cell_sql(
        10,
        f"SELECT o_orderkey, {pts_o} FROM orders",
        "o_orderkey",
    )

    # geod_karney_pairs: published GeographicLib expected values as literal
    # anchor rows (reference src/tests/geodtest.c:43-75 test table)
    import json as _json
    import pathlib as _pathlib

    _cases = _json.load(open(
        _pathlib.Path(__file__).parent
        / "tests" / "fixtures" / "geodtest_cases.json"))
    _karney_rows = ", ".join(
        f"({i}, {round(c[6], 4)!r}, {round(c[2], 8)!r}, "
        f"{round(c[5], 8)!r}, {round(c[8], 4)!r}, {round(c[9], 10)!r})"
        for i, c in enumerate(_cases))
    karney_sql = (
        "SELECT CAST(case_id AS INT) AS case_id, "
        "CAST(s12 AS DOUBLE) AS s12, CAST(azi1 AS DOUBLE) AS azi1, "
        "CAST(azi2 AS DOUBLE) AS azi2, CAST(m12 AS DOUBLE) AS m12, "
        "CAST(bigm12 AS DOUBLE) AS bigm12 FROM (VALUES "
        + _karney_rows
        + ") AS t(case_id, s12, azi1, azi2, m12, bigm12)")

    # geod_polygon_areas: lune areas are exactly area0 * w/720 (symmetry of
    # the ellipsoid of revolution) — derivable independently of the engine
    import math as _math

    from proj_spark.kernels.karney import authalic_c2 as _c2f
    from proj_spark.kernels.karney import geod_consts as _gc

    _area0 = 4.0 * _math.pi * _c2f(_gc(wgs84.a, wgs84.f))
    _lunes = ", ".join(
        f"({i}, {round(_area0 * w / 720.0, 0)!r})"
        for i, w in [(0, 90.0), (1, 45.0), (2, 30.0), (3, -90.0),
                     (4, -60.0)])
    polygon_area_sql = (
        "SELECT CAST(ring_id AS INT) AS ring_id, "
        "CAST(area_m2 AS DOUBLE) AS area_m2 "
        f"FROM (VALUES {_lunes}) AS t(ring_id, area_m2)")

    # hgridshift_ntv2: the reference corpus' published expected coordinates
    _ntv2_rows = ", ".join(
        f"({i}, {round(e[0], 9)!r}, {round(e[1], 9)!r})"
        for i, (_a, e, _s, _i) in enumerate(_ntv2_anchor_cases()))
    ntv2_sql = (
        "SELECT CAST(case_id AS INT) AS case_id, "
        "CAST(lon_out AS DOUBLE) AS lon_out, "
        "CAST(lat_out AS DOUBLE) AS lat_out "
        f"FROM (VALUES {_ntv2_rows}) AS t(case_id, lon_out, lat_out)")

    return {
        "s2_cells_l10": s2_sql,
        "geod_vincenty_pairs": vincenty_sql,
        "geod_karney_pairs": karney_sql,
        "geod_polygon_areas": polygon_area_sql,
        "hgridshift_ntv2": ntv2_sql,
        "utm_project_poder": utm_poder_sql,
        "gda_helmert_pipeline": gda_sql,
        "proj_factors_utm": factors_sql,
        "hgridshift_synth": hgrid_synth_sql,
        "crs_dispatch_mixed": dispatch_sql,
        "epsg_dispatch_ed50": ed50_sql,
        "pivot_etrf89_mgi": pivot_sql,
        "kinematic_itrf_gda2020": kin_sql,
        "concat_mgi_ferro": concat_sql,
        "compound_vgrid_synth": compound_sql,
        "crs_text_inputs_webmerc": f"""
            WITH p AS (SELECT o_orderkey, {pts_o} FROM orders),
            m AS (SELECT o_orderkey,
                         round(radians(lon) * 6378137.0, 3) AS wx,
                         round(ln(tan(pi()/4.0 + radians(lat)/2.0))
                               * 6378137.0, 3) AS wy
                  FROM p)
            SELECT o_orderkey, wx AS wx_esri, wy AS wy_esri,
                   wx AS wx_json, wy AS wy_json
            FROM m
        """,
        "iau_mars_pipeline": f"""
            WITH p AS (SELECT o_orderkey, {pts_o} FROM orders)
            SELECT o_orderkey,
                   round(radians(lon) * 3396190.0, 3) AS mx,
                   round(radians(lat) * 3396190.0, 3) AS my,
                   round(-lon, 9) AS wlon,
                   round(degrees(atan(tan(radians(lat)) /
                         (1.0 - (1.0 - (3376200.0/3396190.0) *
                                       (3376200.0/3396190.0))))), 9) AS glat
            FROM p
        """,
        "image_features_synth": image_features_sql,
        "images_curation": images_curation_sql,
        "knn_images_cellgrid": f"""
            WITH {splitmix_cte(3000)},
            q AS (SELECT 'img' || lpad(i::VARCHAR, 12, '0') AS qid,
                         -180.0 + (ph % 4294967296)::DOUBLE / 4294967296 * 360.0 AS lon,
                         degrees(asin(least(greatest(
                             2.0 * ((ph >> 32)::DOUBLE / 4294967296) - 1.0, -1.0), 1.0))) AS lat
                  FROM ph),
            r AS (SELECT CAST(n_nationkey AS BIGINT) AS rid, lon AS rlon, lat AS rlat
                  FROM (SELECT n_nationkey, {pts_n} FROM nation)),
            d AS (SELECT qid, rid, {hav} AS dist_m FROM q CROSS JOIN r),
            ranked AS (SELECT qid, rid, dist_m,
                              row_number() OVER (PARTITION BY qid ORDER BY dist_m ASC, rid ASC) AS rank
                       FROM d)
            SELECT qid, rid, round(dist_m, 3) AS dist_m, CAST(rank AS INT) AS rank
            FROM ranked WHERE rank <= 2
        """,
        "minhash_lsh_pairs_docs": rf"""
            WITH toks AS (
              SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS t
              FROM documents
              WHERE len(regexp_split_to_array(trim(text), '\s+')) >= 3),
            sh AS (
              SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS s
              FROM toks, UNNEST(range(1, len(t) - 1)) AS r(i)),
            hs AS (
              SELECT doc_id, ('0x' || substr(md5(s), 1, 16))::UBIGINT::HUGEINT AS h
              FROM sh),
            mins AS (SELECT doc_id, {mh_mins} FROM hs GROUP BY doc_id),
            cand AS (
              SELECT a.doc_id AS id_a, b.doc_id AS id_b
              FROM mins a JOIN mins b ON a.doc_id < b.doc_id AND (
                   (a.u0 = b.u0 AND a.u1 = b.u1) OR (a.u2 = b.u2 AND a.u3 = b.u3)
                OR (a.u4 = b.u4 AND a.u5 = b.u5) OR (a.u6 = b.u6 AND a.u7 = b.u7))),
            sz AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
            inter AS (
              SELECT c.id_a, c.id_b, count(*) AS c
              FROM cand c JOIN sh a ON a.doc_id = c.id_a
                          JOIN sh b ON b.doc_id = c.id_b AND a.s = b.s
              GROUP BY c.id_a, c.id_b)
            SELECT id_a, id_b,
                   round(CAST(c AS DOUBLE) / (sa.sz + sb.sz - c), 4) AS jaccard
            FROM inter
            JOIN sz sa ON sa.doc_id = id_a
            JOIN sz sb ON sb.doc_id = id_b
            WHERE CAST(c AS DOUBLE) / (sa.sz + sb.sz - c) >= 0.5
        """,
        "simhash_pairs_docs": f"""
            WITH {simhash_cte}
            SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                   CAST(bit_count(xor(a.sim, b.sim)) AS INT) AS hamming
            FROM ssim a JOIN ssim b ON a.doc_id < b.doc_id
            WHERE bit_count(xor(a.sim, b.sim)) <= 3
        """,
        "doc_fingerprints": f"""
            WITH RECURSIVE fnv(doc_id, pos, n, h) AS (
              SELECT doc_id, 0, length(text), {0xCBF29CE484222325}::UBIGINT
              FROM documents
              UNION ALL
              SELECT f.doc_id, f.pos + 1, f.n,
                     ((xor(f.h, unicode(substr(d.text, f.pos + 1, 1))::UBIGINT)::HUGEINT
                       * {0x100000001B3}) % {M64})::UBIGINT
              FROM fnv f JOIN documents d ON d.doc_id = f.doc_id
              WHERE f.pos < f.n)
            SELECT doc_id,
                   CAST(CASE WHEN h >= {1 << 63}::UBIGINT
                        THEN h::HUGEINT - {M64} ELSE h::HUGEINT END AS BIGINT) AS fp
            FROM fnv WHERE pos = n
        """,
        "tile_assign_z8": f"""
            WITH p AS (SELECT {pts_o} FROM orders)
            SELECT {tx(8)} AS tx, {ty(8)} AS ty, count(*) AS n
            FROM p GROUP BY tx, ty
        """,
        "utm_zone_hist": f"""
            WITH p AS (SELECT {pts_o} FROM orders)
            SELECT CAST(least(greatest(floor(((lon - floor((lon + 180)/360)*360) + 180)/6), 0), 59) AS BIGINT) + 1 AS zone,
                   count(*) AS n
            FROM p GROUP BY zone
        """,
        "webmerc_project": f"""
            WITH p AS (SELECT o_orderkey, {pts_o} FROM orders)
            SELECT o_orderkey,
                   round(radians(lon) * 6378137.0, 3) AS wx,
                   round(ln(tan(radians(least(greatest(lat, -85.05112877980659), 85.05112877980659)))
                         + 1/cos(radians(least(greatest(lat, -85.05112877980659), 85.05112877980659))))
                         * 6378137.0, 3) AS wy
            FROM p
        """,
        "bbox_pip_join": f"""
            WITH p AS (SELECT c_custkey, {pts_c} FROM customer),
                 b(box_id, min_lon, min_lat, max_lon, max_lat) AS (VALUES {boxes_values})
            SELECT c_custkey AS pt_id, box_id
            FROM p JOIN b ON lon >= min_lon AND lon <= max_lon
                         AND lat >= min_lat AND lat <= max_lat
        """,
        "pip_raycast_join": f"""
            WITH p AS (SELECT c_custkey, {pts_c} FROM customer)
            SELECT c_custkey AS pt_id, polygon_id
            FROM p JOIN {_edges_sql()}
              ON ((e.y1 > p.lat) != (e.y2 > p.lat))
             AND (p.lon < (e.x2 - e.x1) * (p.lat - e.y1) / nullif(e.y2 - e.y1, 0) + e.x1)
            GROUP BY pt_id, polygon_id
            HAVING count(*) % 2 = 1
        """,
        "knn_nation_k3": f"""
            WITH q AS (SELECT c_custkey AS qid, {pts_c} FROM customer),
                 r AS (SELECT CAST(n_nationkey AS BIGINT) AS rid,
                              lon AS rlon, lat AS rlat
                       FROM (SELECT n_nationkey, {pts_n} FROM nation)),
                 d AS (SELECT qid, rid, {hav} AS dist_m FROM q CROSS JOIN r),
                 ranked AS (SELECT qid, rid, dist_m,
                                   row_number() OVER (PARTITION BY qid ORDER BY dist_m ASC, rid ASC) AS rank
                            FROM d)
            SELECT qid, rid, round(dist_m, 3) AS dist_m, rank
            FROM ranked WHERE rank <= 3
        """,
        "events_daily_tiles": f"""
            WITH p AS (SELECT ts, value, {pts_e} FROM events)
            SELECT CAST(ts AS DATE) AS day, {tx(6)} AS tx, {ty(6)} AS ty,
                   count(*) AS n, round(sum(value), 3) AS sum_value
            FROM p GROUP BY day, tx, ty
        """,
        "token_stats": r"""
            SELECT doc_id,
                   CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_tokens,
                   CAST(length(text) AS BIGINT) AS n_chars_actual,
                   round(length(regexp_replace(text, '\s+', '', 'g'))
                         / len(regexp_split_to_array(trim(text), '\s+')), 4) AS avg_tok_len
            FROM documents
        """,
        "text_quality": r"""
            WITH m AS (
              SELECT doc_id,
                     CAST(length(text) AS DOUBLE) AS n,
                     length(text) - length(regexp_replace(text, '[!-/:-@\[-`{-~]', '', 'g')) AS np,
                     length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS nd,
                     length(regexp_replace(text, '\s+', '', 'g'))
                       / len(regexp_split_to_array(trim(text), '\s+')) AS atl
              FROM documents)
            SELECT doc_id,
                   round(CASE WHEN n > 0 THEN np / n ELSE 0 END, 4) AS punct_ratio,
                   round(CASE WHEN n > 0 THEN nd / n ELSE 0 END, 4) AS digit_ratio,
                   round(0.4 * (CASE WHEN n >= 200 AND n <= 20000 THEN 1.0 WHEN n > 0 THEN 0.5 ELSE 0.0 END)
                       + 0.3 * (CASE WHEN atl >= 2.0 AND atl <= 12.0 THEN 1.0 ELSE 0.3 END)
                       + 0.3 * (CASE WHEN (CASE WHEN n > 0 THEN np / n ELSE 0 END)
                                        + (CASE WHEN n > 0 THEN nd / n ELSE 0 END) <= 0.2
                                THEN 1.0 ELSE 0.2 END), 4) AS quality
            FROM m
        """,
        "lang_id": rf"""
            WITH m AS (
              SELECT doc_id,
                     len(list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
                                     x -> x IN {_EN_SW_SQL})) AS hits,
                     len(regexp_split_to_array(lower(trim(text)), '\s+')) AS total
              FROM documents)
            SELECT doc_id,
                   round(hits / CAST(total AS DOUBLE), 4) AS stop_ratio,
                   CAST(hits / CAST(total AS DOUBLE) >= 0.05 AS BIGINT) AS is_en
            FROM m
        """,
        "exact_dedup_hashes": """
            SELECT md5(text) AS content_hash, count(*) AS n_dups,
                   min(doc_id) AS canonical_id
            FROM documents GROUP BY content_hash
        """,
        "minhash_sigs": rf"""
            WITH toks AS (
              SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS t
              FROM documents
              WHERE len(regexp_split_to_array(trim(text), '\s+')) >= 3),
            sh AS (
              SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS s
              FROM toks, UNNEST(range(1, len(t) - 1)) AS r(i)),
            hs AS (
              SELECT doc_id, ('0x' || substr(md5(s), 1, 16))::UBIGINT::HUGEINT AS h
              FROM sh),
            mins AS (SELECT doc_id, {mh_mins} FROM hs GROUP BY doc_id)
            SELECT doc_id, {mh_cast} FROM mins
        """,
        "ngram_jaccard": r"""
            WITH toks AS (
              SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS t
              FROM documents
              WHERE len(regexp_split_to_array(trim(text), '\s+')) >= 3),
            sh AS (
              SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS s
              FROM toks, UNNEST(range(1, len(t) - 1)) AS r(i)),
            sz AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
            inter AS (
              SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS c
              FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
              GROUP BY id_a, id_b)
            SELECT id_a, id_b,
                   round(CAST(c AS DOUBLE) / (sa.sz + sb.sz - c), 4) AS jaccard
            FROM inter
            JOIN sz sa ON sa.doc_id = id_a
            JOIN sz sb ON sb.doc_id = id_b
            WHERE CAST(c AS DOUBLE) / (sa.sz + sb.sz - c) >= 0.2
        """,
        "dedup_clusters": r"""
            WITH RECURSIVE toks AS (
              SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS t
              FROM documents
              WHERE len(regexp_split_to_array(trim(text), '\s+')) >= 3),
            sh AS (
              SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS s
              FROM toks, UNNEST(range(1, len(t) - 1)) AS r(i)),
            sz AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
            jp AS (
              SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS c
              FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
              GROUP BY id_a, id_b),
            pairs AS (
              SELECT id_a, id_b FROM jp
              JOIN sz sa ON sa.doc_id = id_a
              JOIN sz sb ON sb.doc_id = id_b
              WHERE CAST(c AS DOUBLE) / (sa.sz + sb.sz - c) >= 0.5),
            edges AS (
              SELECT id_a AS src, id_b AS dst FROM pairs
              UNION ALL SELECT id_b, id_a FROM pairs),
            reach(node, comp) AS (
              SELECT DISTINCT src, src FROM edges
              UNION
              SELECT e.dst, r.comp FROM reach r JOIN edges e ON e.src = r.node),
            lab AS (SELECT node AS doc_id, min(comp) AS cluster_id
                    FROM reach GROUP BY node),
            siz AS (SELECT cluster_id, count(*) AS cluster_size
                    FROM lab GROUP BY cluster_id)
            SELECT d.doc_id,
                   CAST(coalesce(l.cluster_id, d.doc_id) AS BIGINT) AS cluster_id,
                   CAST(coalesce(s.cluster_size, 1) AS BIGINT) AS cluster_size
            FROM documents d
            LEFT JOIN lab l ON l.doc_id = d.doc_id
            LEFT JOIN siz s ON s.cluster_id = l.cluster_id
        """,
        "corpus_curation": rf"""
            WITH RECURSIVE m AS (
              SELECT doc_id, text, source,
                     CAST(length(text) AS DOUBLE) AS n,
                     length(text) - length(regexp_replace(text, '[!-/:-@\[-`{{-~]', '', 'g')) AS np,
                     length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS nd,
                     length(regexp_replace(text, '\s+', '', 'g'))
                       / len(regexp_split_to_array(trim(text), '\s+')) AS atl,
                     len(list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
                                     x -> x IN {_EN_SW_SQL}))
                       / CAST(len(regexp_split_to_array(lower(trim(text)), '\s+')) AS DOUBLE) AS swr
              FROM documents),
            scored AS (
              SELECT doc_id, text, source,
                     0.4 * (CASE WHEN n >= 200 AND n <= 20000 THEN 1.0 WHEN n > 0 THEN 0.5 ELSE 0.0 END)
                   + 0.3 * (CASE WHEN atl >= 2.0 AND atl <= 12.0 THEN 1.0 ELSE 0.3 END)
                   + 0.3 * (CASE WHEN (CASE WHEN n > 0 THEN np / n ELSE 0 END)
                                    + (CASE WHEN n > 0 THEN nd / n ELSE 0 END) <= 0.2
                            THEN 1.0 ELSE 0.2 END) AS quality,
                     swr >= 0.05 AS is_en
              FROM m),
            keep1 AS (SELECT * FROM scored WHERE is_en AND quality >= 0.6),
            keep2 AS (
              SELECT * FROM (
                SELECT *, row_number() OVER (PARTITION BY md5(text)
                                             ORDER BY doc_id) AS rn
                FROM keep1) WHERE rn = 1),
            toks AS (
              SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS t
              FROM keep2
              WHERE len(regexp_split_to_array(trim(text), '\s+')) >= 3),
            sh AS (
              SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS s
              FROM toks, UNNEST(range(1, len(t) - 1)) AS r(i)),
            sz AS (SELECT doc_id, count(*) AS szv FROM sh GROUP BY doc_id),
            jp AS (
              SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS c
              FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
              GROUP BY id_a, id_b),
            pairs AS (
              SELECT id_a, id_b FROM jp
              JOIN sz sa ON sa.doc_id = id_a
              JOIN sz sb ON sb.doc_id = id_b
              WHERE CAST(c AS DOUBLE) / (sa.szv + sb.szv - c) >= 0.5),
            edges AS (
              SELECT id_a AS src, id_b AS dst FROM pairs
              UNION ALL SELECT id_b, id_a FROM pairs),
            reach(node, comp) AS (
              SELECT DISTINCT src, src FROM edges
              UNION
              SELECT e.dst, r.comp FROM reach r JOIN edges e ON e.src = r.node),
            lab AS (SELECT node AS doc_id, min(comp) AS cluster_id
                    FROM reach GROUP BY node),
            surv AS (
              SELECT k.source, k.quality FROM keep2 k
              LEFT JOIN lab l ON l.doc_id = k.doc_id
              WHERE coalesce(l.cluster_id, k.doc_id) = k.doc_id)
            SELECT source, count(*) AS n_docs,
                   round(avg(quality), 4) AS avg_quality
            FROM surv GROUP BY source
        """,
        "cosine_top3": """
            WITH n AS (
              SELECT vec_id, embedding::DOUBLE[] AS v,
                     sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
              FROM embeddings),
            pairs AS (
              SELECT a.vec_id AS qid, b.vec_id AS rid,
                     list_dot_product(a.v, b.v) / (a.nrm * b.nrm) AS cosine
              FROM n a CROSS JOIN n b WHERE a.vec_id != b.vec_id),
            ranked AS (
              SELECT qid, rid, cosine,
                     row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, rid ASC) AS rank
              FROM pairs)
            SELECT qid, rid, round(cosine, 6) AS cosine, rank
            FROM ranked WHERE rank <= 3
        """,
        # recall golden for the LSH scale tier: the Spark side emits this
        # row only if measured recall@3 of rhp_lsh_topk vs exact >= 0.9
        "cosine_topk_lsh": """
            SELECT 'recall_at_3_ge_0.9' AS metric, TRUE AS pass,
                   (SELECT count(*) FROM embeddings) AS n_vectors
        """,
        # recall golden for the IVF scale tier (same contract)
        "cosine_topk_ivf": """
            SELECT 'recall_at_3_ge_0.9' AS metric, TRUE AS pass,
                   (SELECT count(*) FROM embeddings) AS n_vectors
        """,
    }
