"""Lineage manifest / checkpoint-resume tests."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from proj_spark import lineage
from proj_spark.functions import s2_cell_udf


def _points(spark, n=4000):
    key = F.col("id")
    df = spark.range(n).withColumn("lon", (key % 36000) / 100.0 - 180.0).withColumn(
        "lat", (key % 17000) / 100.0 - 85.0
    )
    # hotspot: 30% of rows piled onto one coordinate -> one megacell
    df = df.withColumn(
        "lon", F.when(F.col("id") % 10 < 3, F.lit(12.5)).otherwise(F.col("lon"))
    ).withColumn(
        "lat", F.when(F.col("id") % 10 < 3, F.lit(2.5)).otherwise(F.col("lat"))
    )
    return df.withColumn("cell", s2_cell_udf(8)(F.col("lon"), F.col("lat")))


def test_lineage_write_and_resume(spark, tmp_path):
    out = str(tmp_path / "out")
    pts = _points(spark, n=2000).select("id", "lon", "lat", "cell")

    r1 = lineage.write_with_manifests(pts, out, num_buckets=8)
    assert r1["written"] > 0 and r1["skipped"] == 0

    # resume: everything already done -> nothing rewritten
    r2 = lineage.write_with_manifests(pts, out, num_buckets=8)
    assert r2["written"] == 0
    assert r2["skipped"] == r1["written"]

    # written data is complete and the audit passes
    back = spark.read.parquet(os.path.join(out, "data"))
    assert back.count() == 2000
    audit = lineage.verify_manifests(spark, out)
    assert audit["ok"].all()


def test_lineage_crash_between_data_and_manifest_no_duplicates(spark, tmp_path):
    """Simulated crash: data landed but the manifest didn't. The resume pass
    re-selects those buckets and dynamic-partition-OVERWRITES them, so row
    counts stay exact (an append-based writer would double them)."""
    import shutil

    out = str(tmp_path / "out3")
    pts = _points(spark, n=2000).select("id", "lon", "lat", "cell")
    lineage.write_with_manifests(pts, out, num_buckets=8)
    # crash simulation: manifests lost after data write
    shutil.rmtree(os.path.join(out, "_manifests"))
    r = lineage.write_with_manifests(pts, out, num_buckets=8)
    assert r["skipped"] == 0  # nothing looked done
    back = spark.read.parquet(os.path.join(out, "data"))
    assert back.count() == 2000  # overwrite, not append: no duplication
    assert lineage.verify_manifests(spark, out)["ok"].all()


def test_lineage_partial_resume(spark, tmp_path):
    out = str(tmp_path / "out2")
    pts = _points(spark, n=2000).select("id", "lon", "lat", "cell")
    bucketed = lineage.assign_part_id(pts, 8)
    some = bucketed.filter(F.col("part_id") < 4).drop("part_id")

    lineage.write_with_manifests(some, out, num_buckets=8)
    r = lineage.write_with_manifests(pts, out, num_buckets=8)
    assert r["skipped"] >= 1 and r["written"] >= 1
    back = spark.read.parquet(os.path.join(out, "data"))
    assert back.count() == 2000  # no duplicates, no gaps
    assert lineage.verify_manifests(spark, out)["ok"].all()
