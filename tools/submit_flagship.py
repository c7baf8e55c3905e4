"""spark-submit driver for the flagship spatial-join + tiling job.

This script is the app file for a ``--py-files proj_spark.zip`` run: it
imports ``proj_spark`` ONLY from what spark-submit put on sys.path (no
repo-checkout sys.path hack), builds the image+caption table at the
requested scale, runs the north-star pipeline (phash -> lon/lat ->
Helmert+UTM(Poder/Engsager)+LCC kernel chain -> S2 cells -> slippy
tiles -> cell-cover + ray-cast polygon join), and writes one JSON line
with the matched-row count and throughput.

  spark-submit --master local[8] --py-files dist/proj_spark.zip \
      --conf spark.python.unix.domain.socket.enabled=true \
      tools/submit_flagship.py --n-images 200000 --out /tmp/r.json

The Unix-domain-socket setting is the transport ``get_spark`` sessions use:
over loopback TCP each Python task pays a fixed stall (see README's
"per-task cost of Python UDFs"). Spark puts the socket files in
``spark.python.unix.domain.socket.dir``, or else ``java.io.tmpdir``; a
socket path holds at most 107 bytes, so name a short directory there when
the temp directory's path is long.

On a real cluster only --master changes; if the job also needs the EPSG
registry / grid data (this flagship does not — kernels are pure code),
deploy the data dir and set PROJ_SPARK_DATA (see tools/make_pyfiles_zip.py).
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--n-images", type=int, default=100_000)
    ap.add_argument("--out", default="-")
    ap.add_argument("--epsg-check", action="store_true",
                    help="also resolve EPSG:25832 from the registry "
                         "(requires PROJ_SPARK_DATA or a repo checkout)")
    args = ap.parse_args()

    # Provided by spark-submit; do NOT build a new session (cluster
    # deploy modes own the master/conf).
    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    spark = SparkSession.builder.appName("proj-spark-flagship").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    from proj_spark.functions import image_geo_full_udf, tile_x, tile_y
    from proj_spark.operators.spatial_join import spatial_join_fused
    from proj_spark.sources.synth import images_df, make_polygons

    imgs = images_df(spark, args.n_images).select("image_id", "caption", "phash")
    pts = (
        imgs.withColumn("g", image_geo_full_udf(level=10)("phash"))
        .select(
            "image_id", "caption",
            F.col("g.lon").alias("lon"), F.col("g.lat").alias("lat"),
            F.col("g.cell").alias("cell"),
        )
        .withColumn("tile_x", tile_x(F.col("lon"), 12))
        .withColumn("tile_y", tile_y(F.col("lat"), 12))
    )
    t0 = time.time()
    joined = spatial_join_fused(
        pts, make_polygons(64), level=8, cell_col="cell", cell_level=10)
    matched = joined.count()
    elapsed = time.time() - t0

    result = {
        "matched_rows": matched,
        "n_images": args.n_images,
        "elapsed_sec": round(elapsed, 3),
        "images_per_sec": round(args.n_images / elapsed, 1),
        "proj_spark_origin": sys.modules["proj_spark"].__file__,
        "schema": [f.name for f in joined.schema.fields],
    }
    if args.epsg_check:
        import math

        from proj_spark.plans.pipeline import compile_crs_to_crs

        p = compile_crs_to_crs("EPSG:4258", "EPSG:25832")
        # pipeline convention: angular lanes in radians (gie harness parity)
        x, y, _, _ = p.fwd([math.radians(12.0)], [math.radians(55.0)], None, None)
        result["epsg_25832_e_n"] = [round(float(x[0]), 4), round(float(y[0]), 4)]

    line = json.dumps(result)
    if args.out == "-":
        print(line)
    else:
        with open(args.out, "w") as fh:
            fh.write(line + "\n")
    spark.stop()


if __name__ == "__main__":
    main()
