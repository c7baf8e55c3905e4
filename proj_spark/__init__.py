"""proj_spark — a PySpark-native spatial-join + tiling engine.

A from-scratch engine that reproduces the coordinate-transform semantics of
the PROJ library (reference: /root/reference) as vectorized numpy kernels
wrapped in Arrow UDFs that read and write Arrow buffers (no pandas in the
Python workers), fused with S2-style cell encoding, point-in-polygon joins,
kNN and raster-tile assignment over Spark DataFrames.

Design (Spark-first, not a port):
  * All per-point math lives in numpy kernels compiled driver-side into a
    frozen constants struct (the moral equivalent of PROJ's configured ``PJ``
    object, reference src/proj_internal.h:456) and closure-captured into ONE
    Arrow UDF per pipeline — steps are fused, no shuffle between them.
  * All relational glue (joins, aggregation, windows, partitioning) is plain
    DataFrame API so Catalyst/AQE handle pushdown, broadcast-vs-SMJ choice,
    and skew splitting.
  * Errors are in-band NaN, mirroring PROJ's HUGE_VAL convention
    (reference src/fwd.cpp:42-44).
"""

__version__ = "0.1.0"

from proj_spark.crs import Ellipsoid, ELLIPSOIDS  # noqa: F401
