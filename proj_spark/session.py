"""SparkSession factory with scale-oriented defaults.

Tuned for the engine's workload shape: Arrow-batched pandas UDFs on wide
numeric columns, int64-key joins, AQE for runtime coalescing + skew-join
splitting. On a real cluster the same settings apply; only master/memory
change (spark-submit --py-files proj_spark.zip).
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile

from pyspark import SparkContext
from pyspark.sql import SparkSession

# the directory that contains the proj_spark package
_PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def get_spark(
    app_name: str = "proj-spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra: dict | None = None,
) -> SparkSession:
    # glibc malloc returns every >=128KB numpy temp to the OS by default
    # (mmap/munmap per vector op). Under tens of concurrent python workers
    # the resulting page-fault storm serializes in the kernel (measured:
    # 80% system time, 5x anti-scaling at local[32]). Raising the
    # thresholds keeps Arrow-batch-sized temps on the heap: faults drop to
    # zero after warmup and the kernel chain scales 8->32 procs at ~0.97
    # efficiency. Must be in the env BEFORE the JVM forks its python
    # workers, hence both os.environ and executorEnv.
    _malloc_env = {
        "MALLOC_MMAP_THRESHOLD_": "1073741824",
        "MALLOC_TRIM_THRESHOLD_": "1073741824",
    }
    for k, v in _malloc_env.items():
        os.environ.setdefault(k, v)

    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if shuffle_partitions is None:
        # ~2x cores locally; on a cluster this is sized to keep post-shuffle
        # partitions in the 64-256 MB band (AQE coalesces the excess)
        shuffle_partitions = max(2 * cores, 8)
    b = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.python.worker.reuse", "true")
    )
    for k, v in _malloc_env.items():
        b = b.config(f"spark.executorEnv.{k}", os.environ.get(k, v))
    # Every Python task re-reads pyspark.zip's directory 16 times inside
    # importlib.invalidate_caches() (~0.27 CPU-s per task, 97% of a small
    # task's worker time); the engine's daemon re-reads an archive only
    # when its bytes changed (see proj_spark/_daemon.py). The daemon also
    # imports pyarrow and the engine's numeric UDF modules (not pandas: those
    # UDFs are Arrow UDFs) and freezes that heap before it forks, so a reused
    # worker's gc.collect() after each task scans ~600 objects instead of
    # ~43k; a worker whose task imports more (pandas, for a pandas UDF)
    # collects and freezes again after that task. Workers
    # import the daemon, and the UDF closures, from the package root
    # shipped on their PYTHONPATH, so any working directory serves.
    # Sessions not built here (spark-submit --py-files runs) keep the stock
    # daemon: py-files reach the workers only after the daemon has started.
    pythonpath = os.pathsep.join(
        p for p in (_PACKAGE_ROOT, os.environ.get("PYTHONPATH")) if p)
    b = b.config("spark.executorEnv.PYTHONPATH", pythonpath)
    b = b.config("spark.python.daemon.module", "proj_spark._daemon")
    # Spark keys its Python worker factories by the workers' environment,
    # and SQL runners (pandas UDFs) add SPARK_SIMPLIFIED_TRACEBACK=1 where
    # Python-RDD runners (createDataFrame of a local list) do not. Setting
    # it for every worker lets one daemon and one worker pool serve both:
    # perfbench's dispatch job, which mixes the two, peaked at 2 daemons +
    # 8 workers (890 MB RSS) before and 1 daemon + 7 workers (738 MB)
    # after, on a 4-core host.
    b = b.config("spark.executorEnv.SPARK_SIMPLIFIED_TRACEBACK", "1")
    # Every JVM<->Python channel (daemon, workers, accumulator server,
    # local-data collect) runs over a Unix-domain socket. Over loopback TCP
    # each Python task paid a fixed stall whatever its size, which
    # TCP_NODELAY on the daemon's sockets did not move: on a 4-core host a
    # 1-row pandas identity UDF job took 85-96 ms over TCP and 49-68 ms
    # over UDS, a 3-row createDataFrame(list) to a noop sink 73-80 ms and
    # 31-37 ms (medians of 15 runs). See _socket_dir for where the sockets
    # live.
    b = b.config("spark.python.unix.domain.socket.enabled", "true")
    sock_dir = None
    if SparkContext._active_spark_context is None \
            and "spark.python.unix.domain.socket.dir" not in (extra or {}):
        sock_dir = _socket_dir()
        b = b.config("spark.python.unix.domain.socket.dir", sock_dir)
    for k, v in (extra or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    if sock_dir is not None:
        _remove_on_stop(spark.sparkContext, sock_dir)
    return spark


def _socket_dir() -> str:
    """A new private (0700) directory for the session's socket files.

    Spark names each socket ``<dir>/.<uuid4>.sock`` (the directory plus 42
    characters) and ``sun_path`` holds 107 bytes, while Spark's default
    directory, ``java.io.tmpdir``, may sit under a long checkout path. So
    the directory is made under ``/tmp``, whatever ``TMPDIR`` says. It is
    removed when the interpreter exits, if the session has not removed it
    when it stopped (``_remove_on_stop``)."""
    path = tempfile.mkdtemp(prefix="spark-uds-", dir="/tmp")
    atexit.register(shutil.rmtree, path, True)
    return path


def _remove_on_stop(sc: SparkContext, path: str) -> None:
    """Make ``sc.stop()`` (and so ``SparkSession.stop()``) remove ``path``
    once the context has stopped."""
    stop = sc.stop

    def stop_and_remove() -> None:
        stop()
        shutil.rmtree(path, ignore_errors=True)

    sc.stop = stop_and_remove
