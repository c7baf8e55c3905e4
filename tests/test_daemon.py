"""The engine's Python worker daemon (proj_spark/_daemon.py): workers run
the patched ``zipimporter.invalidate_caches``, an unchanged archive is not
re-read on invalidation, and a rewritten one is; workers inherit a frozen,
pre-imported heap, and that pre-import starts in a bare interpreter; a
worker that imports pandas for a pandas UDF freezes it after that task;
and the workers of the numeric UDFs never load pandas."""

from __future__ import annotations

import contextlib
import gc
import importlib
import os
import signal
import subprocess
import sys
import zipfile
import zipimport

import numpy as np
import pandas as pd
import pyarrow as pa
from test_session import _children, _cmdline

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _write_zip(path, files: dict) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name, src in files.items():
            z.writestr(name, src)


def test_session_ships_package_root_and_daemon(spark):
    conf = spark.sparkContext.getConf()
    assert conf.get("spark.executorEnv.PYTHONPATH").split(os.pathsep)[0] == ROOT
    assert conf.get("spark.python.daemon.module") == "proj_spark._daemon"


def test_workers_run_patched_invalidate_caches(spark):
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("string")
    def invalidate_impl(s: pd.Series) -> pd.Series:
        f = zipimport.zipimporter.invalidate_caches
        return pd.Series([f.__module__] * len(s))

    got = {r[0] for r in spark.range(4, numPartitions=2)
           .select(invalidate_impl("id")).collect()}
    assert got == {"proj_spark._daemon"}


def test_invalidate_rereads_only_changed_archive(tmp_path, monkeypatch):
    from proj_spark import _daemon

    arc = str(tmp_path / "lib.zip")
    _write_zip(arc, {"zdpkg/__init__.py": "", "zdpkg/a.py": "X = 1\n"})
    reads = []
    stock = zipimport.zipimporter.invalidate_caches

    def counting(self):
        if self.archive == arc:
            reads.append(self.prefix)
        stock(self)

    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", counting)
    monkeypatch.setattr(_daemon, "_read_stamps", {})
    monkeypatch.syspath_prepend(arc)
    _daemon.install()  # wraps the counting method: it is "the original"
    try:
        import zdpkg.a

        assert zdpkg.a.X == 1
        importers = [k for k, v in sys.path_importer_cache.items()
                     if isinstance(v, zipimport.zipimporter) and v.archive == arc]
        assert len(importers) == 2  # the archive root and zdpkg/

        importlib.invalidate_caches()
        assert len(reads) == 1  # first sight: one read, shared
        importlib.invalidate_caches()
        importlib.invalidate_caches()
        assert len(reads) == 1  # unchanged: no re-read

        _write_zip(arc, {"zdpkg/__init__.py": "", "zdpkg/a.py": "X = 1\n",
                         "zdpkg/b.py": "Y = 2\n"})
        importlib.invalidate_caches()
        assert len(reads) == 2
        import zdpkg.b

        assert zdpkg.b.Y == 2
    finally:
        for name in [m for m in sys.modules if m.split(".")[0] == "zdpkg"]:
            del sys.modules[name]
        for k in [k for k in sys.path_importer_cache if k.startswith(arc)]:
            del sys.path_importer_cache[k]


def _fresh_interpreter(code: str) -> str:
    env = dict(os.environ, PYTHONPATH=os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p))
    out = subprocess.run([sys.executable, "-c", code], cwd=ROOT, env=env,
                         capture_output=True, text=True, timeout=120)
    assert out.returncode == 0, out.stderr
    return out.stdout


def _bare_preload_freeze_count() -> int:
    """gc.get_freeze_count() after ``preload()`` in a bare interpreter,
    which must need no SparkContext and no JVM."""
    return int(_fresh_interpreter(
        "import gc\n"
        "from proj_spark import _daemon\n"
        "_daemon.preload()\n"
        "from pyspark import SparkContext\n"
        "assert SparkContext._gateway is None\n"
        "print(gc.get_freeze_count())\n").split()[-1])


def test_workers_inherit_frozen_heap(spark):
    """The daemon freezes its pre-imported heap before it forks, so a
    worker's per-task gc.collect() tracks only what was made after the
    fork: a tenth of the frozen objects at most. A pandas UDF's first
    task on a worker imports pandas; the worker freezes it after that
    task, so from its second pandas-UDF task on the same bound holds."""
    from pyspark.sql.functions import arrow_udf, pandas_udf

    from proj_spark.functions import to_arrow

    @arrow_udf("long")
    def freeze_count(a: pa.Array) -> pa.Array:
        return to_arrow(np.full(len(a), gc.get_freeze_count()))

    @arrow_udf("long")
    def tracked(a: pa.Array) -> pa.Array:
        return to_arrow(np.full(len(a), len(gc.get_objects())))

    bare = _bare_preload_freeze_count()
    rows = spark.range(4, numPartitions=2).select(
        freeze_count("id").alias("frozen"), tracked("id").alias("tracked")
    ).collect()
    for r in rows:
        assert r.frozen >= bare
        assert r.tracked < r.frozen / 10

    @pandas_udf("pid long, task long, frozen long, tracked long")
    def pandas_state(s: pd.Series) -> pd.DataFrame:
        return pd.DataFrame({"pid": os.getpid(), "task": int(s.iloc[0]),
                             "frozen": gc.get_freeze_count(),
                             "tracked": len(gc.get_objects())}, index=s.index)

    # more single-row tasks than the pool has workers: some worker runs two
    tasks = spark.range(32, numPartitions=32).select(pandas_state("id").alias("s"))
    seen, later = set(), []
    for r in sorted((r.s for r in tasks.collect()), key=lambda s: s.task):
        if r.pid in seen:
            later.append(r)
        seen.add(r.pid)
    assert later
    for r in later:
        assert r.tracked < r.frozen / 10, r


def test_preload_runs_in_bare_interpreter():
    """The daemon's pre-import needs no SparkContext and no JVM: if one of
    its imports failed, no Python task of a session could start."""
    assert _bare_preload_freeze_count() > 0


def test_numeric_udfs_never_load_pandas(spark):
    """The kernel, dispatch and fused-join UDFs read and write Arrow
    buffers, and neither their modules nor the daemon import pandas, so
    no worker that ran them maps pandas' native libraries."""
    from pyspark.sql import functions as F

    from proj_spark.functions import dispatch_udf, image_geo_full_udf
    from proj_spark.operators.spatial_join import spatial_join_fused
    from proj_spark.sources.epsg_ops import crs_to_crs_epsg_dispatch
    from proj_spark.sources.synth import make_polygons

    out = _fresh_interpreter(
        "import sys\n"
        "import proj_spark.functions, proj_spark.operators.spatial_join\n"
        "import proj_spark.plans.dispatch\n"
        "print('pandas' in sys.modules)\n")
    assert out.split()[-1] == "False"

    jvm = spark.sparkContext._gateway.proc.pid
    daemons = [p for p in _children(jvm) if "proj_spark._daemon" in _cmdline(p)]
    # retire the idle workers earlier tests left, some of which ran pandas
    # UDFs, so every worker these jobs use is forked for them
    for w in [w for d in daemons for w in _children(d)]:
        with contextlib.suppress(ProcessLookupError):
            os.kill(w, signal.SIGKILL)
    pts = spark.range(20_000, numPartitions=4).select(
        F.xxhash64("id").alias("phash"),
        (F.col("id") % 60 / 10.0 - 9.0).alias("lon"), (F.col("id") % 78 / 10.0 + 36.0).alias("lat"))
    disp = dispatch_udf(crs_to_crs_epsg_dispatch("EPSG:4230", "EPSG:4326"))
    assert pts.select(disp("lon", "lat").alias("s")).agg(F.count("s.x")).first()[0] == 20_000
    g = image_geo_full_udf(10)("phash")
    imgs = pts.select(g.lon.alias("lon"), g.lat.alias("lat"), g.cell.alias("cell"))
    joined = spatial_join_fused(imgs, make_polygons(16), level=8, cell_col="cell", cell_level=10)
    assert joined.count() > 0

    daemon, = [p for p in _children(jvm) if "proj_spark._daemon" in _cmdline(p)]
    workers = _children(daemon)
    assert workers
    for w in workers:
        with open(f"/proc/{w}/maps") as f:
            assert "pandas/_libs" not in f.read(), w


def test_worker_ends_quietly_when_the_jvm_closed_its_socket():
    """A worker whose socket the JVM has closed (idle workers at session
    stop) reads EOF, and over a Unix-domain socket the flush of its report
    fails with BrokenPipeError: the stock worker raises it, for the daemon
    to print as a traceback; the engine's daemon ends the worker with
    code 1 instead."""
    code = ("import os, socket\n"
            "os.environ['PYTHON_DAEMON_KILL_WORKER_ON_FLUSH_FAILURE'] = '1'\n"
            "from pyspark import daemon\n"
            "from proj_spark import _daemon\n"
            "def closed():\n"
            "    a, b = socket.socketpair(socket.AF_UNIX)\n"
            "    b.close()\n"
            "    return a\n"
            "try:\n"
            "    daemon.worker(closed(), True)\n"
            "except BrokenPipeError:\n"
            "    print('stock raises')\n"
            "_daemon.wrap_worker()\n"
            "print('quiet', daemon.worker(closed(), True))\n")
    env = dict(os.environ, PYTHONPATH=os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p))
    out = subprocess.run([sys.executable, "-c", code], cwd=ROOT, env=env,
                         capture_output=True, text=True, timeout=120)
    assert out.returncode == 0, out.stderr
    assert out.stdout.split("\n")[:2] == ["stock raises", "quiet 1"]
