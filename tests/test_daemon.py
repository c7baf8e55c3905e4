"""The engine's Python worker daemon (proj_spark/_daemon.py): workers run
the patched ``zipimporter.invalidate_caches``, an unchanged archive is not
re-read on invalidation, and a rewritten one is; workers inherit a frozen,
pre-imported heap, and that pre-import starts in a bare interpreter."""

from __future__ import annotations

import gc
import importlib
import os
import subprocess
import sys
import zipfile
import zipimport

import pandas as pd

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


def test_workers_inherit_frozen_heap(spark):
    """The daemon freezes its pre-imported heap before it forks, so a
    worker's per-task gc.collect() tracks only what was made after the
    fork: a tenth of the frozen objects at most."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("long")
    def freeze_count(s: pd.Series) -> pd.Series:
        return pd.Series([gc.get_freeze_count()] * len(s))

    @pandas_udf("long")
    def tracked(s: pd.Series) -> pd.Series:
        return pd.Series([len(gc.get_objects())] * len(s))

    rows = spark.range(4, numPartitions=2).select(
        freeze_count("id").alias("frozen"), tracked("id").alias("tracked")
    ).collect()
    for r in rows:
        assert r.frozen > 50_000
        assert r.tracked < r.frozen / 10


def test_preload_runs_in_bare_interpreter():
    """The daemon's pre-import needs no SparkContext and no JVM: if one of
    its imports failed, no Python task of a session could start."""
    code = ("import gc\n"
            "from proj_spark import _daemon\n"
            "_daemon.preload()\n"
            "from pyspark import SparkContext\n"
            "assert SparkContext._gateway is None\n"
            "print(gc.get_freeze_count())\n")
    env = dict(os.environ, PYTHONPATH=os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p))
    out = subprocess.run([sys.executable, "-c", code], cwd=ROOT, env=env,
                         capture_output=True, text=True, timeout=120)
    assert out.returncode == 0, out.stderr
    assert int(out.stdout.split()[-1]) > 0
