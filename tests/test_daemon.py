"""The engine's Python worker daemon (proj_spark/_daemon.py): workers run
the patched ``zipimporter.invalidate_caches``, an unchanged archive is not
re-read on invalidation, and a rewritten one is."""

from __future__ import annotations

import importlib
import os
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
