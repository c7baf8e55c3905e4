"""Python worker daemon for sessions built by ``proj_spark.session.get_spark``.

Spark runs every Python task (pandas UDF, ``mapInPandas``, Python-RDD job)
in a worker forked from a daemon, and each task starts with
``pyspark.worker_util.setup_spark_files`` calling
``importlib.invalidate_caches()``. On CPython 3.11 that calls
``zipimport.zipimporter.invalidate_caches`` on every cached zip importer,
and the stock version re-reads the archive's whole central directory each
time. A worker holds one importer per pyspark subpackage (16 of them), all
over the same ``pyspark.zip`` (1,328 entries), so every task re-parses that
directory 16 times: ~0.27 CPU-s per task, whatever its row count.

This module replaces the method with one that re-reads an archive only when
its ``(st_mtime_ns, st_size)`` differs from the one last read, and shares
that read among every importer of the archive. Directory finders are still
invalidated, and an archive whose bytes changed is still re-read, so
py-files shipped during a session stay importable. The daemon primes the
cache once before it forks, so workers start with every importer current.

A reused worker also runs a full ``gc.collect()`` after every task
(``pyspark.daemon.manager``). Without help that collection rescans every
object the worker imported for its UDF closures: pandas, pyarrow,
pyspark.sql and proj_spark, ~73k tracked objects, 28 ms per task on a
4-core host and up to ~60 ms once the worker has run the engine's UDFs.
So the daemon imports those modules itself, collects once and calls
``gc.freeze()`` before it forks (the pattern the ``gc`` docs give for
forking servers): every worker inherits the frozen generation, and its
per-task collection scans only the objects made after the fork (~600
objects, 0.2 ms). Frozen objects are never collected, so only modules,
which live as long as the process, are frozen.

Run as ``python -m proj_spark._daemon`` (Spark's
``spark.python.daemon.module``); it then serves as ``pyspark.daemon``.
"""

from __future__ import annotations

import gc
import importlib
import os
import zipimport

# archive path -> (st_mtime_ns, st_size) of the bytes now held in
# zipimport's shared directory cache for that path
_read_stamps: dict[str, tuple[int, int]] = {}


def _stamp(path: str) -> tuple[int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def install() -> None:
    """Patch ``zipimport.zipimporter.invalidate_caches`` in this process."""
    stock = zipimport.zipimporter.invalidate_caches

    def invalidate_caches(self) -> None:
        stamp = _stamp(self.archive)
        # zipimport keeps one directory dict per archive path; the stock
        # method re-reads it and points this importer at the new dict
        shared = zipimport._zip_directory_cache.get(self.archive)
        if stamp is not None and shared is not None \
                and _read_stamps.get(self.archive) == stamp:
            self._files = shared
            return
        stock(self)
        if self.archive in zipimport._zip_directory_cache:
            _read_stamps[self.archive] = stamp
        else:
            _read_stamps.pop(self.archive, None)

    zipimport.zipimporter.invalidate_caches = invalidate_caches


def preload() -> None:
    """Import what the engine's UDF closures import, then freeze the heap
    so a forked worker's collections skip it."""
    import pandas  # noqa: F401
    import pyarrow.compute  # noqa: F401
    import pyspark.sql.pandas.serializers  # noqa: F401

    import proj_spark.functions  # noqa: F401
    import proj_spark.plans.dispatch  # noqa: F401

    gc.collect()  # freeze no garbage
    gc.freeze()


def main() -> None:
    install()
    from pyspark import daemon

    importlib.invalidate_caches()  # one read per archive, inherited by forks
    preload()
    daemon.manager()


if __name__ == "__main__":
    # run the importable copy, so the patch reports this module's name
    from proj_spark._daemon import main as _main

    _main()
