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
object the worker imported for its UDF closures: ~43k tracked objects
for pyarrow, pyspark.sql and proj_spark (28 ms per task on a 4-core host
with pandas' ~27k more). So the daemon imports the numeric UDFs' modules
itself, collects once and calls ``gc.freeze()`` before it forks (the
pattern the ``gc`` docs give for forking servers): every worker inherits
the frozen generation, and its per-task collection scans only the objects
made after the fork (~600 objects, 0.2 ms). It does not import pandas,
which those Arrow UDFs never load (~32 MB per worker). A pandas UDF's
first task on a worker imports it, so a worker applies the same rule
after any task that grew ``sys.modules``. Frozen objects are never
collected, so only what outlives a collection, chiefly modules, is frozen.

Workers talk to the JVM over Unix-domain sockets (``get_spark``). When a
session stops, the JVM closes its idle workers' sockets; a worker reads
EOF, reports it, and the flush of that report fails at once with
``BrokenPipeError`` (over TCP the same write is silently accepted), which
the stock daemon prints as a traceback from the worker. ``wrap_worker``
ends such a worker without the traceback: its peer is gone, so there is
nobody left to tell.

Run as ``python -m proj_spark._daemon`` (Spark's
``spark.python.daemon.module``); it then serves as ``pyspark.daemon``.
"""

from __future__ import annotations

import gc
import importlib
import os
import sys
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
    """Import what the engine's numeric UDF closures import (not pandas),
    then freeze the heap so a forked worker's collections skip it."""
    import pyspark.sql.pandas.serializers  # noqa: F401

    import proj_spark.functions  # noqa: F401
    import proj_spark.operators.spatial_join  # noqa: F401
    import proj_spark.plans.dispatch  # noqa: F401

    gc.collect()  # freeze no garbage
    gc.freeze()


def wrap_worker() -> None:
    """Wrap the task loop of a forked worker: it ends without a traceback
    when the JVM has closed its socket (a non-zero return exits the
    process), and it collects and freezes after a task that imported."""
    from pyspark import daemon

    stock = daemon.worker

    def worker(sock, authenticated):
        loaded = len(sys.modules)
        try:
            return stock(sock, authenticated)
        except BrokenPipeError:
            return 1
        finally:
            if len(sys.modules) > loaded:
                gc.collect()
                gc.freeze()

    daemon.worker = worker


def main() -> None:
    install()
    wrap_worker()
    from pyspark import daemon

    importlib.invalidate_caches()  # one read per archive, inherited by forks
    preload()
    daemon.manager()


if __name__ == "__main__":
    # run the importable copy, so the patch reports this module's name
    from proj_spark._daemon import main as _main

    _main()
