"""Seeded input cache for the image+caption table.

Rows follow ``proj_spark.sources.synth.images_df`` (the same columns and
values per row id), but are written by pyarrow on the driver: the Spark
generator took 44.5 s for 1M rows, this takes a few seconds. Seed ``s``
covers row ids ``s*rows .. s*rows + rows - 1``, so seed 0 is the table
``images_df(spark, rows)`` produces.

The cache is keyed by (workload, seed, rows). A table is written into a
temporary directory and renamed into place once complete, and it is
validated before every run (row count plus the xor of ``phash`` against
the value computed from the row ids), so a table truncated by a killed
run is regenerated rather than read. Only the KEEP most recently used
tables are kept.
"""

from __future__ import annotations

import json
import os
import shutil

import numpy as np

FILES = 256  # bench.py's layout: 256 files, packed by Spark into 9 read tasks on 4 cores
SEED_SPACE = 2**31  # seeds are taken modulo this, so row ids stay below 2^31 * rows
KEEP = 6     # cached tables (about 41 MB each at 1M rows)


def row_ids(seed: int, rows: int) -> np.ndarray:
    block = seed % SEED_SPACE
    return np.arange(block * rows, (block + 1) * rows, dtype=np.int64)


def phash_of(ids: np.ndarray) -> np.ndarray:
    from proj_spark.sources.synth import splitmix64

    return splitmix64(ids.astype(np.uint64)).view(np.int64)


def write_table(path: str, ids: np.ndarray, files: int = FILES) -> None:
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from proj_spark.sources import synth

    ph = phash_of(ids)
    digits = pc.cast(pa.array(ids), pa.string())
    adj = pc.take(pa.array(synth._ADJ), pa.array(ids % len(synth._ADJ)))
    noun = pc.take(pa.array(synth._NOUN), pa.array(ids % len(synth._NOUN)))
    image_id = pc.binary_join_element_wise("img", pc.utf8_lpad(digits, 12, "0"), "")
    caption = pc.binary_join_element_wise(
        "caption for image ", digits, ": ", adj, " ", noun, "")
    # the cheap 64-byte blob images_df writes for fmt='raw': phash's 8 bytes, 8 times
    blob = np.tile(ph.view(np.uint8).reshape(-1, 8), (1, 8)).reshape(-1)
    blobs = pa.Array.from_buffers(pa.binary(), len(ids), [
        None, pa.py_buffer(np.arange(0, 64 * len(ids) + 1, 64, dtype=np.int32)),
        pa.py_buffer(blob)])
    table = pa.table({
        "image_id": image_id,
        "bytes": blobs,
        "w": pa.array((16 + (ids % 5) * 16).astype(np.int32)),
        "h": pa.array((16 + (ids % 7) * 16).astype(np.int32)),
        "fmt": pa.repeat("raw", len(ids)),
        "caption": caption,
        "phash": pa.array(ph, pa.int64()),
    })
    per = -(-len(ids) // files)
    for f in range(files):
        pq.write_table(table.slice(f * per, per), os.path.join(path, f"part-{f:05d}.parquet"))


def _valid(path: str, ids: np.ndarray) -> bool:
    import pyarrow.parquet as pq

    try:
        ph = pq.read_table(path, columns=["phash"])["phash"].to_numpy()
    except (OSError, ValueError):  # missing or partly written files
        return False
    return (len(ph) == len(ids)
            and int(np.bitwise_xor.reduce(ph)) == int(np.bitwise_xor.reduce(phash_of(ids))))


def _evict(cache_dir: str, keep: str) -> None:
    """Drop all but the KEEP most recently used tables, and the temporary
    directories of runs that no longer exist."""
    entries = [os.path.join(cache_dir, n) for n in os.listdir(cache_dir)]
    for d in entries:
        pid = d.rsplit(".tmp", 1)[1] if ".tmp" in os.path.basename(d) else None
        if pid is not None and not os.path.exists(f"/proc/{pid}"):
            shutil.rmtree(d, ignore_errors=True)
    tables = sorted((d for d in entries if ".tmp" not in os.path.basename(d) and d != keep),
                    key=os.path.getmtime, reverse=True)
    for d in tables[KEEP - 1:]:
        shutil.rmtree(d, ignore_errors=True)


def image_table(cache_dir: str, workload: str, seed: int, rows: int) -> str:
    """Directory of the validated parquet table for (workload, seed, rows)."""
    ids = row_ids(seed, rows)
    path = os.path.join(cache_dir, f"{workload}-seed{seed}-rows{rows}")
    if os.path.isdir(path) and _valid(path, ids):
        os.utime(path)  # most recently used
        return path
    shutil.rmtree(path, ignore_errors=True)
    tmp = f"{path}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    write_table(tmp, ids)
    with open(os.path.join(tmp, "_meta.json"), "w") as f:
        json.dump({"workload": workload, "seed": seed, "rows": rows}, f)
    os.replace(tmp, path)
    if not _valid(path, ids):
        raise RuntimeError(f"freshly written input table failed validation: {path}")
    _evict(cache_dir, keep=path)
    return path


def table_slice(path: str, files: int) -> list[str]:
    """The first ``files`` parquet files of a cached table (a row prefix)."""
    names = sorted(n for n in os.listdir(path) if n.endswith(".parquet"))
    return [os.path.join(path, n) for n in names[:files]]
