"""Tests of the benchmark's own parts; no Spark session is started.

Run from the repository root: ``python3 -m pytest perfbench/tests -q``.

``data/flagship_pass_events.jsonl`` was recorded by ``perfbench/run.py
--workload flagship --seed 0 --trace 1`` on a 4-core host and trimmed to
the events of the first timed pass (SQL execution 2); plan nodes keep only
their names, metrics and children.
"""

from __future__ import annotations

import os
import sys

import numpy as np
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import eventlog, inputs, layers  # noqa: E402
from perfbench.run import check_passes  # noqa: E402
from perfbench.tracing import Tracer, tree_rss_bytes  # noqa: E402

FIXTURE = os.path.join(os.path.dirname(__file__), "data", "flagship_pass_events.jsonl")


@pytest.fixture(scope="module")
def flagship_pass():
    execs = eventlog.parse(FIXTURE)
    (ex,) = eventlog.by_description(execs, "pass")
    return ex


def test_flagship_plan_has_two_arrow_crossings(flagship_pass):
    layer = eventlog.execution_layers(flagship_pass, rows=1_000_000, cores=4)
    assert layer["functions.arrow_nodes"] == 2


def test_layers_from_sql_node_and_task_metrics(flagship_pass):
    layer = eventlog.execution_layers(flagship_pass, rows=1_000_000, cores=4)
    assert layer["spark.tasks"] == 14
    # kernel UDF sends phash (8 B/row) and the verify UDF lon/lat/cell;
    # Arrow framing adds a little on top
    assert 32.0 <= layer["functions.bytes_to_py_per_row"] < 34.0
    assert layer["functions.bytes_from_py_per_row"] > layer["functions.bytes_to_py_per_row"]
    assert 0.0 < layer["spark.slot_util"] <= 1.0
    assert 0.0 < layer["spark.cpu_util"] <= 1.0
    assert layer["spark.task_s_p50"] <= layer["spark.task_s_p95"]
    assert layer["functions.py_run_s"] > 0 and layer["spark.codegen_s"] > 0
    assert layer["spark.spill_bytes"] == 0


def test_median_layers_of_one_execution_is_itself(flagship_pass):
    one = eventlog.execution_layers(flagship_pass, 1_000_000, 4)
    assert eventlog.median_layers([flagship_pass], 1_000_000, 4) == one


def test_self_time_subtracts_children():
    tr = Tracer("t", enabled=True)
    tr.spans = [
        {"name": "a", "start": 0.0, "end": 10.0, "parent": None, "run_id": "t"},
        {"name": "b", "start": 1.0, "end": 4.0, "parent": 0, "run_id": "t"},
        {"name": "b", "start": 5.0, "end": 7.0, "parent": 0, "run_id": "t"},
    ]
    assert tr.self_times() == {"a": 5.0, "b": 5.0}


def test_disabled_tracer_records_nothing():
    tr = Tracer("t", enabled=False)
    with tr.span("x"):
        pass
    assert tr.spans == []


def test_check_passes_flags_mismatch_and_inconsistent_payload():
    exp = {"rows": 3}
    got = check_passes([{"rows": 3, "payload": 7}, {"rows": 3, "payload": 7},
                        {"rows": 2, "payload": 8}, None], exp)
    assert got[0] == [] and got[1] == []
    assert len(got[2]) == 2 and got[3] == ["pass raised"]


def test_tree_rss_counts_this_process():
    assert tree_rss_bytes(os.getpid()) > 1 << 20


def test_seeded_table_matches_synth_rows(tmp_path):
    from proj_spark.sources.synth import make_image_row
    import pyarrow.parquet as pq

    ids = inputs.row_ids(seed=3, rows=40)
    assert ids[0] == 120
    inputs.write_table(str(tmp_path), ids, files=4)
    got = pq.read_table(str(tmp_path)).to_pylist()
    assert len(got) == 40
    for row in got[::7]:
        ref = make_image_row(int(row["image_id"][3:]))
        # make_image_row's raw blob is a pixel patch; images_df writes the
        # 64-byte phash signature instead
        ref.pop("bytes")
        assert row.pop("bytes") == np.int64(ref["phash"]).tobytes() * 8
        assert row == {k: (int(v) if k == "phash" else v) for k, v in ref.items()}


def test_row_ids_of_any_seed():
    assert inputs.row_ids(seed=2**31 + 3, rows=40)[0] == 120
    # the largest block: ids past 12 digits, still clear of int64 overflow
    # in the flagship member key (row id * 131)
    top = inputs.row_ids(seed=2**31 - 1, rows=1_000_000)[-1]
    assert len(str(top)) > 12 and top * 131 < 2**62


def test_image_table_regenerates_a_truncated_cache(tmp_path):
    path = inputs.image_table(str(tmp_path), "w", seed=1, rows=512)
    victim = sorted(f for f in os.listdir(path) if f.endswith(".parquet"))[-1]
    os.remove(os.path.join(path, victim))
    again = inputs.image_table(str(tmp_path), "w", seed=1, rows=512)
    assert again == path and victim in os.listdir(path)


def test_image_table_keeps_the_most_recent_tables(tmp_path):
    os.makedirs(tmp_path / "w-seed0-rows64.tmp999999999")   # a killed run's
    for seed in range(inputs.KEEP + 2):
        inputs.image_table(str(tmp_path), "w", seed=seed, rows=64)
    inputs.image_table(str(tmp_path), "w", seed=2, rows=64)      # used again
    last = list(range(inputs.KEEP + 2))[-(inputs.KEEP - 1):]
    assert sorted(os.listdir(tmp_path)) == sorted(
        f"w-seed{s}-rows64" for s in [2] + last)


def test_brute_force_pip_antimeridian_and_cap():
    from proj_spark.sources.synth import make_polygons

    polys = make_polygons(8)
    names = [p.polygon_id for p in polys]
    lon = np.array([-178.5, 0.0, 12.0])
    lat = np.array([-10.0, 89.0, 2.0])
    pt, pl = layers.brute_force_pip(lon, lat, polys)
    hits = {(int(i), names[k]) for i, k in zip(pt, pl)}
    assert (0, "poly_antimeridian") in hits     # inside at lon + 360
    assert (1, "poly_polarcap") in hits
    assert (2, "poly_hotspot") in hits
