"""Parse an uncompressed Spark event log into per-execution layer metrics.

Each SQL execution is tagged by the benchmark with a job description
(``SparkContext.setJobDescription``), which Spark records as the
execution's ``description``. Metrics come from three places in the log:

* SQL-node metrics: the node tree in ``SparkListenerSQLExecutionStart``
  and every ``SparkListenerSQLAdaptiveExecutionUpdate`` names each
  metric's accumulator id; task ends carry the per-task updates and
  ``SparkListenerDriverAccumUpdates`` the driver-side ones.
* task metrics (run time, CPU, GC, spill, shuffle) from
  ``SparkListenerTaskEnd``, mapped to an execution through the job's
  ``spark.sql.execution.id`` property and its stage ids;
* wall time from the execution's start and end events.
"""

from __future__ import annotations

import json
import os
import statistics
from dataclasses import dataclass, field

PYTHON_EVAL_NODE = "ArrowEvalPython"


@dataclass
class Execution:
    id: int
    description: str
    plan_text: str
    start_ms: int
    end_ms: int | None = None
    plan: dict | None = None                                # latest node tree
    metric_of: dict[int, tuple[str, str, str]] = field(default_factory=dict)
    accum: dict[int, float] = field(default_factory=dict)   # id -> total
    tasks: list[dict] = field(default_factory=list)

    @property
    def wall_s(self) -> float:
        return ((self.end_ms or self.start_ms) - self.start_ms) / 1000.0

    def nodes(self, name: str) -> list[dict]:
        out, todo = [], [self.plan] if self.plan else []
        while todo:
            n = todo.pop()
            if n["nodeName"] == name:
                out.append(n)
            todo.extend(n["children"])
        return out

    def node_metric(self, node: str, metric: str) -> float:
        """Sum of ``metric`` over every accumulator the execution's plans
        registered for nodes whose name starts with ``node`` (codegen
        nodes are named ``WholeStageCodegen (<n>)``), in the metric's base
        unit (seconds for timings, bytes for sizes)."""
        total = 0.0
        for acc, (n, m, kind) in self.metric_of.items():
            if n.startswith(node) and m == metric:
                v = self.accum.get(acc, 0.0)
                total += v / 1e3 if kind == "timing" else v / 1e9 if kind == "nsTiming" else v
        return total


def _event_files(path: str) -> list[str]:
    """``path`` itself, or the logs in the directory run.py points
    ``spark.eventLog.dir`` at (one file per application; rolling is off)."""
    if os.path.isfile(path):
        return [path]
    return sorted(os.path.join(path, n) for n in os.listdir(path)
                  if not n.startswith(".") and os.path.isfile(os.path.join(path, n)))


def _register(ex: Execution, plan: dict) -> None:
    ex.plan = plan
    todo = [plan]
    while todo:
        n = todo.pop()
        for m in n["metrics"]:
            ex.metric_of[m["accumulatorId"]] = (n["nodeName"], m["name"], m["metricType"])
        todo.extend(n["children"])


def parse(path: str) -> dict[int, Execution]:
    execs: dict[int, Execution] = {}
    stage_exec: dict[int, int] = {}
    accum_exec_updates: list[tuple[int, list]] = []
    task_ends: list[dict] = []
    for fpath in _event_files(path):
        with open(fpath) as f:
            for line in f:
                e = json.loads(line)
                kind = e["Event"].rsplit(".", 1)[-1]
                if kind == "SparkListenerSQLExecutionStart":
                    ex = Execution(e["executionId"], e.get("description", ""),
                                   e.get("physicalPlanDescription", ""), e["time"])
                    _register(ex, e["sparkPlanInfo"])
                    execs[ex.id] = ex
                elif kind == "SparkListenerSQLAdaptiveExecutionUpdate":
                    if e["executionId"] in execs:
                        _register(execs[e["executionId"]], e["sparkPlanInfo"])
                elif kind == "SparkListenerSQLExecutionEnd":
                    if e["executionId"] in execs:
                        execs[e["executionId"]].end_ms = e["time"]
                elif kind == "SparkListenerDriverAccumUpdates":
                    accum_exec_updates.append((e["executionId"], e["accumUpdates"]))
                elif kind == "SparkListenerJobStart":
                    sid = (e.get("Properties") or {}).get("spark.sql.execution.id")
                    if sid is not None:
                        for st in e["Stage IDs"]:
                            stage_exec[st] = int(sid)
                elif kind == "SparkListenerTaskEnd":
                    task_ends.append(e)
    for eid, updates in accum_exec_updates:
        if eid in execs:
            acc = execs[eid].accum
            for aid, v in updates:
                acc[aid] = acc.get(aid, 0.0) + float(v)
    for e in task_ends:
        eid = stage_exec.get(e["Stage ID"])
        if eid not in execs:
            continue
        ex = execs[eid]
        info, tm = e["Task Info"], e.get("Task Metrics") or {}
        for a in info.get("Accumulables", []):
            if a["ID"] in ex.metric_of and "Update" in a:
                ex.accum[a["ID"]] = ex.accum.get(a["ID"], 0.0) + float(a["Update"])
        sr = tm.get("Shuffle Read Metrics", {})
        ex.tasks.append({
            "s": (info["Finish Time"] - info["Launch Time"]) / 1000.0,
            "run_s": tm.get("Executor Run Time", 0) / 1000.0,
            "cpu_s": tm.get("Executor CPU Time", 0) / 1e9,
            "gc_s": tm.get("JVM GC Time", 0) / 1000.0,
            "spill_bytes": tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0),
            "shuffle_write_bytes": tm.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0),
            "fetch_wait_s": sr.get("Fetch Wait Time", 0) / 1000.0,
        })
    return execs


def _pct(xs: list[float], q: float) -> float:
    """Nearest-rank percentile (0 for an empty list)."""
    if not xs:
        return 0.0
    s = sorted(xs)
    return s[min(len(s) - 1, max(0, int(round(q * len(s) + 0.5)) - 1))]


def execution_layers(ex: Execution, rows: int, cores: int) -> dict[str, float]:
    """Layer metrics of one execution; ``rows`` is the job's input rows."""
    run = sum(t["run_s"] for t in ex.tasks)
    durs = [t["s"] for t in ex.tasks]
    return {
        "functions.arrow_nodes": float(len(ex.nodes(PYTHON_EVAL_NODE))),
        "functions.bytes_to_py_per_row":
            ex.node_metric(PYTHON_EVAL_NODE, "data sent to Python workers") / rows,
        "functions.bytes_from_py_per_row":
            ex.node_metric(PYTHON_EVAL_NODE, "data returned from Python workers") / rows,
        "functions.py_run_s": ex.node_metric(PYTHON_EVAL_NODE, "time to run Python workers"),
        "functions.py_start_s":
            ex.node_metric(PYTHON_EVAL_NODE, "time to start Python workers")
            + ex.node_metric(PYTHON_EVAL_NODE, "time to initialize Python workers"),
        "spark.tasks": float(len(ex.tasks)),
        "spark.task_s_p50": _pct(durs, 0.50),
        "spark.task_s_p95": _pct(durs, 0.95),
        "spark.slot_util": run / (ex.wall_s * cores) if ex.wall_s > 0 else 0.0,
        "spark.cpu_util": sum(t["cpu_s"] for t in ex.tasks) / run if run > 0 else 0.0,
        "spark.gc_s": sum(t["gc_s"] for t in ex.tasks),
        "spark.spill_bytes": float(sum(t["spill_bytes"] for t in ex.tasks)),
        "spark.codegen_s": ex.node_metric("WholeStageCodegen", "duration"),
        "join.shuffle_bytes": float(sum(t["shuffle_write_bytes"] for t in ex.tasks)),
        "join.fetch_wait_s": sum(t["fetch_wait_s"] for t in ex.tasks),
    }


def median_layers(execs: list[Execution], rows: int, cores: int) -> dict[str, float]:
    """Per-metric median over several executions of the same job."""
    per = [execution_layers(ex, rows, cores) for ex in execs]
    if not per:
        return {}
    return {k: statistics.median(p[k] for p in per) for k in per[0]}


def by_description(execs: dict[int, Execution], desc: str) -> list[Execution]:
    return [ex for ex in sorted(execs.values(), key=lambda x: x.id)
            if ex.description == desc]
