#!/usr/bin/env python3
"""Benchmark runner: one workload, one seed, one Spark session.

    python3 perfbench/run.py --workload flagship --seed 0 --seconds 20 --trace 0

Runs Spark at local[<cpus>] from this process, with the repository root
shipped to the Python workers on PYTHONPATH. Prints a report line (host
stamp, per-pass times, ladder, output-check problems) and, as the last
line, {"correct", "attempted", "failed", "metrics"}: the end-to-end
metrics of BENCHMARK.json with --trace 0, its per-layer metrics with
--trace 1. Every file it writes is under .perfbench/ in the repository.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import uuid  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
STATE = os.path.join(ROOT, ".perfbench")
MIN_PASSES = 3
DRIVER_MEM_CAP_MB = 1024


def _host_mem_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def _loadavg() -> list[float]:
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def _commit() -> str | None:
    try:
        out = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True,
                             text=True, timeout=10)
    except (OSError, subprocess.TimeoutExpired):
        return None
    return out.stdout.strip() or None


def start_spark(cores: int, eventlog_dir: str | None):
    """The engine's own session factory, pointed at directories inside the
    checkout and with the repository root on the workers' PYTHONPATH."""
    from proj_spark.session import get_spark

    local, tmp = os.path.join(STATE, "spark-local"), os.path.join(STATE, "tmp")
    for d in (local, tmp):
        os.makedirs(d, exist_ok=True)
    pythonpath = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ.update(PYTHONPATH=pythonpath, SPARK_LOCAL_DIRS=local, TMPDIR=tmp,
                      SPARK_DRIVER_MEM=f"{min(DRIVER_MEM_CAP_MB, _host_mem_mb() // 4)}m")
    extra = {
        "spark.executorEnv.PYTHONPATH": pythonpath,
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": local,
        "spark.sql.warehouse.dir": os.path.join(STATE, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    }
    if eventlog_dir:
        os.makedirs(eventlog_dir, exist_ok=True)
        extra.update({"spark.eventLog.enabled": "true",
                      "spark.eventLog.dir": f"file://{eventlog_dir}",
                      "spark.eventLog.compress": "false",
                      "spark.eventLog.rolling.enabled": "false"})
    spark = get_spark("perfbench", cores=cores, extra=extra)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session, then the gateway JVM, and wait for every process
    this run started to end."""
    from pyspark import SparkContext

    from perfbench.tracing import children_map

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    kids, todo, left = children_map(), [os.getpid()], []
    while todo:
        pid = todo.pop()
        for k in kids.get(pid, ()):
            left.append(k)
            todo.append(k)
    for sig in (signal.SIGTERM, signal.SIGKILL):
        for pid in left:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        deadline = time.time() + 10
        while time.time() < deadline and any(os.path.exists(f"/proc/{p}") for p in left):
            for p in left:
                try:
                    os.waitpid(p, os.WNOHANG)
                except ChildProcessError:
                    pass
            time.sleep(0.1)
        left = [p for p in left if os.path.exists(f"/proc/{p}")]
        if not left:
            return


def check_passes(results: list[dict | None], expected: dict) -> list[list[str]]:
    """Problems per timed pass: any key the reference gives must match it,
    and every other integer key (payload checksums) must agree across
    passes."""
    free = {}
    for r in results:
        for k, v in (r or {}).items():
            if k not in expected and isinstance(v, int):
                free.setdefault(k, []).append(v)
    ref = {k: statistics.mode(v) for k, v in free.items()}
    out = []
    for r in results:
        if r is None:
            out.append(["pass raised"])
            continue
        p = [f"{k}={r.get(k)} expected {v}" for k, v in expected.items() if r.get(k) != v]
        p += [f"{k}={r[k]} differs from other passes ({v})" for k, v in ref.items()
              if r.get(k) != v]
        out.append(p)
    return out


def _record_untraced(workload: str, rows: int, cores: int, rows_per_s: float) -> None:
    os.makedirs(STATE, exist_ok=True)
    with open(os.path.join(STATE, "untraced.jsonl"), "a") as f:
        f.write(json.dumps({"workload": workload, "rows": rows, "cpus": cores,
                            "rows_per_s": rows_per_s}) + "\n")


def _untraced_median(workload: str, rows: int, cores: int) -> float | None:
    try:
        with open(os.path.join(STATE, "untraced.jsonl")) as f:
            vals = [r["rows_per_s"] for r in map(json.loads, f)
                    if (r["workload"], r["rows"], r["cpus"]) == (workload, rows, cores)]
    except FileNotFoundError:
        return None
    return statistics.median(vals) if vals else None


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    try:
        import proj_spark  # noqa: F401
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            spec = json.load(f)
    except (ImportError, OSError) as e:
        print(f"perfbench: the engine sources are not here ({e})", file=sys.stderr)
        return 2

    from perfbench import eventlog
    from perfbench.tracing import RssSampler, Tracer, cpu_steal_jiffies
    from perfbench.workloads import WORKLOADS, Ctx, Dispatch, JoinWrite

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    cores = len(os.sched_getaffinity(0))
    run_id = f"{args.workload}-{args.seed}-{uuid.uuid4().hex[:8]}"
    work_dir = os.path.join(STATE, "work", run_id)
    eventlog_dir = os.path.join(STATE, "eventlog", run_id) if args.trace else None
    tracer = Tracer(run_id, enabled=bool(args.trace))
    wl = WORKLOADS[args.workload]()
    ctx = Ctx(None, args.seed, work_dir, os.path.join(STATE, "cache"), tracer)
    report = {"workload": args.workload, "seed": args.seed, "cpus": cores,
              "commit": _commit(), "run_id": run_id, "rows": wl.rows,
              "loadavg_before": _loadavg(), "trace": args.trace}

    t = time.perf_counter()
    with tracer.span("prepare"):
        wl.prepare(ctx)
    prep_s = time.perf_counter() - t
    results: list[dict | None] = []
    times: list[float] = []
    windows: list[tuple[float, float]] = []
    problems: list[str] = []
    ladder: dict[str, float] = {}
    measured: dict[str, float] = {}
    try:
        with RssSampler(os.getpid()) as rss:
            t = time.perf_counter()
            with tracer.span("session"):
                ctx.spark = start_spark(cores, eventlog_dir)
            measured["session.start_s"] = time.perf_counter() - t
            sc = ctx.spark.sparkContext
            with tracer.span("build"):
                wl.build(ctx)
            with tracer.span("warmup"):
                sc.setJobDescription("warmup")
                for _ in range(wl.warmup_passes):
                    wl.run_pass(ctx)
            setup_s = time.perf_counter() - T_START - prep_s
            sc.setJobDescription("pass")
            steal0 = cpu_steal_jiffies()
            t_loop = time.perf_counter()
            while (time.perf_counter() - t_loop < args.seconds) or len(times) < MIN_PASSES:
                t0 = time.perf_counter()
                try:
                    with tracer.span("pass"):
                        results.append(wl.run_pass(ctx))
                except Exception as e:  # a failed pass is counted, not fatal
                    results.append(None)
                    problems.append(f"pass {len(times)}: {type(e).__name__}: {e}")
                times.append(time.perf_counter() - t0)
                windows.append((t0, t0 + times[-1]))
            steal1 = cpu_steal_jiffies()
            sc.setJobDescription(None)
        with tracer.span("expected"):
            expected = wl.expected(ctx)
        per_pass = check_passes(results, expected)
        if isinstance(wl, JoinWrite):
            for r, p in zip(results, per_pass):
                if r is not None:
                    p += wl.check_output(ctx, r["dir"])
        for i, p in enumerate(per_pass):
            problems += [f"pass {i}: {x}" for x in p]
        if args.trace:
            with tracer.span("ladder"):
                ladder.update(wl.ladder(ctx))
            with tracer.span("layers"):
                measured.update(wl.layer_metrics(ctx))
            if isinstance(wl, Dispatch):
                # join_write is not in BENCHMARK.json (run-time budget); its
                # ladder rides on the dispatch trace, whose own job has no
                # join and no write, so that trace's join and lineage
                # metrics are join_write's
                jw = JoinWrite()
                jctx = Ctx(ctx.spark, args.seed, work_dir, ctx.cache_dir, tracer)
                with tracer.span("join_write"):
                    jw.prepare(jctx)
                    jw.build(jctx)
                    ladder.update(jw.ladder(jctx))
                    jw.expected(jctx)
                    problems += [f"join_write: {x}" for x in
                                 jw.check_output(jctx, jctx.state["outputs"][-1])]
                    measured.update(jw.layer_metrics(jctx))
    finally:
        if ctx.spark is not None:
            stop_spark(ctx.spark)

    failed = sum(1 for p in per_pass if p)
    ok_times = [t for t, p in zip(times, per_pass) if not p]
    rows_per_s = wl.rows / statistics.median(ok_times) if ok_times else 0.0
    pass_rss = [rss.peak(a, b) / 2**20 for a, b in windows]
    report.update(loadavg_after=_loadavg(), prep_s=prep_s, pass_s=times,
                  output_rows=[r.get("rows") for r in results if r],
                  pass_peak_rss_mb=pass_rss, run_peak_rss_mb=rss.peak() / 2**20,
                  steal_frac=(steal1[0] - steal0[0]) / max(steal1[1] - steal0[1], 1),
                  problems=problems[:50])
    if not args.trace:
        _record_untraced(args.workload, wl.rows, cores, rows_per_s)
        values = {"rows_per_s": rows_per_s, "setup_s": setup_s,
                  "peak_rss_mb": statistics.median(pass_rss)}
        samples = {"rows_per_s": len(ok_times), "setup_s": 1, "peak_rss_mb": len(pass_rss)}
        report["samples"] = samples
        specs = spec["end_to_end"]
    else:
        execs = eventlog.parse(eventlog_dir)
        passes = eventlog.by_description(execs, "pass")
        measured.update(eventlog.median_layers(passes, wl.rows, cores))
        if "rung:jw_smj" in {e.description for e in execs.values()}:
            smj = eventlog.median_layers(eventlog.by_description(execs, "rung:jw_smj"),
                                         JoinWrite.rows, cores)
            measured.update({k: smj[k] for k in ("join.shuffle_bytes", "join.fetch_wait_s")})
            writes = eventlog.by_description(execs, "rung:jw_write")
            data = [e for e in writes if "InsertIntoHadoopFsRelationCommand" in e.plan_text
                    and "_manifests" not in e.plan_text]
            n_writes = max(len(data), 1)
            measured["lineage.data_write_s"] = sum(e.wall_s for e in data) / n_writes
            measured["lineage.manifest_s"] = sum(e.wall_s for e in writes
                                                 if e not in data) / n_writes
        measured.update(ladder)
        measured["output.failed_frac"] = failed / len(results)
        errs = [r.get("error_rows", 0) for r in results if r]
        measured["output.error_rows_frac"] = (statistics.median(errs) / wl.rows) if errs else 0.0
        measured["trace.rows_per_s"] = rows_per_s
        base = _untraced_median(args.workload, wl.rows, cores)
        if base:
            measured["trace.overhead_frac"] = 1.0 - rows_per_s / base
        report.update(ladder=ladder, self_time_s=tracer.self_times(),
                      untraced_rows_per_s=base, passes_in_eventlog=len(passes))
        spans_file = os.path.join(STATE, "traces", f"{run_id}.json")
        tracer.write(spans_file)
        report["spans_file"] = os.path.relpath(spans_file, ROOT)
        specs = spec["per_layer"]
        values = {}
        report["unmeasured"] = []
        for m in specs:
            if m["name"] not in measured:
                report["unmeasured"].append(m["name"])
            values[m["name"]] = measured.get(m["name"], 0.0)
    shutil.rmtree(work_dir, ignore_errors=True)
    print(json.dumps({"report": report}))
    print(json.dumps({
        "correct": not problems, "attempted": len(results), "failed": failed,
        "metrics": {m["name"]: {"value": float(values[m["name"]]), "unit": m["unit"]}
                    for m in specs},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
