"""Spans kept in memory and a /proc sampler for the process tree's RSS.

Both observe the engine from outside: spans wrap the benchmark's own calls
into each layer, and the sampler reads /proc, so nothing inside
``proj_spark`` is instrumented.
"""

from __future__ import annotations

import json
import os
import threading
import time
from contextlib import contextmanager


class Tracer:
    """Records (name, start, end, parent, run_id) spans when enabled; when
    disabled ``span`` only yields, so untraced runs pay one generator."""

    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        idx = len(self.spans)
        rec = {"name": name, "start": time.perf_counter(), "end": None,
               "parent": self._stack[-1] if self._stack else None,
               "run_id": self.run_id}
        self.spans.append(rec)
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def self_times(self) -> dict[str, float]:
        """Seconds per span name: duration minus the part of the interval
        that child spans cover (children never overlap: one thread)."""
        child_s = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None:
                child_s[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = {}
        for s, c in zip(self.spans, child_s):
            out[s["name"]] = out.get(s["name"], 0.0) + (s["end"] - s["start"]) - c
        return out

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"run_id": self.run_id, "spans": self.spans}, f)


def cpu_steal_jiffies() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs from /proc/stat: time this VM's
    CPUs were runnable but the hypervisor ran something else."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    return vals[7], sum(vals[:8])


def children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:  # process exited between listdir and open
            continue
        # comm may contain spaces: ppid is the 2nd field after the last ')'
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def tree_rss_bytes(root: int) -> int:
    """Summed RSS of ``root`` and all its descendants."""
    kids = children_map()
    page = os.sysconf("SC_PAGE_SIZE")
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, ()))
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * page
        except OSError:
            continue
    return total


class RssSampler:
    """Background thread sampling the process tree's summed RSS."""

    def __init__(self, root: int, interval_s: float = 0.2):
        self.root = root
        self.interval_s = interval_s
        self.samples: list[tuple[float, int]] = []   # (perf_counter, bytes)
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.samples.append((time.perf_counter(), tree_rss_bytes(self.root)))
            self._stop.wait(self.interval_s)

    def peak(self, start: float = float("-inf"), end: float = float("inf")) -> int:
        """Largest sample taken in [start, end]; the last sample before
        ``start`` when none falls inside."""
        inside = [b for t, b in self.samples if start <= t <= end]
        before = [b for t, b in self.samples if t < start]
        return max(inside) if inside else (before[-1] if before else 0)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5.0)
        if self._thread.is_alive():
            raise RuntimeError("RSS sampler did not stop")
