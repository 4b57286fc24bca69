"""Spans, Spark stage metrics and process-tree RSS for the benchmark.

Spans are recorded by the benchmark around its own calls into the
program's public functions: name, start, end, parent span and run id,
kept in memory and written out once when the run ends. Each span carries
the Spark stage metrics of exactly its own stages, read through the
helpers of the frozen ``bench.py`` (the UI REST API on port 0), plus the
spill bytes those helpers do not report.
"""

from __future__ import annotations

import json
import os
import threading
import time
from contextlib import contextmanager

import bench  # the repo's frozen benchmark harness, for its stage-metric helpers

MIB = 2**20


def _spill_mb(spark, after_id: int) -> float:
    try:
        stages = bench._rest(spark, "/stages?details=false")
    except (OSError, ValueError):
        return 0.0
    return sum(
        s.get("diskBytesSpilled", 0)
        for s in stages
        if s["stageId"] > after_id and s.get("status") == "COMPLETE"
    ) / MIB


def engine_metrics(spark, after_id: int) -> dict:
    """Task time, GC, shuffle, spill and skew of the stages after
    ``after_id``, named the way the per-layer metrics are."""
    m = bench._stage_metrics(spark, after_id)
    return {
        "task_s": m.get("task_time_sec", 0.0),
        "gc_s": m.get("gc_sec", 0.0),
        "shuffle_read_mb": m.get("shuffle_read_mb", 0.0),
        "shuffle_write_mb": m.get("shuffle_write_mb", 0.0),
        "spill_mb": _spill_mb(spark, after_id),
        "stages": m.get("n_stages", 0),
        "task_skew": m.get("task_skew_p100_over_p50", 0.0),
    }


class Tracer:
    """In-memory span recorder. While ``enabled`` is false every span is
    a plain timer and no stage metrics are read, so untimed and untraced
    work pays nothing for it."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.enabled = False  # spans read stage metrics only while set
        self.spark = None
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "run_id": self.run_id,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        before = bench._max_stage_id(self.spark) if self.enabled and self.spark else None
        rec["start"] = time.time()
        t0 = time.perf_counter()
        try:
            yield rec
        finally:
            rec["duration_s"] = time.perf_counter() - t0
            rec["end"] = time.time()
            self._stack.pop()
            if before is not None:
                rec["engine"] = engine_metrics(self.spark, before)

    def timed(self, name: str, fn, **attrs):
        """Run ``fn`` inside a span; returns (result, span record)."""
        with self.span(name, **attrs) as rec:
            out = fn()
        return out, rec

    def write(self, path: str, extra: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"run_id": self.run_id, **extra, "spans": self.spans}, f, indent=1)


# ------------------------------------------------------------ memory ----


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return ""


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def tree_rss_mb(root_pid: int) -> float:
    """Resident memory of the Spark driver JVM plus the Python worker
    processes under it. Other descendants are short-lived helpers the
    JVM spawns (a spawned child reports its parent's whole address space
    until it execs), so they are left out."""
    kids = _children()
    page = os.sysconf("SC_PAGE_SIZE")
    total, todo = 0, [root_pid]
    while todo:
        pid = todo.pop()
        todo.extend(k for k in kids.get(pid, ()) if _comm(k).startswith("python"))
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * page
        except (OSError, IndexError, ValueError):
            continue
    return total / MIB


class PeakRss:
    """Samples ``tree_rss_mb`` on a background thread while in use;
    ``peak_mb`` is the largest sum seen."""

    def __init__(self, root_pid: int, interval_s: float = 0.05):
        self.root_pid = root_pid
        self.interval_s = interval_s
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, tree_rss_mb(self.root_pid))
            self._stop.wait(self.interval_s)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak_mb = max(self.peak_mb, tree_rss_mb(self.root_pid))
