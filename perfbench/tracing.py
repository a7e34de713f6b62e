"""Measurement plumbing for the benchmark: in-memory spans, a /proc RSS
sampler, and Spark counters read back from the event log.

Nothing here calls into the program under test; run.py and workloads.py
wrap the program's public functions in spans from the outside.
"""

from __future__ import annotations

import glob
import json
import os
import threading
import time
from collections import defaultdict
from contextlib import contextmanager


class Tracer:
    """Spans kept in memory until the run ends. A disabled tracer records
    nothing, so the untraced path pays one attribute test per span."""

    def __init__(self, workload: str, enabled: bool):
        self.workload = workload
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.counts: dict[str, float] = defaultdict(float)

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        rec = {
            "id": sid,
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "workload": self.workload,
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def count(self, name: str, value: float) -> None:
        if self.enabled:
            self.counts[name] += value

    def total_s(self, name: str) -> float:
        """Summed duration of every closed span with this name."""
        return sum(s["end"] - s["start"] for s in self.spans if s["name"] == name)

    def self_s_by_layer(self) -> dict[str, float]:
        """Self time (duration minus the time covered by child spans),
        summed per layer; the layer is the span name's first dotted part."""
        child = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            layer = s["name"].split(".", 1)[0]
            out[layer] += (s["end"] - s["start"]) - child[s["id"]]
        return dict(out)

    def dump(self, path: str, extra: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump({"workload": self.workload, "spans": self.spans, **extra}, fh)


def process_children() -> dict[int, list[int]]:
    """Parent pid → child pids, read from /proc."""
    by_parent: dict[int, list[int]] = defaultdict(list)
    for stat in glob.glob("/proc/[0-9]*/stat"):
        try:
            with open(stat) as fh:
                # comm may hold spaces; the fields after its ')' are fixed
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        by_parent[ppid].append(int(stat.split("/")[2]))
    return by_parent


def descendants(root: int) -> list[int]:
    by_parent = process_children()
    out, todo = [], [root]
    while todo:
        for c in by_parent.get(todo.pop(), ()):
            out.append(c)
            todo.append(c)
    return out


def rss_bytes(pids: list[int]) -> int:
    page = os.sysconf("SC_PAGE_SIZE")
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/statm") as fh:
                total += int(fh.read().split()[1]) * page
        except (OSError, IndexError):
            continue
    return total


class RssSampler:
    """Background sampler of the summed RSS of every process below this one:
    the driver JVM, the PySpark daemon and its Python workers. `window()`
    brackets one timed job and records that job's peak. The thread only
    reads /proc and never submits Spark work; it re-lists the process tree
    every `refresh` samples."""

    def __init__(self, interval_s: float = 0.05, refresh: int = 20):
        self.interval_s = interval_s
        self.refresh = refresh
        self._peak = 0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._root = os.getpid()

    def __enter__(self) -> RssSampler:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    def _run(self) -> None:
        n = 0
        while not self._stop.wait(self.interval_s):
            if n % self.refresh == 0:
                pids = descendants(self._root)
            n += 1
            rss = rss_bytes(pids)
            with self._lock:
                self._peak = max(self._peak, rss)

    @contextmanager
    def window(self, peaks: list[float]):
        with self._lock:
            self._peak = rss_bytes(descendants(self._root))
        try:
            yield
        finally:
            rss = rss_bytes(descendants(self._root))
            with self._lock:
                peaks.append(max(self._peak, rss) / 2**20)


# --------------------------------------------------------------------------
# Spark counters from the event log (enabled on the launch command line)
# --------------------------------------------------------------------------

SPARK_COUNTERS = (
    "stages",
    "tasks",
    "task_retries",
    "exchanges",
    "shuffle_write_bytes",
    "shuffle_read_bytes",
    "spill_bytes",
    "executor_run_s",
    "gc_s",
    "scheduler_delay_s",
)
# the first two come from Spark's status tracker, the rest from its event log
EVENT_LOG_COUNTERS = SPARK_COUNTERS[2:]


def _count_exchanges(plan: dict) -> int:
    n = 1 if plan.get("nodeName") == "Exchange" else 0
    return n + sum(_count_exchanges(c) for c in plan.get("children", ()))


def event_log_counters(log_dir: str, job_group: str) -> dict[str, float]:
    """Totals over the jobs submitted under `job_group`: task metrics from
    SparkListenerTaskEnd, and shuffle exchanges counted in the final
    (post-AQE) executed plan of each SQL execution those jobs belong to."""
    files = sorted(glob.glob(os.path.join(log_dir, "*")))
    if not files:
        raise FileNotFoundError(f"no Spark event log under {log_dir}")
    stages: set[int] = set()
    executions: set[str] = set()
    plans: dict[str, dict] = {}
    tasks: list[dict] = []
    with open(files[-1]) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event", "")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                if props.get("spark.jobGroup.id") == job_group:
                    stages.update(ev["Stage IDs"])
                    if "spark.sql.execution.id" in props:
                        executions.add(props["spark.sql.execution.id"])
            elif kind == "SparkListenerTaskEnd":
                tasks.append(ev)
            elif kind.endswith("SparkListenerSQLExecutionStart") or kind.endswith(
                "SparkListenerSQLAdaptiveExecutionUpdate"
            ):
                plans[str(ev["executionId"])] = ev["sparkPlanInfo"]
    out = dict.fromkeys(EVENT_LOG_COUNTERS, 0.0)
    for ev in tasks:
        if ev["Stage ID"] not in stages:
            continue
        info = ev["Task Info"]
        m = ev.get("Task Metrics") or {}
        out["task_retries"] += 1 if info.get("Attempt", 0) > 0 else 0
        sw = m.get("Shuffle Write Metrics") or {}
        sr = m.get("Shuffle Read Metrics") or {}
        out["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
        out["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get(
            "Local Bytes Read", 0
        )
        out["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
            "Disk Bytes Spilled", 0
        )
        run_ms = m.get("Executor Run Time", 0)
        out["executor_run_s"] += run_ms / 1e3
        out["gc_s"] += m.get("JVM GC Time", 0) / 1e3
        # Spark UI's definition: task wall minus run, (de)serialisation and
        # result fetch
        wall = info.get("Finish Time", 0) - info.get("Launch Time", 0)
        overhead = (
            run_ms
            + m.get("Executor Deserialize Time", 0)
            + m.get("Result Serialization Time", 0)
            + info.get("Getting Result Time", 0)
        )
        out["scheduler_delay_s"] += max(0, wall - overhead) / 1e3
    out["exchanges"] = float(
        sum(_count_exchanges(plans[e]) for e in executions if e in plans)
    )
    return out
