"""Spans, Spark REST counters, process-tree memory and the machine stamp.

Spans sit in the benchmark's own code, around each call into a layer's
public function. Each span tags the Spark jobs it starts with its own job
group, so the UI's REST API can give per-layer job, stage and task counters
afterwards (the pattern of tools/exec_metrics.py). Spans stay in memory and
are written as JSON once the run ends.
"""

from __future__ import annotations

import itertools
import json
import os
import threading
import time
import urllib.request
from contextlib import contextmanager


def cpu_times() -> dict[str, int]:
    """Cumulative idle (with iowait), steal and total CPU ticks."""
    with open("/proc/stat", encoding="ascii") as fh:
        vals = [int(x) for x in fh.readline().split()[1:]]
    return {"idle": vals[3] + vals[4], "steal": vals[7], "total": sum(vals)}


def cpu_fractions(a: dict, b: dict) -> dict[str, float]:
    """Idle and steal shares of the CPU time between two ``cpu_times``."""
    total = max(b["total"] - a["total"], 1)
    return {
        "cpu_idle_frac": round((b["idle"] - a["idle"]) / total, 3),
        "steal_frac": round((b["steal"] - a["steal"]) / total, 3),
    }


def machine_probe() -> dict:
    """1-minute load average plus CPU-idle and steal shares over 200 ms, so
    a loaded host (or a busy hypervisor) shows up next to the numbers it
    distorted."""
    a = cpu_times()
    time.sleep(0.2)
    return {"load1": round(os.getloadavg()[0], 2), **cpu_fractions(a, cpu_times())}


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", encoding="ascii", errors="replace") as fh:
                # the command name may hold spaces: ppid follows the last ')'
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue  # the process ended while we looked
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(pid: int) -> list[int]:
    kids, out, todo = _children(), [], [pid]
    while todo:
        for child in kids.get(todo.pop(), []):
            out.append(child)
            todo.append(child)
    return out


def _pss_kb(pid: int) -> int:
    """Proportional resident set: a page shared by n processes counts 1/n
    in each. Python workers are forked from one daemon and share most of
    their pages with it, so summed VmRSS would count those pages again for
    every worker, and jump each time a worker forks."""
    try:
        with open(f"/proc/{pid}/smaps_rollup", encoding="ascii") as fh:
            for line in fh:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass  # the process ended while we looked
    return 0


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm", encoding="ascii", errors="replace") as fh:
            return fh.read().strip()
    except OSError:
        return ""


class RssSampler:
    """Peak summed resident memory (PSS) of this process's descendants (the
    Spark JVM and its Python workers), sampled every ``interval`` seconds."""

    def __init__(self, interval: float = 1.0):
        self.interval = interval
        self.peak_kb = 0
        self.at_peak: dict = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            parts = {p: _pss_kb(p) for p in descendants(me)}
            total = sum(parts.values())
            if total > self.peak_kb:
                jvm = sum(k for p, k in parts.items() if _comm(p) == "java")
                self.peak_kb = total
                self.at_peak = {"jvm_mb": jvm / 1024, "others_mb": (total - jvm) / 1024,
                                "processes": len(parts)}
            self._stop.wait(self.interval)

    def start(self) -> None:
        self._thread.start()

    def stop(self) -> float:
        """Stop sampling; returns the peak in MB."""
        self._stop.set()
        self._thread.join(timeout=10)
        return self.peak_kb / 1024


class Tracer:
    """In-memory spans; each span's Spark jobs carry its job group."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()

    @contextmanager
    def span(self, name: str, parent: dict | None = None):
        """Record ``name`` around the block; Spark jobs the block starts in
        this thread are tagged with the span's job group. ``parent`` links a
        span opened in another thread (run_resumable's bucket pool)."""
        stack = self._local.__dict__.setdefault("stack", [])
        parent = parent or (stack[-1] if stack else None)
        span = {
            "name": name,
            "span_id": next(self._ids),
            "parent_id": parent["span_id"] if parent else None,
            "trace_id": parent["trace_id"] if parent else None,
            "group": self.group(name),
        }
        if span["trace_id"] is None:
            span["trace_id"] = span["span_id"]
        stack.append(span)
        self.tag(span)
        span["start"] = time.perf_counter()
        try:
            yield span
        finally:
            span["end"] = time.perf_counter()
            stack.pop()
            self.tag(stack[-1] if stack else parent)
            with self._lock:
                self.spans.append(span)

    @staticmethod
    def group(name: str) -> str:
        """The job group of every span called ``name``."""
        return f"perfbench-{name}"

    def tag(self, span: dict | None) -> None:
        """Tag this thread's next Spark jobs with ``span``'s job group."""
        if span is None:
            self.sc.setJobGroup(None, None)
        else:
            self.sc.setJobGroup(span["group"], span["name"], interruptOnCancel=False)

    def wall(self, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.spans if s["name"] == name)

    def write(self, path: str, extra: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump({"spans": self.spans, **extra}, fh, indent=1, default=str)


class SparkRest:
    """Per-job-group counters from the Spark UI REST API."""

    def __init__(self, spark):
        self.base = spark.sparkContext.uiWebUrl
        if not self.base:
            raise RuntimeError("tracing needs spark.ui.enabled=true")
        app = self._get("/api/v1/applications")[0]["id"]
        self.api = f"/api/v1/applications/{app}"

    def _get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=30) as r:
            return json.loads(r.read().decode())

    def _settled_jobs(self) -> list[dict]:
        # the UI listener is asynchronous: wait until no job is still running
        deadline = time.monotonic() + 30
        while True:
            jobs = self._get(f"{self.api}/jobs")
            if all(j["status"] != "RUNNING" for j in jobs) or time.monotonic() > deadline:
                return jobs
            time.sleep(0.2)

    def counters(self, groups: dict[str, str], skew_for: set[str]) -> dict:
        """{layer: counters} where ``groups`` maps a layer to its job group.

        busy_s sums executor run time over the layer's completed stages;
        max_task_skew is the largest max/median task run time of a stage
        (computed only for layers in ``skew_for``: one request per stage).
        """
        jobs = self._settled_jobs()
        stages = {s["stageId"]: s for s in self._get(f"{self.api}/stages?status=complete")}
        out = {}
        for layer, group in groups.items():
            mine = [j for j in jobs if j.get("jobGroup") == group]
            sids = sorted({sid for j in mine for sid in j["stageIds"] if sid in stages})
            c = {
                "jobs": len(mine),
                "stages": len(sids),
                "tasks": sum(stages[s]["numCompleteTasks"] for s in sids),
                "busy_s": sum(stages[s]["executorRunTime"] for s in sids) / 1000,
                "shuffle_write_bytes": sum(stages[s]["shuffleWriteBytes"] for s in sids),
                "max_task_skew": 1.0,
            }
            if layer in skew_for:
                for s in sids:
                    if stages[s]["numCompleteTasks"] < 2:
                        continue
                    q = self._get(
                        f"{self.api}/stages/{s}/{stages[s]['attemptId']}/taskSummary"
                        "?quantiles=0.5,1.0"
                    ).get("executorRunTime") or [0, 0]
                    if q[0] > 0:
                        c["max_task_skew"] = max(c["max_task_skew"], q[1] / q[0])
            out[layer] = c
        return out
