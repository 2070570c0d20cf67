"""Spans, process-tree memory and Spark event-log metrics.

Spans are recorded only by the benchmark's own code, around its calls
into spark_geo, and kept in memory until the run writes them out.  Spark
stage metrics come from the session's uncompressed, non-rolling event
log and are attributed to ops through the job group each op runs under.
"""

from __future__ import annotations

import contextlib
import json
import os
import threading
import time
from collections import defaultdict

PAGE_MB = os.sysconf("SC_PAGE_SIZE") / 2**20


class Tracer:
    """In-memory spans: name, start, end, parent, iteration.  With
    ``enabled=False`` ``span`` records nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, it=None):
        if not self.enabled:
            yield
            return
        rec = {"name": name, "start": time.perf_counter(), "end": None,
               "parent": self._stack[-1] if self._stack else None, "iter": it}
        if it is None and rec["parent"] is not None:
            rec["iter"] = self.spans[rec["parent"]]["iter"]
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def child_cover(self, idx: int) -> float:
        """Seconds of span ``idx`` covered by its direct children."""
        return sum(s["end"] - s["start"] for s in self.spans if s["parent"] == idx)


# ---------------------------------------------------------------------------
# resident memory of this process and everything it started
# ---------------------------------------------------------------------------

def _children_map() -> dict:
    kids = defaultdict(list)
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids[ppid].append(int(d))
    return kids


def descendants(pid: int) -> list[int]:
    kids, out, todo = _children_map(), [], [pid]
    while todo:
        p = todo.pop()
        out.extend(kids.get(p, ()))
        todo.extend(kids.get(p, ()))
    return out


def tree_rss_mb(pid: int) -> float:
    total = 0.0
    for p in [pid] + descendants(pid):
        try:
            with open(f"/proc/{p}/statm") as f:
                total += int(f.read().split()[1]) * PAGE_MB
        except (OSError, IndexError, ValueError):
            pass
    return total


class RssSampler:
    """Samples the summed RSS of the process tree on a daemon thread."""

    def __init__(self, interval: float = 0.5):
        self.interval = interval
        self.peak = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self):
        pid = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_mb(pid))
            self._stop.wait(self.interval)

    def start(self):
        self._thread.start()
        return self

    def stop(self) -> float:
        self._stop.set()
        self._thread.join(timeout=10)
        return self.peak


# ---------------------------------------------------------------------------
# Spark event log
# ---------------------------------------------------------------------------

# event-log accumulable names of the Python-boundary SQL metrics
PY_RUN = "time to run Python workers"
PY_OUT = "data sent to Python workers"
PY_IN = "data returned from Python workers"

STAGE_FIELDS = ("executor_run_s", "executor_cpu_s", "python_run_s", "python_bytes_out",
                "python_bytes_in", "shuffle_write_bytes", "fetch_wait_s", "gc_s",
                "spill_bytes", "jobs")


def read_event_log(path: str) -> dict:
    """-> {job_group: {field: total}} plus per-group stage wall intervals
    under the key ``"_stage_spans"``."""
    job_group, stage_job = {}, {}
    per = defaultdict(lambda: defaultdict(float))
    stage_spans = defaultdict(list)
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                g = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                job_group[ev["Job ID"]] = g
                for sid in ev.get("Stage IDs", ()):
                    stage_job[sid] = ev["Job ID"]
                if g is not None:
                    per[g]["jobs"] += 1
            elif kind == "SparkListenerTaskEnd":
                g = job_group.get(stage_job.get(ev.get("Stage ID")))
                tm = ev.get("Task Metrics")
                if g is None or not tm:
                    continue
                acc = per[g]
                acc["executor_run_s"] += tm.get("Executor Run Time", 0) / 1e3
                acc["executor_cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
                acc["gc_s"] += tm.get("JVM GC Time", 0) / 1e3
                acc["spill_bytes"] += tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0)
                acc["fetch_wait_s"] += (tm.get("Shuffle Read Metrics") or {}).get("Fetch Wait Time", 0) / 1e3
                acc["shuffle_write_bytes"] += (tm.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                for a in (ev.get("Task Info") or {}).get("Accumulables", ()):
                    name, upd = a.get("Name"), a.get("Update")
                    if upd is None:
                        continue
                    if name == PY_RUN:
                        acc["python_run_s"] += float(upd) / 1e3
                    elif name == PY_OUT:
                        acc["python_bytes_out"] += float(upd)
                    elif name == PY_IN:
                        acc["python_bytes_in"] += float(upd)
            elif kind == "SparkListenerStageCompleted":
                info = ev.get("Stage Info") or {}
                g = job_group.get(stage_job.get(info.get("Stage ID")))
                if g is not None and info.get("Submission Time") and info.get("Completion Time"):
                    stage_spans[g].append((info["Submission Time"] / 1e3, info["Completion Time"] / 1e3))
    out = {g: {k: v.get(k, 0.0) for k in STAGE_FIELDS} for g, v in per.items()}
    out["_stage_spans"] = dict(stage_spans)
    return out


def union_seconds(intervals) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b > end:
            total += b - max(a, end)
            end = b
    return total
