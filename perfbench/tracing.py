"""Spans recorded around calls into the package, and per-layer counters
read back from the Spark event log.

A span is (id, name, module, start, end, parent); spans are kept in
memory and written once at the end of a run. A module's self time is
the time its spans cover minus the part their child spans cover.

Spark jobs are tagged through ``setJobDescription`` with
``<module>|<query>|<phase>``; the event log (``spark.eventLog.enabled``,
uncompressed) then attributes every task's metrics to a module.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import time

# SQL-metric accumulables summed per tag (name in the event log -> key)
_ACCUMULABLES = {
    "scan time": "scan_ms",
    "time to run Python workers": "py_worker_ms",
    "time to start Python workers": "py_worker_start_ms",
    "time to initialize Python workers": "py_worker_start_ms",
    "data sent to Python workers": "arrow_to_py_b",
    "data returned from Python workers": "arrow_from_py_b",
}
_MB = 1024 * 1024


class Tracer:
    """Records spans when enabled; every method is a cheap no-op when not."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.bookkeeping_s = 0.0  # time spent in this class while enabled

    @contextlib.contextmanager
    def span(self, name: str, module: str):
        if not self.enabled:
            yield
            return
        b0 = time.perf_counter()
        rec = {"id": len(self.spans), "name": name, "module": module,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.time(), "end": None}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        self.bookkeeping_s += time.perf_counter() - b0
        try:
            yield
        finally:
            b1 = time.perf_counter()
            rec["end"] = time.time()
            self._stack.pop()
            self.bookkeeping_s += time.perf_counter() - b1

    def add(self, name: str, module: str, start: float, end: float, parent: int | None):
        """A span measured elsewhere (a micro-batch taken from progress)."""
        if self.enabled:
            self.spans.append({"id": len(self.spans), "name": name, "module": module,
                               "parent": parent, "start": start, "end": end})

    def current(self) -> int | None:
        return self._stack[-1] if self._stack else None

    def tag(self, spark, module: str, query: str, phase: str) -> None:
        if self.enabled:
            b0 = time.perf_counter()
            spark.sparkContext.setJobDescription(f"{module}|{query}|{phase}")
            self.bookkeeping_s += time.perf_counter() - b0

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


def _union_s(intervals) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    return total + (cur_e - cur_s if cur_e is not None else 0.0)


def self_time_by_module(spans: list[dict]) -> dict[str, float]:
    children: dict[int, list] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append(s)
    out: dict[str, float] = {}
    for s in spans:
        kids = [(max(c["start"], s["start"]), min(c["end"], s["end"]))
                for c in children.get(s["id"], []) if c["end"] > s["start"]]
        self_s = (s["end"] - s["start"]) - _union_s([k for k in kids if k[1] > k[0]])
        out[s["module"]] = out.get(s["module"], 0.0) + max(self_s, 0.0)
    return out


def read_event_log(log_dir: str) -> dict:
    """Per job: description, submit/complete time (s) and summed task metrics."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    # Spark 4 writes each application's log as a rolling directory
    paths = [p for p in glob.glob(os.path.join(log_dir, "**"), recursive=True)
             if os.path.isfile(p) and "appstatus" not in os.path.basename(p)]
    for path in sorted(paths):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    jid = ev["Job ID"]
                    jobs[jid] = {"desc": (ev.get("Properties") or {}).get("spark.job.description") or "",
                                 "start": ev["Submission Time"] / 1000, "end": None,
                                 "stages": set(), "tasks": 0, "useful_tasks": 0,
                                 "task_ms": 0, "cpu_ns": 0, "gc_ms": 0, "shuffle_write_b": 0,
                                 "shuffle_read_b": 0, "spill_b": 0,
                                 **{k: 0 for k in _ACCUMULABLES.values()}}
                    for sid in ev["Stage IDs"]:
                        stage_job.setdefault(sid, jid)
                elif kind == "SparkListenerJobEnd":
                    if ev["Job ID"] in jobs:
                        jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000
                elif kind == "SparkListenerTaskEnd":
                    job = jobs.get(stage_job.get(ev["Stage ID"], -1))
                    if job is None:
                        continue
                    m = ev.get("Task Metrics") or {}
                    sr = m.get("Shuffle Read Metrics") or {}
                    records = ((m.get("Input Metrics") or {}).get("Records Read", 0)
                               + sr.get("Total Records Read", 0))
                    job["stages"].add(ev["Stage ID"])
                    job["tasks"] += 1
                    job["useful_tasks"] += records > 0
                    job["task_ms"] += m.get("Executor Run Time", 0)
                    job["cpu_ns"] += m.get("Executor CPU Time", 0)
                    job["gc_ms"] += m.get("JVM GC Time", 0)
                    job["shuffle_write_b"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                    job["shuffle_read_b"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                    job["spill_b"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                    for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
                        key = _ACCUMULABLES.get(acc.get("Name"))
                        if key is not None:
                            try:
                                job[key] += int(acc.get("Update", 0))
                            except (TypeError, ValueError):
                                pass
    return jobs


def layer_counters(jobs: dict, module: str, actions: list[tuple[float, float]],
                   n_exec: int) -> dict[str, float]:
    """Per-execution means for one module's jobs in the timed passes.

    ``actions`` are the (start, end) wall intervals of that module's
    actions; ``driver_gap_s`` is their total minus the part covered by
    job intervals.
    """
    mine = [j for j in jobs.values()
            if j["desc"].startswith(f"{module}|") and j["desc"].endswith("|timed")
            and j["end"] is not None]
    n = max(n_exec, 1)
    tot = lambda k: sum(j[k] for j in mine)  # noqa: E731
    covered = 0.0
    for a0, a1 in actions:
        covered += _union_s([(max(j["start"], a0), min(j["end"], a1)) for j in mine
                             if j["end"] > a0 and j["start"] < a1
                             and min(j["end"], a1) > max(j["start"], a0)])
    gap = sum(a1 - a0 for a0, a1 in actions) - covered
    tasks = tot("tasks")
    return {
        "jobs": len(mine) / n,
        "stages": sum(len(j["stages"]) for j in mine) / n,
        "tasks": tasks / n,
        "driver_gap_s": gap / n,
        "useful_task_ratio": tot("useful_tasks") / tasks if tasks else 0.0,
        "task_s": tot("task_ms") / 1000 / n,
        "cpu_s": tot("cpu_ns") / 1e9 / n,
        "gc_s": tot("gc_ms") / 1000 / n,
        "scan_s": tot("scan_ms") / 1000 / n,
        "shuffle_write_mb": tot("shuffle_write_b") / _MB / n,
        "shuffle_read_mb": tot("shuffle_read_b") / _MB / n,
        "spill_mb": tot("spill_b") / _MB / n,
        "py_worker_s": tot("py_worker_ms") / 1000 / n,
        "py_worker_start_s": tot("py_worker_start_ms") / 1000 / n,
        "arrow_to_py_mb": tot("arrow_to_py_b") / _MB / n,
        "arrow_from_py_mb": tot("arrow_from_py_b") / _MB / n,
    }
