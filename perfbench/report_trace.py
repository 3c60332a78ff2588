"""Trace report: per-layer numbers of traced runs (``--trace 1``).

    python3 perfbench/report_trace.py [run_dir ...]

With no argument it reads every traced run under ``perfbench/_runs/``.
For each run it joins the spans (``spans.json``) with the event-log
metrics of the jobs tagged ``<module>|<query>|<phase>``, prints one row
per timed query, then the per-layer metrics grouped by layer, the self
time per module, and the tracing overhead: the in-process bookkeeping
share, and, when an untraced run of the same workload and seed sits
beside it, the change in the end-to-end metrics between the two runs.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import tracing  # noqa: E402


def _load(run_dir: str) -> dict | None:
    path = os.path.join(run_dir, "result.json")
    if not os.path.exists(path):
        return None
    with open(path) as f:
        return json.load(f)


def query_rows(spans: list[dict], jobs: dict) -> list[tuple]:
    """(query, executions, median wall s, jobs, tasks, task s, python s) per timed query."""
    timed = [s for s in spans if s["name"] == "timed"]
    if not timed:
        return []
    t0, t1 = timed[0]["start"], timed[0]["end"]
    walls: dict[str, list[float]] = {}
    for s in spans:
        if s["name"].startswith("query:") and t0 <= s["start"] <= t1:
            walls.setdefault(s["name"][6:], []).append(s["end"] - s["start"])
    rows = []
    for q, ws in sorted(walls.items()):
        mine = [j for j in jobs.values() if j["desc"].endswith(f"|{q}|timed")]
        rows.append((q, len(ws), statistics.median(ws), len(mine) / len(ws),
                     sum(j["tasks"] for j in mine) / len(ws),
                     sum(j["task_ms"] for j in mine) / 1000 / len(ws),
                     sum(j["py_worker_ms"] for j in mine) / 1000 / len(ws)))
    return rows


def report(run_dir: str) -> None:
    r = _load(run_dir)
    if r is None or not r.get("trace"):
        return
    print(f"== {r['workload']} seed {r['seed']} ({os.path.basename(run_dir)})")
    with open(os.path.join(run_dir, "spans.json")) as f:
        spans = json.load(f)
    jobs = tracing.read_event_log(os.path.join(run_dir, "eventlog"))
    rows = query_rows(spans, jobs)
    if rows:
        print(f"   {'query':40s} {'n':>3s} {'wall_s':>8s} {'jobs':>6s} {'tasks':>7s} "
              f"{'task_s':>8s} {'py_s':>7s}")
        for q, n, wall, nj, nt, ts, ps in rows:
            print(f"   {q:40s} {n:3d} {wall:8.3f} {nj:6.1f} {nt:7.1f} {ts:8.3f} {ps:7.3f}")
    layers: dict[str, list[tuple[str, float, str]]] = {}
    for name, m in r["metrics"].items():
        layer = name.split(".")[0]
        layers.setdefault(layer, []).append((name, m["value"], m["unit"]))
    for layer, ms in layers.items():
        if all(v == 0 for _, v, _ in ms):
            print(f"   [{layer}] not exercised by this workload")
            continue
        print(f"   [{layer}]")
        for name, v, unit in ms:
            print(f"      {name:40s} {v:14.4f} {unit}")
    selfs = tracing.self_time_by_module(spans)
    print("   self time per module: " + ", ".join(f"{m} {s:.2f} s" for m, s in sorted(selfs.items())))
    print(f"   tracing overhead (in-process bookkeeping / run wall): "
          f"{r['metrics']['trace.overhead_ratio']['value']:.2e}")
    twin = [d for d in glob.glob(os.path.join(
        os.path.dirname(run_dir), f"{r['workload']}-s{r['seed']}-t0-*")) if _load(d)]
    for d in twin:
        base = _load(d)
        rep = {k: v[0] for k, v in r["report"].items()}
        for k, (v, unit) in base["report"].items():
            if k in rep and v:
                print(f"   traced vs untraced {k:24s} {rep[k]:12.4f} vs {v:12.4f} {unit}"
                      f"  ({(rep[k] - v) / v:+.1%})")


def main(argv: list[str]) -> None:
    dirs = argv or sorted(glob.glob(os.path.join(HERE, "_runs", "*-t1-*")))
    for d in dirs:
        report(d)


if __name__ == "__main__":
    main(sys.argv[1:])
