"""Steadiness report: runs the benchmark N times per workload, one seed
per run, and prints for each end-to-end metric its median, quartiles
and spread (inter-quartile distance over the median) next to the bound
in ``BENCHMARK.json``.

    python3 perfbench/steadiness.py --runs 10 [--workloads topic_batch,...]
        [--seconds N] [--first-seed 1] [--out perfbench/_runs/steadiness.json]

Runs are sequential; each one's wall time is reported too, since the
whole set must fit the benchmark's time budget.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run_once(workload: str, seed: int, seconds: int, trace: int = 0) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    t0 = time.time()
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
    wall = time.time() - t0
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        return {"workload": workload, "seed": seed, "wall_s": wall, "error": p.stderr[-2000:]}
    flags = [ln for ln in p.stderr.splitlines() if ln.startswith("# FLAG")]
    return {"workload": workload, "seed": seed, "wall_s": wall, "flags": flags,
            "report": [ln for ln in lines[:-1] if ln.startswith("# ")],
            "result": json.loads(lines[-1])}


def spread(values: list[float]) -> tuple[float, float, float, float]:
    """(median, q1, q3, (q3 - q1) / median) as statistics.quantiles gives them."""
    q1, med, q3 = statistics.quantiles(values, n=4)
    return med, q1, q3, (q3 - q1) / med if med else float("inf")


def report(runs: list[dict], bounds: dict[str, float]) -> None:
    by_wl: dict[str, list[dict]] = {}
    for r in runs:
        by_wl.setdefault(r["workload"], []).append(r)
    for wl, rs in by_wl.items():
        ok = [r for r in rs if "result" in r]
        walls = [r["wall_s"] for r in rs]
        print(f"== {wl}: {len(ok)}/{len(rs)} runs ok, wall median {statistics.median(walls):.1f} s,"
              f" max {max(walls):.1f} s, flagged {sum(bool(r.get('flags')) for r in ok)},"
              f" incorrect {sum(not r['result']['correct'] for r in ok)},"
              f" failed {sum(r['result']['failed'] for r in ok)}")
        for r in rs:
            if "error" in r:
                print(f"   seed {r['seed']} ERROR {r['error'][-300:]}")
        if len(ok) < 2:
            continue
        for name in ok[0]["result"]["metrics"]:
            vals = [r["result"]["metrics"][name]["value"] for r in ok]
            med, q1, q3, sp = spread(vals)
            b = bounds.get(name)
            verdict = "" if b is None else (" ok" if sp <= b / 3 else " WITHIN" if sp <= b else " OVER")
            print(f"   {name:18s} median {med:12.4f}  q1 {q1:12.4f}  q3 {q3:12.4f}  "
                  f"spread {sp:6.3f}  bound {b}{verdict}")


def main(argv=None) -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--workloads", default=None, help="comma list (default: all in BENCHMARK.json)")
    ap.add_argument("--seconds", type=int, default=None)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--out", default=os.path.join(HERE, "_runs", "steadiness.json"))
    ap.add_argument("--load", default=None, help="report on a saved --out file instead of running")
    a = ap.parse_args(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    if a.load:
        with open(a.load) as f:
            runs = json.load(f)
    else:
        workloads = a.workloads.split(",") if a.workloads else [w["name"] for w in bench["workloads"]]
        seconds = a.seconds or bench["run_seconds"]
        runs = []
        for i in range(a.runs):
            for wl in workloads:
                r = run_once(wl, a.first_seed + i, seconds)
                runs.append(r)
                print(f"# {wl} seed {r['seed']} {r['wall_s']:.1f} s "
                      f"{json.dumps(r.get('result', {}).get('metrics', r.get('error', '')[-200:]))}",
                      flush=True)
        os.makedirs(os.path.dirname(a.out), exist_ok=True)
        with open(a.out, "w") as f:
            json.dump(runs, f)
    report(runs, bounds)


if __name__ == "__main__":
    main()
