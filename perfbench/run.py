"""The pulspark benchmark: one command per workload run.

    python3 perfbench/run.py --workload topic_batch --seed 1 --seconds 8 --trace 0

Workloads: ``topic_batch`` (closed loop, one client, registry queries
over the sf0.01 test tables in ``perfbench/data``) and
``topic_stream`` (open loop, a generator process feeding one topic read
by two subscriptions). See
``perfbench/README.md`` for what each measures and why.

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (the end-to-end metrics with ``--trace 0``,
the per-layer metrics with ``--trace 1``). Lines before it print every
metric by name with its unit. Everything the run writes goes under
``perfbench/_runs/<run>/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "incubator_pulsar_spark"
WORKLOADS = ("topic_batch", "topic_stream")
MASTER = "local[4]"
SHUFFLE_PARTITIONS = 4
DRIVER_MEMORY = "1g"
# session rebuilds per run. The first WARM_REBUILDS get faster as the JIT
# compiles the rebuild path; setup_s is the median of the rest.
REBUILDS = 12
WARM_REBUILDS = 4
MODULES = ("plans", "operators", "functions")
LAYER_COUNTERS = ("build_s", "action_s", "jobs", "stages", "tasks", "driver_gap_s",
                  "useful_task_ratio", "task_s", "cpu_s", "gc_s", "scan_s",
                  "shuffle_write_mb", "shuffle_read_mb", "spill_mb", "py_worker_s",
                  "py_worker_start_s", "arrow_to_py_mb", "arrow_from_py_mb", "self_s")
STREAM_COUNTERS = ("batches", "trigger_ms", "add_batch_ms", "query_planning_ms",
                   "wal_commit_ms", "commit_offsets_ms", "latest_offset_ms", "get_batch_ms",
                   "rows_per_batch", "state_rows", "state_mem_mb", "state_commit_ms",
                   "late_dropped", "busy_ratio", "useful_batch_ratio", "latency_p50_ms",
                   "latency_p90_ms", "drain_eps")
END_TO_END_UNITS = {"setup_s": "s", "cpu_ms_per_op": "ms", "peak_rss_mb": "MB"}


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric name -> unit; all are reported on every workload."""
    suffixes = [(("_per_s", "_eps"), "1/s"), (("_s",), "s"), (("_ms", "_ms_per_op"), "ms"),
                (("_mb",), "MB"), (("_ratio",), "ratio")]
    unit = lambda n: next((u for ends, u in suffixes if n.endswith(ends)), "count")  # noqa: E731
    names = ["session.start_s", "session.restart_s", "session.warm_s", "session.self_s"]
    names += [f"{m}.{c}" for m in MODULES for c in LAYER_COUNTERS]
    names += ["functions.index_build_s", "functions.index_probe_s"]
    # wall-clock figures: end to end, but they do not repeat within the
    # allowed bound on a host whose CPU time is partly taken by other guests
    names += ["wall.throughput_per_s", "wall.latency_p50_ms", "wall.latency_p90_ms",
              "bench.host_steal_ratio"]
    names += [f"streaming.{s}.{c}" for s in ("keyed", "view") for c in STREAM_COUNTERS]
    names += ["streaming.keyed.py_worker_s", "streaming.keyed.arrow_to_py_mb", "streaming.self_s"]
    names += ["sources.backlog_files_max", "sources.backlog_growth_files",
              "sources.files_per_batch", "sources.drain_s", "sources.self_s"]
    names += ["jvm.jit_cpu_ms_per_op", "bench.gen_late_ms", "trace.overhead_ratio"]
    return {n: unit(n) for n in names}


def _cpu_ticks() -> list[int]:
    """Host CPU ticks by kind (user, nice, system, idle, ..., steal) from /proc/stat."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def _process_start() -> float:
    """Wall-clock time this process started, from /proc."""
    with open("/proc/self/stat") as f:
        stat = f.read()
    ticks = int(stat[stat.rindex(")") + 2:].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return time.time() - uptime + ticks / os.sysconf("SC_CLK_TCK")


class Run:
    def __init__(self, args):
        self.args = args
        self.workload = args.workload
        self.run_dir = os.path.join(HERE, "_runs",
                                    f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}")
        self.tmp = os.path.join(self.run_dir, "tmp")
        self.eventlog = os.path.join(self.run_dir, "eventlog")
        os.makedirs(self.tmp, exist_ok=True)
        import tracing

        self.tracer = tracing.Tracer(bool(args.trace))
        self.spark = None

    def conf(self) -> dict[str, str]:
        c = {"spark.driver.memory": DRIVER_MEMORY,
             "spark.ui.showConsoleProgress": "false",
             "spark.local.dir": self.tmp,
             "spark.sql.warehouse.dir": os.path.join(self.tmp, "warehouse"),
             # no hsperfdata file in /tmp: a run writes only inside its checkout;
             # compiler threads that never exit keep their CPU countable
             "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={self.tmp} -XX:-UsePerfData "
                                              "-XX:-UseDynamicNumberOfCompilerThreads"}
        if self.args.trace:
            os.makedirs(self.eventlog, exist_ok=True)
            c.update({"spark.eventLog.enabled": "true", "spark.eventLog.compress": "false",
                      "spark.eventLog.dir": "file://" + self.eventlog})
        return c

    def session(self):
        from incubator_pulsar_spark.session import get_spark

        with self.tracer.span("get_spark", "session"):
            spark = get_spark(f"perfbench-{self.workload}", master=MASTER,
                              shuffle_partitions=SHUFFLE_PARTITIONS, extra_conf=self.conf())
            spark.range(1).count()
        return spark

    def setup(self) -> list[float]:
        """Builds the session 1 + REBUILDS times. The first sample runs
        from process start (imports and JVM launch included); each
        rebuild stops the session and builds it again in the same JVM."""
        samples = []
        with self.tracer.span("setup", "bench"):
            self.spark = self.session()
            samples.append(time.time() - _process_start())
            for _ in range(REBUILDS):
                self.spark.stop()
                t0 = time.perf_counter()
                self.spark = self.session()
                samples.append(time.perf_counter() - t0)
        return samples

    def stop_spark(self) -> None:
        if self.spark is None:
            return
        sc = self.spark.sparkContext
        gateway, proc = sc._gateway, getattr(sc._gateway, "proc", None)
        self.spark.stop()
        gateway.shutdown()
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)
        self.spark = None


def _batch(run: Run, cpu) -> tuple[dict, dict, list[str]]:
    import batch
    from stream import pct
    from incubator_pulsar_spark.plans import queries

    # the index lifecycle writes under the registry's per-process scratch
    # directory; point it inside the run directory
    scratch = os.path.join(run.tmp, "scratch")
    queries._scratch = lambda tag, sf_dir: os.path.join(scratch, tag)
    r = batch.run_batch(run.spark, run.tracer, batch.DATA, run.args.seed, run.args.seconds, cpu)
    ok = [e for e in r["timed"] if e.error is None]
    lat = [e.wall_s for e in ok]
    everything = r["warm"] + r["timed"]
    out = {
        "throughput_per_s": len(ok) / r["timed_s"],
        "cpu_ms_per_op": r["timed_cpu_s"] * 1000 / max(1, len(ok)),
        "jit_ms_per_op": cpu.jit_s * 1000 / max(1, len(ok)),
        "latency_p50_ms": statistics.median(lat) * 1000 if lat else 0.0,
        "latency_p90_ms": pct(lat, 0.9) * 1000,
        "warm_s": r["warm_s"],
        "attempted": len(everything),
        "failed": sum(e.error is not None for e in everything),
        "errors": [f"{e.query}: {e.error}" for e in everything if e.error],
        "timed": ok,
        # the DuckDB check runs after the measurements end
        "check": lambda con: batch.check_warm(con, r["warm"], run.args.plant_wrong_row),
    }
    report = {"queries_per_s": (out["throughput_per_s"], "1/s"),
              "cpu_ms_per_query": (out["cpu_ms_per_op"], "ms"),
              "query_p50_s": (out["latency_p50_ms"] / 1000, "s"),
              "query_p90_s": (out["latency_p90_ms"] / 1000, "s"),
              "executions": (len(ok), "count")}
    return out, report, r["wrong"]


def _stream(run: Run, cpu) -> tuple[dict, dict, list[str]]:
    import stream
    from stream import pct

    r = stream.run_stream(run.spark, run.tracer, run.run_dir, run.args.seed,
                          run.args.seconds, cpu)
    ks, vs = r["per_sub"]["keyed"], r["per_sub"]["view"]
    out = {
        "throughput_per_s": r["drain_eps"],
        "cpu_ms_per_op": r["cpu_ms_per_event"],
        "jit_ms_per_op": cpu.jit_s * 1000 / r["measured_events"],
        "latency_p50_ms": pct(r["latency_ms"], 0.5),
        "latency_p90_ms": pct(r["latency_ms"], 0.9),
        "warm_s": r["warm_s"],
        "attempted": 2 * r["events"],
        "failed": r["undelivered_events"],
        "errors": [],
        "stream": r,
        "check": lambda con: stream.check_run(con, r),
    }
    report = {"drain_eps": (r["drain_eps"], "1/s"),
              "cpu_ms_per_event": (out["cpu_ms_per_op"], "ms"),
              "keyed_latency_p50_ms": (ks["latency_p50_ms"], "ms"),
              "keyed_latency_p90_ms": (ks["latency_p90_ms"], "ms"),
              "view_latency_p50_ms": (vs["latency_p50_ms"], "ms"),
              "view_latency_p90_ms": (vs["latency_p90_ms"], "ms"),
              "both_latency_p50_ms": (out["latency_p50_ms"], "ms"),
              "measured_files": (len(r["latency_ms"]), "count")}
    for f in r["flags"]:
        print(f"# FLAG {run.workload}: {f}", file=sys.stderr)
    return out, report, []


def _setup_s(setup: list[float]) -> float:
    return statistics.median(setup[1 + WARM_REBUILDS:])


def _per_layer(run: Run, out: dict, setup: list[float], wall_s: float,
               steal_ratio: float) -> dict[str, float]:
    import tracing

    m = {n: 0.0 for n in per_layer_units()}
    m["session.start_s"] = setup[0]
    m["session.restart_s"] = _setup_s(setup)
    m["session.warm_s"] = out["warm_s"]
    selfs = tracing.self_time_by_module(run.tracer.spans)
    for mod in ("session", "streaming", "sources") + MODULES:
        m[f"{mod}.self_s"] = selfs.get(mod, 0.0)
    for k in ("throughput_per_s", "latency_p50_ms", "latency_p90_ms"):
        m[f"wall.{k}"] = out[k]
    m["bench.host_steal_ratio"] = steal_ratio
    m["jvm.jit_cpu_ms_per_op"] = out["jit_ms_per_op"]
    jobs = tracing.read_event_log(run.eventlog)
    if "timed" in out:
        for mod in MODULES:
            execs = [e for e in out["timed"] if e.module == mod]
            if not execs:
                continue
            actions = [(e.end - e.action_s, e.end) for e in execs if e.action_s]
            for k, v in tracing.layer_counters(jobs, mod, actions, len(execs)).items():
                m[f"{mod}.{k}"] = v
            m[f"{mod}.build_s"] = statistics.fmean(e.build_s for e in execs)
            m[f"{mod}.action_s"] = statistics.fmean(e.action_s for e in execs)
        for step in ("build", "probe"):
            xs = [e.wall_s for e in out["timed"] if e.query.endswith(f":{step}")]
            m[f"functions.index_{step}_s"] = statistics.fmean(xs) if xs else 0.0
    if "stream" in out:
        r = out["stream"]
        for sub, vals in r["per_sub"].items():
            for k, v in vals.items():
                m[f"streaming.{sub}.{k}"] = v
        for k, v in r["sources"].items():
            m[f"sources.{k}"] = v
        m["bench.gen_late_ms"] = r["gen_late_ms"]
        keyed = [j for j in jobs.values() if j["desc"].startswith("keyed")]
        n = max(1.0, r["per_sub"]["keyed"]["batches"])
        m["streaming.keyed.py_worker_s"] = sum(j["py_worker_ms"] for j in keyed) / 1000 / n
        m["streaming.keyed.arrow_to_py_mb"] = sum(j["arrow_to_py_b"] for j in keyed) / 2**20 / n
    m["trace.overhead_ratio"] = run.tracer.bookkeeping_s / wall_s
    return m


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description="pulspark benchmark")
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--plant-wrong-row", action="store_true",
                    help="alter one warm-pass row before the oracle check (checks the checker)")
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"perfbench: package {PACKAGE}/ not found next to perfbench/", file=sys.stderr)
        return 2
    # Python workers do not see the driver's sys.path: they need PYTHONPATH
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"  # the launcher JVM too
    sys.path[:0] = [ROOT, HERE]

    import batch
    import oracle
    import procmem

    rss = procmem.PeakRss().start()
    cpu = procmem.CpuWindow(rss)
    ticks0 = _cpu_ticks()
    run = Run(args)
    os.environ["TMPDIR"] = tempfile.tempdir = run.tmp
    t_start = time.perf_counter()
    phases = {}
    try:
        setup = run.setup()
        phases["setup"] = time.perf_counter() - t_start
        if run.workload == "topic_stream":
            out, report, wrong = _stream(run, cpu)
        else:
            out, report, wrong = _batch(run, cpu)
        phases["workload"] = time.perf_counter() - t_start - phases["setup"]
    finally:
        t_stop = time.perf_counter()
        run.stop_spark()
        phases["stop"] = time.perf_counter() - t_stop
    peak_mb = rss.stop()
    dt = [b - a for a, b in zip(ticks0, _cpu_ticks())]
    steal_ratio = dt[7] / max(1, sum(dt))  # host time taken by other guests
    wall_s = time.perf_counter() - t_start

    con = oracle.duckdb_con(None if run.workload == "topic_stream" else batch.DATA,
                            os.path.join(run.tmp, "duckdb"))
    wrong = wrong + out["check"](con)
    con.close()

    e2e = {"setup_s": _setup_s(setup), "cpu_ms_per_op": out["cpu_ms_per_op"],
           "peak_rss_mb": peak_mb}
    failed_ratio = out["failed"] / max(1, out["attempted"])
    report.update({"setup_s": (e2e["setup_s"], "s"), "peak_rss_mb": (peak_mb, "MB"),
                   "failed_ratio": (failed_ratio, "ratio"),
                   "wrong_results": (len(wrong), "count"),
                   "jit_cpu_ms_per_op": (out["jit_ms_per_op"], "ms"),
                   "host_steal_ratio": (steal_ratio, "ratio")})
    for name, (value, unit) in report.items():
        print(f"# {run.workload} {name} {value:.6g} {unit}")
    for w in wrong:
        print(f"# WRONG {w}", file=sys.stderr)
    for e in out["errors"]:
        print(f"# FAILED {e}", file=sys.stderr)

    if args.trace:
        metrics = _per_layer(run, out, setup, wall_s, steal_ratio)
        units = per_layer_units()
        run.tracer.write(os.path.join(run.run_dir, "spans.json"))
    else:
        metrics, units = e2e, END_TO_END_UNITS
    result = {"correct": not wrong, "attempted": out["attempted"], "failed": out["failed"],
              "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()}}
    with open(os.path.join(run.run_dir, "result.json"), "w") as f:
        json.dump({**result, "workload": run.workload, "seed": args.seed, "trace": args.trace,
                   "seconds": args.seconds, "report": report, "wrong": wrong,
                   "errors": out["errors"], "flags": out.get("stream", {}).get("flags", []),
                   "phases_s": phases, "setup_samples_s": setup,
                   "pss_samples_mb": [round(kb / 1024) for kb in rss.samples_kb],
                   "timed": [(e.query, round(e.wall_s, 4)) for e in out.get("timed", [])],
                   "batches": out.get("stream", {}).get("batches", {})}, f, indent=1)
    for d in ("topic", "tmp", "ck-keyed", "ck-view"):
        shutil.rmtree(os.path.join(run.run_dir, d), ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
