"""``topic_stream``: two subscriptions on one live topic directory.

``keyed`` is ``streaming.behavior.markov_stream`` (per-key Python state
through ``applyInPandasWithState``); ``view`` is
``streaming.tableview.table_view_updates`` (latest value per key in the
JVM state store). Both read the topic through
``sources.connectors.file_source_stream`` and write through a
``foreachBatch`` sink owned by this file, which folds the emitted rows
and stamps the time each sink call returns.

A first full micro-batch of warm-up files pays query start-up. Phase 1
then lands a backlog in one step and measures how fast both
subscriptions drain it. Phase 2 starts
the generator process at a fixed rate and measures, per event, the time
from when its file was due to the return of the sink call of the
micro-batch that consumed that file. Files are mapped to micro-batches
through the file-source log in each checkpoint.
"""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys
import threading
import time
from datetime import datetime

import procmem
import stream_gen

WARM_FILES = 16  # one full micro-batch, so the drain starts warm
BACKLOG_FILES = 48
MAX_FILES_PER_TRIGGER = 16
# one live file per interval, longer than a micro-batch takes: each file
# gets its own micro-batch in both subscriptions
LIVE_INTERVAL_S = 1.6
GRACE_S = 20.0        # after the last live file, time allowed to emit it
LATE_LIMIT_MS = 500.0  # a generator later than this flags the run
GROWTH_LIMIT_FILES = 2.0  # so does a live backlog that grows this much
SUBS = ("keyed", "view")
TOPIC_DDL = ("topic STRING, partition INT, sequence BIGINT, key STRING, value BINARY, "
             "properties MAP<STRING, STRING>, publish_time TIMESTAMP, event_time TIMESTAMP, "
             "producer_name STRING, sequence_id BIGINT, ordering_key BINARY, "
             "deliver_at TIMESTAMP, redelivery_count INT, due_ms BIGINT")


class SourceLog:
    """file name -> lowest micro-batch id that read it, from the
    file-source log in a checkpoint.

    The log writes one file per batch and folds every tenth into
    ``<n>.compact``, which repeats all earlier entries; keeping the
    lowest id per path undoes the repetition. Log files appear by an
    atomic rename and never change, so each is parsed once."""

    def __init__(self, checkpoint: str):
        self.dir = os.path.join(checkpoint, "sources", "0")
        self.batch_of: dict[str, int] = {}
        self._parsed: set[str] = set()

    def read(self) -> dict[str, int]:
        if not os.path.isdir(self.dir):
            return self.batch_of
        for name in os.listdir(self.dir):
            if name in self._parsed or name.startswith(".") or name.endswith(".tmp"):
                continue
            try:
                batch = int(name.split(".")[0])
                with open(os.path.join(self.dir, name)) as f:
                    lines = f.read().splitlines()[1:]
            except (ValueError, FileNotFoundError):
                continue
            self._parsed.add(name)
            for line in lines:
                if not line.strip():
                    continue
                base = os.path.basename(json.loads(line)["path"])
                if base not in self.batch_of or batch < self.batch_of[base]:
                    self.batch_of[base] = batch
        return self.batch_of


def source_log(checkpoint: str) -> dict[str, int]:
    """A one-off ``SourceLog`` read."""
    return dict(SourceLog(checkpoint).read())


def pct(values, q):
    """Nearest-rank percentile; 0.0 for no values."""
    if not values:
        return 0.0
    s = sorted(values)
    return s[min(len(s) - 1, int(q * len(s)))]


class Subscription:
    """One streaming query with a folding foreachBatch sink."""

    def __init__(self, name: str, checkpoint: str):
        self.name = name
        self.checkpoint = checkpoint
        self.returned: dict[int, float] = {}  # batch id -> sink return time
        self.folded: dict = {}
        self.dropped_late = 0
        self.fold_cpu_s = 0.0  # CPU time of the folding below: benchmark work
        self.query = None
        self._lock = threading.Lock()
        self._log = SourceLog(checkpoint)

    def sink(self, df, batch_id: int) -> None:
        rows = df.collect()
        t_cpu = time.thread_time()
        with self._lock:
            if self.name == "keyed":
                for state, next_state, n_delta, n_dropped in rows:
                    if state is not None:
                        k = (state, next_state)
                        self.folded[k] = self.folded.get(k, 0) + n_delta
                    self.dropped_late = max(self.dropped_late, n_dropped)
            else:
                for key, value, seq in rows:
                    if key not in self.folded or seq > self.folded[key][1]:
                        self.folded[key] = (bytes(value), seq)
            self.fold_cpu_s += time.thread_time() - t_cpu
            self.returned[batch_id] = time.time()

    def delivered(self) -> dict[str, float]:
        """file name -> return time of the sink call that emitted it
        (call from one thread only)."""
        with self._lock:
            ret = dict(self.returned)
        return {f: ret[b] for f, b in self._log.read().items() if b in ret}

    def progress(self) -> list[dict]:
        return [json.loads(p.json()) for p in self.query._jsq.recentProgress()]


def _start(spark, tracer, sub: Subscription, topic: str):
    from incubator_pulsar_spark.sources.connectors import file_source_stream
    from incubator_pulsar_spark.streaming.behavior import markov_stream
    from incubator_pulsar_spark.streaming.tableview import table_view_updates
    from pyspark.sql import functions as F

    with tracer.span(f"file_source_stream:{sub.name}", "sources"):
        src = file_source_stream(spark, topic, fmt="parquet", schema=TOPIC_DDL,
                                 max_files_per_trigger=MAX_FILES_PER_TRIGGER)
    with tracer.span(f"operator:{sub.name}", "streaming"):
        if sub.name == "keyed":
            out = markov_stream(src.withColumn("state", F.col("value").cast("string")),
                                key_col="key", order_col="sequence", state_col="state")
            mode = "append"
        else:
            out = table_view_updates(src, key_col="key", value_col="value",
                                     sequence_col="sequence")
            mode = "update"
    with tracer.span(f"writeStream.start:{sub.name}", "streaming"):
        sub.query = (out.writeStream.queryName(sub.name).outputMode(mode)
                     .option("checkpointLocation", sub.checkpoint)
                     .foreachBatch(sub.sink).start())


def _run_generator(run_dir: str, topic: str, seed: int, first: int, files: int,
                   interval_s: float, tag: str, burst: bool) -> subprocess.Popen:
    status = os.path.join(run_dir, f"gen-{tag}.json")
    cmd = [sys.executable, os.path.join(os.path.dirname(__file__), "stream_gen.py"),
           "--seed", str(seed), "--out", topic, "--first-file", str(first),
           "--files", str(files), "--interval-s", str(interval_s), "--status", status]
    return subprocess.Popen(cmd + (["--burst"] if burst else []))


def _wait_for(files: list[str], subs, deadline: float) -> bool:
    while time.time() < deadline:
        if all(s.delivered().keys() >= set(files) for s in subs):
            return True
        for s in subs:
            if s.query.exception() is not None:
                raise RuntimeError(f"{s.name} failed: {s.query.exception()}")
        time.sleep(0.1)
    return False


def _duckdb_expected(con, topic: str):
    glob = os.path.join(topic, "*.parquet")
    markov = con.execute(f"""
        SELECT state, next_state, COUNT(*) FROM (
          SELECT CAST(value AS VARCHAR) AS state,
                 lead(CAST(value AS VARCHAR)) OVER (PARTITION BY key ORDER BY sequence) AS next_state
          FROM read_parquet('{glob}'))
        WHERE next_state IS NOT NULL GROUP BY ALL""").fetchall()
    view = con.execute(f"""
        SELECT key, arg_max(value, sequence), max(sequence)
        FROM read_parquet('{glob}') GROUP BY key""").fetchall()
    return ({(a, b): n for a, b, n in markov},
            {k: (bytes(v), s) for k, v, s in view})


def run_flags(status: dict, backlog_growth_files: float) -> list[str]:
    """Why a live phase's figures cannot stand for the offered rate."""
    flags = []
    if status["late_ms_max"] > LATE_LIMIT_MS:
        flags.append(f"generator ran {status['late_ms_max']:.0f} ms late")
    if backlog_growth_files >= GROWTH_LIMIT_FILES:
        flags.append(f"live backlog grew by {backlog_growth_files:.1f} files")
    return flags


def check_stream(keyed: dict, view: dict, dropped_late: int, expected) -> list[str]:
    """Wrong results of the two subscriptions against DuckDB; [] when right."""
    exp_markov, exp_view = expected
    wrong = []
    if keyed != exp_markov:
        diff = set(keyed.items()) ^ set(exp_markov.items())
        wrong.append(f"keyed: {len(diff)} transition counts differ, e.g. {sorted(diff)[:2]}")
    if dropped_late:
        wrong.append(f"keyed: {dropped_late} rows dropped as late")
    if view != exp_view:
        diff = {k for k in set(view) | set(exp_view) if view.get(k) != exp_view.get(k)}
        wrong.append(f"view: {len(diff)} keys differ, e.g. {sorted(diff)[:2]}")
    return wrong


def check_run(con, r: dict) -> list[str]:
    """Wrong results of a ``run_stream`` result against DuckDB over its topic."""
    keyed, view, dropped_late = r["folded"]
    return check_stream(keyed, view, dropped_late, _duckdb_expected(con, r["topic"]))


def _batch_stats(progress: list[dict], t_lo: float, t_hi: float) -> dict:
    """Means over the micro-batches of the run that read input."""
    batches = [p for p in progress if "addBatch" in p.get("durationMs", {})]
    useful = [p for p in batches if p.get("numInputRows", 0) > 0]
    dur = lambda p, k: p["durationMs"].get(k, 0)  # noqa: E731
    mean = lambda xs: statistics.fmean(xs) if xs else 0.0  # noqa: E731
    ops = [p["stateOperators"][0] for p in useful if p.get("stateOperators")]
    busy = 0.0
    for p in batches:
        start = datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00")).timestamp()
        end = start + dur(p, "triggerExecution") / 1000
        busy += max(0.0, min(end, t_hi) - max(start, t_lo))
    return {
        "batches": len(batches),
        "trigger_ms": mean([dur(p, "triggerExecution") for p in useful]),
        "add_batch_ms": mean([dur(p, "addBatch") for p in useful]),
        "query_planning_ms": mean([dur(p, "queryPlanning") for p in useful]),
        "wal_commit_ms": mean([dur(p, "walCommit") for p in useful]),
        "commit_offsets_ms": mean([dur(p, "commitOffsets") for p in useful]),
        "latest_offset_ms": mean([dur(p, "latestOffset") for p in useful]),
        "get_batch_ms": mean([dur(p, "getBatch") for p in useful]),
        "rows_per_batch": mean([p["numInputRows"] for p in useful]),
        "state_rows": max([o.get("numRowsTotal", 0) for o in ops], default=0),
        "state_mem_mb": max([o.get("memoryUsedBytes", 0) for o in ops], default=0) / 2**20,
        "state_commit_ms": mean([o.get("commitTimeMs", 0) for o in ops]),
        "late_dropped": sum(o.get("numRowsDroppedByWatermark", 0) for o in ops),
        "busy_ratio": busy / (t_hi - t_lo) if t_hi > t_lo else 0.0,
        "useful_batch_ratio": len(useful) / len(batches) if batches else 0.0,
    }


def run_stream(spark, tracer, run_dir: str, seed: int, seconds: int, cpu) -> dict:
    """Runs both phases; returns measurements and the flags raised.
    ``cpu`` is the ``procmem.CpuWindow`` that measures the two phases;
    the benchmark's own work in them is excluded from it."""
    topic = os.path.join(run_dir, "topic")
    os.makedirs(topic, exist_ok=True)
    n_live = max(1, round(seconds / LIVE_INTERVAL_S))
    flags: list[str] = []

    def generate(first: int, files: int, interval_s: float, tag: str, burst=False) -> dict:
        gen = _run_generator(run_dir, topic, seed, first, files, interval_s, tag, burst)
        cpu.rss.excluded.add(gen.pid)
        reaped0 = procmem.reaped_children_cpu_s()
        code = gen.wait()
        cpu.exclude(procmem.reaped_children_cpu_s() - reaped0)
        cpu.rss.excluded.discard(gen.pid)
        if code != 0:
            raise RuntimeError(f"stream generator failed ({tag})")
        with open(os.path.join(run_dir, f"gen-{tag}.json")) as f:
            return json.load(f)

    names = lambda first, n: [stream_gen.file_name(first + k) for k in range(n)]  # noqa: E731
    warm, backlog = names(0, WARM_FILES), names(WARM_FILES, BACKLOG_FILES)
    live_first = WARM_FILES + BACKLOG_FILES
    subs = [Subscription(n, os.path.join(run_dir, f"ck-{n}")) for n in SUBS]
    # warm-up: query start-up, first Python workers, first state commit and
    # a first micro-batch as large as the drain's
    generate(0, WARM_FILES, 0.0, "warm")
    t_start = time.time()
    for s in subs:
        _start(spark, tracer, s, topic)
    if not _wait_for(warm, subs, t_start + 120):
        raise RuntimeError("subscriptions did not emit the warm-up files")
    warm_s = time.time() - t_start

    fold0 = sum(s.fold_cpu_s for s in subs)
    cpu.start()
    main0 = time.thread_time()  # this thread only generates and polls
    with tracer.span("drain", "bench"):
        drain_span = tracer.current()
        landed = generate(WARM_FILES, BACKLOG_FILES, 0.0, "backlog", burst=True)["landed_at"]
        drained = _wait_for(backlog, subs, time.time() + 60 + 2 * seconds)
        t_drain1 = time.time()
    if not drained:
        flags.append("backlog did not drain")
    backlog_events = BACKLOG_FILES * stream_gen.EVENTS_PER_FILE
    drain = {}
    for s in subs:
        got = s.delivered()
        done = max((got[f] for f in backlog if f in got), default=landed)
        drain[s.name] = backlog_events / (done - landed) if drained else 0.0

    backlog_samples: list[tuple[float, int]] = []
    stop_sampling = threading.Event()
    sampler_cpu_s = [0.0]
    n_landed = lambda: sum(1 for n in os.listdir(topic) if n.endswith(".parquet"))  # noqa: E731

    def sample_backlog():
        logs = [SourceLog(s.checkpoint) for s in subs]
        while not stop_sampling.is_set():
            on_disk = n_landed()
            backlog_samples.append((time.time(), max(on_disk - len(g.read()) for g in logs)))
            sampler_cpu_s[0] = time.thread_time()
            stop_sampling.wait(0.25)

    with tracer.span("live", "bench"):
        live_span = tracer.current()
        sampler = threading.Thread(target=sample_backlog, daemon=True)
        sampler.start()
        t_live0 = time.time()
        try:
            status = generate(live_first, n_live, LIVE_INTERVAL_S, "live")
        finally:
            t_gen_end = time.time()
            live_files = names(live_first, n_live)
            _wait_for(live_files, subs, time.time() + GRACE_S)
            stop_sampling.set()
            sampler.join(timeout=5)
            cpu.exclude(time.thread_time() - main0 + sampler_cpu_s[0]
                        + sum(s.fold_cpu_s for s in subs) - fold0)
            cpu_s = cpu.stop()

    progress = {s.name: s.progress() for s in subs}
    for s in subs:
        s.query.stop()

    # per-event latency, live files only
    due = {f["name"]: status["t0"] + f["due_ms"] / 1000 for f in status["files"]}
    got = {s.name: s.delivered() for s in subs}
    lat = {s.name: [(got[s.name][f] - due[f]) * 1000 for f in live_files if f in got[s.name]]
           for s in subs}
    both = [max(got["keyed"][f], got["view"][f]) - due[f] for f in live_files
            if f in got["keyed"] and f in got["view"]]
    all_files = warm + backlog + live_files
    undelivered = sum(1 for s in subs for f in all_files if f not in got[s.name])

    # backlog growth: mean backlog in the last quarter of the schedule minus the first
    live_samples = [(t, b) for t, b in backlog_samples if t_live0 <= t <= t_gen_end]
    q = max(1, len(live_samples) // 4)
    growth = (statistics.fmean(b for _, b in live_samples[-q:])
              - statistics.fmean(b for _, b in live_samples[:q])) if live_samples else 0.0
    flags += run_flags(status, growth)

    for s in subs:
        parent = drain_span
        for p in progress[s.name]:
            if "triggerExecution" not in p.get("durationMs", {}):
                continue
            t = datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00")).timestamp()
            if t >= t_live0:
                parent = live_span
            tracer.add(f"microbatch:{s.name}:{p['batchId']}", "streaming", t,
                       t + p["durationMs"]["triggerExecution"] / 1000, parent)

    files_per_batch = [len(all_files) / max(1, len(set(source_log(s.checkpoint).values())))
                       for s in subs]
    return {
        "drain_eps": min(drain.values()),
        "latency_ms": [x * 1000 for x in both],
        "events": len(all_files) * stream_gen.EVENTS_PER_FILE,
        # process-tree CPU over the drain and live phases, per event they carried
        "cpu_ms_per_event": cpu_s * 1000 / (len(backlog + live_files) * stream_gen.EVENTS_PER_FILE),
        "measured_events": len(backlog + live_files) * stream_gen.EVENTS_PER_FILE,
        "undelivered_events": undelivered * stream_gen.EVENTS_PER_FILE,
        "topic": topic,
        "folded": (subs[0].folded, subs[1].folded, subs[0].dropped_late),
        "flags": flags,
        "warm_s": warm_s,
        "gen_late_ms": status["late_ms_max"],
        "per_sub": {s.name: {
            **_batch_stats(progress[s.name], t_live0, t_gen_end),
            "latency_p50_ms": pct(lat[s.name], 0.5),
            "latency_p90_ms": pct(lat[s.name], 0.9),
            "drain_eps": drain[s.name],
        } for s in subs},
        "sources": {
            "backlog_files_max": max((b for _, b in live_samples), default=0),
            "backlog_growth_files": growth,
            "files_per_batch": statistics.fmean(files_per_batch),
            "drain_s": t_drain1 - landed,
        },
        "batches": {s.name: [(p["batchId"], p["timestamp"], p.get("numInputRows", 0),
                              p["durationMs"].get("triggerExecution", 0),
                              round(s.returned.get(p["batchId"], 0) - t_start, 3))
                             for p in progress[s.name] if "addBatch" in p.get("durationMs", {})]
                    for s in subs},
    }
