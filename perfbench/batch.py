"""``topic_batch``: closed-loop batch analytics over the registry
(``plans/queries.py``).

One client runs the roster pass after pass over the sf0.01 test tables
of ``TESTDATA.md``, copied into ``perfbench/data``. The first pass is
the untimed warm pass: each query's rows are collected, to be compared
with its DuckDB ``oracle_sql()`` once the run's measurements have
ended. Then whole timed passes, as many as it takes to fill
``seconds``, run the roster in an order drawn from the seed and time
``Query.build`` plus ``count()``; every count must equal the warm
pass's row count.
"""

from __future__ import annotations

import os
import random
import time

import oracle

DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")

# A subset of the registry: about one row per TPC-H shape, per Pulsar
# data-plane family and per UDF family. JVM start-up and the cold warm
# pass dominate a run, and every run the benchmark makes must fit its
# time budget.
TPCH = ["q1_pricing_summary", "q5_region_revenue", "q9_profit_by_nation", "q18_large_orders"]
PULSAR = ["compaction_publish_order", "tableview_events", "dedup_sequence_ids",
          "tumbling_window_hourly", "session_windows_users", "retry_dlq_routing",
          "delayed_withheld", "subscription_backlog_events"]
UDF = ["text_stats", "tfidf_top_terms", "minhash_lsh_pairs", "embedding_topk",
       "knn_graph_embeddings", "window_udaf_median"]
LIFECYCLE = "ivfpq_topk_embeddings"  # timed as its index build and its probe

# (module tag, query); the tag names the layer the query exercises
ROSTER = ([("plans", q) for q in TPCH] + [("operators", q) for q in PULSAR]
          + [("functions", q) for q in UDF + [LIFECYCLE]])


class Execution:
    __slots__ = ("module", "query", "phase", "build_s", "action_s", "start", "end", "rows", "error")

    def __init__(self, module, query, phase):
        self.module, self.query, self.phase = module, query, phase
        self.build_s = self.action_s = 0.0
        self.start = self.end = 0.0
        self.rows = None
        self.error = None

    @property
    def wall_s(self) -> float:
        return self.build_s + self.action_s


def _run_one(spark, tracer, tables_dir, module, query, phase, collect):
    """Runs one roster entry; returns its Execution, or two for the index
    lifecycle (build, then probe)."""
    from incubator_pulsar_spark.plans.queries import ALL_QUERIES, LIFECYCLES

    if query == LIFECYCLE:
        build, probe = LIFECYCLES[query]
        steps = [(f"{query}:build", build, False), (f"{query}:probe", probe, True)]
    else:
        steps = [(query, ALL_QUERIES[query].build, True)]
    out = []
    for name, fn, has_rows in steps:
        tracer.tag(spark, module, name, phase)
        ex = Execution(module, name, phase)
        out.append(ex)
        with tracer.span(f"query:{name}", "bench"):
            try:
                ex.start = time.time()
                with tracer.span("build", module):
                    t0 = time.perf_counter()
                    df = fn(spark, tables_dir)
                    t1 = time.perf_counter()
                ex.build_s = t1 - t0
                if has_rows:
                    with tracer.span("action", module):
                        result = df.collect() if collect else df.count()
                        ex.action_s = time.perf_counter() - t1
                    ex.rows = (result, df.columns) if collect else result
                ex.end = time.time()
            except Exception as e:  # a failing query is counted, the run goes on
                ex.end = time.time()
                ex.error = f"{type(e).__name__}: {str(e).splitlines()[0] if str(e) else ''}"
                break
    return out


def plant_wrong_row_in(rows: list) -> list:
    """The rows with the first cell of the first row altered."""
    first = list(rows[0])
    v = first[0]
    first[0] = v + 1 if isinstance(v, (int, float)) and not isinstance(v, bool) else f"{v}~"
    return [tuple(first)] + list(rows[1:])


def check_against_oracle(con, query: str, rows, cols) -> str | None:
    from incubator_pulsar_spark.plans.queries import ALL_QUERIES

    sql = ALL_QUERIES[query.split(":")[0]].oracle
    if sql is None:
        return None
    cur = con.execute(sql)
    return oracle.mismatch(rows, cols, cur.fetchall(), [d[0] for d in cur.description])


def check_warm(con, warm: list, plant_wrong_row: bool = False) -> list[str]:
    """Wrong results of the warm pass against the DuckDB oracle; [] when right."""
    wrong: list[str] = []
    for ex in warm:
        if ex.error or ex.rows is None:
            continue
        rows, cols = ex.rows
        if plant_wrong_row and not wrong and rows:
            rows = plant_wrong_row_in(rows)
        bad = check_against_oracle(con, ex.query, rows, cols)
        if bad:
            wrong.append(f"{ex.query}: {bad}")
    return wrong


def run_batch(spark, tracer, tables_dir: str, seed: int, seconds: int, cpu) -> dict:
    """Runs the warm pass and the timed passes; ``cpu`` is the
    ``procmem.CpuWindow`` that measures the timed passes."""
    wrong: list[str] = []
    expected_rows: dict[str, int] = {}
    warm: list[Execution] = []
    t_warm0 = time.perf_counter()
    with tracer.span("warm", "bench"):
        for module, query in ROSTER:
            for ex in _run_one(spark, tracer, tables_dir, module, query, "warm", collect=True):
                warm.append(ex)
                if ex.error is None and ex.rows is not None:
                    expected_rows[ex.query] = len(ex.rows[0])
    warm_s = time.perf_counter() - t_warm0

    rng = random.Random(seed)
    timed: list[Execution] = []
    cpu.start()
    t0 = time.perf_counter()
    with tracer.span("timed", "bench"):
        # whole passes only, so every run times the same mix of queries
        while time.perf_counter() - t0 < seconds:
            order = list(ROSTER)
            rng.shuffle(order)
            for module, query in order:
                for ex in _run_one(spark, tracer, tables_dir, module, query, "timed", collect=False):
                    timed.append(ex)
                    if ex.error is None and ex.rows is not None and ex.rows != expected_rows.get(ex.query):
                        wrong.append(f"{ex.query}: timed count {ex.rows} != warm {expected_rows.get(ex.query)}")
    timed_s = time.perf_counter() - t0
    return {"warm": warm, "timed": timed, "warm_s": warm_s, "timed_s": timed_s,
            "timed_cpu_s": cpu.stop(), "wrong": wrong}
