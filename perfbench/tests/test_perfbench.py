"""Tests of the benchmark's own parts; no Spark session is started.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import filecmp
import os
import sys
import time

import pytest

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path[:0] = [os.path.dirname(HERE), HERE]

import batch  # noqa: E402
import oracle  # noqa: E402
import stream  # noqa: E402
import stream_gen  # noqa: E402


def _gen(tmp_path, name, seed, files=3):
    out = tmp_path / name
    stream_gen.run(str(out), seed, 0, files, 0.0)
    return out


def test_generator_same_seed_gives_identical_files(tmp_path):
    a, b = _gen(tmp_path, "a", 7), _gen(tmp_path, "b", 7)
    names = sorted(os.listdir(a))
    assert names == sorted(os.listdir(b)) and len(names) == 3
    _, mismatch, errors = filecmp.cmpfiles(a, b, names, shallow=False)
    assert mismatch == [] and errors == []


def test_generator_other_seed_gives_other_files(tmp_path):
    a, b = _gen(tmp_path, "a", 7), _gen(tmp_path, "b", 8)
    _, mismatch, _ = filecmp.cmpfiles(a, b, sorted(os.listdir(a)), shallow=False)
    assert len(mismatch) == 3


def test_generator_sequence_rises_across_files_and_is_shuffled_inside():
    t0, t1 = stream_gen.file_table(3, 0, 0), stream_gen.file_table(3, 1, 500)
    s0, s1 = t0.column("sequence").to_pylist(), t1.column("sequence").to_pylist()
    assert max(s0) < min(s1)
    assert s0 != sorted(s0)
    assert set(t1.column("due_ms").to_pylist()) == {500}


def test_generator_reports_lateness_and_the_run_is_flagged(tmp_path, monkeypatch):
    real = stream_gen.write_file

    def slow_write(*args):
        time.sleep(0.3)
        return real(*args)

    monkeypatch.setattr(stream_gen, "write_file", slow_write)
    status = stream_gen.run(str(tmp_path / "t"), 1, 0, 3, 0.05)
    assert [f["i"] for f in status["files"]] == [0, 1, 2]
    # each write takes 300 ms against a 50 ms schedule: the third file is
    # about 3 * 300 - 2 * 50 = 800 ms late
    assert status["late_ms_max"] > stream.LATE_LIMIT_MS
    assert stream.run_flags(status, 0.0) == [f"generator ran {status['late_ms_max']:.0f} ms late"]


def test_late_generator_and_growing_backlog_are_flagged():
    on_time = {"late_ms_max": 3.0}
    late = {"late_ms_max": stream.LATE_LIMIT_MS + 1}
    assert stream.run_flags(on_time, 0.5) == []
    assert any("late" in f for f in stream.run_flags(late, 0.0))
    assert any("grew" in f for f in stream.run_flags(on_time, 3.0))


def test_source_log_keeps_lowest_batch_across_compact_files(tmp_path):
    d = tmp_path / "ck" / "sources" / "0"
    d.mkdir(parents=True)
    entry = lambda n: '{"path":"file:///t/%s","timestamp":1,"batchId":0}' % n  # noqa: E731
    (d / "0").write_text("v1\n" + entry("a.parquet") + "\n")
    (d / "1").write_text("v1\n" + entry("b.parquet") + "\n")
    # a .compact file repeats every earlier entry
    (d / "9.compact").write_text("v1\n" + "\n".join(entry(n) for n in ("a.parquet", "b.parquet", "c.parquet")) + "\n")
    assert stream.source_log(str(tmp_path / "ck")) == {"a.parquet": 0, "b.parquet": 1, "c.parquet": 9}


def test_source_log_reader_parses_new_files_only(tmp_path):
    d = tmp_path / "ck" / "sources" / "0"
    d.mkdir(parents=True)
    entry = lambda n: '{"path":"file:///t/%s","timestamp":1,"batchId":0}' % n  # noqa: E731
    log = stream.SourceLog(str(tmp_path / "ck"))
    assert log.read() == {}
    (d / "0").write_text("v1\n" + entry("a.parquet") + "\n")
    assert log.read() == {"a.parquet": 0}
    (d / "1").write_text("v1\n" + entry("b.parquet") + "\n")
    assert log.read() == {"a.parquet": 0, "b.parquet": 1}
    assert log._parsed == {"0", "1"}


def test_excluded_helper_process_is_not_in_the_tree():
    import subprocess

    import procmem

    p = subprocess.Popen([sys.executable, "-c", "import time; time.sleep(30)"])
    try:
        assert p.pid in procmem._tree_stats(os.getpid())
        assert p.pid not in procmem._tree_stats(os.getpid(), frozenset({p.pid}))
    finally:
        p.kill()
        p.wait()


@pytest.fixture(scope="module")
def duck(tmp_path_factory):
    d = tmp_path_factory.mktemp("duckdb")
    con = oracle.duckdb_con(batch.DATA, str(d))
    yield con
    con.close()


@pytest.mark.parametrize("query", ["q3_shipping_priority", "compaction_publish_order",
                                   "tumbling_window_hourly"])
def test_planted_wrong_row_is_a_wrong_result(duck, query):
    from incubator_pulsar_spark.plans.queries import ALL_QUERIES

    cur = duck.execute(ALL_QUERIES[query].oracle)
    cols, rows = [d[0] for d in cur.description], cur.fetchall()
    assert rows, "the tables must give this query rows"
    assert batch.check_against_oracle(duck, query, rows, cols) is None
    assert batch.check_against_oracle(duck, query, batch.plant_wrong_row_in(rows), cols)


def test_stream_check_sees_a_planted_wrong_delta(tmp_path, duck):
    topic = tmp_path / "topic"
    stream_gen.run(str(topic), 5, 0, 2, 0.0)
    expected = stream._duckdb_expected(duck, str(topic))
    markov, view = dict(expected[0]), dict(expected[1])
    assert stream.check_stream(markov, view, 0, expected) == []
    k = next(iter(markov))
    markov[k] += 1
    assert len(stream.check_stream(markov, view, 0, expected)) == 1
    assert len(stream.check_stream(expected[0], view, 2, expected)) == 1


def test_run_with_a_planted_wrong_row_reports_it(tmp_path):
    """End to end through run.py (starts Spark; about a minute)."""
    import json
    import subprocess

    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", "topic_batch",
           "--seed", "1", "--seconds", "1", "--trace", "0", "--plant-wrong-row"]
    p = subprocess.run(cmd, capture_output=True, text=True, timeout=600, cwd=os.path.dirname(HERE))
    assert p.returncode == 0, p.stderr[-2000:]
    lines = p.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    assert result["correct"] is False
    wrong = [ln for ln in lines if ln.startswith("# topic_batch wrong_results ")]
    assert wrong and int(float(wrong[0].split()[3])) >= 1
    assert "# WRONG " in p.stderr


def test_run_exits_nonzero_without_the_package(tmp_path):
    import json
    import shutil
    import subprocess

    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns("_runs", "__pycache__"))
    shutil.copy(os.path.join(os.path.dirname(HERE), "BENCHMARK.json"), tmp_path)
    with open(tmp_path / "BENCHMARK.json") as f:
        cmd = json.load(f)["command"]
    p = subprocess.run([sys.executable if c == "python3" else c for c in cmd]
                       + ["--workload", "topic_batch", "--seed", "1", "--seconds", "1", "--trace", "0"],
                       capture_output=True, text=True, timeout=180, cwd=tmp_path)
    assert p.returncode != 0
    assert p.stdout.strip() == ""
