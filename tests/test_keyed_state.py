"""The shared keyed-state adapter (``streaming/keyed_state.py``) and the
seven stream operators that fold through it: scd2 (publish order and
event time), markov, retention, twap, entropy and interval.

- stop/resume: stopping after batch 1 of a 3-batch replay and resuming
  from the checkpoint emits exactly the rows of the uninterrupted run;
- ``state_buckets``: the bucketed event-time scd2 is row-identical to
  the per-key form, and resuming with a different bucket count raises
  instead of silently losing the moved keys' state.
"""

from __future__ import annotations

import datetime as dt
import os
import time

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from pyspark.sql.pandas.types import to_arrow_schema

T0 = dt.datetime(2024, 1, 1)


def _ts(s):
    return T0 + dt.timedelta(seconds=s)


def _write_batch(spark, src, rows, schema):
    """Append one parquet file (one micro-batch under
    maxFilesPerTrigger=1) to ``src``; each file's mtime is past the
    previous one's, so the stream replays files in write order."""
    arrow = to_arrow_schema(spark.createDataFrame([], schema).schema)
    os.makedirs(src, exist_ok=True)
    n = len(os.listdir(src))
    path = os.path.join(src, f"part-{n:03d}.parquet")
    pq.write_table(pa.Table.from_pylist(
        [dict(zip(arrow.names, r)) for r in rows], schema=arrow), path)
    mtime = time.time() + n
    os.utime(path, (mtime, mtime))


def _run(spark, build, src, schema, sink, ck):
    """Drain ``src`` (one file per micro-batch) through ``build`` into
    a parquet sink under checkpoint ``ck``; returns the sink's rows."""
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", "1").parquet(src))
    q = (build(stream).writeStream.format("parquet").option("path", sink)
         .option("checkpointLocation", ck)
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    return sorted((tuple(r) for r in spark.read.parquet(sink).collect()),
                  key=repr)


def _scd2(stream):
    from incubator_pulsar_spark.streaming.scd2 import scd2_stream

    return scd2_stream(stream)


def _scd2_et(**kw):
    def build(stream):
        from incubator_pulsar_spark.streaming.scd2 import (
            scd2_stream_event_time,
        )

        return scd2_stream_event_time(stream, delay="10 seconds", **kw)
    return build


def _markov(stream):
    from incubator_pulsar_spark.streaming.behavior import markov_stream

    return markov_stream(stream)


def _retention(stream):
    from incubator_pulsar_spark.streaming.behavior import retention_stream

    return retention_stream(stream, anchor=0, period=10)


def _twap(stream):
    from incubator_pulsar_spark.streaming.behavior import twap_stream

    return twap_stream(stream)


def _entropy(stream):
    from incubator_pulsar_spark.streaming.behavior import entropy_stream

    return entropy_stream(stream)


def _interval(stream):
    from incubator_pulsar_spark.streaming.interval import interval_stream

    return interval_stream(stream)


# (build, schema, three batches): every case carries state across both
# batch boundaries. The publish-order cases feed a late row after the
# stop; the event-time case feeds a disordered row instead, because
# Spark filters late rows by the PREVIOUS batch's watermark and the
# stop adds a no-data batch, so a row between the two watermarks is
# dropped by Spark in one schedule and reaches the fold in the other.
_ET_BATCHES = [
    [("k0", "a", _ts(10)), ("k1", "a", _ts(11)), ("k0", "b", _ts(40)),
     ("k2", "x", _ts(30)), ("k1", "b", _ts(25))],
    [("k0", "c", _ts(80)), ("k1", "b", _ts(45)), ("k2", None, _ts(60)),
     ("k0", "z", _ts(35))],  # k0 @ 35 s lands inside its buffer
    [("k1", "d", _ts(90)), ("k2", "y", _ts(95)),
     ("\x00flush", "x", _ts(600))],  # sentinel: finalizes the buffers
]
CASES = {
    "scd2": (_scd2, "key string, value string, sequence long", [
        [("k0", "a", 1), ("k0", "a", 2), ("k0", "b", 3), ("k1", "x", 1)],
        [("k0", "b", 4), ("k1", "y", 5), ("k0", "c", 6), ("k1", None, 6)],
        [("k0", "c", 7), ("k0", "q", 2), ("k1", "y", 9)],
    ]),
    "scd2_event_time": (_scd2_et(), "key string, value string, ts timestamp",
                        _ET_BATCHES),
    "scd2_event_time_bucketed": (
        _scd2_et(state_buckets=2), "key string, value string, ts timestamp",
        _ET_BATCHES),
    "markov": (_markov, "user_id string, sequence long, event_type string", [
        [("u1", 10, "a"), ("u1", 20, "b"), ("u2", 10, "x")],
        [("u1", 30, "a"), ("u2", 20, "x"), ("u2", 30, "y"), ("u1", 5, "z")],
        [("u1", 40, "b"), ("u2", 40, "x"), ("u3", 1, "a")],
    ]),
    "retention": (_retention, "user_id string, sequence long", [
        [("u1", 15), ("u2", 31), ("u1", 17)],
        [("u1", 42), ("u2", 35), ("u2", 12), ("u3", 50)],
        [("u1", 44), ("u1", 61), ("u3", 70), ("u2", 55)],
    ]),
    "twap": (_twap, "event_type string, sequence long, v4 long", [
        [("a", 1000, 20000), ("a", 2000, 30000), ("b", 500, 10000)],
        [("a", 4000, 50000), ("b", 1500, 70000), ("a", 1500, 1)],
        [("a", 9000, 10000), ("b", 2500, 20000)],
    ]),
    "entropy": (_entropy, "user_id string, event_type string", [
        [("u1", "a"), ("u1", "b"), ("u2", "x")],
        [("u1", "a"), ("u2", None), ("u3", "y")],
        [("u1", "c"), ("u2", "x"), ("u2", "x")],
    ]),
    "interval": (_interval, "event_type string, s long, e long", [
        [("a", 0, 10), ("a", 5, 20), ("b", 0, 5)],
        [("a", 15, 30), ("b", 10, 12), ("a", 3, 8), ("b", 11, 11)],
        [("a", 40, 50), ("b", 11, 20), ("a", 45, 60)],
    ]),
}


@pytest.fixture
def narrow_state(spark):
    """One state partition: a 3-batch replay of a few keys needs no
    more, and each micro-batch then runs one stateful task instead of
    the four the ``spark`` fixture configures."""
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "1")
    yield
    spark.conf.set("spark.sql.shuffle.partitions", prev)


@pytest.mark.parametrize("name", list(CASES))
def test_stop_resume_matches_uninterrupted(spark, tmp_path, narrow_state,
                                           name):
    build, schema, batches = CASES[name]
    src = str(tmp_path / "src")
    for rows in batches:
        _write_batch(spark, src, rows, schema)
    want = _run(spark, build, src, schema,
                str(tmp_path / "sink"), str(tmp_path / "ck"))

    src2, sink2, ck2 = (str(tmp_path / "src2"), str(tmp_path / "sink2"),
                        str(tmp_path / "ck2"))
    _write_batch(spark, src2, batches[0], schema)
    _run(spark, build, src2, schema, sink2, ck2)  # stop after batch 1
    for rows in batches[1:]:
        _write_batch(spark, src2, rows, schema)
    got = _run(spark, build, src2, schema, sink2, ck2)
    assert got == want
    assert want  # non-trivial fixture


class TestScd2BucketedState:
    """state_buckets packs keys into composite state rows; the output
    must be row-identical to the per-key form on the same replay."""

    SCHEMA = "key string, value string, ts timestamp"

    def _run(self, spark, src, tmp_path, tag, **kw):
        rows = _run(spark, _scd2_et(**kw), src, self.SCHEMA,
                    str(tmp_path / f"sink_{tag}"), str(tmp_path / f"ck_{tag}"))
        return [r for r in rows if r[0] != "\x00flush"]

    def test_bucketed_matches_per_key(self, spark, tmp_path):
        src = str(tmp_path / "src")
        # 6 keys over 2 disordered batches; runs straddle the boundary;
        # k0 gets a late row below its finalized frontier (drop path)
        b1 = [(f"k{i}", "a", _ts(10 + i)) for i in range(6)] + \
             [(f"k{i}", "b", _ts(40 + i)) for i in range(6)] + \
             [("k1", "a", _ts(25))]
        b2 = [(f"k{i}", "c", _ts(80 + i)) for i in range(6)] + \
             [("k0", "z", _ts(11))]  # below k0's frontier after batch 1
        _write_batch(spark, src, b1, self.SCHEMA)
        _write_batch(spark, src, b2, self.SCHEMA)
        _write_batch(spark, src, [("\x00flush", "x", _ts(600))], self.SCHEMA)

        per_key = self._run(spark, src, tmp_path, "pk")
        bucketed = self._run(spark, src, tmp_path, "bk", state_buckets=2)
        assert per_key == bucketed
        assert per_key  # non-trivial fixture

    def test_single_bucket_matches_per_key(self, spark, tmp_path):
        src = str(tmp_path / "src")
        _write_batch(spark, src, [("a", "x", _ts(0)), ("b", "x", _ts(1))],
                     self.SCHEMA)
        _write_batch(spark, src, [("a", "y", _ts(30)), ("b", "y", _ts(31))],
                     self.SCHEMA)
        _write_batch(spark, src, [("\x00flush", "s", _ts(600))], self.SCHEMA)
        assert (self._run(spark, src, tmp_path, "pk1")
                == self._run(spark, src, tmp_path, "bk1", state_buckets=1))

    def test_resume_with_other_bucket_count_raises(self, spark, tmp_path):
        """Buckets 0 and 1 of a state_buckets=2 checkpoint hold the keys
        that hash there mod 2; under state_buckets=3 most keys route
        elsewhere and their open runs would be lost silently (without
        the guard the resumed run drops 4 of 12 closed runs)."""
        from pyspark.errors import StreamingQueryException

        src = str(tmp_path / "src")
        sink, ck = str(tmp_path / "sink"), str(tmp_path / "ck")
        _write_batch(spark, src,
                     [(f"k{i}", "a", _ts(10 + i)) for i in range(6)]
                     + [(f"k{i}", "b", _ts(40 + i)) for i in range(6)],
                     self.SCHEMA)
        _run(spark, _scd2_et(state_buckets=2), src, self.SCHEMA, sink, ck)
        _write_batch(spark, src,
                     [(f"k{i}", "c", _ts(80 + i)) for i in range(6)]
                     + [("\x00flush", "x", _ts(600))], self.SCHEMA)
        with pytest.raises(StreamingQueryException,
                           match="state_buckets=2 but this run asks for "
                                 "state_buckets=3"):
            _run(spark, _scd2_et(state_buckets=3), src, self.SCHEMA,
                 sink, ck)
