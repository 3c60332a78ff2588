"""Open-loop topic generator: writes envelope-shaped parquet files into
one topic directory on a fixed schedule, from a single thread.

File ``i`` depends only on (seed, i): Zipf-skewed keys, rows shuffled
inside the file, and a ``sequence`` that rises across files (so every
key's sequence rises across files too). Each row carries ``due_ms``,
the time its file was due, relative to the start of the schedule; the
wall-clock start is written to the status file, which keeps the topic
files byte-identical for one seed while latency is still measured from
when each event was due.

Files are written under a hidden name and renamed into place, so a
file-source stream never lists a half-written file (``--burst`` renames
a whole set at once, to land a backlog); each file gets a modification
time at least one millisecond after the previous one, so the source's
oldest-first order is the sequence order.

    python3 perfbench/stream_gen.py --seed 1 --out DIR --first-file 0 \
        --files 40 --interval-s 0 --status DIR/gen.json
"""

from __future__ import annotations

import argparse
import json
import os
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TOPIC = "persistent://public/default/bench-topic"
STATES = ["browse", "cart", "checkout", "search", "view"]
N_KEYS = 2000
N_PARTITIONS = 4
EVENTS_PER_FILE = 250
ZIPF_S = 1.1
BASE_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z

SCHEMA = pa.schema([
    ("topic", pa.string()), ("partition", pa.int32()), ("sequence", pa.int64()),
    ("key", pa.string()), ("value", pa.binary()),
    ("properties", pa.map_(pa.string(), pa.string())),
    ("publish_time", pa.timestamp("us", tz="UTC")), ("event_time", pa.timestamp("us", tz="UTC")),
    ("producer_name", pa.string()), ("sequence_id", pa.int64()), ("ordering_key", pa.binary()),
    ("deliver_at", pa.timestamp("us", tz="UTC")), ("redelivery_count", pa.int32()),
    ("due_ms", pa.int64()),
])

_KEY_P = 1.0 / np.arange(1, N_KEYS + 1) ** ZIPF_S
_KEY_P /= _KEY_P.sum()


def file_name(i: int) -> str:
    return f"part-{i:06d}.parquet"


def file_table(seed: int, i: int, due_ms: int) -> pa.Table:
    rng = np.random.default_rng([seed, i])
    n = EVENTS_PER_FILE
    seq = np.arange(i * n, (i + 1) * n, dtype=np.int64)
    keys = rng.choice(N_KEYS, n, p=_KEY_P)
    publish_us = BASE_US + seq * 1000
    order = rng.permutation(n)  # arrival order inside a file is shuffled
    seq, keys, publish_us = seq[order], keys[order], publish_us[order]
    event_us = publish_us - rng.integers(0, 5_000_000, n)  # event time lags publish time
    part = (keys % N_PARTITIONS).astype(np.int32)
    return pa.table({
        "topic": pa.array([TOPIC] * n, pa.string()),
        "partition": pa.array(part, pa.int32()),
        "sequence": pa.array(seq, pa.int64()),
        "key": pa.array([f"k{k}" for k in keys], pa.string()),
        "value": pa.array([STATES[s].encode() for s in rng.integers(0, len(STATES), n)], pa.binary()),
        "properties": pa.nulls(n, pa.map_(pa.string(), pa.string())),
        "publish_time": pa.array(publish_us, pa.timestamp("us", tz="UTC")),
        "event_time": pa.array(event_us, pa.timestamp("us", tz="UTC")),
        "producer_name": pa.array([f"producer-{p}" for p in part], pa.string()),
        "sequence_id": pa.array(seq, pa.int64()),
        "ordering_key": pa.nulls(n, pa.binary()),
        "deliver_at": pa.nulls(n, pa.timestamp("us", tz="UTC")),
        "redelivery_count": pa.array(np.zeros(n, np.int32), pa.int32()),
        "due_ms": pa.array(np.full(n, due_ms, np.int64), pa.int64()),
    }, schema=SCHEMA)


def write_file(out_dir: str, seed: int, i: int, due_ms: int, mtime_ns: int) -> tuple[str, str]:
    """Writes file i under a hidden name; returns (hidden path, final path)."""
    path = os.path.join(out_dir, file_name(i))
    tmp = os.path.join(out_dir, "." + file_name(i) + ".tmp")
    pq.write_table(file_table(seed, i, due_ms), tmp)
    os.utime(tmp, ns=(mtime_ns, mtime_ns))
    return tmp, path


def run(out_dir: str, seed: int, first_file: int, files: int, interval_s: float,
        burst: bool = False) -> dict:
    """Write files first_file .. first_file+files-1; file k of this call is
    due at k*interval_s after the start. With ``burst`` every file is
    written under its hidden name first and all are renamed at once, so
    the whole set lands together. Returns the status record."""
    os.makedirs(out_dir, exist_ok=True)
    t0 = time.time()
    interval_ms = round(interval_s * 1000)
    status = {"t0": t0, "seed": seed, "interval_ms": interval_ms,
              "events_per_file": EVENTS_PER_FILE, "files": []}
    last_mtime_ns = 0
    pending = []
    for k in range(files):
        due_ms = k * interval_ms
        wait = t0 + due_ms / 1000 - time.time()
        if wait > 0:
            time.sleep(wait)
        mtime_ns = max(time.time_ns(), last_mtime_ns + 1_000_000)
        tmp, path = write_file(out_dir, seed, first_file + k, due_ms, mtime_ns)
        last_mtime_ns = mtime_ns
        pending.append((tmp, path, first_file + k, due_ms))
        if not burst:
            _land(pending, status, t0)
    _land(pending, status, t0)
    status["landed_at"] = time.time()
    status["late_ms_max"] = max((f["late_ms"] for f in status["files"]), default=0.0)
    return status


def _land(pending: list, status: dict, t0: float) -> None:
    for tmp, path, i, due_ms in pending:
        os.rename(tmp, path)
        done = time.time()
        status["files"].append({"i": i, "name": file_name(i), "due_ms": due_ms,
                                "written_at": done, "late_ms": (done - t0) * 1000 - due_ms})
    pending.clear()


def main(argv=None) -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--first-file", type=int, default=0)
    ap.add_argument("--files", type=int, required=True)
    ap.add_argument("--interval-s", type=float, required=True)
    ap.add_argument("--status", required=True)
    ap.add_argument("--burst", action="store_true", help="land all files at once")
    a = ap.parse_args(argv)
    status = run(a.out, a.seed, a.first_file, a.files, a.interval_s, a.burst)
    with open(a.status + ".tmp", "w") as f:
        json.dump(status, f)
    os.rename(a.status + ".tmp", a.status)


if __name__ == "__main__":
    main()
