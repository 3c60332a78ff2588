"""Keyed state for stream operators: one ``applyInPandasWithState``
runner shared by every per-key fold (the Pulsar Functions keyed-state
model — one state mechanism, many functions — and the state-store
design of Structured Streaming).

An operator supplies a per-key fold

    fold(key, state | None, rows, watermark_ms) -> (state', out_rows)

where ``state`` is the key's state tuple (fields of the operator's
per-key schema; ``None`` for a key with no state yet), ``rows`` the
key's new input rows as tuples of ``columns`` in arrival order, and
``out_rows`` a list of output tuples in ``out_schema`` order. A fold
may return ``state' = None`` only for a key that has no state yet (it
stays without).

One state row holds a list of (key, per-key state) entries, stored
columnar: a ``keys`` array plus one array per per-key field. The state
row is grouped by ``key`` (one entry per row) or, with ``buckets=B``,
by ``pmod(xxhash64(key), B)`` (every key of the bucket in one row, so a
micro-batch makes B Arrow group invocations instead of one per key —
the per-group machinery, not the fold, is what these operators pay
for). Both groupings run the same function: rows are split by key in
the one pass over each Arrow batch, the fold runs per key, and all
emissions leave as one frame.

The state row is rewritten only when some key's state changed. B is
recorded in the state row: a resume with a different B would route
keys to buckets that do not hold their state, so it raises instead.

With ``pending`` (a predicate on a key's state: does it still hold
buffered rows?) the operator runs under event-time timeouts: the fold
sees the current watermark, keys whose state is pending are folded on
every invocation (new data or a fired timer) even without new rows,
and the timer re-arms at watermark + 1 s while any key is pending
(fired timers are consumed). Without ``pending`` there are no timers,
``watermark_ms`` is ``None`` and only keys with new rows are folded.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator, Sequence
from typing import Any

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

Fold = Callable[[Any, "tuple | None", list, "int | None"],
                "tuple[tuple | None, list]"]


def keyed_state(
    keyed: DataFrame,
    fold: Fold,
    *,
    columns: Sequence[str],
    state_schema: T.StructType,
    out_schema: T.StructType,
    buckets: int | None = None,
    pending: Callable[[tuple], bool] | None = None,
) -> DataFrame:
    """Run ``fold`` per key of ``keyed`` (which carries a string
    ``key`` column plus ``columns``) with checkpointed per-key state;
    append-mode output in ``out_schema``."""
    b = None if buckets is None else int(buckets)
    row_schema = T.StructType(
        [T.StructField("n_buckets", T.IntegerType()),
         T.StructField("keys", T.ArrayType(T.StringType()))]
        + [T.StructField(f.name, T.ArrayType(f.dataType))
           for f in state_schema.fields])
    out_cols = out_schema.fieldNames()
    cols = list(columns)

    def run(_group: Any, pdfs: Iterator[pd.DataFrame],
            state) -> Iterator[pd.DataFrame]:
        held: dict = {}
        if state.exists:
            n_b, keys, *fields = state.get
            if n_b != b:
                raise ValueError(
                    f"keyed state was checkpointed with state_buckets="
                    f"{n_b} but this run asks for state_buckets={b}: "
                    f"keys would route to buckets that do not hold "
                    f"their state; resume with state_buckets={n_b} or "
                    f"start a new checkpoint")
            held = dict(zip(keys, zip(*fields)))
        rows: dict = {}
        for pdf in pdfs:
            for k, row in zip(pdf["key"].tolist(),
                              zip(*(pdf[c].tolist() for c in cols))):
                rows.setdefault(k, []).append(row)
        wm = None if pending is None else state.getCurrentWatermarkMs()
        todo = list(rows)
        if pending is not None:
            todo += [k for k, s in held.items()
                     if k not in rows and pending(s)]
        out: list = []
        changed = False
        for k in todo:
            old = held.get(k)
            new, emitted = fold(k, old, rows.get(k, []), wm)
            out.extend(emitted)
            if new != old:
                changed = True
                held[k] = new
        if changed:
            state.update((b, list(held), *map(list, zip(*held.values()))))
        if pending is not None and any(map(pending, held.values())):
            state.setTimeoutTimestamp(wm + 1000)
        if out:
            yield pd.DataFrame(out, columns=out_cols)

    if b is None:
        grouped = keyed.groupBy("key")
    else:
        grouped = keyed.withColumn(
            "_bkt", F.pmod(F.xxhash64("key"), F.lit(b)).cast("int")
        ).groupBy("_bkt")
    return grouped.applyInPandasWithState(
        run, out_schema, row_schema, "append",
        "NoTimeout" if pending is None else "EventTimeTimeout")
