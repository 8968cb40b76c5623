"""Custom stateful streaming operators via ``applyInPandasWithState``.

Sessionization as an arbitrary-stateful streaming op: per-user state
holds the open session (start, last-event time, count); a new event
either extends it or — when the inactivity gap is exceeded — closes it
(the closed session is emitted) and starts a new one. This is the
streaming twin of the batch gaps-and-islands formulation (the
events_session_window oracle), and the pattern to copy for any operator Structured
Streaming lacks natively (counters, per-key models, CDC merge).

Semantics / contract:
- Emitted rows are sessions CLOSED BY A GAP — an open session stays in
  state until a later event (in any later microbatch) closes it, so
  each user's trailing session is never emitted. Deterministic
  regardless of watermark timing, which makes it testable under an
  ``availableNow`` drain.
- Events must reach the operator per-key in event-time order across
  microbatches (within a batch the handler sorts). File-source drops
  written range-partitioned by ts satisfy this; out-of-order streams
  need a watermark + buffer-in-state variant (state schema gains an
  event buffer; same plumbing).

Scale:
- State is (3 longs)/user — millions of concurrent users fit in a few
  hundred MB of executor state store; RocksDB state store keeps it off
  heap at larger cardinalities.
- The only shuffle is the groupBy(user_id) routing every stateful op
  pays; Arrow batches carry the per-key slices into pandas.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

SESSION_OUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType(), False),
        T.StructField("session_start_us", T.LongType(), False),
        T.StructField("session_end_us", T.LongType(), False),
        T.StructField("n_events", T.LongType(), False),
    ]
)

# (open-session start, last event seen, events so far) — all epoch-us
STATE_SCHEMA = T.StructType(
    [
        T.StructField("start_us", T.LongType(), False),
        T.StructField("last_us", T.LongType(), False),
        T.StructField("n", T.LongType(), False),
    ]
)


def sessionize_stateful(events: DataFrame, gap_minutes: int = 30) -> DataFrame:
    """Streaming sessionization (gap-closed sessions only — see module
    docstring). Works on a streaming DataFrame with columns
    (user_id, ts)."""
    gap_us = gap_minutes * 60 * 1_000_000

    def handle(
        key: tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        (user_id,) = key
        ts_us = (
            pd.concat(list(pdfs))["ts"]
            .astype("datetime64[us]")
            .astype("int64")
            .sort_values()
        )
        start, last, n = state.get if state.exists else (None, None, 0)
        closed: list[tuple[int, int, int, int]] = []
        for us in ts_us:
            us = int(us)
            if start is None:
                start, last, n = us, us, 1
            elif us - last > gap_us:
                closed.append((user_id, start, last, n))
                start, last, n = us, us, 1
            else:
                last, n = us, n + 1
        state.update((start, last, n))
        yield pd.DataFrame(
            closed,
            columns=["user_id", "session_start_us", "session_end_us", "n_events"],
        )

    return events.groupBy("user_id").applyInPandasWithState(
        handle,
        outputStructType=SESSION_OUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


FUNNEL_OUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType(), False),
        T.StructField("view_us", T.LongType(), False),
        T.StructField("click_us", T.LongType(), False),
        T.StructField("purchase_us", T.LongType(), False),
    ]
)

# (funnel stage reached 0-3, ts of stage-1 event, ts of stage-2 event)
FUNNEL_STATE_SCHEMA = T.StructType(
    [
        T.StructField("stage", T.IntegerType(), False),
        T.StructField("t1_us", T.LongType(), False),
        T.StructField("t2_us", T.LongType(), False),
    ]
)


def funnel_stateful(events: DataFrame) -> DataFrame:
    """Streaming conversion funnel: per-user state walks the staged
    sequence (first ``view``, first ``click`` STRICTLY after it, first
    ``purchase`` strictly after that); one row is emitted
    the moment a user completes the last stage, then the user is done
    (stage 3 is terminal — a completed user costs no further state
    transitions, only the groupBy routing).

    The greedy in-order walk computes exactly the batch funnel
    semantics (first qualifying event in
    event-time order == the MIN of qualifying events), so a full
    availableNow drain must equal the batch funnel restricted to
    completed users — the oracle for the streaming gate.  Same
    ordering contract as sessionize_stateful: per-key event-time order
    across microbatches (the per-batch sort handles within-batch),
    satisfied by a single-batch drain or ts-partitioned file drops.

    Scale: state is (int + 2 longs)/user; emission is append-mode and
    deterministic (no watermark dependence); the only shuffle is the
    stateful groupBy(user)."""
    s0, s1, s2 = "view", "click", "purchase"

    def handle(
        key: tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        (user_id,) = key
        pdf = pd.concat(list(pdfs))
        pdf = pdf.assign(
            us=pdf["ts"].astype("datetime64[us]").astype("int64")
        ).sort_values(["us", "event_id"])
        stage, t1, t2 = state.get if state.exists else (0, 0, 0)
        out: list[tuple[int, int, int, int]] = []
        if stage < 3:
            for us, et in zip(pdf["us"], pdf["event_type"]):
                us = int(us)
                if stage == 0 and et == s0:
                    stage, t1 = 1, us
                elif stage == 1 and et == s1 and us > t1:
                    stage, t2 = 2, us
                elif stage == 2 and et == s2 and us > t2:
                    stage = 3
                    out.append((user_id, t1, t2, us))
                    break
        state.update((stage, t1, t2))
        yield pd.DataFrame(
            out, columns=["user_id", "view_us", "click_us", "purchase_us"]
        )

    return events.groupBy("user_id").applyInPandasWithState(
        handle,
        outputStructType=FUNNEL_OUT_SCHEMA,
        stateStructType=FUNNEL_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


MG_OUT_SCHEMA = T.StructType(
    [
        T.StructField("bucket", T.LongType(), False),
        T.StructField("seq", T.LongType(), False),
        T.StructField("item", T.StringType(), False),
        T.StructField("cnt", T.LongType(), False),
    ]
)

# (trigger sequence number, sketch items, parallel counts) — the MG
# summary itself IS the state, bounded at k entries per bucket.
MG_STATE_SCHEMA = T.StructType(
    [
        T.StructField("seq", T.LongType(), False),
        T.StructField("items", T.ArrayType(T.StringType()), False),
        T.StructField("counts", T.ArrayType(T.LongType()), False),
    ]
)


def mg_fold(
    sketch: dict[str, int], batch: dict[str, int], k: int
) -> dict[str, int]:
    """Fold one trigger's counts into an MG summary, bounded at ``k``
    entries: add, then while over k, subtract the minimum count from
    every entry and drop zeros.  Each decrement round subtracts the
    same amount from every item's tally, so any item's stored count
    undershoots its true count by at most the total decremented mass,
    which the standard argument bounds at n/(k+1) over the whole
    stream — independent of trigger slicing or arrival order (the
    property tests/test_streaming.py pins against brute force)."""
    for it, c in batch.items():
        sketch[it] = sketch.get(it, 0) + c
    while len(sketch) > k:
        m = min(sketch.values())
        sketch = {i: c - m for i, c in sketch.items() if c > m}
    return sketch


def heavy_hitters_stateful(items: DataFrame, k: int = 16) -> DataFrame:
    """Streaming Misra-Gries: per-bucket sketch state across triggers.

    The streaming twin of functions/heavy_hitters.mg_partials: the
    input stream arrives pre-bucketed (a ``bucket`` column, normally
    ``pmod(xxhash64(item), B)`` so all occurrences of an item share a
    bucket), per-bucket state holds an MG summary bounded at ``k``
    entries, and each trigger folds its batch in with the standard
    batched update (add counts; while over k entries, subtract the
    minimum count from all and drop zeros — the decrement step that
    gives the deterministic n_bucket/(k+1) undercount bound for ANY
    arrival order or trigger slicing).

    Each trigger EMITS the bucket's post-update sketch stamped with a
    state sequence number (append mode: k rows per bucket per
    trigger).  The final sketch is the max-seq row group per bucket —
    snapshot extraction is a bounded window over B*k*triggers rows.
    Guarantee carried across the batch/stream boundary: any item with
    global count > n_bucket/(k+1) is PRESENT in its bucket's final
    sketch, so a recount-and-check gate can hash it exactly.

    State per bucket: k (item, count) pairs + a long — constant; B
    buckets spread the stream's full rate, and k trades memory for
    the guarantee threshold exactly as in the batch operator.
    """

    def handle(
        key: tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        (bucket,) = key
        batch = pd.concat(list(pdfs))["item"].value_counts()
        if state.exists:
            seq, items_, counts_ = state.get
            sketch = dict(zip(items_, counts_))
        else:
            seq, sketch = 0, {}
        sketch = mg_fold(sketch, {i: int(c) for i, c in batch.items()}, k)
        seq += 1
        state.update((seq, list(sketch.keys()), list(sketch.values())))
        yield pd.DataFrame(
            [(bucket, seq, i, c) for i, c in sketch.items()],
            columns=["bucket", "seq", "item", "cnt"],
        )

    return items.groupBy("bucket").applyInPandasWithState(
        handle,
        outputStructType=MG_OUT_SCHEMA,
        stateStructType=MG_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
