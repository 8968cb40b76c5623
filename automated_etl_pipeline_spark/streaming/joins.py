"""Stream-stream interval join (Structured Streaming).

The reference is batch-only (daily Airflow loads, spark-bq-dag.py:35,
124); its join surface (spark_etl_job.py has none; ml_project.py:150-165
joins fixture frames in batch) upgrades in streaming to the
stream-stream equi-join with an event-time interval constraint — the
canonical "attribute conversion to a preceding impression" shape of a
training-data/attribution pipeline.

Semantics at scale:
- Both sides carry a watermark; with an interval condition
  ``l.ts BETWEEN r.ts - delta AND r.ts`` Spark derives per-side state
  retention: a buffered left row is droppable once the watermark passes
  ``its ts + delta`` — state is bounded by (watermark delay + interval),
  NOT by stream length.
- The join shuffles both sides on the equi-key (user_id) so matching
  rows co-locate; this is the same hash-partitioned exchange a batch
  join uses, run incrementally per micro-batch.
- Inner joins work without a watermark (state just never shrinks);
  outer joins REQUIRE one, since a null-extended result can only be
  emitted once the watermark proves no future match can arrive.
- Correctness under eviction: matches are guaranteed only when the
  watermark delay >= the interval width plus cross-side arrival skew.
  The gate drains ts-ordered files, so delay > interval suffices.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def static_enrich(
    stream: DataFrame,
    dim: DataFrame,
    stream_key: str,
    dim_key: str,
) -> DataFrame:
    """Stream-static dimension enrichment — the STATELESS streaming
    join: each micro-batch hash-joins against the static frame with no
    state store at all (contrast interval_join's per-side buffers).

    No broadcast hint — the repo rule (tests/test_plans.py
    forced-broadcast guard): a hint overrides the size check, so it is
    for FIXED-cardinality dims only.  Without it Spark still
    auto-broadcasts from the static side's size stats when it fits, and
    falls back to a per-batch shuffled hash join when it doesn't — the
    safe choice for SF-scaling dims like customer.  The static plan is
    re-resolved per micro-batch, so a dim refreshed underneath a
    long-running stream is picked up on the next trigger — the cheap
    path to slowly-changing enrichment without restarting the query.
    """
    return stream.join(dim, stream[stream_key] == dim[dim_key])


def interval_join(
    left: DataFrame,
    right: DataFrame,
    interval: str = "1 hour",
    watermark_delay: str = "2 hours",
    how: str = "inner",
    left_prefix: str = "l",
    right_prefix: str = "r",
) -> DataFrame:
    """Join ``left`` rows to ``right`` rows with the same ``user_id`` whose
    timestamp falls in ``[left.ts - interval, left.ts]`` — i.e. each
    left event matched to the right events that PRECEDE it within the
    interval.  Works identically on batch and streaming inputs (the
    batch path simply ignores watermarks).

    All columns come back prefixed (``l_ts``, ``r_ts``, ...) except the
    shared ``user_id``, which is emitted once — as
    ``coalesce(lf.user_id, rf.user_id)`` so that right-only rows of a
    right/full outer join keep their key instead of a NULL (lf.user_id
    is NULL on null-extended rows).
    """
    allowed = ("inner", "left_outer", "left", "right_outer", "right",
               "full_outer", "full", "outer")
    if how not in allowed:
        raise ValueError(f"how must be one of {allowed}, got {how!r}")

    def prep(df: DataFrame, prefix: str) -> DataFrame:
        if df.isStreaming and watermark_delay:
            df = df.withWatermark("ts", watermark_delay)
        return df.select(
            F.col("user_id"),
            *[
                F.col(c).alias(f"{prefix}_{c}")
                for c in df.columns
                if c != "user_id"
            ],
        )

    lf = prep(left, left_prefix).alias("lf")
    rf = prep(right, right_prefix).alias("rf")
    lts, rts = f"{left_prefix}_ts", f"{right_prefix}_ts"
    cond = (
        (F.col("lf.user_id") == F.col("rf.user_id"))
        & (F.col(f"rf.{rts}") >= F.expr(f"lf.{lts} - INTERVAL {interval}"))
        & (F.col(f"rf.{rts}") <= F.col(f"lf.{lts}"))
    )
    joined = lf.join(rf, cond, how)
    return joined.select(
        F.coalesce(F.col("lf.user_id"), F.col("rf.user_id")).alias("user_id"),
        *[F.col(f"lf.{c}") for c in lf.columns if c != "user_id"],
        *[F.col(f"rf.{c}") for c in rf.columns if c != "user_id"],
    )
