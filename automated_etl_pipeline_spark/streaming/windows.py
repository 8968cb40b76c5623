"""Structured Streaming surface (SURVEY.md §2.8 upgrade path).

The reference is batch-only (daily Airflow schedule, append-mode
accumulation — spark-bq-dag.py:35,124); the engine's batch event-time
windows (queries.py events_*) use the same ``window()`` expression
Structured Streaming uses, so this module is the drop-in streaming
version: file/rate source → watermark → windowed agg → sink.

Semantics at scale:
- Watermark bounds state: windows older than (max event time − delay)
  are finalized and evicted; without it, state grows forever.
- ``availableNow`` trigger gives exactly-once batch-like draining of a
  file-backed stream (the idiomatic replacement for the reference's
  daily batch: same code, incremental execution).
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from automated_etl_pipeline_spark.plans.materialize import materialize
from automated_etl_pipeline_spark.schemas import EVENTS

# An availableNow drain still running after this many seconds is
# stopped and reported as a TimeoutError.
DRAIN_TIMEOUT_S = 300


class _stream_parts:
    """Temporarily size ``spark.sql.shuffle.partitions`` for a
    streaming drain, restoring the session value afterwards.

    Every stateful streaming operator instantiates one state store per
    shuffle partition (a stream-stream join: FOUR — left/right ×
    keyToNumValues/keyWithIndexToValue), and each store pays
    per-micro-batch maintenance (snapshot, file IO) regardless of how
    little state it holds.  The gates' stateful volume is small, so 8
    partitions cuts that fixed cost 4× vs the session's scan-sized 32;
    a real cluster job sizes this to STATE volume, not scan width —
    the knob exists precisely because the two differ."""

    def __init__(self, spark: SparkSession, n: int = 8):
        self.spark, self.n = spark, n

    def __enter__(self):
        self.prev = self.spark.conf.get("spark.sql.shuffle.partitions")
        self.spark.conf.set("spark.sql.shuffle.partitions", str(self.n))

    def __exit__(self, *exc):
        self.spark.conf.set("spark.sql.shuffle.partitions", self.prev)


def read_events_stream(
    spark: SparkSession, path: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """File-source stream over events-schema parquet/json drops."""
    reader = spark.readStream.schema(EVENTS)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(path)


def windowed_counts(
    events: DataFrame,
    watermark_delay: str | None = "2 hours",
) -> DataFrame:
    """Tumbling 1-hour event-time counts+sums with late-data
    handling — works identically on batch and streaming DataFrames.

    Pass ``watermark_delay=None`` when the input stream already
    carries a watermark (e.g. upstream dropDuplicates): Spark forbids
    redefining the watermark mid-chain with multiple stateful
    operators."""
    w = F.window("ts", "1 hour")
    # the shared decimal-sum rule: partial-aggregation order (and the
    # stream's incremental state merges) must not drift from a
    # batch/oracle recompute
    from automated_etl_pipeline_spark.queries import dsum

    src = (
        events.withWatermark("ts", watermark_delay)
        if events.isStreaming and watermark_delay
        else events
    )
    return src.groupBy(w.getField("start").alias("window_start")).agg(
        F.count(F.lit(1)).alias("n_events"),
        dsum("value", scale=6, alias="sum_value"),
    )


def detach_sink_table(spark: SparkSession, query_name: str) -> DataFrame:
    """Return a drained memory-sink table as a materialized frame that
    no longer depends on the sink, and drop the sink's temp view."""
    out = materialize(spark.table(query_name))
    spark.catalog.dropTempView(query_name)
    return out


def await_drain(q: StreamingQuery, what: str) -> None:
    """Wait for an availableNow query to finish; past
    ``DRAIN_TIMEOUT_S`` stop it and raise ``TimeoutError``."""
    if not q.awaitTermination(DRAIN_TIMEOUT_S):
        q.stop()
        raise TimeoutError(f"{what} did not finish in {DRAIN_TIMEOUT_S}s")


def drain_stream(
    agg: DataFrame, *, output_mode: str = "complete", shuffle_partitions: int = 8
) -> DataFrame:
    """Drain every available input of the streaming frame ``agg`` into
    a memory sink (availableNow trigger, ``shuffle_partitions`` state
    partitions per the ``_stream_parts`` contract) and return the sink
    table detached from the stream.  A drain past ``DRAIN_TIMEOUT_S``
    is stopped and raises ``TimeoutError``; no sink view outlives the
    call either way."""
    spark = agg.sparkSession
    name = f"drain_{uuid.uuid4().hex[:8]}"
    try:
        with _stream_parts(spark, shuffle_partitions):
            q = (
                agg.writeStream.format("memory")
                .queryName(name)
                .outputMode(output_mode)
                .trigger(availableNow=True)
                .start()
            )
            await_drain(q, "availableNow drain")
        return detach_sink_table(spark, name)
    finally:
        spark.catalog.dropTempView(name)  # no-op once detached


def windowed_distinct_sketch(events: DataFrame) -> DataFrame:
    """Per-window HLL distinct-count partials — the streaming half of
    the mergeable rollup (functions/sketches.py): each trigger merges
    new rows into the window's ~2^12-byte sketch state instead of
    holding the distinct value set, so state size is bounded per window
    regardless of cardinality.  The drained table carries the ESTIMATE
    per window; a consumer needing coarser grains unions the sketches,
    never re-reads the stream.  Works identically on batch frames
    (same expression), which is what lets the gate check the streamed
    estimates against a batch exact recount."""
    w = F.window("ts", "1 hour")
    src = events.withWatermark("ts", "2 hours") if events.isStreaming else events
    return src.groupBy(w.getField("start").alias("window_start")).agg(
        F.hll_sketch_estimate(
            F.hll_sketch_agg("user_id", F.lit(12))
        ).alias("approx_distinct")
    )
