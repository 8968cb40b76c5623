"""Exactly-once streaming sinks via foreachBatch + idempotent batch
partitions.

Structured Streaming's file sink is append-only; on reprocessing (a
crash between the epoch commit and downstream consumption, a
checkpoint rollback, a sink directory restored from backup) the same
microbatch can be written twice. ``foreachBatch`` hands us the
(batch_id, DataFrame) pair, and writing each batch into a
``batch_id=<id>`` partition with dynamic partition overwrite makes the
write idempotent: a replayed batch OVERWRITES its own partition
instead of appending a duplicate — the streaming twin of
io/sinks.write_parquet_append's run_id protocol (SURVEY.md §4.3).

Consumers read the directory as ordinary parquet; the batch_id
partition column also gives free lineage ("which microbatch produced
this row") and cheap recent-data pruning.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def write_stream_idempotent(stream: DataFrame, path: str, checkpoint: str):
    """Start an availableNow foreachBatch writer that lands every
    microbatch in its own batch_id partition (exactly-once under
    replay)."""

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        (
            batch_df.withColumn("batch_id", F.lit(batch_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id")
            .parquet(path)
        )

    return (
        stream.writeStream.foreachBatch(sink)
        .queryName("idempotent_sink")
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
