"""Exactly-once streaming ingestion into a manifest table —
foreachBatch + run_id idempotence as the transactional sink.

Structured Streaming guarantees AT-LEAST-ONCE delivery to
``foreachBatch``: after a failure, the engine replays the last
uncommitted micro-batch — with the SAME ``batch_id`` — from its
write-ahead checkpoint.  Exactly-once therefore needs the SINK to
deduplicate replays, and the manifest table already has the exact
primitive: a commit whose ``run_id`` is in the ledger is a no-op.
Encoding ``(query_name, batch_id)`` as the run_id makes every replay
idempotent — the same (txn appId, version) recipe Delta's streaming
sink uses.

The two failure windows both close:

- crash AFTER staging data but BEFORE the manifest publish: the
  staged files are invisible (never named by a manifest) and the
  replay stages fresh ones; the orphans age out under ``vacuum``'s
  min-orphan-age gate;
- crash AFTER the publish but BEFORE the streaming checkpoint
  advances: the replayed batch hits the run_id ledger and no-ops —
  no double append.

Caveat (same as every exactly-once file pipeline): the replayed batch
must carry the same logical content, which Structured Streaming
guarantees for replayable sources (files, Kafka) via the offset log.

Scale: one manifest commit per micro-batch is one driver-side
publish-if-absent plus O(batch) data files; readers see each batch
atomically and can tail the table by version (``read_changes``) —
this is how a streaming ingest feeds the incremental MV (io/mv.py)
without ever re-reading the table.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from automated_etl_pipeline_spark.io.manifest import (
    commit_append,
    commit_upsert,
    current_version,
)
from automated_etl_pipeline_spark.streaming.windows import await_drain


def batch_run_id(query_name: str, batch_id: int) -> str:
    """The idempotence key: one run_id per (query, micro-batch)."""
    return f"stream:{query_name}:batch:{batch_id}"


def manifest_batch_committer(
    table_root: str,
    query_name: str = "ingest",
    stats_cols: list[str] | None = None,
    bloom_cols: list[str] | None = None,
    bloom_bits: int | None = None,
):
    """The ``foreachBatch`` function: append the micro-batch to the
    manifest table under its replay-stable run_id.  Empty batches are
    skipped — Structured Streaming may emit one (e.g. a no-new-files
    trigger), and committing it would burn a version naming zero
    files.  Exposed separately from the stream runner so tests (and
    the registry gate) can hand it an already-committed batch_id and
    prove the replay no-ops.

    ``stats_cols`` / ``bloom_cols`` (r15) thread straight through to
    ``commit_append``: a streamed table accretes zone maps and Bloom
    point-lookup sidecars batch by batch, so the pruning story
    (``read_table_pruned``) holds for streaming-ingested tables
    exactly as for batch-committed ones — at 100 TB the ingest path
    is where the metadata must be born, or it never exists."""

    def commit_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        kwargs: dict = {}
        if stats_cols:
            kwargs["stats_cols"] = list(stats_cols)
        if bloom_cols:
            kwargs["bloom_cols"] = list(bloom_cols)
            if bloom_bits is not None:
                kwargs["bloom_bits"] = int(bloom_bits)
        commit_append(
            batch_df, table_root, batch_run_id(query_name, batch_id), **kwargs
        )

    return commit_batch


def manifest_upsert_committer(
    table_root: str,
    key_cols: list[str],
    query_name: str = "cdc",
):
    """Exactly-once streaming MERGE (r15): each micro-batch lands as
    ONE atomic ``commit_upsert`` — rows with matching ``key_cols``
    replaced, new keys inserted, replays absorbed by the
    (query, batch_id) run_id.  This is the CDC-apply sink: a change
    stream keyed by primary key upserts into the manifest table with
    no window where a delete is visible without its insert.  The batch
    must hold at most one row per key
    (last-write-wins collapsing is the caller's dedup step —
    streaming/cdc.py's latest-by-key pattern)."""

    def commit_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        commit_upsert(
            batch_df, table_root, batch_run_id(query_name, batch_id), list(key_cols)
        )

    return commit_batch


def run_stream_to_manifest(
    spark: SparkSession,
    drop_dir: str,
    schema,
    table_root: str,
    state_root: str,
) -> int:
    """Drain all files under ``drop_dir`` (schema ``schema``) into the
    manifest table at ``table_root`` with exactly-once commits;
    returns the final committed version.  ``state_root`` holds the
    streaming checkpoint: REUSING it resumes the query (already-seen
    files are skipped by the source, already-committed batches by the
    run_id ledger — both halves of recovery), while a fresh
    ``state_root`` re-delivers every file under already-committed
    batch_ids of the same ``ingest`` query and no-ops, which is exactly the
    double-start safety production schedulers need."""
    q = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(drop_dir)
        .writeStream.foreachBatch(manifest_batch_committer(table_root))
        .option("checkpointLocation", os.path.join(state_root, "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    await_drain(q, "manifest drain")
    return current_version(table_root)
