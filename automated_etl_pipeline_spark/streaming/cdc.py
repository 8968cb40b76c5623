"""Streaming CDC upsert: foreachBatch + MERGE — the table-maintenance
pattern for keeping a queryable snapshot current from a change stream.

Structured Streaming's built-in sinks append or aggregate; they do not
UPSERT.  The standard recipe (the same one Delta's streaming MERGE
uses underneath) is ``foreachBatch``: each micro-batch is handed to a
normal batch function that merges it into the current snapshot with
last-writer-wins semantics (operators/merge.py) and commits the result
as the new snapshot epoch.

Determinism under re-ordering: file sources assign files to triggers
by modification time, which is not a contract.  The merge is therefore
driven by an explicit ``version_col`` — ``merge_upsert`` keeps the
highest version per key regardless of arrival order, so the FINAL
snapshot is exactly the per-key max-version row no matter how the
change files were batched, split, or reordered across triggers.  That
commutativity is what makes the operator gateable (and what a real
CDC pipeline needs anyway: transports reorder).

Snapshot storage: epoch-numbered parquet directories, pointer advanced
only after the write completes — a crash between write and pointer
leaves the previous epoch intact (poor-man's atomic commit; a table
format's transaction log replaces this at production scale).  Each
micro-batch reads the previous epoch and writes a full new one —
copy-on-write semantics; with a table format only touched partitions
would rewrite, the merge logic itself unchanged.
"""

from __future__ import annotations

import os
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession

from automated_etl_pipeline_spark.operators.merge import merge_upsert
from automated_etl_pipeline_spark.streaming.windows import await_drain


def run_cdc_merge_stream(
    spark: SparkSession,
    base: DataFrame,
    drop_dir: str,
    schema,
    key_cols: Sequence[str],
    version_col: str,
    state_root: str,
    max_files_per_trigger: int = 1,
) -> DataFrame:
    """Drain all change files under ``drop_dir`` (schema ``schema``)
    into an epoch-versioned snapshot seeded from ``base``; returns the
    final merged snapshot as a batch DataFrame.

    ``state_root`` must be FRESH: the snapshot is re-seeded from
    ``base`` on every call, but a leftover streaming checkpoint makes
    the file source skip change files it has already seen — those
    updates would be lost silently (r12 ADVICE).  Enforced here rather
    than documented-only."""
    ckpt = os.path.join(state_root, "ckpt")
    if os.path.exists(ckpt):
        raise ValueError(
            f"state_root {state_root!r} has a leftover checkpoint "
            f"({ckpt}): a reused checkpoint skips already-seen change "
            "files while the snapshot re-seeds from base, silently "
            "losing their updates — pass a fresh state_root per drain"
        )
    base_path = os.path.join(state_root, "epoch_base")
    base.write.mode("overwrite").parquet(base_path)
    current = {"path": base_path}

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        sess = batch_df.sparkSession
        snap = sess.read.parquet(current["path"])
        merged = merge_upsert(snap, batch_df, key_cols, version_col=version_col)
        out = os.path.join(state_root, f"epoch_{batch_id:06d}")
        merged.write.mode("overwrite").parquet(out)
        current["path"] = out  # pointer advances only after the write

    q = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(drop_dir)
        .writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", os.path.join(state_root, "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    await_drain(q, "CDC drain")
    return spark.read.parquet(current["path"])
