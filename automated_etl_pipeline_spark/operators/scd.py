"""Slowly-changing-dimension type 2 history (warehouse modeling layer).

The reference's warehouse contract is append-only accumulation
(spark-bq-dag.py:120-126 WRITE_APPEND); the question every consumer of
an append table eventually asks is "what was the attribute value AT
time t?".  SCD-2 answers it by collapsing a change stream into
validity intervals: one row per (key, run of identical attributes)
with ``[valid_from, valid_to)`` bounds, ``valid_to IS NULL`` marking
the current version (Kimball's type-2 dimension).

Dataflow — classic gaps-and-islands, all relational:
  change flag (null-safe lag inequality) → running sum = run id →
  per-run aggregate → lead(valid_from) = exclusive upper bound.

Scale: one shuffle on the key columns; both windows and the aggregate
reuse that partitioning (Catalyst plans a single Exchange), and runs
compress the output to O(actual changes), not O(events).  Skewed keys
(one entity with millions of updates) are the operator's hazard — the
per-key window is sequential — but dimension keys are low-churn by
definition; a pathological key indicates upstream duplication, which
exact dedup removes first.  When a hot key
is nonetheless expected, use ``scd2_history_chunked`` below: same
output, but the history is range-chunked across partitions and runs
are stitched at chunk edges, so no task ever holds one key's full
history.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def scd2_history(
    updates: DataFrame,
    key_cols: Sequence[str],
    attr_cols: Sequence[str],
    ts_col: str,
    tiebreak: str,
) -> DataFrame:
    """Collapse a change stream into SCD-2 rows.

    Returns one row per (key, run of identical ``attr_cols`` values in
    ``ts_col`` order, ties broken by ``tiebreak`` for determinism):
    key columns, attribute columns, ``version`` (1-based, chronological
    per key), ``valid_from`` (first ts of the run), ``valid_to`` (next
    run's valid_from; NULL for the current version) and ``n_updates``
    (rows collapsed into the run).
    """
    order = [F.col(ts_col), F.col(tiebreak)]
    w = Window.partitionBy(*key_cols).orderBy(*order)
    chg: Column = F.lit(False)
    for a in attr_cols:
        # eqNullSafe: NULL->value and value->NULL are real changes,
        # NULL->NULL is not — plain != would silently drop all three
        chg = chg | ~F.lag(F.col(a)).over(w).eqNullSafe(F.col(a))
    # first row per key: lag is NULL on every attr -> eqNullSafe False
    # for non-null attrs, but all-NULL attrs need the explicit flag
    chg = chg | (F.row_number().over(w) == F.lit(1))
    runs = updates.withColumn(
        "__run",
        F.sum(F.when(chg, 1).otherwise(0)).over(
            w.rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    agg = runs.groupBy(*key_cols, "__run").agg(
        F.min(ts_col).alias("valid_from"),
        F.count(F.lit(1)).alias("n_updates"),
        # attrs are constant within a run by construction
        *[F.min(a).alias(a) for a in attr_cols],
    )
    w2 = Window.partitionBy(*key_cols).orderBy("__run")
    return agg.select(
        *key_cols,
        *attr_cols,
        F.col("__run").alias("version"),
        "valid_from",
        F.lead("valid_from").over(w2).alias("valid_to"),
        "n_updates",
    )


def current_version(history: DataFrame) -> DataFrame:
    """The live row per key from an SCD-2 table."""
    return history.filter(F.col("valid_to").isNull())


def scd2_history_chunked(
    updates: DataFrame,
    key_cols: Sequence[str],
    attr_cols: Sequence[str],
    ts_col: str,
    tiebreak: str,
    num_chunks: int | None = None,
) -> DataFrame:
    """``scd2_history`` for PATHOLOGICAL keys — identical output, but no
    single-partition window over any one key's full history.

    This is the run-length pre-chunking mitigation named in
    SCALE_SMOKE_r06 "Residual risk": the plain operator's per-key
    window is sequential, so one key with a hundred million updates
    pins one task and can exceed executor memory.  Here the change
    stream is RANGE-partitioned on (keys…, ts, tiebreak) — a hot key's
    history spans many consecutive partitions — and the gaps-and-
    islands run detection happens per (partition, key) in parallel,
    exactly the two-phase prefix pattern of pack_sequences:

    1. Local pass: per (spark_partition_id, key), change flags + local
       run ids (the partition's first row of a key always opens local
       run 1).
    2. Boundary stitch (driver-side, tiny): only keys that touch a
       partition edge — at most 2 per partition — are collected as
       (pid, key, local_run_count R, first/last attrs).  Scanning a
       key's partitions in order: if partition p's first attrs equal
       partition p-1's last attrs (null-safe tuple compare), p's run 1
       CONTINUES p-1's last run, so offset(p) = offset(p-1) + R(p-1)
       - 1, else + R(p-1).  Global run id = offset + local run id —
       contiguous and chronological per key, so it doubles as the
       version number.
    3. Merge: groupBy (key, global run) aggregates the split runs
       (min valid_from picks the true run start across chunks;
       n_updates sums; attrs are constant within a run).  The final
       lead() window runs over the COMPRESSED runs — O(changes), not
       O(updates).

    Residual: a key whose updates are all DISTINCT (no run
    compression) still yields O(updates) rows into the final window;
    and rows with a fully identical (key, ts, tiebreak) sort key
    cannot be range-split.  Both are data-quality pathologies exact
    dedup removes upstream.

    Float NaN in attr columns compares non-equal driver-side (same as
    SQL) — NaN→NaN transitions count as changes here, while the plain
    operator's eqNullSafe treats them as equal; don't feed NaN attrs
    to either (F2 NaN→NULL runs first in the cleaning pipeline).

    NULL key columns are supported: both stitch joins use null-safe
    key equality (ADVICE r7 — plain name-list joins silently dropped a
    NULL key's offsets, merging its runs wherever its history spanned
    a chunk edge), matching the plain operator's partitionBy grouping.
    """
    spark = updates.sparkSession
    n = num_chunks or spark.sparkContext.defaultParallelism
    keys = [F.col(k) for k in key_cols]
    order = [F.col(ts_col), F.col(tiebreak)]
    ranged = updates.repartitionByRange(n, *keys, *order).withColumn(
        "__pid", F.spark_partition_id()
    )
    w = Window.partitionBy("__pid", *key_cols).orderBy(*order)
    chg: Column = F.row_number().over(w) == F.lit(1)
    for a in attr_cols:
        chg = chg | ~F.lag(F.col(a)).over(w).eqNullSafe(F.col(a))
    local = ranged.withColumn(
        "__run",
        F.sum(F.when(chg, 1).otherwise(0)).over(
            w.rowsBetween(Window.unboundedPreceding, 0)
        ),
    ).localCheckpoint()  # consumed by the summary AND the main agg

    # -- boundary stitch: only first/last key per partition matters.
    # ONE pass over the checkpoint builds the per-(partition, key)
    # summary; the edge-key reduction and the semi-join filter then
    # operate on that (O(distinct keys)) aggregate, never re-reading
    # the update stream.  Collected rows: at most 2 per partition.
    key_struct = F.struct(*[F.col(k) for k in key_cols])
    attrs_struct = F.struct(*[F.col(a) for a in attr_cols])
    order_struct = F.struct(*order)
    summary_all = local.groupBy("__pid", *key_cols).agg(
        F.max("__run").alias("r"),
        F.min_by(attrs_struct, order_struct).alias("fa"),
        F.max_by(attrs_struct, order_struct).alias("la"),
    )
    edge_keys = (
        summary_all.groupBy("__pid")
        .agg(
            F.min(key_struct).alias("k1"),
            F.max(key_struct).alias("k2"),
        )
        .select(F.explode(F.array("k1", "k2")).alias("k"))
        .select("k.*")
        .distinct()
    )
    # NULL-safe key equality on BOTH stitch joins (ADVICE r7): a name-
    # list join uses plain equality, so a NULL key never matched — its
    # summaries were dropped here and its offsets coalesced to 0 below,
    # merging runs across chunks.  The plain operator's partitionBy
    # groups NULL keys correctly, so the two would diverge exactly when
    # a NULL key's history spanned a chunk edge.  eqNullSafe is a valid
    # hash-join key (EqualNullSafe), so both stay broadcast hash joins.
    def _null_safe_on(right: DataFrame, prefix: str) -> tuple[DataFrame, Column]:
        renamed = right.select(
            *[F.col(c).alias(f"{prefix}{c}") for c in right.columns]
        )
        cond = F.lit(True)
        for k in key_cols:
            cond = cond & F.col(k).eqNullSafe(F.col(f"{prefix}{k}"))
        return renamed, cond

    edge_r, edge_cond = _null_safe_on(edge_keys, "__ek_")
    summary = sorted(
        summary_all.join(F.broadcast(edge_r), edge_cond, "left_semi").collect(),
        key=lambda row: (
            tuple((row[k] is not None, row[k]) for k in key_cols),
            row["__pid"],
        ),
    )
    offsets, prev_key, prev_last, acc = [], None, None, 0
    for row in summary:
        k = tuple(row[k] for k in key_cols)
        if k != prev_key:
            prev_key, prev_last, acc = k, None, 0
        cont = prev_last is not None and tuple(row["fa"]) == prev_last
        offsets.append((row["__pid"], *k, acc - int(cont)))
        acc = acc - int(cont) + row["r"]
        prev_last = tuple(row["la"])
    off_schema = ", ".join(
        ["__pid int"]
        + [f"`{k}` {updates.schema[k].dataType.simpleString()}" for k in key_cols]
        + ["__off long"]
    )
    off_df = spark.createDataFrame(offsets, off_schema)

    off_r, off_cond = _null_safe_on(off_df, "__of_")
    merged = local.join(
        F.broadcast(off_r),
        (F.col("__pid") == F.col("__of___pid")) & off_cond,
        "left",
    ).withColumn(
        "__grun", F.coalesce("__of___off", F.lit(0)) + F.col("__run")
    )
    agg = merged.groupBy(*key_cols, "__grun").agg(
        F.min(ts_col).alias("valid_from"),
        F.count(F.lit(1)).alias("n_updates"),
        *[F.min(a).alias(a) for a in attr_cols],
    )
    w2 = Window.partitionBy(*key_cols).orderBy("__grun")
    return agg.select(
        *key_cols,
        *attr_cols,
        F.col("__grun").alias("version"),
        "valid_from",
        F.lead("valid_from").over(w2).alias("valid_to"),
        "n_updates",
    )
