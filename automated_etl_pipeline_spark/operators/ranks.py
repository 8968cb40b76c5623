"""Two-phase global ranks and offsets — ordered global numbering that
never plans a single-partition window.

The pattern (shared by the suffix array's dense ranks / block offsets
and the CCNet partitioner's rank cuts; extracted in the r10 review —
three hand-maintained copies of the subtlest determinism-critical
construction in the codebase were one localCheckpoint-placement fix
away from drifting apart):

1. ``repartitionByRange`` by the order columns;
2. MATERIALIZE the frame (``localCheckpoint(eager=True)``) —
   ``spark_partition_id`` is only stable on a materialized frame;
   plan branches may otherwise recompute different placements;
3. stamp the partition id and collect the bounded per-pid totals
   (one row per shuffle partition — the only driver
   materialization);
4. per-pid keyed window + broadcast exclusive per-pid offsets.

Distinct from ``operators/prefix.py``'s bucketed two-phase form,
which avoids ``spark_partition_id`` entirely at the cost of requiring
an order-aligned integer bucket column: use THAT when a deterministic
order-derived bucket exists (time-series cumulation); use this when
globally numbering arbitrary tuples.

NEVER use a constant-key window instead: Catalyst constant-folds a
literal partition key into an EMPTY partition spec — a warning-loud
single-partition WindowExec (caught in the suffix array's offset
pass, r10).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def partition_offsets(
    df: DataFrame, order_cols: list[str], weight_col: str | None = None
) -> tuple[DataFrame, DataFrame, int]:
    """(parts, off_df, total): ``df`` range-partitioned by
    ``order_cols`` with a stable ``__pid`` column, a broadcastable
    (``__pid``, ``__off``) table of per-pid EXCLUSIVE offsets (row
    counts, or sums of ``weight_col``), and the grand total.

    ``df`` must not already contain ``__pid``/``__off``.
    """
    clash = {"__pid", "__off"} & set(df.columns)
    if clash:
        raise ValueError(
            f"partition_offsets appends {sorted(clash)} — rename first"
        )
    spark = df.sparkSession
    try:
        p = int(spark.conf.get("spark.sql.shuffle.partitions"))
    except ValueError:
        # AQE deployments may set this conf to 'auto' (r10 ADVICE) —
        # fall back to the cluster's default parallelism rather than
        # blowing up every rank-based operator.
        p = spark.sparkContext.defaultParallelism
    parts = (
        df.repartitionByRange(p, *[F.col(c) for c in order_cols])
        .withColumn("__pid", F.spark_partition_id())
        .localCheckpoint(eager=True)
    )
    agg = F.count(F.lit(1)) if weight_col is None else F.sum(weight_col)
    totals = (
        parts.groupBy("__pid").agg(agg.alias("__t")).orderBy("__pid").collect()
    )
    offsets, acc = {}, 0
    for row in totals:
        offsets[row["__pid"]] = acc
        acc += row["__t"]
    off_df = spark.createDataFrame(
        [(int(pid), int(off)) for pid, off in offsets.items()],
        "__pid int, __off long",
    )
    return parts, off_df, int(acc)


def linspace_cuts(
    df: DataFrame, col: str, n_buckets: int, cols: list[str] | None = None
) -> list[float]:
    """Work-balancing cutpoints for ``order_bucket``: evenly spaced
    between the column's min and max (one aggregate job).  With
    ``cols`` set, fetches min/max for SEVERAL columns in the same job
    and returns {col: cuts}.  A constant column degrades to a single
    bucket — still correct, just unbalanced."""
    many = cols is not None
    targets = cols if many else [col]
    aggs = []
    for c in targets:
        aggs += [
            F.min(F.col(c).cast("double")),
            F.max(F.col(c).cast("double")),
        ]
    row = df.agg(*aggs).collect()[0]
    out = {}
    for i, c in enumerate(targets):
        lo, hi = row[2 * i], row[2 * i + 1]
        if lo is None or hi is None or lo >= hi:
            out[c] = []
        else:
            step = (hi - lo) / n_buckets
            out[c] = [lo + step * k for k in range(1, n_buckets)]
    return out if many else out[targets[0]]


def quantile_cuts(df: DataFrame, col: str, n_buckets: int) -> list[float]:
    """Skew-aware cutpoints for ``order_bucket``: sampled quantiles of
    the column (Greenwald-Khanna sketch via ``approxQuantile`` — one
    pass, driver state bounded by 1/0.001 relative error, never a collect of
    data rows).  Under a Zipf-distributed key, linspace cuts collapse
    nearly all rows into the 1-2 buckets covering the head — a
    single-task window wearing a partitionBy disguise (r13 VERDICT ask
    #4); quantile cuts bound every bucket's share near 1/n_buckets
    plus the mass of its heaviest tied value.

    Duplicate quantiles (a value heavier than 1/n_buckets straddles
    several probabilities) are collapsed — fewer, still-monotone cuts;
    rank values are cut-invariant either way (see
    ``bucketed_global_ranks``), only balance varies.  NULLs are
    excluded from the sketch; they land in bucket 0 at bucketing time,
    matching ASC NULLS FIRST."""
    probs = [k / n_buckets for k in range(1, n_buckets)]
    qs = (
        df.select(F.col(col).cast("double").alias("__q"))
        .na.drop()
        .stat.approxQuantile("__q", probs, 0.001)
    )
    out: list[float] = []
    for q in qs:
        if not out or q > out[-1]:
            out.append(q)
    return out


def order_bucket(col: str, cuts: list[float]) -> F.Column:
    """Order-aligned integer bucket of a numeric column under sorted
    ``cuts`` (codegen binary-search tree; NULLs -> bucket 0, matching
    ASC NULLS FIRST)."""
    from automated_etl_pipeline_spark.operators.zorder import _bucket_tree

    c = F.col(col)
    if not cuts:
        return F.lit(0).cast("int")
    return (
        F.when(c.isNull(), F.lit(0))
        .otherwise(_bucket_tree(c, cuts, 0, len(cuts)))
        .cast("int")
    )


def bucketed_global_ranks(
    df: DataFrame,
    order_cols: list[str],
    out_col: str = "__rank",
    n_buckets: int = 32,
    cuts: list[float] | None = None,
) -> DataFrame:
    """0-based global rank under the unique total order ``order_cols``
    (first column NUMERIC) — the cheaper sibling of ``global_ranks``
    for when a materialization-free plan matters (r13: the rule-4
    rewrites made global_ranks' two eager checkpoints the dominant
    gate cost at bench scale).

    Construction: order-aligned integer buckets from cutpoints on the
    first order column — by default a LINSPACE between its min and max
    (one cheap aggregate job; the cutpoints only BALANCE work, any
    monotone cut set yields the identical final rank, so neither
    linspace's skew-blindness nor a sketch's run-to-run wobble can
    leak into values; pass ``cuts`` for skew-aware balancing); per-
    bucket counts collected (<= n_buckets rows) into exclusive
    offsets; within-bucket keyed row_number.  One count shuffle + one
    window shuffle, no checkpoint, no spark_partition_id.

    NULLs in the first order column land in bucket 0, matching the
    window's default ASC NULLS FIRST order.

    CONTRACT: ``df``'s lineage must be DETERMINISTIC — the bucket
    counts are collected in one action and the final plan re-executes
    the lineage; a nondeterministic input (a sample, rand(), a
    non-idempotent source) could yield offsets that disagree with the
    final execution.  That is exactly what ``global_ranks``'s eager
    checkpoint buys — use IT for nondeterministic inputs."""
    clash = {"__b", "__off", out_col} & set(df.columns)
    if clash:
        raise ValueError(
            f"bucketed_global_ranks appends {sorted(clash)} — rename first"
        )
    c0 = order_cols[0]
    from pyspark.sql.types import NumericType

    if not isinstance(df.schema[c0].dataType, NumericType):
        # a non-numeric first column would cast to NULL in
        # linspace_cuts and silently collapse every row into bucket 0 —
        # a single-task window wearing a partitioned disguise.  Fail
        # loudly; use global_ranks for arbitrary tuple orders (or
        # derive a numeric order key first, e.g. unix_timestamp).
        raise TypeError(
            f"bucketed_global_ranks needs a NUMERIC first order "
            f"column, got {df.schema[c0].dataType} for {c0!r} — use "
            "global_ranks for non-numeric orders"
        )
    if cuts is None:
        cuts = linspace_cuts(df, c0, n_buckets)
    if not cuts:
        # Constant (or all-NULL, or lo>=hi) first order column: every
        # row would land in bucket 0 — a single-task global window the
        # rule-4 plan sweep cannot see through the partitionBy("__b")
        # disguise (r13 ADVICE).  Fall back to the checkpointing
        # construction, which numbers arbitrary tuples without any
        # value-derived buckets; warn so a hot path hitting this
        # degeneracy is visible rather than silently slow.
        import warnings

        warnings.warn(
            f"bucketed_global_ranks: no usable cuts for {c0!r} "
            "(constant or all-NULL column) — falling back to "
            "global_ranks' checkpointed construction",
            RuntimeWarning,
            stacklevel=2,
        )
        return global_ranks(df, order_cols, out_col)[0]
    rows = df.withColumn("__b", order_bucket(c0, cuts))
    totals = (
        rows.groupBy("__b").count().orderBy("__b").collect()
    )
    offsets, acc = [], 0
    for r in totals:
        offsets.append((int(r["__b"]), acc))
        acc += r["count"]
    off_df = df.sparkSession.createDataFrame(
        offsets or [(0, 0)], "__b int, __off long"
    )
    w = Window.partitionBy("__b").orderBy(*order_cols)
    return (
        rows.join(F.broadcast(off_df), "__b")
        .withColumn(
            out_col,
            (F.row_number().over(w) - F.lit(1) + F.col("__off")).cast("long"),
        )
        .drop("__b", "__off")
    )


def global_ranks(
    df: DataFrame, order_cols: list[str], out_col: str = "__rank"
) -> tuple[DataFrame, int]:
    """(ranked, total): 0-based global rank of ``df``'s rows under the
    natural sort of ``order_cols`` (which must be unique per row) —
    per-pid keyed ``row_number`` plus the exclusive pid offset."""
    parts, off_df, total = partition_offsets(df, order_cols)
    w = Window.partitionBy("__pid").orderBy(*order_cols)
    ranked = (
        parts.join(F.broadcast(off_df), "__pid")
        .withColumn(
            out_col,
            (F.row_number().over(w) - F.lit(1) + F.col("__off")).cast("long"),
        )
        .drop("__pid", "__off")
    )
    return ranked, total
