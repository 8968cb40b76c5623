"""Bucketed two-phase prefix sums — ordered cumulation that scales
past one task per series.

An ordered running sum (`Window.partitionBy(key).orderBy(t)
.rowsBetween(unboundedPreceding, currentRow)`) processes each key's
ENTIRE series in one task — correct and incremental, but a series
with billions of points (CUSUM over one metric, a global event
counter) stops fitting.  The classic fix is the two-phase prefix sum,
expressed here purely in DataFrame ops with NO physical-partition-id
tricks (spark_partition_id is not stable across plan branches):

  1. bucket rows by a deterministic, order-aligned integer
     ``bucket = order_us DIV bucket_us``;
  2. per-(key, bucket) partial sums (one map-side-combinable
     aggregate; the reduced frame has one row per bucket);
  3. per-key EXCLUSIVE running offsets over the reduced bucket frame
     (a window over bucket-cardinality rows — bounded);
  4. within-bucket running sums (window partitioned by (key, bucket):
     each window partition holds one bucket's rows — bounded by
     bucket width, the operator's knob);
  5. prefix = offset + within-bucket running sum.

Equal to the single-window plan row-for-row (integer sums are
order-independent; the (order, tiebreak) total order is preserved
inside buckets and buckets are order-aligned) — pinned in
tests/test_prefix.py.  Used as the documented escape hatch for
`cusum_change_point`'s per-type series (SCALE_SMOKE_r09.md): the gate
keeps the plain keyed window (optimal while a series fits a task);
swap in this operator when it doesn't.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def bucketed_prefix_sum(
    df: DataFrame,
    key_col: str,
    order_us_col: str,
    tiebreak_col: str,
    x_col: str,
    bucket_us: int,
) -> DataFrame:
    """Append ``prefix``: the running sum of ``x_col`` within
    ``key_col`` under the total order (``order_us_col``,
    ``tiebreak_col``) — ROWS UNBOUNDED PRECEDING semantics — computed
    in two phases so no task ever holds more than one ``bucket_us``
    slice of one key's series."""
    reserved = {"__b", "__ob", "__ok", "__off", "__bt", "prefix"}
    clash = reserved & set(df.columns)
    if clash:
        raise ValueError(
            f"bucketed_prefix_sum appends columns {sorted(reserved)};"
            f" input already has {sorted(clash)} — rename them first"
        )
    # floor division keeps buckets monotone in order_us for any sign
    b = F.floor(F.col(order_us_col) / F.lit(bucket_us)).cast("bigint")
    rows = df.withColumn("__b", b)
    totals = rows.groupBy(key_col, "__b").agg(F.sum(x_col).alias("__bt"))
    w_off = (
        Window.partitionBy(key_col)
        .orderBy("__b")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = totals.select(
        F.col(key_col).alias("__ok"),
        F.col("__b").alias("__ob"),
        F.coalesce(F.sum("__bt").over(w_off), F.lit(0)).alias("__off"),
    )
    w_in = (
        Window.partitionBy(key_col, "__b")
        .orderBy(order_us_col, tiebreak_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # null-SAFE join keys: the single-window plan this operator must
    # equal row-for-row keeps a NULL key as its own partition (and a
    # NULL order value sorts first into a NULL bucket) — a plain
    # equi-join would silently drop those rows (r9 code review)
    return (
        rows.join(
            offsets,
            rows[key_col].eqNullSafe(F.col("__ok"))
            & F.col("__b").eqNullSafe(F.col("__ob")),
        )
        .withColumn("prefix", F.col("__off") + F.sum(x_col).over(w_in))
        .drop("__b", "__ob", "__ok", "__off")
    )
