"""Z-order (Morton) clustering — multi-column data layout for file
skipping.

Sorting by (a, b) clusters perfectly on ``a`` and not at all on ``b``;
interleaving the bits of both columns' ranks clusters on BOTH, so
min/max statistics prune files for predicates on either column (the
layout behind Delta/Iceberg OPTIMIZE ZORDER; Morton 1966).

Dataflow: per column, rank rows into 2^bits quantile buckets, then
interleave the bucket bits into one integer; range-partition + sort by
it at write time.

Scale (the default path): bucket boundaries come from
``approxQuantile`` — a single-pass Greenwald-Khanna sketch, merged on
the driver into a 2^bits-1 element cutpoint array (a few KiB), then
applied per-row as a *binary-search tree of literal comparisons*
(depth = bits, stays inside whole-stage codegen).  No global sort, no
window, no shuffle: the plan is scan → project, which survives 100 TB.

``exact=True`` computes EXACT quantile-bucket ranks without a
single-partition window (the r13 plan-sweep rule 4 fix): the fused
bucketed two-phase construction (``_exact_zvalue`` — one min/max job,
one joint bucket-count job, two within-bucket keyed windows over one
base scan), then the closed-form balanced tile ``bucket = rank *
2^bits div N`` — deterministic, DuckDB-mirrorable (same closed form
over ``row_number``), never funnels the table through one task, and
holds only cut arrays + bucket counts on the driver.  Real layout
work still keeps the cheaper approxQuantile default (no shuffle at
all).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

DEFAULT_BITS = 8
# approxQuantile relative error: at 1e-3 the cutpoint rank is within
# 0.1% of exact — far finer than the 1/256 bucket width it feeds.
APPROX_EPS = 1e-3


def interleave2(a: Column, b: Column, bits: int = DEFAULT_BITS) -> Column:
    """Morton-interleave two ``bits``-bit ints (a's bits land on the
    odd positions): deterministic integer arithmetic only."""
    z = F.lit(0)
    for i in range(bits):
        z = (
            z
            + F.shiftleft(F.shiftright(a, i).bitwiseAND(F.lit(1)), 2 * i + 1)
            + F.shiftleft(F.shiftright(b, i).bitwiseAND(F.lit(1)), 2 * i)
        )
    return z


def _bucket_tree(col: Column, cuts: Sequence[float], lo: int, hi: int) -> Column:
    """Binary search over sorted cutpoints as a nested-CASE tree.

    Buckets ``lo..hi``; ``cuts[i]`` is the boundary between bucket i
    and i+1 (values <= cuts[i] fall at or below bucket i).  Each row
    evaluates only ``log2(hi-lo+1)`` comparisons, all on literals, so
    the whole thing compiles into one codegen stage.
    """
    if lo == hi:
        return F.lit(lo)
    mid = (lo + hi) // 2
    return F.when(col <= F.lit(cuts[mid]), _bucket_tree(col, cuts, lo, mid)).otherwise(
        _bucket_tree(col, cuts, mid + 1, hi)
    )


def quantile_bucket(df: DataFrame, col: str, bits: int = DEFAULT_BITS) -> Column:
    """Scale-safe quantile bucketing: 2^bits-1 approxQuantile cutpoints
    (driver-size, effectively broadcast as literals) + per-row binary
    search.  NULLs land in bucket 0."""
    n = 1 << bits
    probs = [i / n for i in range(1, n)]
    cuts = df.stat.approxQuantile(col, probs, APPROX_EPS)
    c = F.col(col)
    return F.when(c.isNull(), F.lit(0)).otherwise(
        _bucket_tree(c, cuts, 0, n - 1).cast("long")
    )


def with_zvalue(
    df: DataFrame,
    cols: Sequence[str],
    tiebreak: str,
    bits: int = DEFAULT_BITS,
    exact: bool = False,
) -> DataFrame:
    """Adds the z-value of two columns' 2^bits quantile-bucket ranks.

    Default (``exact=False``) uses approxQuantile cutpoints + binary
    search — no window, no global sort, scales to arbitrary input.
    ``exact=True`` computes exact balanced buckets (ties broken by
    ``tiebreak`` so the assignment is deterministic and
    oracle-checkable) from two-phase distributed global ranks —
    ``bucket = rank0 * 2^bits div N`` — never a single-partition
    window (plan-sweep rule 4).
    """
    if len(cols) != 2:
        raise ValueError("v1 z-ordering interleaves exactly 2 columns")
    if not 1 <= bits <= 31:
        # ranks are cast to long below, so shifts reach bit 2*31+1 = 63
        # at most; past 31 the interleaved value would overflow
        raise ValueError(f"bits must be in [1, 31] (got {bits})")
    n = 1 << bits
    if exact:
        return _exact_zvalue(df, cols, tiebreak, bits)
    ranks = [quantile_bucket(df, c, bits) for c in cols]
    return df.withColumn("zvalue", interleave2(ranks[0], ranks[1], bits))


def _exact_zvalue(
    df: DataFrame,
    cols: Sequence[str],
    tiebreak: str,
    bits: int,
) -> DataFrame:
    """Exact balanced z-buckets, fused two-phase form (r13): BOTH
    columns' exact global ranks from ONE base scan — shared
    work-balancing cutpoints (one min/max job), joint per-(b0, b1)
    bucket counts (one job, <= 32x32 rows, marginals derived driver-
    side), then two within-bucket keyed windows.  Ranks are exact
    whatever the cutpoints (they only balance work); the driver holds
    only cut arrays and bucket counts.  The layered per-column
    construction re-executed rank 1's shuffle inside rank 2's count
    job — measured 11 s at sf0.1 vs ~1.5 s fused."""
    from automated_etl_pipeline_spark.operators.ranks import (
        linspace_cuts,
        order_bucket,
    )

    n = 1 << bits
    c0, c1 = cols
    cuts = linspace_cuts(df, c0, 32, cols=list(cols))
    rows = df.withColumn("__b0", order_bucket(c0, cuts[c0])).withColumn(
        "__b1", order_bucket(c1, cuts[c1])
    )
    joint = rows.groupBy("__b0", "__b1").count().collect()
    total = sum(r["count"] for r in joint)
    spark = df.sparkSession
    offs = []
    for b_col in ("__b0", "__b1"):
        marg: dict[int, int] = {}
        for r in joint:
            marg[r[b_col]] = marg.get(r[b_col], 0) + r["count"]
        acc = 0
        rows_off = []
        for b in sorted(marg):
            rows_off.append((int(b), acc))
            acc += marg[b]
        offs.append(
            spark.createDataFrame(
                rows_off or [(0, 0)], f"{b_col} int, {b_col}_off long"
            )
        )
    w0 = Window.partitionBy("__b0").orderBy(F.col(c0), F.col(tiebreak))
    w1 = Window.partitionBy("__b1").orderBy(F.col(c1), F.col(tiebreak))
    ranked = (
        rows.join(F.broadcast(offs[0]), "__b0")
        .join(F.broadcast(offs[1]), "__b1")
        .withColumn(
            "__zr0",
            (F.row_number().over(w0) - 1 + F.col("__b0_off")).cast("long"),
        )
        .withColumn(
            "__zr1",
            (F.row_number().over(w1) - 1 + F.col("__b1_off")).cast("long"),
        )
    )
    ranks = [
        F.expr(f"__zr{i} * {n} div {total}").cast("long") for i in range(2)
    ]
    return ranked.withColumn(
        "zvalue", interleave2(ranks[0], ranks[1], bits)
    ).drop("__b0", "__b1", "__b0_off", "__b1_off", "__zr0", "__zr1")

