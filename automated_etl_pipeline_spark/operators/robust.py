"""Robust (median/MAD) outlier statistics — curation quality filtering.

Quality scores over a web-scale corpus are heavy-tailed and spiked
(boilerplate floods, SEO spam, truncated crawls), so mean/stddev
thresholds are themselves dragged by the garbage they are supposed to
catch.  The standard robust alternative is the median absolute
deviation: ``z_i = |x_i - median| / (1.4826 * MAD)`` with a cut at
``z > 3`` — the 1.4826 constant makes MAD consistent with sigma under
normality, and both statistics have a 50% breakdown point, so no
realistic contamination level moves the threshold.

Plan shape (exact path, used by the gate):

  1. ``groupBy(group).agg(percentile(x, 0.5))``   -> per-group median
  2. broadcast-join medians back, derive |x - med|
  3. ``groupBy(group).agg(percentile(adev, 0.5))`` -> per-group MAD
  4. broadcast-join MADs back, flag + final per-group aggregate

Three aggregation passes over the fact table, two of them exact
per-group percentiles (sort-based per-group value shuffle).  The
group-level frames (one row per group: per-source, per-lang, per-
domain — bounded cardinality) are broadcast back, so the fact table
itself never shuffles on the group key for the joins.

100 TB path: swap both ``percentile`` calls for ``approx_percentile``
(Greenwald-Khanna, single-pass, mergeable partials — the
``approx_percentile_price`` pattern, queries_ext.py) and the operator
becomes three map-side-combinable passes with no per-group value
sort; the epsilon on the median/MAD moves the threshold by at most
eps * range, immaterial for a 3-sigma-equivalent cut.  The exact path
is kept for the oracle gate because DuckDB's quantile_cont matches
Spark's percentile interpolation bit-for-bit on doubles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# MAD -> sigma consistency constant under normality (1 / Phi^-1(3/4)).
MAD_SIGMA = 1.4826


def robust_group_stats(
    df: DataFrame,
    value_col: str,
    group_cols: list[str],
    z_cut: float = 3.0,
    approx: bool = False,
) -> DataFrame:
    """Per-group robust outlier statistics over ``value_col``.

    Returns one row per group: ``n_rows``, ``med``, ``mad``,
    ``n_outliers`` (|z| > z_cut), and ``max_z_micro`` (the most
    extreme robust z in the group as ``floor(z * 1e6)`` BIGINT —
    floor of a deterministic IEEE double is bit-identical across
    engines, unlike a double->DECIMAL cast, which rounds onto a
    decimal grid and can tie-break differently per engine build).
    ``approx=True`` selects the single-pass mergeable GK percentile
    (the 100 TB path; not oracle-exact).
    """
    x = F.col(value_col).cast("double")
    pctl = (
        (lambda c: F.approx_percentile(c, F.lit(0.5), F.lit(10000)))
        if approx
        else (lambda c: F.percentile(c, F.lit(0.5)))
    )

    med = df.groupBy(*group_cols).agg(pctl(x).alias("med"))
    with_med = df.join(F.broadcast(med), group_cols).withColumn(
        "__adev", F.abs(x - F.col("med"))
    )
    mad = with_med.groupBy(*group_cols).agg(
        pctl(F.col("__adev")).alias("mad")
    )
    # try_divide: MAD = 0 (majority-identical group) makes z undefined
    # -> NULL, which when()/max() ignore, instead of an ANSI-mode
    # DIVIDE_BY_ZERO.  Degenerate groups report n_outliers = 0 and
    # max_z NULL, matching mad_filter's keep-everything semantics.
    scored = with_med.join(F.broadcast(mad), group_cols).withColumn(
        "__z", F.try_divide(F.col("__adev"), F.lit(MAD_SIGMA) * F.col("mad"))
    )
    return (
        scored.groupBy(*group_cols)
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.first("med").alias("med"),
            F.first("mad").alias("mad"),
            F.sum(
                F.when(F.col("__z") > F.lit(z_cut), 1).otherwise(0)
            ).alias("n_outliers"),
            F.max(
                F.floor(F.col("__z") * 1_000_000).cast("bigint")
            ).alias("max_z_micro"),
        )
    )


def int_group_median2(
    df: DataFrame, value_col: str, group_cols: list[str], out: str = "med2"
) -> DataFrame:
    """Exact DOUBLED per-group median of an integer column as BIGINT.

    ``med2 = v[(n+1)//2] + v[n//2 + 1]`` over the sorted group values
    (1-indexed ranks) — the rank-midpoint construction: for odd n the
    middle element twice, for even n the sum of the two middles, i.e.
    exactly ``2 * median`` with no division and therefore no float
    anywhere.  Duplicated values are safe under an arbitrary-tiebreak
    ``row_number`` because the VALUE at any rank is order-independent.
    Used by the exact-integer robust-stats path so the median can
    participate in downstream integer threshold arithmetic
    (VERDICT r9 ask #2: exact rank-midpoint instead of
    quantile_cont/percentile in oracle-gated values).

    NULLs are dropped BEFORE ranking (median of the non-null values;
    an all-null group emits no row).  This is explicit because
    engine-default null ordering diverges — Spark sorts NULLS FIRST
    ascending, DuckDB NULLS LAST — so a NULL reaching the rank window
    would silently shift every rank differently per engine (r10 code
    review); percentile/quantile_cont ignore NULLs and this operator
    matches that contract.

    Plan: one per-group sort window (same cost class as the exact
    percentile it replaces) + one partial-aggregated group-by.
    """
    from pyspark.sql import Window

    df = df.filter(F.col(value_col).isNotNull())
    wsort = Window.partitionBy(*group_cols).orderBy(value_col)
    wall = Window.partitionBy(*group_cols)
    r = df.select(
        *group_cols,
        F.col(value_col).cast("bigint").alias("__v"),
        F.row_number().over(wsort).alias("__rn"),
        F.count(F.lit(1)).over(wall).alias("__n"),
    )
    klo = F.floor((F.col("__n") + 1) / F.lit(2.0)).cast("bigint")
    khi = F.floor(F.col("__n") / F.lit(2.0)).cast("bigint") + 1
    return r.groupBy(*group_cols).agg(
        (
            F.sum(F.when(F.col("__rn") == klo, F.col("__v")).otherwise(0))
            + F.sum(F.when(F.col("__rn") == khi, F.col("__v")).otherwise(0))
        )
        .cast("bigint")
        .alias(out)
    )


def robust_group_stats_int(
    df: DataFrame,
    value_col: str,
    group_cols: list[str],
) -> DataFrame:
    """Exact-integer robust outlier statistics for an INTEGER-valued
    column — the oracle-gated twin of :func:`robust_group_stats`.

    Works in doubled/quadrupled units so every statistic is a BIGINT:
    ``med2 = 2 * median(x)`` (rank-midpoint), per-row
    ``adev2 = |2x - med2| = 2 * |x - median|``, and
    ``mad4 = 2 * median(adev2) = 4 * MAD``.  The robust-z cut
    ``|x - med| / (1.4826 * MAD) > k`` becomes the integer comparison
    ``20000 * adev2 > 14826 * k * mad4`` (multiply through by
    4 * 10^4; 1.4826 = 14826/10^4), so no double sqrt/division feeds
    any emitted value (VERDICT r9 ask #4).  Emits per group:
    ``n_rows``, ``med2``, ``mad4``, ``n_outliers`` (z > 3),
    ``n_mild`` (z > 2).  Degenerate groups (MAD = 0) count zero
    outliers, matching robust_group_stats's NULL-z semantics; NULL
    values are dropped up-front (``n_rows`` counts non-null rows —
    the percentile-family contract, and the only cross-engine-safe
    one given divergent default NULL ordering).

    Plan: two per-group sort windows (median, MAD) + broadcast joins
    of the one-row-per-group frames — same shape and 100 TB story as
    the exact path of :func:`robust_group_stats` (approx=True GK
    partials remain the at-scale swap, on the float path).
    """
    x2 = df.filter(F.col(value_col).isNotNull()).select(
        *group_cols, F.col(value_col).cast("bigint").alias("__x")
    )
    med = int_group_median2(x2, "__x", group_cols, out="med2")
    dev = x2.join(F.broadcast(med), group_cols).withColumn(
        "__adev2", F.abs(2 * F.col("__x") - F.col("med2"))
    )
    mad = int_group_median2(dev, "__adev2", group_cols, out="mad4")
    scored = dev.join(F.broadcast(mad), group_cols)
    live = F.col("mad4") > 0
    return scored.groupBy(*group_cols).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.first("med2").alias("med2"),
        F.first("mad4").alias("mad4"),
        F.sum(
            F.when(
                live & (20000 * F.col("__adev2") > 44478 * F.col("mad4")),
                1,
            ).otherwise(0)
        ).alias("n_outliers"),
        F.sum(
            F.when(
                live & (20000 * F.col("__adev2") > 29652 * F.col("mad4")),
                1,
            ).otherwise(0)
        ).alias("n_mild"),
    )


def mad_filter(
    df: DataFrame,
    value_col: str,
    group_cols: list[str],
    z_cut: float = 3.0,
) -> DataFrame:
    """Drop rows whose robust z exceeds ``z_cut`` within their group.

    Same plan as the exact path of :func:`robust_group_stats` minus the
    final aggregate: the thresholds (one row per group) broadcast back onto the fact
    table and the filter is a codegen'd expression — the fact table is
    scanned, never shuffled on the group key.
    """
    x = F.col(value_col).cast("double")
    med = df.groupBy(*group_cols).agg(F.percentile(x, F.lit(0.5)).alias("__med"))
    with_med = df.join(F.broadcast(med), group_cols)
    mad = (
        with_med.withColumn("__adev", F.abs(x - F.col("__med")))
        .groupBy(*group_cols)
        .agg(F.percentile(F.col("__adev"), F.lit(0.5)).alias("__mad"))
    )
    # x.isNull() keeps NULL-valued rows uniformly: without it a NULL
    # comparison is false in where(), so NULL rows would be dropped in
    # normal groups yet kept in degenerate MAD == 0 groups — an outlier
    # filter must never silently judge missing values (ADVICE r8).
    return (
        with_med.join(F.broadcast(mad), group_cols)
        .where(
            x.isNull()
            | (F.col("__mad") == 0)  # degenerate group: keep everything
            | (
                F.abs(x - F.col("__med"))
                <= F.lit(z_cut) * F.lit(MAD_SIGMA) * F.col("__mad")
            )
        )
        .drop("__med", "__mad")
    )
