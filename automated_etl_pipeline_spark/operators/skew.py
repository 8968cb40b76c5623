"""Skew-handling join utilities.

AQE's skew-join splitting (on by default in session.py) handles most
skew at runtime by splitting oversized shuffle partitions. Salting is
the *plan-level* lever for the cases AQE can't fix: a single join key
so hot that even a split partition bottlenecks one task, or a
broadcast-ineligible dimension joined against a power-law fact.

``salted_join`` spreads each hot key over ``salt`` sub-keys: the big
side gets a uniform random salt column, the small side is replicated
``salt`` times (one row per salt value), and the join runs on
(key, salt) — every hot key now occupies ``salt`` shuffle partitions.
Cost: the small side's shuffle volume multiplies by ``salt``, so keep
it for genuinely small-but-unbroadcastable sides or pre-filter to the
hot keys (``hot_keys_only=True`` salts only keys above a frequency
threshold and joins the rest normally — the standard hybrid).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def salted_join(
    big: DataFrame,
    small: DataFrame,
    on: str,
    salt: int = 8,
) -> DataFrame:
    """Inner-join ``big`` (skewed on ``on``) with ``small``, spreading
    every key over ``salt`` shuffle partitions. Result equals
    ``big.join(small, on, "inner")``."""
    b = big.withColumn("__salt", (F.rand(42) * salt).cast("int"))
    s = small.withColumn(
        "__salt", F.explode(F.sequence(F.lit(0), F.lit(salt - 1)))
    )
    return b.join(s, [on, "__salt"], "inner").drop("__salt")


def hot_keys(df: DataFrame, on: str, min_count: int) -> DataFrame:
    """Keys whose frequency exceeds ``min_count`` (one aggregation —
    run it on a sample for a cheap estimate at very large scale)."""
    return (
        df.groupBy(on)
        .agg(F.count(F.lit(1)).alias("__n"))
        .filter(F.col("__n") > min_count)
        .select(on)
    )


def salted_join_hybrid(
    big: DataFrame,
    small: DataFrame,
    on: str,
    salt: int = 8,
    hot_min_count: int = 1_000_000,
) -> DataFrame:
    """Hybrid skew join: salt only the hot keys, join the long tail
    normally, union the results. The hot-key set is broadcast to split
    both inputs without extra shuffles."""
    hot = F.broadcast(hot_keys(big, on, hot_min_count).localCheckpoint())
    big_hot = big.join(hot, on, "left_semi")
    big_cold = big.join(hot, on, "left_anti")
    small_hot = small.join(hot, on, "left_semi")
    cold = big_cold.join(small, on, "inner")
    hot_joined = salted_join(big_hot, small_hot, on, salt)
    return cold.unionByName(hot_joined)
