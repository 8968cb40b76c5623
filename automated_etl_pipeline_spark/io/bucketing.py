"""Bucketed tables — co-located joins without shuffles.

Bucketing pre-shuffles a table ONCE at write time: rows are hash-
partitioned into a fixed number of buckets by the join/aggregation
key. Every later join or aggregation on that key then reads
co-located data — the plan has no Exchange on the bucketed side(s),
which at 100 TB converts the dominant repeated cost (shuffling the
fact table per query) into a one-time write cost.

Rules that make it work (asserted in tests/test_bucketing.py):
- both sides bucketed by the join key with the SAME bucket count
  (or a multiple, with spark.sql.bucketing.coalesceBucketsInJoin);
- bucket count sized so one bucket ≈ one healthy task (128-256 MB).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_cols: Sequence[str],
    n_buckets: int,
) -> None:
    """Persist ``df`` as a bucketed parquet table in the session
    warehouse, replacing any table of that name."""
    df.write.format("parquet").mode("overwrite").bucketBy(
        n_buckets, *bucket_cols
    ).saveAsTable(table)


def read_table(spark: SparkSession, table: str) -> DataFrame:
    """Read a warehouse table (bucket metadata rides along — Catalyst
    plans shuffle-free joins/aggs on the bucket key automatically)."""
    return spark.table(table)
