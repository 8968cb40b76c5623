"""Sinks (SURVEY.md §2.1 S4-S5).

S4  CSV sink with header + configurable file count (spark_etl_job.py:80-94
    hardcodes ``coalesce(1)`` — an anti-optimization at scale; here target
    file count is a parameter and defaults to "let AQE decide").
S5  Append-mode warehouse load with NOT-NULL validation — the engine
    analog of the reference's BigQuery load contract
    (``WRITE_APPEND`` + all columns ``mode: REQUIRED`` +
    ``max_bad_records=0``, spark-bq-dag.py:58-127).

Idempotent append (SURVEY.md §4.3): the reference double-loads on Airflow
retry (WRITE_APPEND + retries=1). ``write_parquet_append`` optionally
stamps a ``run_id`` partition and overwrites that partition only
(dynamic partition overwrite), making re-runs idempotent.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


class NotNullViolation(ValueError):
    """A REQUIRED column contained NULLs (spark-bq-dag.py:64-120 contract)."""


def validate_not_null(df: DataFrame, columns: Sequence[str] | None = None) -> DataFrame:
    """S5 validation — fail fast if any REQUIRED column has NULLs.

    One distributed pass: a single aggregate of per-column null counts
    (not one job per column), so the check costs one scan regardless of
    column count.
    """
    cols = list(columns) if columns else df.columns
    counts = df.agg(
        *[F.count(F.when(F.col(c).isNull(), 1)).alias(c) for c in cols]
    ).first()
    bad = {c: counts[c] for c in cols if counts[c] > 0}
    if bad:
        raise NotNullViolation(f"NULLs in REQUIRED columns: {bad}")
    return df


def write_csv(
    df: DataFrame,
    path: str,
    num_files: int | None = None,
) -> None:
    """S4 — CSV sink with a header row. ``num_files=1`` reproduces the
    reference's single-file output (spark_etl_job.py:88-94); default
    leaves partitioning to AQE coalescing."""
    out = df.coalesce(num_files) if num_files else df
    out.write.mode("overwrite").option("header", True).csv(path)


def write_parquet_append(
    df: DataFrame,
    path: str,
    required: Sequence[str] | None = None,
    run_id: str | None = None,
) -> None:
    """S5 — validated append load.

    With ``run_id`` set, writes land in a ``run_id=<id>`` partition via
    dynamic partition overwrite: a retried run replaces its own partition
    instead of appending duplicates (idempotent-append protocol,
    SURVEY.md §4.3).
    """
    if required:
        validate_not_null(df, required)
    if run_id is not None:
        df = df.withColumn("run_id", F.lit(run_id))
        writer = (
            df.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("run_id")
        )
    else:
        writer = df.write.mode("append")
    writer.parquet(path)
