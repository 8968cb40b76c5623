"""Cleaning / normalization operators (SURVEY.md §2.7 F1-F5).

Config-driven, reusable versions of the reference's hard-coded cleaning
pass (spark_etl_job.py:33-72). All pure column expressions — everything
stays inside WholeStageCodegen, no Python in the hot path.

Where the reference has discarded-return bugs (``FIFA.na.fill(False)``
unassigned at spark_etl_job.py:60,62,67-68) we implement the evident
*intent* (SURVEY.md §4.3): nulls actually filled, strings actually
normalized.
"""

from __future__ import annotations

from collections.abc import Mapping, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

# Format precedence is load-bearing (spark_etl_job.py:33-34): the first
# format that strictly parses wins. Requires timeParserPolicy=CORRECTED
# so e.g. '03-02-1900' fails 'yyyy-MM-dd' and falls through to
# 'dd-MM-yyyy' instead of lenient-parsing to a wrong date (SURVEY.md §4.3).
DEFAULT_DATE_FORMATS: tuple[str, ...] = (
    "MM/dd/yyyy",
    "yyyy-MM-dd",
    "dd-MM-yyyy",
    "dd/MM/yyyy",
)


def multi_format_date(
    col: Column | str, formats: Sequence[str] = DEFAULT_DATE_FORMATS
) -> Column:
    """F1 — first-format-wins date parse (spark_etl_job.py:33-34).

    ``try_to_date`` (Spark 3.5+) never throws on non-matching rows, so a
    mixed-format column parses in one pass without job failure.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.coalesce(*[F.try_to_date(c, f) for f in formats])


def nan_to_null(df: DataFrame) -> DataFrame:
    """F2 — NaN → NULL for floating columns (spark_etl_job.py:52-55).

    Single ``select`` (one Project node) instead of the reference's
    per-column ``withColumn`` loop — Catalyst collapses either way, but
    one select keeps the analyzed-plan size linear.
    """
    numeric = {
        f.name
        for f in df.schema.fields
        if isinstance(f.dataType, (T.DoubleType, T.FloatType))
    }
    exprs = [
        F.when(F.isnan(c), None).otherwise(F.col(c)).alias(c)
        if c in numeric
        else F.col(c)
        for c in df.columns
    ]
    return df.select(*exprs)


def fill_nulls(df: DataFrame, fills: Mapping[str, object]) -> DataFrame:
    """F3 — typed null fill (intent of spark_etl_job.py:57-62)."""
    return df.na.fill(dict(fills))


def normalize_case(df: DataFrame, columns: Sequence[str] | None = None) -> DataFrame:
    """F4 — ``initcap(lower(c))`` on string columns (intent of
    spark_etl_job.py:65-68)."""
    strings = {
        f.name for f in df.schema.fields if isinstance(f.dataType, T.StringType)
    }
    targets = set(columns) if columns is not None else strings
    exprs = [
        F.initcap(F.lower(F.col(c))).alias(c) if c in targets and c in strings else F.col(c)
        for c in df.columns
    ]
    return df.select(*exprs)


def cast_to_schema(df: DataFrame, schema: T.StructType) -> DataFrame:
    """F5 — re-cast every column to its declared type
    (spark_etl_job.py:72), preserving column order of ``schema`` for the
    columns present."""
    exprs = [
        F.col(f.name).cast(f.dataType).alias(f.name)
        for f in schema.fields
        if f.name in df.columns
    ]
    extra = [F.col(c) for c in df.columns if c not in {f.name for f in schema.fields}]
    return df.select(*exprs, *extra)
