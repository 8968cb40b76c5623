"""The reference ETL re-expressed Spark-first (SURVEY.md §3.1).

End-to-end pipeline of spark_etl_job.py, generalized:

scan (S1) → SQL passthrough (P1) → filter (P5) → NaN→NULL (F2) →
null fill (F3, intent) → case normalize (F4, intent) → multi-format
date parse (F1) → cast pass (F5) → star split (P3/W1) → sinks (S4/S5).

Differences from the reference, by design (SURVEY.md §4.3):
- discarded-return bugs implemented as intent (fills/initcap applied);
- the cleaned DF is cached before the 4-way sink fan-out (the reference
  re-executes the whole plan per sink, spark_etl_job.py:88-94);
- surrogate keys are deterministic and dims deduplicated (star.py);
- single-file output is opt-in, not hardcoded.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from automated_etl_pipeline_spark import schemas
from automated_etl_pipeline_spark.io.sources import read_csv
from automated_etl_pipeline_spark.operators import cleaning
from automated_etl_pipeline_spark.operators.star import (
    DimSpec,
    build_star,
    validate_unique_keys,
)


@dataclass(frozen=True)
class FootballEtlConfig:
    input_path: str
    tournament_filter: str | None = "FIFA World Cup"


def clean_results(spark: SparkSession, cfg: FootballEtlConfig) -> DataFrame:
    """Scan + clean: the reference's rows 1-72, as one lazy plan."""
    df = read_csv(
        spark,
        cfg.input_path,
        schema=schemas.FOOTBALL_RESULTS,
        mode="PERMISSIVE",  # reference defers strictness to the load step
    )
    df.createOrReplaceTempView("football_stats")
    # P1 — SQL entry parity (spark_etl_job.py:39-45): same plan via SQL.
    df = spark.sql("SELECT * FROM football_stats")
    if cfg.tournament_filter:
        df = df.filter(F.col("tournament") == cfg.tournament_filter)  # P5
    df = cleaning.nan_to_null(df)  # F2
    df = cleaning.fill_nulls(  # F3 (intent)
        df,
        {
            "home_score": -1,
            "away_score": -1,
            "neutral": False,
        },
    )
    df = df.na.fill(
        {c: "Unknown" for c in ("home_team", "away_team", "tournament", "city", "country")}
    )
    df = cleaning.normalize_case(
        df, ["home_team", "away_team", "city", "country"]
    )  # F4 (intent; tournament kept verbatim — it is a filter/grouping key)
    df = df.withColumn("date", cleaning.multi_format_date("date"))  # F1
    return df


def build_football_star(results: DataFrame) -> dict[str, DataFrame]:
    """Star split (spark_etl_job.py:74-78 → proper dims, SURVEY.md §2.2 P3).

    ``key_mode="hash"`` is pinned explicitly: surrogate keys are sparse
    xxhash64 values (idempotent across incremental loads), NOT the
    contiguous 1-based ranks this pipeline emitted before round 2 —
    downstream consumers of persisted fact/dim tables must join on the
    key, never assume density.  Hash keys can collide (~n²/2⁶⁵), so
    each dim is collision-checked before the star is returned."""
    results = results.cache()  # 4-way fan-out reads this once (SURVEY §4.3)
    star = build_star(
        results,
        dims=[
            DimSpec("date_dim", ["date"], "date_id"),
            DimSpec(
                "game_dim",
                ["home_team", "away_team", "tournament", "city", "country", "neutral"],
                "game_id",
            ),
        ],
        fact_measures=["home_score", "away_score"],
        key_mode="hash",
    )
    validate_unique_keys(star["date_dim"], "date_id")
    validate_unique_keys(star["game_dim"], "game_id")
    star["results"] = results
    return star


def run(spark: SparkSession, cfg: FootballEtlConfig) -> dict[str, DataFrame]:
    return build_football_star(clean_results(spark, cfg))
