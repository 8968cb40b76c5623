"""Sources (SURVEY.md §2.1 S1-S3).

S1  CSV scan with explicit schema + FAILFAST  (spark_etl_job.py:36;
    the ``max_bad_records=0`` fail-fast semantic of spark-bq-dag.py:126)
S2  Columnar table scan with projection pushdown (ml_project.py:50-69's
    ``selected_fields`` → parquet column pruning, free via Catalyst)
S3  Temp-view registration for SQL entry (spark_etl_job.py:39)

Scale notes: explicit schemas skip the inference scan; parquet scans get
predicate pushdown + column pruning from Catalyst, so callers should
``.select``/``.filter`` as early as possible and let the optimizer move
them into the FileScan node.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from automated_etl_pipeline_spark.schemas import TESTDATA_TABLES


def read_csv(
    spark: SparkSession,
    path: str,
    schema: T.StructType,
    mode: str = "FAILFAST",
    **options: str,
) -> DataFrame:
    """S1 — schemaful CSV scan.

    ``mode="FAILFAST"`` reproduces the reference's ``max_bad_records=0``
    warehouse contract at scan time; pass ``mode="PERMISSIVE"`` for the
    reference's lenient Spark-side read (it deferred strictness to the
    BigQuery load).
    """
    reader = spark.read.schema(schema).option("header", True).option("mode", mode)
    for k, v in options.items():
        reader = reader.option(k, v)
    return reader.csv(path)


def ntz_epoch_us_sql(col: str) -> str:
    """SQL expression: BIGINT epoch-micros of a TIMESTAMP_NTZ column's
    WALL value read as UTC, by pure date arithmetic (epoch-day *
    86400e6 + intraday micros).  No timezone function touches the
    value, so it is session-TZ-independent by construction and safe
    inside DST spring-forward gaps where cast-based conversions
    resolve nonexistent local times (see _normalize_nanos docstring).
    Single source of truth for this arithmetic — the loader and the
    query layer's _epoch_us_col both use it (r10 review: two
    hand-maintained copies of session-TZ-critical code drift)."""
    return (
        f"CAST(datediff(CAST({col} AS DATE), DATE '1970-01-01')"
        f" AS BIGINT) * 86400000000"
        f" + CAST(date_part('HOUR', {col}) AS BIGINT) * 3600000000"
        f" + CAST(date_part('MINUTE', {col}) AS BIGINT) * 60000000"
        f" + CAST(date_part('SECOND', {col}) * 1000000 AS BIGINT)"
    )


def _normalize_nanos(df: DataFrame) -> DataFrame:
    """Normalize every physical timestamp encoding the testdata has
    shipped to ONE canonical Spark ``TIMESTAMP`` type, so no consumer
    (queries, streaming, tests) ever branches on the scan type.

    - int64 nanos (parquet TIMESTAMP(NANOS) under
      ``spark.sql.legacy.parquet.nanosAsLong=true``): convert to
      microsecond timestamps with plain ``div`` (truncation toward
      zero).  For pre-epoch values this rounds UP (-1501 ns → -1 µs),
      which is exactly what the installed DuckDB's ns→µs cast does —
      pinned by tests/test_io.py::
      test_normalize_nanos_pre_epoch_matches_duckdb, which fails loudly
      if a DuckDB upgrade flips to floor semantics.  Integer-only
      arithmetic: int64 nanos exceed 2^53, so a double round-trip would
      lose precision.
    - TIMESTAMP_NTZ (parquet µs with ``isAdjustedToUTC=false`` — the
      pandas/pyarrow default, and what Spark 4.1 reads TIMESTAMP(NANOS)
      as natively in sessions built without ``nanosAsLong``, i.e. the
      driver's): the wall value is converted to wall-as-UTC epoch
      micros by PURE DATE ARITHMETIC on the NTZ value itself —
      epoch-day * 86_400e6 + hour/minute/fractional-second micros —
      then ``timestamp_micros``.  No timezone function touches the
      value, so the conversion is session-TZ-independent BY
      CONSTRUCTION and matches the int64-nanos branch bit-for-bit.
      A bare ``cast("timestamp")`` reinterprets the wall clock in the
      SESSION timezone (a silent instant shift on any non-UTC driver
      JVM — caught by the r9 --tz matrix leg), and the intermediate
      from_utc_timestamp(cast(...), current_timezone()) fix was still
      wrong for wall times inside a DST spring-forward gap, where the
      cast resolves the nonexistent local time forward before the
      offset is undone (r9 code review).  DuckDB reads the same
      parquet as naive timestamps (= wall as UTC), so oracle hashes
      stay aligned in every session timezone, DST zones included.
    """
    from pyspark.sql import types as T

    dt = {f.name: f.dataType for f in df.schema.fields}.get("ts")
    if isinstance(dt, T.LongType):
        return df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    if isinstance(dt, T.TimestampNTZType):
        return df.withColumn(
            "ts", F.expr(f"timestamp_micros({ntz_epoch_us_sql('ts')})")
        )
    return df


def spread(df: DataFrame, min_partitions: int | None = None) -> DataFrame:
    """Repartition a narrow scan so expression-heavy per-row work (md5
    per token, trigram extraction, codec UDFs) uses every core.

    The driver testdata files are single-row-group parquet, so Spark
    reads each as ONE input partition regardless of
    ``files.maxPartitionBytes`` — a CPU-bound operator would run on 1
    of 32 cores. At 100 TB the scan arrives with thousands of
    splits and this is a no-op (we only repartition UP); the same
    guard also makes it the standard small-file compaction escape
    hatch rather than an extra shuffle in the big-data path.

    Reserve it for expression-heavy operators (md5-per-shingle dedup,
    trigram language-ID, codec UDFs): on shuffle-light queries the
    repartition costs more than the parallelism buys back.

    The width probe uses ``inputFiles()`` — a FileIndex lookup on the
    analyzed plan — rather than ``df.rdd.getNumPartitions()``, which
    forces full physical planning plus a DataFrame→RDD conversion on
    every call (this helper sits on ~10 query paths).  File count
    lower-bounds the scan's split count, so "many files ⇒ skip" errs
    only toward skipping, never toward a down-shuffle.
    """
    sc = df.sparkSession.sparkContext
    target = min_partitions or sc.defaultParallelism
    try:
        width = len(df.inputFiles())
    except Exception:
        width = 0
    if not width:
        # non-file-backed lineage (range, shuffle output, in-memory):
        # inputFiles() is empty, NOT an error — fall back to the exact
        # probe or we would repartition DOWN a pre-split frame
        width = df.rdd.getNumPartitions()
    if width >= target:
        return df
    return df.repartition(target)


def load_testdata(
    spark: SparkSession, sf_dir: str, tables: Sequence[str] | None = None
) -> dict[str, DataFrame]:
    """Load the driver testdata tables from ``sf_dir`` (TESTDATA.md)."""
    # Set here (not only at session build) so driver-created sessions
    # can read the nanos-timestamp events table too.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    names = list(tables) if tables else list(TESTDATA_TABLES)
    out = {}
    for name in names:
        df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
        if name == "events":
            df = _normalize_nanos(df)
        out[name] = df
    return out


def register_views(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """S3 — expose every testdata table to ``spark.sql`` by name."""
    dfs = load_testdata(spark, sf_dir)
    for name, df in dfs.items():
        df.createOrReplaceTempView(name)
    return dfs
