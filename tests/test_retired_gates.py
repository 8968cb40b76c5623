"""Manifest-table and bloom package calls of four retired gates, checked
directly against the retired gates' DuckDB oracles.

Each retired gate re-proved one stage of a live gate (the last field
of ``CHECKS`` names it).  These four keep their oracle check because
their live parents have the thinnest end-to-end record of the
registry, and because they check package calls no live gate's oracle
covers the same way: zone-map pruning (``io/manifest.read_table_pruned``),
the version change feed (``read_changes``), additive schema evolution
with time travel (``read_table(version=)``) and bloom semi-join
pruning (``operators/bloom``, which no live gate calls).  Each check
is the three-axis compare of tools/check_correctness.py (sorted
columns, row count, normalized values) at sf0.001, with one rotating
member re-checked at sf0.01.
"""

from __future__ import annotations

from pathlib import Path

import duckdb
import pytest
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

import __spark_entry__ as entry_mod
from automated_etl_pipeline_spark.io.manifest import (
    commit_append,
    read_changes,
    read_table,
    read_table_pruned,
)
from automated_etl_pipeline_spark.io.sources import load_testdata
from automated_etl_pipeline_spark.operators.bloom import (
    bloom_build,
    bloom_might_contain,
)
from automated_etl_pipeline_spark.plans.materialize import materialize
from automated_etl_pipeline_spark.queries import dsum, scratch
from tests.conftest import SF_SMOKE
from tools.check_correctness import fetch_oracle, normalize, register_views

# the correctness gate's scale, beside the smoke scale
SF_GATE = str(Path(SF_SMOKE).with_name("sf0.01"))


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_testdata(spark, sf_dir, [name])[name]


def zone_map_file_skipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Suppliers committed one fixed-width s_acctbal bucket per file;
    a range predicate reads only the files whose [min, max] intersects
    it, and the pruned result must equal the full scan."""
    s = _t(spark, sf_dir, "supplier").filter(F.col("s_acctbal").isNotNull())
    binned = s.withColumn(
        "bin",
        F.floor((F.col("s_acctbal") + 1000.0) / 1100.0).cast("int"),
    )
    bins = sorted(r["bin"] for r in binned.select("bin").distinct().collect())
    with scratch() as root:
        for b in bins:
            commit_append(
                binned.filter(F.col("bin") == b).drop("bin").coalesce(1),
                root,
                f"bin-{b}",
                stats_cols=["s_acctbal"],
            )
        pruned, n_total, n_scanned = read_table_pruned(
            spark, root, predicates={"s_acctbal": (7000.0, 9000.0)}
        )
        pred = F.col("s_acctbal").between(7000.0, 9000.0)
        agg = pruned.filter(pred).agg(
            F.count(F.lit(1)).alias("n_rows_pred"),
            dsum("s_acctbal", alias="bal_pred"),
        ).collect()[0]
        full_n = read_table(spark, root).filter(pred).count()
    return spark.createDataFrame(
        [(n_total, n_scanned, agg["n_rows_pred"], agg["bal_pred"], full_n)],
        "files_total long, files_scanned long, n_rows_pred long, "
        "bal_pred double, n_rows_fullscan long",
    )


_ZONE_MAP_ORACLE = """
WITH s AS (
  SELECT * FROM supplier WHERE s_acctbal IS NOT NULL
), b AS (
  SELECT s_acctbal,
         CAST(floor((s_acctbal + 1000.0) / 1100.0) AS INT) AS bin
  FROM s
), fb AS (
  SELECT bin, MIN(s_acctbal) AS mn, MAX(s_acctbal) AS mx
  FROM b GROUP BY 1
)
SELECT CAST((SELECT COUNT(*) FROM fb) AS BIGINT) AS files_total,
       CAST((SELECT COUNT(*) FROM fb
             WHERE mn <= 9000.0 AND mx >= 7000.0) AS BIGINT)
         AS files_scanned,
       CAST((SELECT COUNT(*) FROM b
             WHERE s_acctbal BETWEEN 7000.0 AND 9000.0) AS BIGINT)
         AS n_rows_pred,
       CAST((SELECT SUM(CAST(s_acctbal AS DECIMAL(18,2))) FROM b
             WHERE s_acctbal BETWEEN 7000.0 AND 9000.0) AS DOUBLE)
         AS bal_pred,
       CAST((SELECT COUNT(*) FROM b
             WHERE s_acctbal BETWEEN 7000.0 AND 9000.0) AS BIGINT)
         AS n_rows_fullscan
"""


def manifest_change_feed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Suppliers land in three append commits; the changes from version
    1 to 3 must be exactly the rows of commits 2 and 3."""
    sup = _t(spark, sf_dir, "supplier")
    with scratch() as root:
        commit_append(sup.filter(F.col("s_nationkey") < 8), root, "r1")
        commit_append(
            sup.filter(F.col("s_nationkey").between(8, 16)), root, "r2"
        )
        commit_append(sup.filter(F.col("s_nationkey") > 16), root, "r3")
        changes = read_changes(spark, root, 1, 3)
        snap_n = read_table(spark, root).count()
        agg = changes.agg(
            F.count(F.lit(1)).alias("n_changed_rows"),
            F.countDistinct("s_nationkey").alias("n_changed_nations"),
            dsum("s_acctbal", alias="changed_bal"),
        ).collect()[0]
    return spark.createDataFrame(
        [
            (
                agg["n_changed_rows"],
                agg["n_changed_nations"],
                agg["changed_bal"],
                snap_n,
            )
        ],
        "n_changed_rows long, n_changed_nations long, "
        "changed_bal double, n_rows_snapshot long",
    )


_CHANGE_FEED_ORACLE = """
SELECT CAST(COUNT(*) FILTER (WHERE s_nationkey >= 8)
            AS BIGINT) AS n_changed_rows,
       CAST(COUNT(DISTINCT s_nationkey) FILTER (WHERE s_nationkey >= 8)
            AS BIGINT) AS n_changed_nations,
       CAST(SUM(CAST(s_acctbal AS DECIMAL(18,2)))
              FILTER (WHERE s_nationkey >= 8) AS DOUBLE)
         AS changed_bal,
       CAST(COUNT(*) AS BIGINT) AS n_rows_snapshot
FROM supplier
"""


def manifest_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """v1 appends three customer columns, v2 the other half with an
    extra ``c_tier``: the newest read returns NULL tier for every v1
    row, and the version-1 snapshot keeps three columns."""
    base = _t(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment", "c_acctbal"
    )
    k = F.col("c_custkey")
    with scratch() as root:
        commit_append(base.filter(k % 2 == 0), root, "a1")
        commit_append(
            base.filter(k % 2 == 1).withColumn(
                "c_tier",
                F.when(F.col("c_acctbal") >= 5000, F.lit("gold")).otherwise(
                    F.lit("std")
                ),
            ),
            root,
            "a2",
        )
        n_cols_v1 = len(read_table(spark, root, version=1).columns)
        latest = read_table(spark, root)
        n_cols_v2 = len(latest.columns)
        out = latest.groupBy("c_mktsegment").agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum(F.col("c_tier").isNull().cast("long")).alias("n_tier_null"),
            F.coalesce(
                F.sum((F.col("c_tier") == "gold").cast("long")), F.lit(0)
            ).alias("n_gold"),
            dsum("c_acctbal", alias="bal"),
            F.lit(n_cols_v1).cast("bigint").alias("n_cols_v1"),
            F.lit(n_cols_v2).cast("bigint").alias("n_cols_v2"),
        )
        return materialize(out)


_SCHEMA_EVOLUTION_ORACLE = """
SELECT c_mktsegment,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(COUNT(*) FILTER (WHERE c_custkey % 2 = 0) AS BIGINT)
         AS n_tier_null,
       CAST(COUNT(*) FILTER (WHERE c_custkey % 2 = 1 AND c_acctbal >= 5000)
            AS BIGINT) AS n_gold,
       CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS bal,
       CAST(3 AS BIGINT) AS n_cols_v1,
       CAST(4 AS BIGINT) AS n_cols_v2
FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment
"""


def bloom_semi_join_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom bitmap over the reduced supplier keys, probed per fact key:
    pass counts at key and row grain, and the bloom-then-verify revenue
    equal to the exact semi join's (a false negative would differ)."""
    li, sup = _t(spark, sf_dir, "lineitem"), _t(spark, sf_dir, "supplier")
    dim = (
        sup.filter((F.col("s_acctbal") > 4500) & F.col("s_suppkey").isNotNull())
        .select("s_suppkey")
        .distinct()
    )
    bitmap = bloom_build(dim, "s_suppkey")
    n_keys = dim.count()
    keyagg = li.groupBy("l_suppkey").agg(
        F.count(F.lit(1)).alias("nr"),
        F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).alias("rev"),
    )
    flagged = (
        keyagg.withColumn(
            "fb", bloom_might_contain(F.col("l_suppkey"), bitmap).cast("int")
        )
        .join(
            F.broadcast(dim.withColumnRenamed("s_suppkey", "__dk")),
            F.col("l_suppkey") == F.col("__dk"),
            "left",
        )
        .withColumn("fe", F.col("__dk").isNotNull().cast("int"))
    )
    fb1, fe1 = F.col("fb") == 1, F.col("fe") == 1
    return flagged.agg(
        F.sum("fb").cast("bigint").alias("bloom_pass_keys"),
        F.sum("fe").cast("bigint").alias("exact_pass_keys"),
        F.sum(F.col("nr") * F.col("fb")).cast("bigint").alias("bloom_pass_rows"),
        F.sum(F.col("nr") * F.col("fe")).cast("bigint").alias("exact_rows"),
        F.sum(F.when(fb1 & fe1, F.col("rev")))
        .cast("double")
        .alias("pruned_verified_revenue"),
        F.sum(F.when(fe1, F.col("rev"))).cast("double").alias("direct_revenue"),
    ).withColumn("n_filter_keys", F.lit(n_keys).cast("bigint"))


_BLOOM_PRUNE_ORACLE = """
WITH dim AS (
  SELECT DISTINCT s_suppkey FROM supplier
  WHERE s_acctbal > 4500 AND s_suppkey IS NOT NULL
), h AS (
  SELECT s_suppkey,
         ('0x'||substr(md5(CAST(s_suppkey AS VARCHAR)),1,8))::BIGINT AS h1,
         ('0x'||substr(md5(CAST(s_suppkey AS VARCHAR)),9,8))::BIGINT AS h2
  FROM dim
), bitset AS (
  SELECT DISTINCT ((h1 + i * h2) % 1024) AS p
  FROM h, (SELECT UNNEST(range(4)) AS i)
), pk AS (
  SELECT DISTINCT l_suppkey FROM lineitem WHERE l_suppkey IS NOT NULL
), pkh AS (
  SELECT l_suppkey,
         ('0x'||substr(md5(CAST(l_suppkey AS VARCHAR)),1,8))::BIGINT AS h1,
         ('0x'||substr(md5(CAST(l_suppkey AS VARCHAR)),9,8))::BIGINT AS h2
  FROM pk
), pkpos AS (
  SELECT l_suppkey, ((h1 + i * h2) % 1024) AS p
  FROM pkh, (SELECT UNNEST(range(4)) AS i)
), pkflag AS (
  SELECT l_suppkey,
         MIN(CASE WHEN b.p IS NOT NULL THEN 1 ELSE 0 END) AS pass
  FROM pkpos LEFT JOIN bitset b ON pkpos.p = b.p
  GROUP BY l_suppkey
), fact AS (
  SELECT l.l_suppkey, l.l_extendedprice,
         COALESCE(f.pass, 0) AS fb,
         CASE WHEN d.s_suppkey IS NOT NULL THEN 1 ELSE 0 END AS fe
  FROM lineitem l
  LEFT JOIN pkflag f ON l.l_suppkey = f.l_suppkey
  LEFT JOIN dim d ON l.l_suppkey = d.s_suppkey
)
SELECT CAST((SELECT COUNT(*) FROM dim) AS BIGINT) AS n_filter_keys,
       CAST(COUNT(DISTINCT CASE WHEN fb = 1 THEN l_suppkey END) AS BIGINT)
         AS bloom_pass_keys,
       CAST(COUNT(DISTINCT CASE WHEN fe = 1 THEN l_suppkey END) AS BIGINT)
         AS exact_pass_keys,
       CAST(SUM(fb) AS BIGINT) AS bloom_pass_rows,
       CAST(SUM(fe) AS BIGINT) AS exact_rows,
       CAST(SUM(CASE WHEN fb = 1 AND fe = 1
                     THEN CAST(l_extendedprice AS DECIMAL(18,2)) END)
            AS DOUBLE) AS pruned_verified_revenue,
       CAST(SUM(CASE WHEN fe = 1
                     THEN CAST(l_extendedprice AS DECIMAL(18,2)) END)
            AS DOUBLE) AS direct_revenue
FROM fact
"""

# name -> (check, oracle, the live gate that makes the same package calls)
CHECKS = {
    "bloom_semi_join_prune": (
        bloom_semi_join_prune, _BLOOM_PRUNE_ORACLE, "manifest_bloom_point_lookup"
    ),
    "manifest_change_feed": (
        manifest_change_feed, _CHANGE_FEED_ORACLE, "mv_incremental_refresh"
    ),
    "manifest_schema_evolution": (
        manifest_schema_evolution,
        _SCHEMA_EVOLUTION_ORACLE,
        "manifest_column_rename",
    ),
    "zone_map_file_skipping": (
        zone_map_file_skipping, _ZONE_MAP_ORACLE, "zone_map_multicol_pruning"
    ),
}


def _check(spark, name: str, sf_dir: str) -> None:
    fn, oracle, _ = CHECKS[name]
    sdf = fn(spark, sf_dir)
    spark_cols = sorted(sdf.columns)
    spark_rows = [tuple(r[c] for c in spark_cols) for r in sdf.collect()]
    con = duckdb.connect()
    try:
        register_views(con, sf_dir)
        oracle_cols, oracle_rows = fetch_oracle(con, oracle)
    finally:
        con.close()
    assert spark_cols == oracle_cols, f"{name}: column mismatch"
    assert len(spark_rows) == len(oracle_rows), f"{name}: rowcount mismatch"
    a, b = normalize(spark_rows), normalize(oracle_rows)
    diff = [(x, y) for x, y in zip(a, b) if x != y][:2]
    assert a == b, f"{name}: values differ, first: {diff}"


def test_every_subsuming_parent_is_a_live_gate():
    """Each check stands in for a live gate's package calls; a parent
    that left the registry would orphan that claim."""
    live = entry_mod.queries()
    for name, (_, _, parent) in CHECKS.items():
        assert parent in live, f"{name}: parent {parent} not in live registry"


@pytest.mark.parametrize("name", sorted(CHECKS))
def test_retired_matches_oracle(spark, name):
    _check(spark, name, SF_SMOKE)


def test_one_retired_at_gate_scale(spark):
    # one member per round at the sf0.01 gate scale; the count
    # of committed correctness records advances the index
    names = sorted(CHECKS)
    rounds = len(
        list(Path(__file__).resolve().parents[1].glob("CORRECTNESS_r*.json"))
    )
    _check(spark, names[rounds % len(names)], SF_GATE)
