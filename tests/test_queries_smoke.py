"""Registry smoke: every queries() entry runs at sf0.001 with a stable
schema. Full DuckDB equivalence runs via tools/check_correctness.py
(and the driver's t2 gate)."""

from __future__ import annotations

import tempfile

import pytest

import __spark_entry__ as entry_mod

from tests.conftest import SF_SMOKE

ALL = sorted(entry_mod.queries())


def test_entry_smoke(spark):
    df = entry_mod.entry(spark)
    rows = df.collect()
    assert len(rows) == 5
    assert df.columns == ["o_orderpriority", "n_orders", "sum_total", "avg_total"]


@pytest.mark.parametrize("name", ALL)
def test_query_runs(spark, name, tmp_path, monkeypatch):
    # leak guard: whatever a gate stages in temp dirs is gone once it
    # returns, and the returned frame must not need any of it
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    df = entry_mod.queries()[name](spark, SF_SMOKE)
    assert df.columns  # schema resolves
    assert df.count() >= 0
    assert not any(tmp_path.iterdir()), "gate left staged data behind"


def test_every_oracle_has_query():
    qs, os_ = entry_mod.queries(), entry_mod.oracle_sql()
    assert set(os_) <= set(qs)


def test_contract_changes_name_live_gates():
    # an entry for a name outside the registry can never reorder the
    # rotation, so it is dead weight in the staleness map
    from automated_etl_pipeline_spark.queries import QUERIES

    assert set(entry_mod._CONTRACT_CHANGED) <= set(QUERIES)


def test_approx_sketches_track_exact(spark):
    """The 100-TB path for a4_distinct_agg and exact percentiles: HLL++
    and t-digest sketches (single-pass, mergeable) must track the
    exact values within their advertised error."""
    from pyspark.sql import functions as F

    from automated_etl_pipeline_spark.io.sources import load_testdata

    li = load_testdata(spark, "/root/testdata/sf0.01", ["lineitem"])["lineitem"]
    r = li.agg(
        F.countDistinct("l_partkey").alias("exact_d"),
        F.approx_count_distinct("l_partkey", rsd=0.02).alias("approx_d"),
        F.percentile("l_extendedprice", F.lit(0.5)).alias("exact_p50"),
        F.percentile_approx("l_extendedprice", F.lit(0.5), F.lit(10000)).alias(
            "approx_p50"
        ),
    ).first()
    assert abs(r.approx_d - r.exact_d) / r.exact_d < 0.05
    assert abs(r.approx_p50 - r.exact_p50) / r.exact_p50 < 0.02


def test_rolling_peak_at_least_max_single_order(spark):
    """The trailing-90d frame always contains the current order, so the
    per-customer peak can never be below the largest single order."""
    from pyspark.sql import functions as F

    from automated_etl_pipeline_spark.io.sources import load_testdata

    peak = entry_mod.queries()["rolling_90d_peak_spend"](spark, SF_SMOKE)
    orders = load_testdata(spark, SF_SMOKE, ["orders"])["orders"]
    mx = orders.groupBy("o_custkey").agg(
        F.max(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("mx"),
        F.count(F.lit(1)).alias("n"),
    )
    j = peak.join(mx, "o_custkey").collect()
    assert j
    for r in j:
        assert r.n_orders == r.n
        assert r.peak_90d_spend >= r.mx - 1e-6
