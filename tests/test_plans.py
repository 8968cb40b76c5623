"""Physical-plan regression tests: the scale contract (see the
'Optimize for scale' notes in each query docstring).

These assert the *shape* of the executed plan, not timings — the
properties that decide whether a query survives a 100× scale-up:
filters reaching the parquet scan, column pruning, broadcast (never
shuffle) joins against dims, and top-k as TakeOrderedAndProject.
"""

from __future__ import annotations

import pytest

import __spark_entry__ as entry_mod
from automated_etl_pipeline_spark.plans.explain import executed_plan

from tests.conftest import SF_SMOKE


def plan_of(spark, name: str) -> str:
    return executed_plan(entry_mod.queries()[name](spark, SF_SMOKE))


def test_filter_and_projection_pushed_to_scan(spark):
    plan = plan_of(spark, "p5_filter_project")
    assert "EqualTo(l_returnflag,R)" in plan
    assert "LessThan(l_quantity,10.0)" in plan
    # pruned scan: none of the unused columns appear in ReadSchema
    read = next(l for l in plan.splitlines() if "ReadSchema" in l)
    assert "l_shipdate" not in read and "l_tax" not in read


def test_dim_joins_are_broadcast_not_shuffle(spark):
    plan = plan_of(spark, "j1_region_revenue")
    assert plan.count("BroadcastHashJoin") == 3
    assert "SortMergeJoin" not in plan
    # fact scan pruned to join key + measure
    assert "struct<o_custkey:bigint,o_totalprice:double>" in plan


def test_topk_uses_take_ordered_not_global_sort(spark):
    from automated_etl_pipeline_spark.io.sources import load_testdata
    from automated_etl_pipeline_spark.similarity.brute_force import topk_cosine

    for name in ("w2_topk_count", "w3_topk_measure"):
        plan = plan_of(spark, name)
        assert "TakeOrderedAndProject" in plan, name
    # the exact ANN baseline every approximate variant is recall-checked
    # against
    emb = load_testdata(spark, SF_SMOKE, ["embeddings"])["embeddings"]
    qv = emb.filter("vec_id = 0").first().embedding
    assert "TakeOrderedAndProject" in executed_plan(topk_cosine(emb, qv, k=20))


def test_tpch_join_shapes_no_nested_loop_and_topk(spark):
    """Q3/Q5/Q10: every join is hash-based (broadcast or shuffle —
    never a nested loop), the date/segment/returnflag filters reach the
    parquet scans, and the top-k queries use TakeOrderedAndProject."""
    for name in (
        "q3_shipping_priority",
        "q5_local_supplier_volume",
        "q10_returned_items",
    ):
        plan = plan_of(spark, name)
        assert "BroadcastNestedLoopJoin" not in plan, name
        assert "CartesianProduct" not in plan, name
        assert "PushedFilters: [" in plan, name
    assert "TakeOrderedAndProject" in plan_of(spark, "q3_shipping_priority")
    assert "TakeOrderedAndProject" in plan_of(spark, "q10_returned_items")
    # Q3's segment filter is pushed into the customer scan
    assert "EqualTo(c_mktsegment,BUILDING)" in plan_of(spark, "q3_shipping_priority")


def test_agg_is_partial_then_final(spark):
    plan = plan_of(spark, "flagship_priority_agg")
    # two HashAggregate nodes (map-side partial + final) around one exchange
    assert plan.count("HashAggregate") >= 2
    assert "Exchange hashpartitioning" in plan


def test_semi_anti_joins_stay_join_shaped(spark):
    for name in ("j4_semi_join", "j4_anti_join"):
        plan = plan_of(spark, name)
        assert "LeftSemi" in plan or "LeftAnti" in plan, name


@pytest.mark.parametrize("name", ["dedup_minhash_lsh"])
def test_minhash_signatures_have_no_python_udf(spark, name):
    """The signature pipeline must stay in codegen — no BatchEvalPython
    (row-wise Python) anywhere in the plan."""
    plan = plan_of(spark, name)
    assert "BatchEvalPython" not in plan and "PythonUDF" not in plan


def test_zorder_default_path_has_no_window(spark):
    """The default (approxQuantile cutpoint) z-order path must plan as
    scan -> project: no WindowExec, no exchange at all — even the exact
    path (exact=True, gate-query-only) now uses two-phase distributed
    ranks rather than a single-partition window (rule 4, r13)."""
    from automated_etl_pipeline_spark.operators.zorder import with_zvalue

    orders = spark.read.parquet(f"{SF_SMOKE}/orders.parquet").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    z = with_zvalue(orders, ["o_custkey", "o_totalprice"], tiebreak="o_orderkey")
    plan = executed_plan(z)
    assert "Window" not in plan
    assert "Exchange SinglePartition" not in plan
    assert "Exchange" not in plan  # no shuffle at all: pure narrow project
    assert "*(1) Project" in plan  # binary-search tree stays in codegen stage 1


def test_winnow_pipeline_has_no_python_udf(spark):
    """Winnowing fingerprints must stay in column expressions — no
    BatchEvalPython anywhere (the hashes, window minima and index join
    are all JVM-side)."""
    plan = plan_of(spark, "winnow_fingerprint_pairs")
    assert "BatchEvalPython" not in plan and "PythonUDF" not in plan


def test_oov_vocab_is_topk_and_broadcast(spark):
    """The OOV vocabulary must plan as TakeOrderedAndProject (top-k,
    no global sort) and join broadcast (never shuffle the token side
    against a 500-row vocab)."""
    plan = plan_of(spark, "oov_rate_quality")
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan


def test_scd2_reuses_one_exchange_per_key(spark):
    """SCD-2's windows + aggregate all partition by the key: the plan
    must not re-shuffle between the change-flag window, the run
    aggregate, and the lead window."""
    plan = plan_of(spark, "scd2_priority_history")
    # one hash exchange for the key partitioning + the final orderBy's
    # range exchange; anything more means a redundant reshuffle
    assert plan.count("Exchange hashpartitioning") <= 2


def test_asof_join_is_union_window_not_join(spark):
    """The as-of join must plan as union + window — no Join operator;
    its only hash exchanges are the right-side dedup aggregate and the
    per-key window (no theta-join row explosion anywhere)."""
    plan = plan_of(spark, "asof_last_view_value")
    assert "SortMergeJoin" not in plan and "BroadcastHashJoin" not in plan
    assert "Window" in plan
    assert plan.count("Exchange hashpartitioning") == 2


def test_quantile_bucket_monotone_and_balanced(spark):
    """The approxQuantile bucketing must be monotone in the value and
    roughly balanced on uniform data (the property min/max file
    skipping relies on)."""
    from pyspark.sql import functions as F

    from automated_etl_pipeline_spark.operators.zorder import quantile_bucket

    df = spark.range(20_000).select(F.col("id").cast("double").alias("v"))
    b = df.select("v", quantile_bucket(df, "v", bits=4).alias("bucket"))
    # monotone: bucket of max(v) per bucket never exceeds next bucket's min
    rows = (
        b.groupBy("bucket")
        .agg(F.min("v").alias("lo"), F.max("v").alias("hi"), F.count("*").alias("n"))
        .orderBy("bucket")
        .collect()
    )
    for prev, cur in zip(rows, rows[1:]):
        assert prev.hi <= cur.lo, "buckets overlap — not monotone"
    # balance: uniform data, 16 buckets -> each within 3x of fair share
    n = 20_000 / 16
    assert all(n / 3 <= r.n <= n * 3 for r in rows), [r.n for r in rows]
    # null handling: null lands in bucket 0, not an error
    withnull = spark.createDataFrame([(None,), (5.0,)], "v double")
    got = {
        r.v: r.bucket
        for r in withnull.select(
            "v", quantile_bucket(df, "v", bits=4).alias("bucket")
        ).collect()
    }
    assert got[None] == 0


def test_spread_noop_on_wide_input(spark):
    """spread() must never repartition DOWN — a pre-split input passes
    through untouched (the 100 TB no-op guarantee)."""
    from automated_etl_pipeline_spark.io.sources import spread

    wide = spark.range(1000).repartition(64)
    assert spread(wide, min_partitions=32) is wide


def test_source_cap_uses_window_group_limit(spark):
    """quota_stratified_sample's per-source rank filter must hit the
    WindowGroupLimit rewrite: each map task pre-trims to the per-source
    cap before the shuffle — the property that bounds a billion-doc
    source's exchange volume to cap x partitions."""
    plan = plan_of(spark, "quota_stratified_sample")
    assert "WindowGroupLimit" in plan


def test_curation_survivors_single_scan_no_joins(spark):
    """The curation pipeline's cheap stages (quality -> exact ->
    fingerprint) must plan as ONE corpus scan (no per-stage re-scan),
    zero joins (window dedup, not rep-semi-joins), and WindowGroupLimit
    pre-trims on the rank-1 filters — the shape that makes the
    pre-near-dedup pass a single scan at 100 TB."""
    from automated_etl_pipeline_spark.io.sources import load_testdata
    from automated_etl_pipeline_spark.queries_llm import curation_survivors

    docs = load_testdata(spark, SF_SMOKE, ["documents"])["documents"]
    plan = executed_plan(curation_survivors(docs))
    assert plan.count("documents.parquet") == 1
    assert "Join" not in plan  # no semi joins, no re-scans to join back
    assert "WindowGroupLimit" in plan


def test_curation_e2e_reads_survivor_checkpoint_not_corpus(spark):
    """The FULL pipeline (near-dedup + span accounting + report)
    materializes the survivors once and must never re-read the raw
    corpus: every downstream stage (LSH banding, Jaccard verify, span
    windows, report) consumes the checkpoint, so the expensive stages
    see the reduced corpus only.  No cartesian shapes anywhere."""
    plan = plan_of(spark, "corpus_curation_e2e")
    assert "documents.parquet" not in plan  # raw corpus only feeds the checkpoint
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_kmeans_balanced_sample_pretrims_map_side(spark):
    """The cluster-balanced sample's per-cluster top-cap must hit the
    same WindowGroupLimit rewrite — a billion-vector cluster ships
    cap x partitions rows into the sample exchange, not its full
    membership."""
    from automated_etl_pipeline_spark.io.sources import load_testdata
    from automated_etl_pipeline_spark.similarity.kmeans import (
        kmeans_balanced_sample,
    )

    emb = load_testdata(spark, SF_SMOKE, ["embeddings"])["embeddings"]
    assert "WindowGroupLimit" in executed_plan(kmeans_balanced_sample(emb))


def test_q15_revenue_view_computed_once(spark):
    """Q15's revenue 'view' feeds two consumers (per-supplier rows and
    the global max).  The explicit NOT NULL on the agg key makes both
    agg subtrees canonically identical, so AQE must REUSE the lineitem
    scan + partial-agg exchange — one scan, not two.  Reuse only shows
    in the final adaptive plan, so execute first."""
    df = entry_mod.queries()["q15_top_supplier"](spark, SF_SMOKE)
    df.collect()
    plan = executed_plan(df)
    assert "isFinalPlan=true" in plan
    assert "ReusedExchange" in plan or "ReusedQueryStage" in plan
    # quarter filter reaches the lineitem scan
    assert "GreaterThanOrEqual(l_shipdate,1996-01-01" in plan


def test_q21_decorrelated_single_pass(spark):
    """Q21's EXISTS/NOT-EXISTS pair is decorrelated into one per-order
    aggregate joined back: hash joins only, top-20 as
    TakeOrderedAndProject, the status filter pushed into the orders
    scan, and lineitem scanned at most twice (the 'lines' view's two
    consumers) — never once per supplier as a correlated plan would."""
    plan = plan_of(spark, "q21_waiting_suppliers")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "TakeOrderedAndProject" in plan
    assert "EqualTo(o_orderstatus,F)" in plan
    assert plan.count("lineitem.parquet") <= 2


def test_q8_q9_q16_hash_joins_and_pushed_filters(spark):
    """The r6 TPC-H additions: every join hash-based, the selective
    attribute filters pushed into the part scan, Q16's exclusion as a
    broadcast anti join over the distinct pair relation."""
    for name in ("q8_market_share", "q9_product_profit"):
        plan = plan_of(spark, name)
        assert "BroadcastNestedLoopJoin" not in plan, name
        assert "CartesianProduct" not in plan, name
        assert "PushedFilters: [" in plan, name
    assert "EqualTo(p_type,ECONOMY)" in plan_of(spark, "q8_market_share")
    assert "StringStartsWith(p_name,red )" in plan_of(spark, "q9_product_profit")
    q16 = plan_of(spark, "q16_supplier_part_counts")
    assert "LeftAnti" in q16 and "BroadcastHashJoin" in q16
    # the brand/type filters are pushed to the part scan (the size IN
    # list is pushed too, but the plan printer truncates that far)
    assert "Not(EqualTo(p_brand,Brand#11))" in q16


def test_q22_scalar_avg_broadcast_and_anti_join(spark):
    """Q22's scalar average must plan as a 1-row broadcast (the ONLY
    acceptable nested-loop: IdentityBroadcastMode over a global
    aggregate), the NOT EXISTS as a LeftAnti hash join, and the
    priority filter pushed into the orders scan."""
    plan = plan_of(spark, "q22_idle_balances")
    assert plan.count("BroadcastNestedLoopJoin") == 1
    assert "IdentityBroadcastMode" in plan
    assert "LeftAnti" in plan
    assert "EqualTo(o_orderpriority,1-URGENT)" in plan


# ----------------------------------------------------------------------
# Registry-wide forced-broadcast guard (VERDICT r5 ask #1)
# ----------------------------------------------------------------------

# Gates that EXECUTE a stream inside the callable and return a collected
# memory-sink snapshot: the returned frame is a LocalRelation with no
# join plan left to inspect, and building one costs a full stream drain.
# Their static sides are guarded at the unit level instead
# (streaming/joins.py static_enrich joins without a broadcast hint).
# Derived from the registration tag (``@query(..., executes_stream=True)``)
# rather than a hand-maintained frozenset: VERDICT r7 wrong #1 found
# streaming_funnel_completions missing from the hand list, so the sweep
# drained a real stream and then asserted on a vacuous LocalTableScan.
from automated_etl_pipeline_spark.queries import STREAM_EXEC as _STREAM_EXEC_GATES


def test_stream_exec_tag_matches_source():
    """The executes_stream tag cannot silently go stale in either
    direction: a registry callable whose source drives Structured
    Streaming (readStream / writeStream) must be tagged, and a tagged
    name must both exist in the registry and actually execute a stream.
    This is the mechanical guard that replaces remembering to update a
    frozenset when the next streaming gate lands."""
    import inspect
    import re

    qs = entry_mod.queries()
    assert _STREAM_EXEC_GATES <= set(qs), "tagged names missing from registry"
    streamy = re.compile(
        r"readStream|writeStream|run_to_memory_sink|drain_stream"
        r"|run_cdc_merge_stream|run_stream_to_manifest"
    )
    for name, fn in qs.items():
        src = inspect.getsource(fn)
        if streamy.search(src):
            assert name in _STREAM_EXEC_GATES, (
                f"{name} executes a stream but is not tagged "
                "executes_stream=True at registration"
            )
        else:
            assert name not in _STREAM_EXEC_GATES, (
                f"{name} is tagged executes_stream=True but its source "
                "shows no stream execution"
            )


def test_registry_scale_rules_sweep(spark):
    """The repo's three hard scale rules, asserted over EVERY registry
    query in one pass:

    1. No explicit broadcast hint on an unreduced SF-scaling table —
       a hint overrides AQE's size check and OOMs executors at 100 TB
       (the q14/q19/q21 anti-pattern removed this round). Checked on
       the analyzed logical plan; fixed dims (region/nation) and
       reduced slices (filtered/aggregated/limited) are fine.
    2. No CartesianProduct — a non-broadcast cross product is
       quadratic shuffle volume. (BroadcastNestedLoopJoin is allowed:
       the planner only picks it when the build side fits broadcast —
       in this registry always a 1-row aggregate, k-row centroid
       table, or top-k query set — and statistics demote it at scale.)
    3. No BatchEvalPython — row-wise Python evaluation; the only
       Python boundaries allowed are Arrow-vectorized
       (ArrowEvalPython / MapInPandas / AggregateInPandas /
       FlatMapGroupsInPandas*).
    4. No partition-less Window over an unbounded input (VERDICT r12
       ask #4) — a global window is allowed only downstream of an
       aggregate / limit / literal frame that bounds the rows; over an
       SF-scaling scan it funnels the whole table through ONE task."""
    from automated_etl_pipeline_spark.plans.explain import (
        executed_plan,
        forced_broadcast_violations,
        unpartitioned_window_violations,
    )

    bad = {}
    for name, fn in entry_mod.queries().items():
        if name in _STREAM_EXEC_GATES:
            continue
        df = fn(spark, SF_SMOKE)
        flags = []
        viol = forced_broadcast_violations(df)
        if viol:
            flags.append(f"forced-broadcast:{viol}")
        wviol = unpartitioned_window_violations(df)
        if wviol:
            flags.append(f"unbounded-global-window:{wviol}")
        plan = executed_plan(df)
        if "CartesianProduct" in plan:
            flags.append("CartesianProduct")
        if "BatchEvalPython" in plan:
            flags.append("BatchEvalPython")
        if flags:
            bad[name] = flags
    assert not bad, f"scale-rule violations: {bad}"


def test_unpartitioned_window_detector_positive_and_negative(spark):
    """Rule 4's detector must fire on the anti-pattern (a global window
    directly over an SF-scaling scan) and stay quiet on the two
    legitimate shapes: a partitioned window over the same scan, and a
    global window downstream of an aggregate or limit."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from automated_etl_pipeline_spark.plans.explain import (
        unpartitioned_window_violations,
    )

    orders = spark.read.parquet(f"{SF_SMOKE}/orders.parquet")
    w_global = Window.orderBy("o_orderdate", "o_orderkey")

    # anti-pattern: global rank over the raw fact table
    assert unpartitioned_window_violations(
        orders.withColumn("r", F.row_number().over(w_global))
    ), "detector must fire on a global window over a raw scan"

    # partitioned over the same scan: clean
    w_part = Window.partitionBy("o_custkey").orderBy("o_orderdate")
    assert (
        unpartitioned_window_violations(
            orders.withColumn("r", F.row_number().over(w_part))
        )
        == []
    )

    # global window AFTER the aggregate shrank the frame: clean
    agg = orders.groupBy("o_orderpriority").agg(
        F.sum("o_totalprice").alias("s")
    )
    assert (
        unpartitioned_window_violations(
            agg.withColumn("r", F.row_number().over(Window.orderBy("s")))
        )
        == []
    )

    # global window after a LIMIT: clean
    assert (
        unpartitioned_window_violations(
            orders.limit(50).withColumn(
                "r", F.row_number().over(w_global)
            )
        )
        == []
    )

    # r13 ADVICE false negative: a global window over
    # fact.join(broadcast(small_aggregate)) — the aggregate bounds only
    # the BROADCAST side; the window input is still SF-scaling.  The
    # old any-node-in-subtree scan accepted it via the dim-side
    # aggregate; the branch-aware recursion must flag it.
    small = (
        orders.groupBy("o_orderpriority")
        .agg(F.avg("o_totalprice").alias("prio_avg"))
    )
    enriched = orders.join(F.broadcast(small), "o_orderpriority")
    assert unpartitioned_window_violations(
        enriched.withColumn("r", F.row_number().over(w_global))
    ), "detector must fire on a global window over fact ⋈ broadcast(agg)"

    # ... and the mirrored legitimate shape stays clean: BOTH join
    # inputs bounded (aggregate ⋈ broadcast aggregate), global window
    # over the k-row result.
    small2 = orders.groupBy("o_orderstatus").agg(
        F.avg("o_totalprice").alias("status_avg")
    )
    both_bounded = (
        orders.groupBy("o_orderpriority", "o_orderstatus")
        .agg(F.sum("o_totalprice").alias("s"))
        .join(F.broadcast(small2), "o_orderstatus")
    )
    assert (
        unpartitioned_window_violations(
            both_bounded.withColumn(
                "r", F.row_number().over(Window.orderBy("s"))
            )
        )
        == []
    )


def test_forced_broadcast_detector_positive_and_negative(spark):
    """The guard's detector must actually fire on the anti-pattern
    (else the registry sweep proves nothing) and stay quiet on the
    three legitimate hint shapes: fixed dim, filtered slice, 1-row
    aggregate."""
    from pyspark.sql import functions as F

    from automated_etl_pipeline_spark.plans.explain import (
        forced_broadcast_violations,
    )

    li = spark.read.parquet(f"{SF_SMOKE}/lineitem.parquet")
    part = spark.read.parquet(f"{SF_SMOKE}/part.parquet")
    nation = spark.read.parquet(f"{SF_SMOKE}/nation.parquet")
    on = F.col("l_partkey") == F.col("p_partkey")

    assert forced_broadcast_violations(li.join(F.broadcast(part), on)) == [
        "part"
    ]
    # projection does not reduce rows — still a violation
    assert forced_broadcast_violations(
        li.join(F.broadcast(part.select("p_partkey", "p_size")), on)
    ) == ["part"]
    assert (
        forced_broadcast_violations(
            li.join(F.broadcast(part.filter(F.col("p_size") < 5)), on)
        )
        == []
    )
    assert (
        forced_broadcast_violations(
            li.join(
                F.broadcast(nation),
                F.col("l_suppkey") == F.col("n_nationkey"),
            )
        )
        == []
    )
    assert (
        forced_broadcast_violations(
            li.crossJoin(F.broadcast(part.agg(F.avg("p_retailprice"))))
        )
        == []
    )


def test_runtime_bloom_filter_prunes_fact_scan(spark):
    """Spark's InjectRuntimeFilter: a selective dim filter builds a
    bloom filter over its join keys and the fact side gains a
    ``might_contain(...)`` filter BEFORE its shuffle — rows that
    cannot join never leave the scan stage, the biggest shuffle-volume
    lever on selective fact⋈dim joins at 100 TB.  The application-side
    size threshold defaults to 10 GB (sized for real clusters), so the
    probe scales it to the fixture — same code path, smaller trigger
    (the skew-smoke rationale, SCALE_SMOKE_r06.md)."""
    from pyspark.sql import functions as F

    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "10KB",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
    }
    saved = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        li = spark.read.parquet(f"{SF_SMOKE}/lineitem.parquet")
        part = spark.read.parquet(f"{SF_SMOKE}/part.parquet")
        j = li.join(
            part.filter(F.col("p_brand") == "Brand#11"),
            F.col("l_partkey") == F.col("p_partkey"),
        ).agg(F.count(F.lit(1)))
        plan = executed_plan(j)
        assert "might_contain" in plan
        assert "bloom_filter_agg" in plan
        # the runtime filter must sit on the FACT (lineitem) side
        fact_filter = [
            l for l in plan.splitlines()
            if "might_contain" in l and "l_partkey" in l
        ]
        assert fact_filter, "bloom filter not applied to the fact scan side"
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_partitioned_write_prunes_partitions_on_read(spark, tmp_path):
    """Hive-partitioned parquet layout: a filter on the partition column
    must become a PartitionFilter (directory pruning — zero IO for the
    other partitions), not a post-scan filter. This is the layout
    validated_append writes (io/sinks.py partition_by) and the single
    biggest scan-cost lever at 100 TB."""
    from pyspark.sql import functions as F

    from automated_etl_pipeline_spark.io.sources import load_testdata

    orders = load_testdata(spark, SF_SMOKE, ["orders"])["orders"]
    path = str(tmp_path / "orders_by_priority")
    orders.withColumn("prio", F.col("o_orderpriority")).write.mode(
        "overwrite"
    ).partitionBy("prio").parquet(path)

    back = spark.read.parquet(path).filter(F.col("prio") == "1-URGENT")
    plan = executed_plan(back)
    assert "PartitionFilters" in plan
    line = next(l for l in plan.splitlines() if "PartitionFilters" in l)
    assert "1-URGENT" in line
    expected = orders.filter(F.col("o_orderpriority") == "1-URGENT").count()
    assert back.count() == expected


def test_semdedup_pair_stage_is_grouped_not_joined(spark):
    """SemDeDup's pair stage must be the per-cluster grouped matmul
    (FlatMapGroupsInPandas), NOT a pair self-join — each vector ships
    once per cluster (O(n·d)), never once per pair (O(pairs·d)); and
    no cartesian shapes anywhere."""
    plan = plan_of(spark, "semdedup_cluster_prune")
    assert "FlatMapGroupsInPandas" in plan
    assert "CartesianProduct" not in plan
    # row-at-a-time Python must not appear (the Arrow group path is
    # ArrowEvalPython/FlatMapGroupsInPandas, not BatchEvalPython)
    assert "BatchEvalPython" not in plan


def test_target_overlap_topk_and_hashed_join(spark):
    """Targeted selection's top-100 must be TakeOrderedAndProject (no
    global sort of the candidate pool) and the target-feature probe an
    equi hash join, never a nested loop."""
    plan = plan_of(spark, "target_overlap_selection")
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_bucketed_join_has_no_input_exchange(spark, tmp_path):
    """The bucketed_colocated_join contract: with both sides written
    as 8-bucket tables on the join key, the sort-merge join's inputs
    must arrive WITHOUT an exchange — the layout is the shuffle.  The
    executed join plan must contain a SortMergeJoin over bucketed
    scans and zero Exchange nodes."""
    from pyspark.sql import functions as F

    li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    orders = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    to, tl = "bkt_plan_orders", "bkt_plan_lineitem"
    spark.sql(f"DROP TABLE IF EXISTS {to}")
    spark.sql(f"DROP TABLE IF EXISTS {tl}")
    try:
        (
            orders.filter(F.col("o_orderkey").isNotNull())
            .write.bucketBy(8, "o_orderkey")
            .sortBy("o_orderkey")
            .option("path", str(tmp_path / to))
            .saveAsTable(to)
        )
        (
            li.filter(F.col("l_orderkey").isNotNull())
            .write.bucketBy(8, "l_orderkey")
            .sortBy("l_orderkey")
            .option("path", str(tmp_path / tl))
            .saveAsTable(tl)
        )
        o = spark.table(to).hint("merge")
        l = spark.table(tl)
        joined = o.join(l, o["o_orderkey"] == l["l_orderkey"]).select(
            "o_orderpriority", "l_extendedprice"
        )
        joined.collect()
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan, plan
        assert "Bucketed: true" in plan
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {to}")
        spark.sql(f"DROP TABLE IF EXISTS {tl}")
