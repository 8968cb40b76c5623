"""Extended relational coverage: cube/pivot/percentiles/sessionization/
window analytics — engine surface beyond the reference's literal ops
(SURVEY.md §2.4 note: exposed as free Catalyst built-ins) plus the
event-sessionization operator every clickstream pipeline needs.

Same determinism discipline as queries.py (decimal sums, full ORDER BY
tiebreaks, exact-integer ratios).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from automated_etl_pipeline_spark.plans.materialize import materialize
from automated_etl_pipeline_spark.queries import (
    _t,
    dsum,
    query,
    scratch,
)


@query(
    "a6_cube",
    """
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
           COUNT(*) AS n_lines
    FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
    ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST
    """,
)
def a6_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    (li,) = _t(spark, sf_dir, "lineitem")
    return (
        li.cube("l_returnflag", "l_linestatus")
        .agg(dsum("l_quantity", alias="sum_qty"), F.count(F.lit(1)).alias("n_lines"))
        .orderBy(
            F.col("l_returnflag").asc_nulls_first(),
            F.col("l_linestatus").asc_nulls_first(),
        )
    )


@query(
    "pivot_status_by_segment",
    """
    SELECT c_mktsegment,
           COUNT(*) FILTER (o_orderstatus = 'F') AS n_f,
           COUNT(*) FILTER (o_orderstatus = 'O') AS n_o,
           COUNT(*) FILTER (o_orderstatus = 'P') AS n_p
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY c_mktsegment ORDER BY c_mktsegment
    """,
)
def pivot_status_by_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot with an explicit value list — at scale always enumerate
    pivot values (implicit pivot runs a distinct-collect job first)."""
    orders, customer = _t(spark, sf_dir, "orders", "customer")
    # customer scales with SF — no forced broadcast, AQE decides
    return (
        orders.join(customer, orders.o_custkey == customer.c_custkey)
        .groupBy("c_mktsegment")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .agg(F.count(F.lit(1)))
        .select(
            "c_mktsegment",
            # a (segment, status) combo with zero rows pivots to NULL,
            # but COUNT semantics (and the oracle) say 0
            F.coalesce(F.col("F"), F.lit(0)).alias("n_f"),
            F.coalesce(F.col("O"), F.lit(0)).alias("n_o"),
            F.coalesce(F.col("P"), F.lit(0)).alias("n_p"),
        )
        .orderBy("c_mktsegment")
    )


@query(
    "approx_percentile_price",
    """
    SELECT l_returnflag,
           COUNT(*) AS n_lines,
           TRUE AS median_in_bounds,
           TRUE AS p90_in_bounds
    FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
    """,
)
def approx_percentile_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The documented 100-TB swap for exact percentiles, itself gated
    (VERDICT r4 ask #7): approx_percentile (Greenwald-Khanna, single
    pass, mergeable — no per-group value shuffle) with the rank-error
    guarantee CHECKED IN-QUERY.  GK with accuracy A returns an element
    whose rank is within eps=1/A of the target quantile; the query
    recounts each approx value's true rank interval [cnt_lt+1, cnt_le]
    against [(q-eps)n, (q+eps)n] (2x slack for interval rounding) and
    emits booleans the oracle checks exactly — a FALSE anywhere is a
    broken sketch, not a flaky tolerance."""
    (li,) = _t(spark, sf_dir, "lineitem")
    acc = 1000  # eps = 0.1% rank error
    approx = li.groupBy("l_returnflag").agg(
        F.approx_percentile(
            "l_extendedprice", F.array(F.lit(0.5), F.lit(0.9)), F.lit(acc)
        ).alias("ap")
    )
    # approx is one row per flag (3): broadcast back onto the fact —
    # the recount is one more scan, gate-only cost (production keeps
    # just the approx agg: ONE pass, no recount)
    j = li.join(F.broadcast(approx), "l_returnflag")

    def rank_ok(q: float, v):
        eps = 2.0 / acc
        n = F.count(F.lit(1))
        cnt_le = F.sum((F.col("l_extendedprice") <= v).cast("long"))
        cnt_lt = F.sum((F.col("l_extendedprice") < v).cast("long"))
        return (cnt_le >= F.ceil((q - eps) * n)) & (
            (cnt_lt + F.lit(1)) <= F.ceil((q + eps) * n)
        )

    return (
        j.groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            # ap is constant within a group (joined per flag), so the
            # comparisons are per-row expressions under the aggregates
            rank_ok(0.5, F.col("ap")[0]).alias("median_in_bounds"),
            rank_ok(0.9, F.col("ap")[1]).alias("p90_in_bounds"),
        )
        .orderBy("l_returnflag")
    )


@query(
    "f11_month_rollup",
    """
    SELECT strftime(o_orderdate, '%Y-%m') AS order_month,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS month_total
    FROM orders GROUP BY order_month ORDER BY order_month
    """,
)
def f11_month_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F10/F11 date formatting as a grouping key (spark_etl_job.py:80-86
    path templating generalized to time-bucketed rollups)."""
    (orders,) = _t(spark, sf_dir, "orders")
    return (
        orders.groupBy(F.date_format("o_orderdate", "yyyy-MM").alias("order_month"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            dsum("o_totalprice", alias="month_total"),
        )
        .orderBy("order_month")
    )


@query(
    "f4_initcap_normalize",
    """
    SELECT p_partkey,
           array_to_string(
             list_transform(string_split(lower(p_name), ' '),
                            w -> upper(w[1]) || w[2:]),
             ' ') AS name_cased
    FROM part ORDER BY p_partkey
    """,
)
def f4_initcap_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F4 case normalization as a query (DuckDB has no initcap — the
    oracle emulates it word-wise, which matches Spark's semantics on
    single-space text)."""
    (part,) = _t(spark, sf_dir, "part")
    return part.select(
        "p_partkey", F.initcap(F.lower("p_name")).alias("name_cased")
    ).orderBy("p_partkey")


# ----------------------------------------------------------------------
# Correlated subqueries — Catalyst decorrelates both into joins; the
# SQL goes through spark.sql unchanged (P1 SQL-entry parity) and the
# identical string is the DuckDB oracle.
# ----------------------------------------------------------------------

from automated_etl_pipeline_spark.io.sources import load_testdata  # noqa: E402

_Q4_EXISTS_SQL = """
    SELECT o_orderpriority, COUNT(*) AS n_orders
    FROM orders
    WHERE EXISTS (
      SELECT 1 FROM lineitem
      WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate
    )
    GROUP BY o_orderpriority ORDER BY o_orderpriority
"""


@query("q4_exists_subquery", _Q4_EXISTS_SQL)
def q4_exists_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape (orders with any late-shipped line): a correlated
    EXISTS that Catalyst rewrites to a left-semi hash join — the plan
    never materializes the subquery per row."""
    for name, df in load_testdata(spark, sf_dir, ["orders", "lineitem"]).items():
        df.createOrReplaceTempView(name)
    return spark.sql(_Q4_EXISTS_SQL)


_Q17_SCALAR_SQL = """
    SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / 7.0
             AS avg_yearly
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE p_size <= 5
      AND l_quantity < (
        SELECT 0.2 * AVG(l2.l_quantity) FROM lineitem l2
        WHERE l2.l_partkey = l_partkey
      )
"""


@query("q17_scalar_subquery", _Q17_SCALAR_SQL)
def q17_scalar_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape (small-quantity revenue vs per-part average): a
    correlated scalar subquery decorrelated into one per-part aggregate
    joined back — one extra shuffle on l_partkey, not a loop."""
    for name, df in load_testdata(spark, sf_dir, ["lineitem", "part"]).items():
        df.createOrReplaceTempView(name)
    return spark.sql(_Q17_SCALAR_SQL)


@query(
    "q13_custdist",
    """
    SELECT c_count, COUNT(*) AS custdist FROM (
      SELECT c_custkey, COUNT(o_orderkey) AS c_count
      FROM customer LEFT OUTER JOIN orders ON c_custkey = o_custkey
      GROUP BY c_custkey
    ) GROUP BY c_count ORDER BY custdist DESC, c_count DESC
    """,
)
def q13_custdist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape: order-count distribution including zero-order
    customers — COUNT(col) over a LEFT OUTER join counts non-null
    matches, so empty customers land in the c_count=0 bucket."""
    customer, orders = _t(spark, sf_dir, "customer", "orders")
    per_cust = (
        customer.join(orders, customer.c_custkey == orders.o_custkey, "left_outer")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .orderBy(F.desc("custdist"), F.desc("c_count"))
    )


@query(
    "j5_full_outer_yoy",
    """
    WITH y95 AS (
      SELECT o_custkey, CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
               AS total_1995
      FROM orders WHERE year(o_orderdate) = 1995 GROUP BY o_custkey
    ), y96 AS (
      SELECT o_custkey, CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
               AS total_1996
      FROM orders WHERE year(o_orderdate) = 1996 GROUP BY o_custkey
    )
    SELECT COALESCE(a.o_custkey, b.o_custkey) AS custkey,
           COALESCE(a.total_1995, 0.0) AS total_1995,
           COALESCE(b.total_1996, 0.0) AS total_1996,
           CASE WHEN a.o_custkey IS NULL THEN 'new'
                WHEN b.o_custkey IS NULL THEN 'churned'
                ELSE 'retained' END AS status
    FROM y95 a FULL OUTER JOIN y96 b ON a.o_custkey = b.o_custkey
    ORDER BY custkey
    """,
)
def j5_full_outer_yoy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Year-over-year customer activity via FULL OUTER join — the one
    outer-join flavor the registry lacked (J4 covers semi/anti, Q13
    left-outer): 1995 vs 1996 per-customer order totals, customers
    active in only one year surviving from either side with a
    new/churned/retained status.  Totals go through the repo's
    DECIMAL(18,2) exact-sum discipline.

    Scale: both inputs partial-aggregate map-side before the join;
    the FULL OUTER is a hash join on the aggregate outputs
    (O(customers), not O(orders)) — at 100 TB the year filters prune
    partitions before anything shuffles."""
    (orders,) = _t(spark, sf_dir, "orders")

    def year_totals(y: int, out: str):
        return (
            orders.filter(F.year("o_orderdate") == y)
            .groupBy("o_custkey")
            .agg(
                F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
                .cast("double")
                .alias(out)
            )
        )

    a = year_totals(1995, "total_1995").withColumnRenamed("o_custkey", "ck_a")
    b = year_totals(1996, "total_1996").withColumnRenamed("o_custkey", "ck_b")
    return (
        a.join(b, F.col("ck_a") == F.col("ck_b"), "full_outer")
        .select(
            F.coalesce("ck_a", "ck_b").alias("custkey"),
            F.coalesce("total_1995", F.lit(0.0)).alias("total_1995"),
            F.coalesce("total_1996", F.lit(0.0)).alias("total_1996"),
            F.when(F.col("ck_a").isNull(), "new")
            .when(F.col("ck_b").isNull(), "churned")
            .otherwise("retained")
            .alias("status"),
        )
        .orderBy("custkey")
    )


@query(
    "j6_nullsafe_join",
    """
    WITH clicks AS (
      SELECT NULLIF(user_id % 10, 0) AS bucket, COUNT(*) AS n_clicks
      FROM events WHERE event_type = 'click' GROUP BY 1
    ), views AS (
      SELECT NULLIF(user_id % 10, 0) AS bucket, COUNT(*) AS n_views
      FROM events WHERE event_type = 'view' GROUP BY 1
    )
    SELECT c.bucket,
           CAST(n_clicks AS BIGINT) AS n_clicks,
           CAST(n_views AS BIGINT) AS n_views
    FROM clicks c JOIN views v ON c.bucket IS NOT DISTINCT FROM v.bucket
    ORDER BY c.bucket NULLS FIRST
    """,
)
def j6_nullsafe_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equi join (``<=>`` / IS NOT DISTINCT FROM) — the join
    flavor where NULL keys MATCH each other instead of vanishing: user
    bucket 0 is NULLIF'd to NULL on both sides, and the null-safe
    condition pairs the two NULL buckets (a plain ``=`` would silently
    drop them — the classic nullable-dimension-key bug).

    Scale: both sides are map-side-collapsed aggregates before the
    join; Spark plans ``<=>`` as an ordinary hash join key (nulls hash
    to one bucket), not a nested loop — same O(buckets) join as any
    equi key."""
    (events,) = _t(spark, sf_dir, "events")
    bucket = F.nullif(F.col("user_id") % 10, F.lit(0)).alias("bucket")

    def side(etype: str, out: str):
        return (
            events.filter(F.col("event_type") == etype)
            .select(bucket)
            .groupBy("bucket")
            .agg(F.count(F.lit(1)).alias(out))
        )

    c = side("click", "n_clicks").withColumnRenamed("bucket", "b_c")
    v = side("view", "n_views").withColumnRenamed("bucket", "b_v")
    return (
        c.join(v, F.col("b_c").eqNullSafe(F.col("b_v")))
        .select(F.col("b_c").alias("bucket"), "n_clicks", "n_views")
        .orderBy(F.asc_nulls_first("bucket"))
    )


_GROUPING_SETS_SQL = """
    SELECT l_returnflag, l_linestatus,
           CAST(GROUPING(l_returnflag) AS INT) AS g_rf,
           CAST(GROUPING(l_linestatus) AS INT) AS g_ls,
           COUNT(*) AS n_lines
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
    ORDER BY g_rf, g_ls, l_returnflag NULLS FIRST, l_linestatus NULLS FIRST
"""


@query("a7_grouping_sets", _GROUPING_SETS_SQL)
def a7_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS with GROUPING() markers (the general form
    behind rollup/cube — one shuffle computes all three groupings)."""
    from automated_etl_pipeline_spark.io.sources import load_testdata

    for name, df in load_testdata(spark, sf_dir, ["lineitem"]).items():
        df.createOrReplaceTempView(name)
    return spark.sql(_GROUPING_SETS_SQL)


@query(
    "events_session_window",
    """
    WITH ordered AS (
      SELECT user_id, ts, event_id,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END AS new_s
      FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), numbered AS (
      SELECT user_id, ts,
             SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS UNBOUNDED PRECEDING) AS sid
      FROM ordered
    )
    SELECT user_id, MIN(ts) AS session_start,
           MAX(ts) + INTERVAL 30 MINUTE AS session_end,
           COUNT(*) AS n_events
    FROM numbered GROUP BY user_id, sid
    ORDER BY user_id, session_start
    """,
)
def events_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark's native session_window() as a batch aggregation — same
    semantics as the manual gaps-and-islands, but
    one groupBy, no window functions; the oracle IS the
    gaps-and-islands formulation with end = last event + gap
    ([start, end) intervals: an event landing exactly on the boundary
    opens a new session). This is the operator Structured Streaming
    uses for streaming sessionization."""
    (events,) = _t(spark, sf_dir, "events")
    sw = F.session_window("ts", "30 minutes")
    return (
        events.groupBy(sw, "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "n_events",
        )
        .orderBy("user_id", "session_start")
    )


@query(
    "asof_last_view_value",
    """
    WITH l AS (
      SELECT user_id, event_id, ts FROM events WHERE event_type = 'purchase'
    ), r AS (
      SELECT user_id, ts, MAX(value) AS value FROM events
      WHERE event_type = 'view' GROUP BY user_id, ts
    )
    SELECT l.user_id, l.event_id, l.ts, r.value
    FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.ts >= r.ts
    ORDER BY l.event_id
    """,
)
def asof_last_view_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (operators/asof.py): each purchase gets the value of
    the user's most recent view at-or-before it — DuckDB's native
    ASOF LEFT JOIN is the oracle for our union+last_value
    formulation (one shuffle, no theta-join explosion)."""
    from automated_etl_pipeline_spark.operators.asof import asof_join

    (events,) = _t(spark, sf_dir, "events")
    purchases = events.filter(F.col("event_type") == "purchase").select(
        "user_id", "event_id", "ts"
    )
    views = events.filter(F.col("event_type") == "view").select(
        "user_id", "ts", "value"
    )
    return asof_join(
        purchases, views, ["user_id"], "ts", ["value"], dedup_right="max"
    ).orderBy("event_id")


_RANGE_BUCKETS = [(i, i * 40.0, i * 40.0 + 60.0) for i in range(12)]  # overlapping


@query(
    "range_join_value_buckets",
    f"""
    WITH buckets(bucket, lo, hi) AS (VALUES
      {", ".join(f"({i}, {lo}, {hi})" for i, lo, hi in _RANGE_BUCKETS)}
    )
    SELECT bucket, COUNT(*) AS n_events,
           COUNT(DISTINCT user_id) AS n_users
    FROM events JOIN buckets ON value BETWEEN lo AND hi
    GROUP BY bucket ORDER BY bucket
    """,
)
def range_join_value_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range join (operators/rangejoin.py): events matched to
    overlapping value intervals via bin-and-filter (hash join on bin
    ids + exact BETWEEN recheck) — the oracle is DuckDB's native
    BETWEEN join. Bin width 40 ≈ the interval length scale."""
    from automated_etl_pipeline_spark.operators.rangejoin import range_join

    (events,) = _t(spark, sf_dir, "events")
    buckets = spark.createDataFrame(_RANGE_BUCKETS, "bucket int, lo double, hi double")
    joined = range_join(
        events.select("user_id", "value"), buckets, "value", "lo", "hi", bin_width=40.0
    )
    return (
        joined.groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
        )
        .orderBy("bucket")
    )


@query(
    "dq_orders_checks",
    """
    WITH agg AS (
      SELECT COUNT(*) FILTER (o_custkey IS NULL) AS nn,
             COUNT(*) FILTER (o_totalprice < 0 OR o_totalprice > 1000000) AS ir,
             COUNT(*) FILTER (o_orderstatus NOT IN ('F', 'O', 'P')) AS av,
             COUNT(o_orderkey) - COUNT(DISTINCT o_orderkey) AS uq
      FROM orders
    )
    SELECT check_name, n_violations = 0 AS passed, n_violations FROM (
      SELECT 'not_null_o_custkey' AS check_name, CAST(nn AS BIGINT) AS n_violations FROM agg
      UNION ALL SELECT 'in_range_o_totalprice', CAST(ir AS BIGINT) FROM agg
      UNION ALL SELECT 'accepted_values_o_orderstatus', CAST(av AS BIGINT) FROM agg
      UNION ALL SELECT 'unique_o_orderkey', CAST(uq AS BIGINT) FROM agg
    ) ORDER BY check_name
    """,
)
def dq_orders_checks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality suite (operators/quality.py): four checks over
    orders in ONE aggregate pass — null FK, price range, status
    domain, key uniqueness."""
    from automated_etl_pipeline_spark.operators.quality import (
        accepted_values,
        in_range,
        not_null,
        run_checks,
        unique,
    )

    (orders,) = _t(spark, sf_dir, "orders")
    checks = [
        not_null("o_custkey"),
        in_range("o_totalprice", 0, 1_000_000),
        accepted_values("o_orderstatus", ["F", "O", "P"]),
        unique("o_orderkey"),
    ]
    return run_checks(orders, checks).orderBy("check_name")


def _zorder_oracle() -> str:
    # DuckDB mirror of interleave2 over exact balanced-bucket ranks:
    # bucket = rank0 * 256 // N, the same closed form the Spark side
    # derives from two-phase distributed global ranks (r13 — the old
    # ntile formulation needed a single-partition window on the Spark
    # side, plan-sweep rule 4's anti-pattern)
    inter = " + ".join(
        f"(((ca >> {i}) & 1) << {2 * i + 1}) + (((cb >> {i}) & 1) << {2 * i})"
        for i in range(8)
    )
    return f"""
    WITH ranked AS (
      SELECT o_orderkey,
             (row_number() OVER (ORDER BY o_custkey, o_orderkey) - 1) * 256
               // COUNT(*) OVER () AS ca,
             (row_number() OVER (ORDER BY o_totalprice, o_orderkey) - 1) * 256
               // COUNT(*) OVER () AS cb
      FROM orders
    ), z AS (
      SELECT o_orderkey, {inter} AS zvalue FROM ranked
    )
    SELECT CAST(zvalue // 1024 AS BIGINT) AS zbucket,
           COUNT(*) AS n_rows
    FROM z GROUP BY zbucket ORDER BY zbucket
    """


@query("zorder_bucket_stats", _zorder_oracle())
def zorder_bucket_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order layout (operators/zorder.py): orders ranked on
    (o_custkey, o_totalprice), Morton-interleaved, rolled up into 64
    z-buckets — the per-file row distribution a zordered write would
    produce.  Uses the exact path (deterministic, DuckDB-mirrorable):
    two-phase distributed global ranks + the closed-form balanced tile
    rank*256 div N — no single-partition window (plan-sweep rule 4);
    real layout work uses the approxQuantile default."""
    from automated_etl_pipeline_spark.operators.zorder import with_zvalue

    (orders,) = _t(spark, sf_dir, "orders")
    z = with_zvalue(
        orders.select("o_orderkey", "o_custkey", "o_totalprice"),
        ["o_custkey", "o_totalprice"],
        tiebreak="o_orderkey",
        exact=True,
    )
    return (
        z.groupBy(F.floor(F.col("zvalue") / 1024).alias("zbucket"))
        .agg(F.count(F.lit(1)).alias("n_rows"))
        .orderBy("zbucket")
    )


@query(
    "q18_large_orders",
    """
    SELECT o_orderkey, o_orderdate,
           CAST(o_totalprice AS DOUBLE) AS o_totalprice,
           CAST(big.total_qty AS DOUBLE) AS total_qty
    FROM orders JOIN (
      SELECT l_orderkey,
             CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS total_qty
      FROM lineitem GROUP BY l_orderkey
      HAVING SUM(CAST(l_quantity AS DECIMAL(18,2))) > 250
    ) big ON o_orderkey = big.l_orderkey
    ORDER BY o_orderkey
    """,
)
def q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape (orders whose line quantities sum past a
    threshold): aggregate-then-join with the HAVING filter applied
    before the join, so only qualifying keys reach the exchange."""
    orders, li = _t(spark, sf_dir, "orders", "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(dsum("l_quantity", alias="total_qty"))
        .filter(F.col("total_qty") > 250)
    )
    return (
        orders.join(big, orders.o_orderkey == big.l_orderkey)
        .select("o_orderkey", "o_orderdate", "o_totalprice", "total_qty")
        .orderBy("o_orderkey")
    )


@query(
    "streaming_tumbling_1h",
    """
    SELECT date_trunc('hour', ts) AS window_start,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
    FROM events GROUP BY window_start ORDER BY window_start
    """,
    executes_stream=True,
)
def streaming_tumbling_1h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured Streaming execution under the value gate: events are
    staged to a drop directory, drained through a file stream ->
    watermark -> windowed aggregation -> memory sink with an
    availableNow trigger, and the final (complete-mode) table must
    equal the batch/DuckDB computation exactly — incremental state
    merges included."""
    from automated_etl_pipeline_spark.io.sources import load_testdata
    from automated_etl_pipeline_spark.streaming.windows import (
        drain_stream,
        read_events_stream,
        windowed_counts,
    )

    events = load_testdata(spark, sf_dir, ["events"])["events"]
    with scratch() as drop:
        events.write.mode("overwrite").parquet(drop)
        # 2 partitions: the windowed-agg state is ~720 window rows —
        # sized to state volume per the _stream_parts contract (each
        # extra partition costs a state-store instance per micro-batch;
        # measured addBatch 480 -> 365 ms at sf0.1 going 8 -> 2)
        out = drain_stream(
            windowed_counts(
                read_events_stream(spark, drop, max_files_per_trigger=4)
            ),
            shuffle_partitions=2,
        )
    return out.orderBy("window_start")


# ----------------------------------------------------------------------
# Source/sink contract gates (SURVEY.md §2.1 S1 + S5) — previously
# pytest-only; these put the scan/load contracts under the driver's
# DuckDB-oracle gate.  Both round-trip through real files in a fresh
# temp dir, then aggregate; the oracle computes the same aggregate from
# the parquet table directly, so any loss, duplication, or type drift
# in the file round-trip hash-mismatches.
# ----------------------------------------------------------------------


@query(
    "s1_csv_failfast_roundtrip",
    """
    SELECT n_regionkey,
           CAST(COUNT(*) AS BIGINT) AS n_nations,
           MIN(n_name) AS first_name,
           MAX(n_name) AS last_name
    FROM nation GROUP BY n_regionkey ORDER BY n_regionkey
    """,
)
def s1_csv_failfast_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1 — schemaful FAILFAST CSV scan (spark_etl_job.py:36 semantics;
    max_bad_records=0 of spark-bq-dag.py:126): nation is written to CSV
    then re-read with the explicit schema in FAILFAST mode — a single
    malformed row would abort the scan rather than null-fill."""
    from automated_etl_pipeline_spark import schemas
    from automated_etl_pipeline_spark.io.sinks import write_csv
    from automated_etl_pipeline_spark.io.sources import read_csv

    (nation,) = _t(spark, sf_dir, "nation")
    with scratch() as path:
        write_csv(nation.select([f.name for f in schemas.NATION.fields]), path,
                  num_files=1)
        df = read_csv(spark, path, schemas.NATION, mode="FAILFAST")
        return materialize(
            df.groupBy("n_regionkey")
            .agg(
                F.count(F.lit(1)).alias("n_nations"),
                F.min("n_name").alias("first_name"),
                F.max("n_name").alias("last_name"),
            )
            .orderBy("n_regionkey")
        )


@query(
    "s5_validated_append_idempotent",
    """
    SELECT s_nationkey,
           CAST(COUNT(*) AS BIGINT) AS n_suppliers,
           CAST(SUM(CAST(s_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_acctbal
    FROM supplier GROUP BY s_nationkey ORDER BY s_nationkey
    """,
)
def s5_validated_append_idempotent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S5 — validated idempotent append (spark-bq-dag.py:58-127
    contract: WRITE_APPEND + REQUIRED columns + max_bad_records=0):
    supplier is append-loaded TWICE under the same run_id (the Airflow
    retry scenario), read back, NOT-NULL-validated, and aggregated.  A
    non-idempotent append would double every count/sum and fail the
    value hash; a NULL in a required column raises before any write."""
    from automated_etl_pipeline_spark.io.sinks import (
        validate_not_null,
        write_parquet_append,
    )

    (sup,) = _t(spark, sf_dir, "supplier")
    required = ["s_suppkey", "s_name", "s_nationkey", "s_acctbal"]
    with scratch() as root:
        path = f"{root}/warehouse"
        write_parquet_append(sup, path, required=required, run_id="gate-run")
        write_parquet_append(sup, path, required=required, run_id="gate-run")  # retry
        back = validate_not_null(spark.read.parquet(path).drop("run_id"), required)
        return materialize(
            back.groupBy("s_nationkey")
            .agg(
                F.count(F.lit(1)).alias("n_suppliers"),
                dsum("s_acctbal", alias="total_acctbal"),
            )
            .orderBy("s_nationkey")
        )


@query(
    "streaming_dedup_watermark",
    """
    SELECT date_trunc('hour', ts) AS window_start,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
    FROM events GROUP BY window_start ORDER BY window_start
    """,
    executes_stream=True,
)
def streaming_dedup_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exactly-once dedup under the value gate: events are
    staged to the drop directory TWICE (the duplicate-delivery failure
    mode of every at-least-once transport), drained through a file
    stream -> watermark -> dropDuplicates(event_id) -> windowed
    aggregation -> memory sink.  The final table must equal the batch
    hourly rollup of the events table read ONCE — i.e. the stream
    suppressed every duplicate across trigger batches.

    The watermark delay is set beyond the dataset's whole time span so
    dedup state is never evicted (exact global dedup); in production
    the delay bounds state size and guarantees dedup only within the
    lateness window — that trade is the operator's contract."""
    import glob
    import os
    import shutil

    from automated_etl_pipeline_spark.io.sources import load_testdata
    from automated_etl_pipeline_spark.streaming.windows import (
        drain_stream,
        read_events_stream,
        windowed_counts,
    )

    events = load_testdata(spark, sf_dir, ["events"])["events"]
    with scratch() as drop:
        # coalesce(4): 8 staged files -> 2 triggers at 4 files each, so
        # the duplicate copy still lands in a LATER batch than the
        # original (cross-batch dedup is the point) without paying for
        # 64 part files / 16 micro-batches
        events.coalesce(4).write.mode("append").parquet(drop)
        # duplicate delivery (r16 opt, guide §1.2 — remove whole
        # passes): an at-least-once transport redelivers the SAME
        # bytes, which a byte-identical file copy models exactly; the
        # old second Spark write job recomputed identical content.
        # The file source batches by mtime, so the copies are stamped
        # 2 s after the newest original instead of trusting the clock
        # granularity of the copy to put them in a later batch.
        parts = sorted(glob.glob(f"{drop}/part-*.parquet"))
        t = max(os.stat(f).st_mtime for f in parts) + 2
        for i, f in enumerate(parts):
            copy = f"{drop}/redelivered-{i:05d}.parquet"
            shutil.copy(f, copy)
            os.utime(copy, (t, t))
        stream = (
            read_events_stream(spark, drop, max_files_per_trigger=4)
            .withWatermark("ts", "3650 days")
            .dropDuplicates(["event_id"])
        )
        # watermark_delay=None: the stream above already carries its
        # watermark; Spark disallows redefining it across stateful ops.
        # 2 partitions: state is the event_id dedup set + ~720 window
        # rows — sized to state volume per the _stream_parts contract
        out = drain_stream(
            windowed_counts(stream, watermark_delay=None), shuffle_partitions=2
        )
    return out.orderBy("window_start")


@query(
    "jsonl_scan_roundtrip",
    """
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           CAST(MIN(doc_id) AS BIGINT) AS first_doc
    FROM documents GROUP BY lang ORDER BY lang
    """,
)
def jsonl_scan_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S3-adjacent source coverage: documents round-trip through
    newline-delimited JSON (the interchange format most LLM corpora
    ship as) with an explicit schema on the re-read — no inference
    scan, and any escaping/unicode loss in the round-trip shifts
    total_chars and fails the hash."""
    from automated_etl_pipeline_spark import schemas

    (docs,) = _t(spark, sf_dir, "documents")
    with scratch() as root:
        path = f"{root}/docs"
        docs.write.mode("overwrite").json(path)
        back = spark.read.schema(schemas.DOCUMENTS).json(path)
        return materialize(
            back.groupBy("lang")
            .agg(
                F.count(F.lit(1)).alias("n_docs"),
                F.sum("n_chars").alias("total_chars"),
                F.min("doc_id").alias("first_doc"),
            )
            .orderBy("lang")
        )


@query(
    "salted_skew_agg",
    """
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(floor(value * 1000000) AS BIGINT)) AS BIGINT)
             AS sum_value_micros
    FROM events GROUP BY event_type ORDER BY event_type
    """,
)
def salted_skew_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-level salted aggregation over a low-cardinality (so
    inherently skewed) key: rows first aggregate on (key, salt16) —
    spreading each hot key over 16 reducers — then the 16 partials
    combine per key.  Partials stay exact BIGINT micro-units
    (floor(value*1e6), bit-identical per row in any engine build), so
    the result is bit-identical to the direct groupBy (the oracle).
    Spark's map-side partial aggregation makes plain COUNT/SUM safe
    unsalted; the salt pattern is the template for the cases where
    partials DON'T apply (exact distinct, collect_list-style state) —
    gated here so the building block itself stays verified."""
    (events,) = _t(spark, sf_dir, "events")
    salted = events.withColumn(
        "__salt", F.pmod(F.xxhash64("event_id"), F.lit(16)).cast("int")
    )
    partial = salted.groupBy("event_type", "__salt").agg(
        F.count(F.lit(1)).alias("pn"),
        F.sum(
            F.floor(F.col("value") * 1_000_000).cast("bigint")
        ).alias("psum"),
    )
    return (
        partial.groupBy("event_type")
        .agg(
            F.sum("pn").alias("n_events"),
            F.sum("psum").alias("sum_value_micros"),
        )
        .orderBy("event_type")
    )


_SCD2_PRIORITY_ORACLE = """
    WITH ch AS (
      SELECT o_custkey, o_orderdate, o_orderkey, o_orderpriority,
             CASE WHEN lag(o_orderpriority) OVER w IS DISTINCT FROM o_orderpriority
                  THEN 1 ELSE 0 END AS chg
      FROM orders
      WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    ), runs AS (
      SELECT o_custkey, o_orderpriority,
             SUM(chg) OVER (PARTITION BY o_custkey
                            ORDER BY o_orderdate, o_orderkey
                            ROWS UNBOUNDED PRECEDING) AS run_id
      FROM ch
    ), agg AS (
      SELECT o_custkey, run_id,
             MIN(o_orderpriority) AS priority,
             COUNT(*) AS run_len
      FROM runs GROUP BY o_custkey, run_id
    )
    SELECT o_custkey,
           CAST(COUNT(*) AS BIGINT) AS n_versions,
           CAST(MAX(run_len) AS BIGINT) AS longest_run,
           arg_max(priority, run_id) AS current_priority
    FROM agg GROUP BY o_custkey ORDER BY o_custkey
    """


@query("scd2_priority_history", _SCD2_PRIORITY_ORACLE)
def scd2_priority_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD-2 collapse (operators/scd.py) of each customer's order-
    priority change stream, rolled up per customer: how many versions,
    the longest stable run, and the live version — the shape every
    'attribute AT time t' warehouse question needs."""
    from automated_etl_pipeline_spark.operators.scd import scd2_history

    (orders,) = _t(spark, sf_dir, "orders")
    hist = scd2_history(
        orders,
        key_cols=["o_custkey"],
        attr_cols=["o_orderpriority"],
        ts_col="o_orderdate",
        tiebreak="o_orderkey",
    )
    return (
        hist.groupBy("o_custkey")
        .agg(
            F.count(F.lit(1)).alias("n_versions"),
            F.max("n_updates").alias("longest_run"),
            F.max_by("o_orderpriority", "version").alias("current_priority"),
        )
        .orderBy("o_custkey")
    )


@query(
    "merge_upsert_orders",
    """
    WITH updates AS (
      SELECT o_orderkey, o_custkey, 'U' AS o_orderstatus,
             o_totalprice * 2 AS o_totalprice, o_orderdate, o_orderpriority
      FROM orders WHERE o_orderkey % 10 = 0
    ), merged AS (
      SELECT * FROM orders WHERE o_orderkey % 10 != 0
      UNION ALL SELECT * FROM updates
    )
    SELECT o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
    FROM merged GROUP BY o_orderstatus ORDER BY o_orderstatus
    """,
)
def merge_upsert_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE-INTO semantics (operators/merge.py): a CDC batch (every
    10th order re-priced, status 'U') upserts into the orders snapshot
    — matched keys replaced, the rest untouched — then rolls up by
    status.  The oracle computes the merged state set-theoretically;
    a dropped or duplicated key shifts both count and decimal sum."""
    from automated_etl_pipeline_spark.operators.merge import merge_upsert

    (orders,) = _t(spark, sf_dir, "orders")
    updates = orders.filter(F.col("o_orderkey") % 10 == 0).select(
        "o_orderkey",
        "o_custkey",
        F.lit("U").alias("o_orderstatus"),
        (F.col("o_totalprice") * 2).alias("o_totalprice"),
        "o_orderdate",
        "o_orderpriority",
    )
    merged = merge_upsert(orders, updates, key_cols=["o_orderkey"])
    return (
        merged.groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            dsum("o_totalprice", alias="total"),
        )
        .orderBy("o_orderstatus")
    )


@query(
    "streaming_stateful_sessions",
    """
    WITH ordered AS (
      SELECT user_id, event_id, epoch_us(ts) AS us,
             lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_us
      FROM events
    ), flagged AS (
      SELECT user_id, us,
             CASE WHEN prev_us IS NULL OR us - prev_us > 1800 * 1000000
                  THEN 1 ELSE 0 END AS new_session,
             event_id
      FROM ordered
    ), numbered AS (
      SELECT user_id, us,
             SUM(new_session) OVER (PARTITION BY user_id ORDER BY us, event_id
                                    ROWS UNBOUNDED PRECEDING) AS session_id
      FROM flagged
    ), sess AS (
      SELECT user_id, session_id,
             CAST(MIN(us) AS BIGINT) AS session_start_us,
             CAST(MAX(us) AS BIGINT) AS session_end_us,
             CAST(COUNT(*) AS BIGINT) AS n_events
      FROM numbered GROUP BY user_id, session_id
    )
    SELECT user_id, session_start_us, session_end_us, n_events
    FROM sess
    WHERE session_id < (SELECT MAX(s2.session_id) FROM sess s2
                        WHERE s2.user_id = sess.user_id)
    ORDER BY user_id, session_start_us
    """,
    executes_stream=True,
)
def streaming_stateful_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful streaming operator under the value gate:
    applyInPandasWithState sessionization (streaming/stateful.py) over
    a staged event stream must equal the batch gaps-and-islands
    computation MINUS each user's trailing session (the operator's
    contract: only gap-closed sessions are emitted; the open session
    stays in state).  Single availableNow batch — the per-batch sort
    in the handler owns event-time ordering, state-store round-trips
    included."""
    from automated_etl_pipeline_spark.io.sources import load_testdata
    from automated_etl_pipeline_spark.streaming.stateful import sessionize_stateful
    from automated_etl_pipeline_spark.streaming.windows import (
        drain_stream,
        read_events_stream,
    )

    events = load_testdata(spark, sf_dir, ["events"])["events"]
    with scratch() as drop:
        events.coalesce(8).write.mode("overwrite").parquet(drop)
        stream = read_events_stream(spark, drop).select("user_id", "ts")
        # 8 partitions: the per-batch pandas handler is the real compute
        # here (100k rows through applyInPandasWithState) — partitions
        # are sized to that parallelism, not to state volume
        out = drain_stream(
            sessionize_stateful(stream, gap_minutes=30),
            output_mode="append",
            shuffle_partitions=8,
        )
    return out.orderBy("user_id", "session_start_us")


@query(
    "streaming_funnel_completions",
    """
    WITH v AS (
      SELECT user_id, MIN(ts) AS t1 FROM events
      WHERE event_type = 'view' GROUP BY user_id
    ), c AS (
      SELECT e.user_id, MIN(e.ts) AS t2
      FROM events e JOIN v ON e.user_id = v.user_id AND e.ts > v.t1
      WHERE e.event_type = 'click' GROUP BY e.user_id
    ), p AS (
      SELECT e.user_id, MIN(e.ts) AS t3
      FROM events e JOIN c ON e.user_id = c.user_id AND e.ts > c.t2
      WHERE e.event_type = 'purchase' GROUP BY e.user_id
    )
    SELECT p.user_id,
           CAST(epoch_us(v.t1) AS BIGINT) AS view_us,
           CAST(epoch_us(c.t2) AS BIGINT) AS click_us,
           CAST(epoch_us(p.t3) AS BIGINT) AS purchase_us
    FROM p JOIN c ON p.user_id = c.user_id
           JOIN v ON p.user_id = v.user_id
    ORDER BY p.user_id
    """,
    executes_stream=True,
)
def streaming_funnel_completions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful streaming funnel under the value gate: the
    applyInPandasWithState staged walk (streaming/stateful.py
    funnel_stateful) over a staged event stream must equal the batch
    funnel semantics restricted to COMPLETED users —
    per user, the first view, first click strictly after it, first
    purchase strictly after that, emitted exactly once at completion.
    Single availableNow drain; the handler's per-batch sort owns
    event-time ordering, state-store round-trips included."""
    from automated_etl_pipeline_spark.io.sources import load_testdata
    from automated_etl_pipeline_spark.streaming.stateful import funnel_stateful
    from automated_etl_pipeline_spark.streaming.windows import (
        drain_stream,
        read_events_stream,
    )

    events = load_testdata(spark, sf_dir, ["events"])["events"]
    with scratch() as drop:
        events.coalesce(8).write.mode("overwrite").parquet(drop)
        stream = read_events_stream(spark, drop).select(
            "user_id", "ts", "event_type", "event_id"
        )
        # 8 partitions: the pandas funnel handler is the real compute
        out = drain_stream(
            funnel_stateful(stream), output_mode="append", shuffle_partitions=8
        )
    return out.orderBy("user_id")


@query(
    "rolling_90d_peak_spend",
    """
    WITH r AS (
      SELECT o_custkey,
             SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
               PARTITION BY o_custkey
               ORDER BY datediff('day', DATE '1992-01-01', o_orderdate)
               RANGE BETWEEN 89 PRECEDING AND CURRENT ROW) AS roll
      FROM orders)
    SELECT o_custkey, COUNT(*) AS n_orders,
           CAST(MAX(roll) AS DOUBLE) AS peak_90d_spend
    FROM r GROUP BY o_custkey ORDER BY o_custkey
    """,
)
def rolling_90d_peak_spend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-time RANGE-frame rolling aggregate: each order's trailing
    90-day spend for its customer, reduced to the per-customer peak —
    the burst-detection shape (peak trailing spend / rate limiting /
    trailing-window features) that a ROWS frame gets wrong whenever
    event density varies. The frame is value-based: all orders within
    89 days before the current one, including same-day peers, exactly
    matching DuckDB's RANGE BETWEEN on the same integer day offset.

    Scale: one hash-partition shuffle on o_custkey, then the
    RETRACTION plan (operators/rolling.py) instead of a sliding RANGE
    frame — Spark re-aggregates sliding frames per row (O(n*f) on a
    hot customer; the 28x hazard measured in SCALE_SMOKE_r09.md), and
    the retraction union's running sums are incremental.  Spend runs
    in BIGINT cents, so the trailing sums are bit-identical to the
    decimal sliding frame and the oracle is unchanged: max(cents)/100
    and DuckDB's CAST(DECIMAL AS DOUBLE) are both the correctly-
    rounded double of the same exact rational."""
    from automated_etl_pipeline_spark.operators.rolling import (
        trailing_integer_moments,
    )

    (orders,) = _t(spark, sf_dir, "orders")
    day = F.datediff("o_orderdate", F.lit("1992-01-01").cast("date"))
    base = orders.select(
        "o_custkey",
        day.cast("bigint").alias("d"),
        (F.col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("bigint")
        .alias("p_c"),
    )
    tm = trailing_integer_moments(base, "o_custkey", "d", "p_c", 89)
    return (
        tm.groupBy("o_custkey")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            (F.max("sc").cast("double") / 100).alias("peak_90d_spend"),
        )
        .orderBy("o_custkey")
    )


@query(
    "hll_merge_error_bound",
    """
    SELECT o_orderpriority,
           TRUE AS merged_within_5pct,
           TRUE AS direct_within_5pct,
           TRUE AS estimators_agree
    FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
)
def hll_merge_error_bound(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The HLL merge contract under the value gate (VERDICT r4
    stretch, amended): the raw estimates stay engine-specific
    (so the gates check derived exactness bounds rather than raw
    sketch registers) and are NOT
    merge-shape-invariant — DataSketches answers a single-pass sketch
    via the HIP accumulator but a union via the composite estimator,
    so exact merged==direct equality does not hold (measured 1302 vs
    1292 at sf0.01; see sketches.py docstring).  What IS guaranteed,
    and gated here as oracle-checkable booleans:
    1. the merged-from-months estimate is within 5% of the exact
       distinct count (the error bound survives merging),
    2. the single-pass estimate is within the same bound,
    3. the two estimators agree within the envelope.
    A FALSE anywhere is a broken sketch pipeline, not an
    approximation artifact."""
    from automated_etl_pipeline_spark.functions.sketches import (
        hll_build,
        hll_estimate,
        hll_merge,
    )

    (orders,) = _t(spark, sf_dir, "orders")
    fine = orders.withColumn("m", F.date_format("o_orderdate", "yyyy-MM"))
    merged = hll_estimate(
        hll_merge(
            hll_build(fine, ["o_orderpriority", "m"], "o_custkey"),
            ["o_orderpriority"],
        ),
        out_col="est_merged",
    )
    direct = hll_estimate(
        hll_build(orders, ["o_orderpriority"], "o_custkey"), out_col="est_direct"
    )
    exact = orders.groupBy("o_orderpriority").agg(
        F.countDistinct("o_custkey").alias("n_exact")
    )
    tol = 0.05 * F.col("n_exact")
    return (
        merged.join(direct, "o_orderpriority")
        .join(exact, "o_orderpriority")
        .select(
            "o_orderpriority",
            (F.abs(F.col("est_merged") - F.col("n_exact")) <= tol).alias(
                "merged_within_5pct"
            ),
            (F.abs(F.col("est_direct") - F.col("n_exact")) <= tol).alias(
                "direct_within_5pct"
            ),
            (F.abs(F.col("est_merged") - F.col("est_direct")) <= tol).alias(
                "estimators_agree"
            ),
        )
        .orderBy("o_orderpriority")
    )


@query(
    "orc_scan_roundtrip",
    """
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           CAST(MAX(doc_id) AS BIGINT) AS last_doc
    FROM documents GROUP BY source ORDER BY source
    """,
)
def orc_scan_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Columnar-format breadth beyond parquet: documents round-trip
    through ORC (Spark-native, predicate pushdown + column pruning like
    parquet) with an explicit schema on the re-read; any type or
    encoding loss shifts the aggregate and fails the hash."""
    from automated_etl_pipeline_spark import schemas

    (docs,) = _t(spark, sf_dir, "documents")
    with scratch() as root:
        path = f"{root}/docs"
        docs.write.mode("overwrite").orc(path)
        back = spark.read.schema(schemas.DOCUMENTS).orc(path)
        return materialize(
            back.groupBy("source")
            .agg(
                F.count(F.lit(1)).alias("n_docs"),
                F.sum("n_chars").alias("total_chars"),
                F.max("doc_id").alias("last_doc"),
            )
            .orderBy("source")
        )


@query(
    "pysource_stream_agg",
    """
    WITH src AS (SELECT range AS id FROM range(0, 20000))
    SELECT (id * 37) % 8 AS bucket,
           COUNT(*) AS n_rows,
           CAST(SUM(CAST(CAST((id * 7919) % 10000 AS DOUBLE) / 100
                         AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
    FROM src GROUP BY bucket ORDER BY bucket
    """,
    executes_stream=True,
)
def pysource_stream_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Authored Python STREAMING source under the value gate
    (io/pysource.py _StreamReader): the synthetic stream drains in
    10000-row micro-batches through a grouped aggregation into a memory
    sink, and the complete-mode table must equal DuckDB's range()
    recompute — offset bookkeeping, batch slicing, and incremental
    state merges included.  ``sf_dir`` is unused: the source IS the
    data."""
    import uuid

    from automated_etl_pipeline_spark.io.pysource import register
    from automated_etl_pipeline_spark.streaming.windows import (
        _stream_parts,
        detach_sink_table,
    )

    register(spark)
    name = f"pysrc_gate_{uuid.uuid4().hex[:8]}"
    stream = (
        spark.readStream.format("synthetic_events")
        .option("n_rows", 20000)
        .option("batch_size", 10000)
        .load()
    )
    agg = stream.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n_rows"),
        dsum("value", alias="sum_value"),
    )
    # not drain_stream: availableNow fixes the end offset at the first
    # read(), which for this simple reader is one batch_size slice —
    # only processAllAvailable drains all n_rows.  n=2: state is 8
    # bucket rows (sized to state volume per the _stream_parts contract)
    with scratch() as ckpt, _stream_parts(spark, n=2):
        q = (
            agg.writeStream.format("memory")
            .queryName(name)
            .outputMode("complete")
            .option("checkpointLocation", ckpt)
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
    return detach_sink_table(spark, name).orderBy("bucket")


@query(
    "pysource_pushdown_agg",
    """
    WITH src AS (SELECT range AS id FROM range(0, 50000))
    SELECT (id * 37) % 8 AS bucket,
           COUNT(*) AS n_rows,
           CAST(SUM(CAST(CAST((id * 7919) % 10000 AS DOUBLE) / 100
                         AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
    FROM src WHERE id >= 2000 AND id < 42000
    GROUP BY bucket ORDER BY bucket
    """,
)
def pysource_pushdown_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Authored Python Data Source under the value gate
    (io/pysource.py): the connector plans 8 parallel range partitions,
    Catalyst pushes the id-range predicates into ``pushFilters`` (the
    generator never materializes the filtered-out rows), and the
    deterministic arithmetic rows aggregate to exactly what DuckDB
    recomputes from ``range()`` — connector correctness checked like
    any operator.  ``sf_dir`` is unused: the source IS the data."""
    from automated_etl_pipeline_spark.io.pysource import register

    register(spark)
    df = (
        spark.read.format("synthetic_events")
        .option("n_rows", 50000)
        .option("n_parts", 8)
        .load()
    )
    return (
        df.filter((F.col("id") >= 2000) & (F.col("id") < 42000))
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            dsum("value", alias="sum_value"),
        )
        .orderBy("bucket")
    )


def _rev() -> F.Column:
    """TPC-H revenue term with the shared decimal-sum discipline."""
    return (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
        "decimal(18,4)"
    )


@query(
    "q3_shipping_priority",
    """
    SELECT l_orderkey,
           CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
           o_orderdate
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1997-06-01'
      AND l_shipdate  > TIMESTAMP '1997-06-01'
    GROUP BY l_orderkey, o_orderdate
    ORDER BY revenue DESC, l_orderkey LIMIT 10
    """,
)
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape (dates shifted to the testdata's 1995-2001 span):
    segment-filtered customers joined to date-filtered orders, lineitem
    on the fact key, revenue agg, top-k. All three filters reach the
    parquet scans (pushdown); join strategies are left to AQE — the
    segment-filtered customer side broadcasts when it fits, shuffles
    when it doesn't (it grows with SF, unlike nation/region)."""
    customer, orders, li = _t(spark, sf_dir, "customer", "orders", "lineitem")
    cut = F.lit("1997-06-01").cast("timestamp")
    return (
        customer.filter(F.col("c_mktsegment") == "BUILDING")
        .join(orders.filter(F.col("o_orderdate") < cut), F.col("c_custkey") == F.col("o_custkey"))
        .join(li.filter(F.col("l_shipdate") > cut), F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("l_orderkey", "o_orderdate")
        .agg(F.sum(_rev()).cast("double").alias("revenue"))
        .select("l_orderkey", "revenue", "o_orderdate")
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
    )


@query(
    "q5_local_supplier_volume",
    """
    SELECT n_name,
           CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
    JOIN nation   ON s_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate <  TIMESTAMP '1998-01-01'
    GROUP BY n_name ORDER BY revenue DESC, n_name
    """,
)
def q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: the canonical 6-table snowflake with the
    local-supplier condition (customer and supplier share a nation).
    Join order keeps the fact table unshuffled as long as possible:
    lineitem joins broadcast supplier/customer-side dims; the
    c_nationkey = s_nationkey residual rides the customer join."""
    customer, orders, li, supplier, nation, region = _t(
        spark, sf_dir, "customer", "orders", "lineitem", "supplier", "nation", "region"
    )
    lo = F.lit("1996-01-01").cast("timestamp")
    hi = F.lit("1998-01-01").cast("timestamp")
    asia_nations = nation.join(
        F.broadcast(region.filter(F.col("r_name") == "ASIA")),
        F.col("n_regionkey") == F.col("r_regionkey"),
    ).select("n_nationkey", "n_name")
    # orders/customer/supplier all scale with SF: no forced broadcast —
    # a forced hint overrides AQE's size check and would OOM executors
    # at 100 TB. AQE demotes any of them to broadcast at runtime when a
    # filter leaves a small side; only the fixed-cardinality
    # nation⋈region dim keeps an explicit hint.
    return (
        li.join(
            orders.filter((F.col("o_orderdate") >= lo) & (F.col("o_orderdate") < hi)),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .join(supplier, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(
            customer,
            (F.col("o_custkey") == F.col("c_custkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .join(F.broadcast(asia_nations), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(F.sum(_rev()).cast("double").alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("n_name"))
    )


@query(
    "q10_returned_items",
    """
    SELECT c_custkey, c_name,
           CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
           CAST(c_acctbal AS DOUBLE) AS c_acctbal, n_name
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN nation   ON c_nationkey = n_nationkey
    WHERE o_orderdate >= TIMESTAMP '1997-01-01'
      AND o_orderdate <  TIMESTAMP '1997-07-01'
      AND l_returnflag = 'R'
    GROUP BY c_custkey, c_name, c_acctbal, n_name
    ORDER BY revenue DESC, c_custkey LIMIT 20
    """,
)
def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape (returned-item revenue ranking): quarter-filtered
    orders + returnflag-filtered lineitem, customer/nation broadcast,
    top-20 by lost revenue via TakeOrderedAndProject."""
    customer, orders, li, nation = _t(
        spark, sf_dir, "customer", "orders", "lineitem", "nation"
    )
    lo = F.lit("1997-01-01").cast("timestamp")
    hi = F.lit("1997-07-01").cast("timestamp")
    # orders/customer: fact/SF-scaling — shuffle join, AQE may demote
    # to broadcast at runtime when the filters leave a small side; a
    # forced hint on customer would override AQE's size check and OOM
    # at 100 TB. Only fixed-cardinality nation keeps the hint.
    return (
        li.filter(F.col("l_returnflag") == "R")
        .join(
            orders.filter((F.col("o_orderdate") >= lo) & (F.col("o_orderdate") < hi)),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .join(customer, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(F.sum(_rev()).cast("double").alias("revenue"))
        .select(
            "c_custkey",
            "c_name",
            "revenue",
            F.col("c_acctbal").cast("double").alias("c_acctbal"),
            "n_name",
        )
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
    )


@query(
    "fuzzy_name_pairs",
    """
    WITH names AS (SELECT DISTINCT p_name FROM part)
    SELECT a.p_name AS name_a, b.p_name AS name_b,
           levenshtein(a.p_name, b.p_name) AS dist
    FROM names a JOIN names b
      ON a.p_name < b.p_name
     AND abs(length(a.p_name) - length(b.p_name)) <= 3
     AND levenshtein(a.p_name, b.p_name) <= 3
    ORDER BY name_a, name_b
    """,
)
def fuzzy_name_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity-resolution primitive: near-identical product names by
    edit distance (levenshtein is implemented identically in Spark and
    DuckDB — exact cross-engine parity). Scale discipline: fuzzy
    matching runs on the DISTINCT name dictionary, never the fact
    rows, and the length-difference prefilter (a correct block:
    lev >= |len diff|) prunes the theta-join before the quadratic
    distance evaluates; a 100 TB pipeline adds coarser blocking
    (first-token, length bands) in front of the same shape."""
    (part,) = _t(spark, sf_dir, "part")
    names = part.select("p_name").distinct()
    a, b = names.alias("a"), names.alias("b")
    lev = F.levenshtein(F.col("a.p_name"), F.col("b.p_name"))
    return (
        a.join(
            b,
            (F.col("a.p_name") < F.col("b.p_name"))
            & (
                F.abs(
                    F.length(F.col("a.p_name")) - F.length(F.col("b.p_name"))
                )
                <= 3
            )
            & (lev <= 3),
        )
        .select(
            F.col("a.p_name").alias("name_a"),
            F.col("b.p_name").alias("name_b"),
            lev.alias("dist"),
        )
        .orderBy("name_a", "name_b")
    )


@query(
    "q6_forecast_revenue",
    """
    SELECT CAST(SUM(CAST(l_extendedprice * l_discount AS DECIMAL(18,4)))
                AS DOUBLE) AS revenue_effect,
           COUNT(*) AS n_lines
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1997-01-01'
      AND l_shipdate <  TIMESTAMP '1998-01-01'
      AND l_discount BETWEEN 0.04 AND 0.08
      AND l_quantity < 24
    """,
)
def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape (forecast revenue change): single scan, three
    conjunctive filters ALL pushed to parquet (date range, discount
    band, quantity cap — row groups outside any bound never load),
    one global DECIMAL aggregate. The purest pushdown benchmark."""
    (li,) = _t(spark, sf_dir, "lineitem")
    return li.filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
        & F.col("l_discount").between(0.04, 0.08)
        & (F.col("l_quantity") < 24)
    ).agg(
        F.sum((F.col("l_extendedprice") * F.col("l_discount")).cast("decimal(18,4)"))
        .cast("double")
        .alias("revenue_effect"),
        F.count(F.lit(1)).alias("n_lines"),
    )


@query(
    "q7_volume_shipping",
    """
    SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
           year(l_shipdate) AS ship_year,
           CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
                         AS DECIMAL(18,4))) AS DOUBLE) AS volume
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation n1 ON s_nationkey = n1.n_nationkey
    JOIN nation n2 ON c_nationkey = n2.n_nationkey
    WHERE n1.n_regionkey = 2 AND n2.n_regionkey = 2
      AND n1.n_nationkey <> n2.n_nationkey
    GROUP BY supp_nation, cust_nation, ship_year
    ORDER BY supp_nation, cust_nation, ship_year
    """,
)
def q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape generalized (cross-nation shipping volume within
    one region, all nation pairs rather than a fixed two): lineitem ⋈
    orders is the only fact-fact edge; customer/supplier are SF-scaling
    (shuffle join, AQE decides); the 25-row nation slices broadcast;
    the n1<>n2 residual rides the dim joins. Groups are (nation pair,
    year) — tiny key space, one agg shuffle."""
    li, orders, customer, supplier, nation = _t(
        spark, sf_dir, "lineitem", "orders", "customer", "supplier", "nation"
    )
    asia = nation.filter(F.col("n_regionkey") == 2)
    n1 = asia.select(
        F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation")
    )
    n2 = asia.select(
        F.col("n_nationkey").alias("c_nk"), F.col("n_name").alias("cust_nation")
    )
    # customer/supplier scale with SF: no forced broadcast (AQE decides
    # at runtime); only the 25-row nation slices keep explicit hints.
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(customer, F.col("o_custkey") == F.col("c_custkey"))
        .join(supplier, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("s_nk"))
        .join(
            F.broadcast(n2),
            (F.col("c_nationkey") == F.col("c_nk"))
            & (F.col("s_nk") != F.col("c_nk")),
        )
        .groupBy("supp_nation", "cust_nation", F.year("l_shipdate").alias("ship_year"))
        .agg(F.sum(_rev()).cast("double").alias("volume"))
        .orderBy("supp_nation", "cust_nation", "ship_year")
    )


@query(
    "q12_late_shipment_priority",
    """
    SELECT l_linestatus,
           COUNT(*) FILTER (o_orderpriority IN ('1-URGENT', '2-HIGH'))
             AS high_line_count,
           COUNT(*) FILTER (o_orderpriority NOT IN ('1-URGENT', '2-HIGH'))
             AS low_line_count
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    WHERE l_shipdate > o_orderdate + INTERVAL 90 DAY
    GROUP BY l_linestatus ORDER BY l_linestatus
    """,
)
def q12_late_shipment_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape (late shipments by priority class, shipmode
    swapped for l_linestatus — the testdata has no l_returnflag): fact ⋈
    fact equi join with a cross-table residual (ship lag > 90 days)
    evaluated post-join, then conditional aggregation.  The CASE counts
    are map-side partials; only the 2-group key shuffles."""
    orders, li = _t(spark, sf_dir, "orders", "lineitem")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(orders, F.col("o_orderkey") == F.col("l_orderkey"))
        .filter(F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS"))
        .groupBy("l_linestatus")
        .agg(
            F.count(F.when(high, 1)).alias("high_line_count"),
            F.count(F.when(~high, 1)).alias("low_line_count"),
        )
        .orderBy("l_linestatus")
    )


@query(
    "q14_promo_revenue_share",
    """
    SELECT ROUND(
             100.0 * CAST(SUM(CAST(CASE WHEN p_type = 'PROMO'
                    THEN l_extendedprice * (1 - l_discount) ELSE 0 END
                    AS DECIMAL(18,4))) AS DOUBLE)
                   / CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
                    AS DECIMAL(18,4))) AS DOUBLE), 6) AS promo_share_pct
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE l_shipdate >= TIMESTAMP '1997-01-01'
      AND l_shipdate <  TIMESTAMP '1997-07-01'
    """,
)
def q14_promo_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape (promo revenue share): date-filtered lineitem ⋈
    part, one global conditional-ratio aggregate. DECIMAL partials on
    both numerator and denominator keep the single-row ratio
    hash-stable across partition orders.  part scales with SF
    (200k rows/SF) so there is NO forced broadcast — a hint would
    override AQE's size check and OOM executors at 100 TB; AQE demotes
    the join to broadcast at runtime whenever the scan is small
    enough."""
    li, part = _t(spark, sf_dir, "lineitem", "part")
    lo = F.lit("1997-01-01").cast("timestamp")
    hi = F.lit("1997-07-01").cast("timestamp")
    rev = _rev()
    promo = F.when(F.col("p_type") == "PROMO", rev).otherwise(
        F.lit(0).cast("decimal(18,4)")
    )
    return (
        li.filter((F.col("l_shipdate") >= lo) & (F.col("l_shipdate") < hi))
        .join(part, F.col("l_partkey") == F.col("p_partkey"))
        .agg(
            F.round(
                F.lit(100.0)
                * F.sum(promo).cast("double")
                / F.sum(rev).cast("double"),
                6,
            ).alias("promo_share_pct")
        )
    )


@query(
    "q19_bracketed_revenue",
    """
    SELECT CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
                         AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
           COUNT(*) AS n_lines
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE (p_brand = 'Brand#11' AND p_size BETWEEN 1 AND 15
           AND l_quantity BETWEEN 1 AND 20)
       OR (p_brand = 'Brand#22' AND p_size BETWEEN 10 AND 30
           AND l_quantity BETWEEN 10 AND 35)
       OR (p_brand = 'Brand#33' AND p_size BETWEEN 20 AND 50
           AND l_quantity BETWEEN 20 AND 50)
    """,
)
def q19_bracketed_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape (OR-of-ANDs bracketed predicates): the
    disjunction mixes part-side and lineitem-side conditions, so
    neither side's filter is complete alone.  The part-side implied
    disjunction (brand/size brackets) is applied EXPLICITLY before the
    join — only the ~3/25 of brands that can ever match are scanned,
    shuffled, or (when AQE decides) broadcast — and the full mixed
    predicate is evaluated post-join.  part scales with SF so there is
    NO forced broadcast: a hint on the unfiltered table would ship all
    200k rows/SF (OOM class at 100 TB); the pre-filtered slice is
    small enough that AQE demotes the join to broadcast at runtime on
    its measured size. Global agg, single row."""
    li, part = _t(spark, sf_dir, "lineitem", "part")
    part_side = (
        ((F.col("p_brand") == "Brand#11") & F.col("p_size").between(1, 15))
        | ((F.col("p_brand") == "Brand#22") & F.col("p_size").between(10, 30))
        | ((F.col("p_brand") == "Brand#33") & F.col("p_size").between(20, 50))
    )
    b = (
        (
            (F.col("p_brand") == "Brand#11")
            & F.col("p_size").between(1, 15)
            & F.col("l_quantity").between(1, 20)
        )
        | (
            (F.col("p_brand") == "Brand#22")
            & F.col("p_size").between(10, 30)
            & F.col("l_quantity").between(10, 35)
        )
        | (
            (F.col("p_brand") == "Brand#33")
            & F.col("p_size").between(20, 50)
            & F.col("l_quantity").between(20, 50)
        )
    )
    return (
        li.join(part.filter(part_side), F.col("l_partkey") == F.col("p_partkey"))
        .filter(b)
        .agg(
            F.sum(_rev()).cast("double").alias("revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


@query(
    "streaming_static_enrich",
    """
    SELECT date_trunc('hour', ts) AS window_start,
           c_mktsegment,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
    FROM events JOIN customer ON user_id = c_custkey
    GROUP BY window_start, c_mktsegment
    ORDER BY window_start, c_mktsegment
    """,
    executes_stream=True,
)
def streaming_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static dimension enrichment under the value gate
    (streaming/joins.py static_enrich): the events stream hash-joins
    the static customer dim per micro-batch — STATELESS, no state
    store — then flows into a watermarked hourly window per market
    segment.  The drained complete-mode table must equal the batch/
    DuckDB join+window exactly."""
    from automated_etl_pipeline_spark.io.sources import load_testdata
    from automated_etl_pipeline_spark.streaming.joins import static_enrich
    from automated_etl_pipeline_spark.streaming.windows import drain_stream

    dfs = load_testdata(spark, sf_dir, ["events", "customer"])
    events, customer = dfs["events"], dfs["customer"]
    with scratch() as drop:
        events.select("ts", "user_id", "value").coalesce(8).write.mode(
            "overwrite"
        ).parquet(drop)
        stream = spark.readStream.schema(
            "ts timestamp, user_id long, value double"
        ).parquet(drop)
        enriched = static_enrich(
            stream.withWatermark("ts", "2 hours"),
            customer.select("c_custkey", "c_mktsegment"),
            "user_id",
            "c_custkey",
        )
        agg = enriched.groupBy(
            F.window("ts", "1 hour").getField("start").alias("window_start"),
            "c_mktsegment",
        ).agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum("value", scale=6, alias="sum_value"),
        )
        # 2 partitions: stateless join + ~3600 window-state rows (sized
        # to state volume per the _stream_parts contract)
        out = drain_stream(agg, shuffle_partitions=2)
    return out.orderBy("window_start", "c_mktsegment")


@query(
    "streaming_interval_join",
    """
    SELECT p.user_id,
           p.event_id AS p_event_id,
           v.event_id AS v_event_id
    FROM events p JOIN events v
      ON v.user_id = p.user_id
     AND p.event_type = 'purchase' AND v.event_type = 'view'
     AND v.ts >= p.ts - INTERVAL 1 HOUR AND v.ts <= p.ts
    ORDER BY p_event_id, v_event_id
    """,
    executes_stream=True,
)
def streaming_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join under the value gate: each purchase
    attributed to the view events by the same user in the preceding
    hour (streaming/joins.py interval_join) — both sides drained from
    a staged file stream, joined incrementally with per-side state,
    appended to a memory sink; the result must equal the batch/DuckDB
    interval join exactly.  Single availableNow batch: the initial
    watermark is the epoch during it, so no state is evicted before
    the only micro-batch completes — exactness by construction."""
    from automated_etl_pipeline_spark.io.sources import load_testdata
    from automated_etl_pipeline_spark.streaming.joins import interval_join
    from automated_etl_pipeline_spark.streaming.windows import drain_stream

    events = load_testdata(spark, sf_dir, ["events"])["events"]
    # Stage only the two event types the join consumes — the stream
    # never reads the other 60% of rows (filter-before-stage is the
    # file-stream analog of predicate pushdown).
    with scratch() as drop:
        events.filter(F.col("event_type").isin("purchase", "view")).select(
            "event_id", "ts", "user_id", "event_type"
        ).coalesce(8).write.mode("overwrite").parquet(drop)
        stream = spark.readStream.schema(
            "event_id long, ts timestamp, user_id long, event_type string"
        ).parquet(drop)
        purchases = stream.filter(F.col("event_type") == "purchase").select(
            "user_id", "ts", "event_id"
        )
        views = stream.filter(F.col("event_type") == "view").select(
            "user_id", "ts", "event_id"
        )
        pairs = interval_join(
            purchases,
            views,
            interval="1 hour",
            watermark_delay="2 hours",
            left_prefix="p",
            right_prefix="v",
        ).select("user_id", "p_event_id", "v_event_id")
        # 2 partitions: a stream-stream join holds FOUR state stores
        # per partition — 8 -> 2 cuts 32 store instances to 8 for ~40k
        # state rows (sized to state volume per the _stream_parts
        # contract)
        out = drain_stream(pairs, output_mode="append", shuffle_partitions=2)
    return out.orderBy("p_event_id", "v_event_id")


# ----------------------------------------------------------------------
# TPC-H breadth, round 5: Q15 / Q21 / Q22 shapes adapted to the
# testdata schema (no partsupp / commit-date / phone columns).
# ----------------------------------------------------------------------


@query(
    "q15_top_supplier",
    """
    WITH rev AS (
      SELECT l_suppkey AS suppkey,
             SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4)))
               AS total_rev
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        AND l_shipdate <  TIMESTAMP '1996-04-01'
        AND l_suppkey IS NOT NULL
      GROUP BY suppkey
    )
    SELECT s_suppkey, s_name,
           CAST(total_rev AS DOUBLE) AS total_revenue
    FROM supplier JOIN rev ON s_suppkey = suppkey
    WHERE total_rev = (SELECT MAX(total_rev) FROM rev)
    ORDER BY s_suppkey
    """,
)
def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape (top supplier by quarterly revenue, ties kept):
    the revenue 'view' is computed once and consumed twice — per-
    supplier rows and the global max — with the 1-row max broadcast
    back (crossJoin of a broadcast aggregate, never a shuffle).  The
    equality compares exact DECIMAL sums, not doubles, so ties are
    bit-stable cross-engine; the double cast happens only in the
    output projection.

    The explicit ``l_suppkey IS NOT NULL`` (mirrored in the oracle;
    TPC-H declares the column NOT NULL anyway) makes both consumers'
    agg subtrees canonically IDENTICAL — without it the supplier join
    pushes isnotnull into only one branch, the subtrees no longer
    canonicalize equal, and AQE cannot reuse the exchange: lineitem
    would be scanned and partially aggregated TWICE.  With it the
    runtime plan carries one ReusedExchange (plan-asserted,
    tests/test_plans.py) — the 'view computed once' property that
    matters at 100 TB, with no eager materialization needed."""
    li, supplier = _t(spark, sf_dir, "lineitem", "supplier")
    lo = F.lit("1996-01-01").cast("timestamp")
    hi = F.lit("1996-04-01").cast("timestamp")
    rev = (
        li.filter(
            (F.col("l_shipdate") >= lo)
            & (F.col("l_shipdate") < hi)
            & F.col("l_suppkey").isNotNull()
        )
        .groupBy(F.col("l_suppkey").alias("suppkey"))
        .agg(
            F.sum(
                (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
                    "decimal(18,4)"
                )
            ).alias("total_rev")
        )
    )
    mx = rev.agg(F.max("total_rev").alias("max_rev"))
    return (
        rev.crossJoin(F.broadcast(mx))
        .filter(F.col("total_rev") == F.col("max_rev"))
        .join(supplier, F.col("suppkey") == F.col("s_suppkey"))
        .select(
            "s_suppkey",
            "s_name",
            F.col("total_rev").cast("double").alias("total_revenue"),
        )
        .orderBy("s_suppkey")
    )


@query(
    "q21_waiting_suppliers",
    """
    WITH lines AS (
      SELECT l_orderkey, l_suppkey,
             CASE WHEN l_shipdate > o_orderdate + INTERVAL 60 DAY
                  THEN 1 ELSE 0 END AS late
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      WHERE o_orderstatus = 'F'
    ), per_order AS (
      SELECT l_orderkey,
             COUNT(DISTINCT l_suppkey) AS n_supp,
             COUNT(DISTINCT CASE WHEN late = 1 THEN l_suppkey END) AS n_late_supp
      FROM lines GROUP BY l_orderkey
    ), waits AS (
      SELECT DISTINCT l.l_suppkey, l.l_orderkey
      FROM lines l JOIN per_order p USING (l_orderkey)
      WHERE l.late = 1 AND p.n_supp >= 2 AND p.n_late_supp = 1
    )
    SELECT s_name, COUNT(*) AS numwait
    FROM waits JOIN supplier ON l_suppkey = s_suppkey
    GROUP BY s_name ORDER BY numwait DESC, s_name LIMIT 20
    """,
)
def q21_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape (suppliers who alone kept a multi-supplier order
    waiting; 'late' adapted to ship > order date + 60d — the testdata
    has no commit/receipt dates).  The reference formulation is a
    correlated EXISTS + NOT EXISTS pair; here both collapse into ONE
    per-order aggregate (distinct suppliers, distinct late suppliers)
    joined back — the decorrelation a 100 TB plan wants: two shuffles
    total (order key, then supplier name) instead of two correlated
    re-scans of lineitem.  supplier scales with SF (10k rows/SF) so
    the final name join carries NO forced broadcast — AQE demotes it
    at runtime when the scan is small; a hint would OOM at 100 TB."""
    li, orders, supplier = _t(spark, sf_dir, "lineitem", "orders", "supplier")
    lines = (
        li.join(
            orders.filter(F.col("o_orderstatus") == "F"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .select(
            "l_orderkey",
            "l_suppkey",
            (
                F.col("l_shipdate")
                > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")
            )
            .cast("int")
            .alias("late"),
        )
    )
    per_order = lines.groupBy("l_orderkey").agg(
        F.countDistinct("l_suppkey").alias("n_supp"),
        F.countDistinct(
            F.when(F.col("late") == 1, F.col("l_suppkey"))
        ).alias("n_late_supp"),
    )
    waits = (
        lines.filter(F.col("late") == 1)
        .join(per_order, "l_orderkey")
        .filter((F.col("n_supp") >= 2) & (F.col("n_late_supp") == 1))
        .select("l_suppkey", "l_orderkey")
        .distinct()
    )
    return (
        waits.join(supplier, F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.desc("numwait"), F.asc("s_name"))
        .limit(20)
    )


@query(
    "q22_idle_balances",
    """
    WITH avg_bal AS (
      SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
             / COUNT(*) AS ab
      FROM customer WHERE c_acctbal > 0
    )
    SELECT c_nationkey % 5 AS cgroup,
           COUNT(*) AS numcust,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS totacctbal
    FROM customer
    WHERE c_acctbal > (SELECT ab FROM avg_bal)
      AND NOT EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey
                        AND o_orderpriority = '1-URGENT')
    GROUP BY cgroup ORDER BY cgroup
    """,
)
def q22_idle_balances(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape (high-balance customers with no urgent orders,
    grouped by a code — nationkey%5 stands in for the phone country
    code the testdata lacks, and 'no 1-URGENT order' stands in for 'no
    orders': every testdata customer has orders, which would make the
    literal Q22 predicate an always-empty — trivially-green — gate):
    scalar average subquery (broadcast 1-row agg) + anti join against
    the filtered orders + grouped rollup.  The average divides an
    exact DECIMAL sum by the count so the filter boundary is
    bit-identical cross-engine; the anti join replaces the correlated
    NOT EXISTS (same plan Spark derives for the SQL form), and the
    priority filter is pushed into the orders scan before the anti
    join's build side."""
    customer, orders = _t(spark, sf_dir, "customer", "orders")
    avg_bal = (
        customer.filter(F.col("c_acctbal") > 0)
        .agg(
            (
                F.sum(F.col("c_acctbal").cast("decimal(18,2)")).cast("double")
                / F.count(F.lit(1))
            ).alias("ab")
        )
    )
    return (
        customer.crossJoin(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("ab"))
        .join(
            orders.filter(F.col("o_orderpriority") == "1-URGENT"),
            F.col("c_custkey") == F.col("o_custkey"),
            "left_anti",
        )
        .groupBy((F.col("c_nationkey") % 5).alias("cgroup"))
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            dsum("c_acctbal", alias="totacctbal"),
        )
        .orderBy("cgroup")
    )


# ----------------------------------------------------------------------
# TPC-H breadth, round 6: Q8 / Q9 / Q16 adapted to the testdata schema.
# With these, every TPC-H query shape expressible WITHOUT a partsupp
# table is covered (Q2/Q11/Q20 are inherently partsupp-bound: min-cost
# supplier, inventory value, available quantity — out of schema).
# ----------------------------------------------------------------------


@query(
    "q8_market_share",
    """
    SELECT o_year,
           CAST(SUM(CASE WHEN nation = 'NATION_2' THEN volume
                         ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE)
             / CAST(SUM(volume) AS DOUBLE) AS mkt_share
    FROM (
      SELECT year(o_orderdate) AS o_year,
             CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4)) AS volume,
             n2.n_name AS nation
      FROM lineitem
      JOIN orders   ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      JOIN nation n1 ON c_nationkey = n1.n_nationkey
      JOIN region   ON n1.n_regionkey = r_regionkey
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN nation n2 ON s_nationkey = n2.n_nationkey
      JOIN part     ON l_partkey = p_partkey
      WHERE r_name = 'ASIA' AND p_type = 'ECONOMY'
        AND o_orderdate >= TIMESTAMP '1996-01-01'
        AND o_orderdate <  TIMESTAMP '1999-01-01'
    ) GROUP BY o_year ORDER BY o_year
    """,
)
def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape (national market share): NATION_2 suppliers'
    share of ECONOMY-part volume sold to ASIA customers, per order
    year.  Plan: lineitem joins the two filtered dim chains
    (customer→nation→region broadcast after its region filter;
    supplier→nation broadcast); part scales with SF so its join
    carries NO hint (AQE decides — the type filter usually makes it
    broadcastable at runtime).  Share = ratio of two exact DECIMAL
    sums, divided once as doubles (the conditional-ratio discipline
    of q14)."""
    li, orders, customer, supplier, part, nation, region = _t(
        spark, sf_dir,
        "lineitem", "orders", "customer", "supplier", "part", "nation",
        "region",
    )
    asia_n = (
        nation.join(
            F.broadcast(region.filter(F.col("r_name") == "ASIA")),
            F.col("n_regionkey") == F.col("r_regionkey"),
        ).select(F.col("n_nationkey").alias("cust_nk"))
    )
    supp_n = nation.select(
        F.col("n_nationkey").alias("supp_nk"), F.col("n_name").alias("nation")
    )
    vol = _rev()
    share_vol = F.when(F.col("nation") == "NATION_2", vol).otherwise(
        F.lit(0).cast("decimal(18,4)")
    )
    lo = F.lit("1996-01-01").cast("timestamp")
    hi = F.lit("1999-01-01").cast("timestamp")
    return (
        li.join(
            orders.filter(
                (F.col("o_orderdate") >= lo) & (F.col("o_orderdate") < hi)
            ),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .join(customer, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(asia_n), F.col("c_nationkey") == F.col("cust_nk"))
        .join(supplier, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(supp_n), F.col("s_nationkey") == F.col("supp_nk"))
        # part scales with SF: no hint, AQE decides (repo rule)
        .join(
            part.filter(F.col("p_type") == "ECONOMY"),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .groupBy(F.year("o_orderdate").alias("o_year"))
        .agg(
            (F.sum(share_vol).cast("double") / F.sum(vol).cast("double")).alias(
                "mkt_share"
            )
        )
        .orderBy("o_year")
    )


@query(
    "q9_product_profit",
    """
    SELECT nation, o_year,
           CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
                         AS DECIMAL(18,4))) AS DOUBLE)
           - CAST(SUM(CAST(0.6 * p_retailprice * l_quantity
                           AS DECIMAL(18,4))) AS DOUBLE) AS sum_profit
    FROM (
      SELECT n_name AS nation, year(o_orderdate) AS o_year,
             l_extendedprice, l_discount, l_quantity, p_retailprice
      FROM lineitem
      JOIN orders   ON l_orderkey = o_orderkey
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN nation   ON s_nationkey = n_nationkey
      JOIN part     ON l_partkey = p_partkey
      WHERE p_name LIKE 'red %'
    ) GROUP BY nation, o_year
    ORDER BY nation, o_year DESC
    """,
)
def q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape (product-type profit by supplier nation × year).
    The reference's cost term is ps_supplycost·l_quantity; the testdata
    has no partsupp, so cost is the deterministic stand-in
    0.6·p_retailprice·l_quantity (same join topology and aggregate
    structure — the shape, not the constant, is what's under test).
    Revenue and cost are summed as SEPARATE exact DECIMAL aggregates
    and differenced once as doubles; summing the per-row difference
    would be equivalent arithmetic but this keeps each partial within
    the repo's proven decimal-sum discipline."""
    li, orders, supplier, part, nation = _t(
        spark, sf_dir, "lineitem", "orders", "supplier", "part", "nation"
    )
    cost = (
        F.lit(0.6) * F.col("p_retailprice") * F.col("l_quantity")
    ).cast("decimal(18,4)")
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(supplier, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        # part scales with SF: no hint (repo rule), AQE decides
        .join(
            part.filter(F.col("p_name").like("red %")),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").alias("o_year"),
        )
        .agg(
            (
                F.sum(_rev()).cast("double") - F.sum(cost).cast("double")
            ).alias("sum_profit")
        )
        .orderBy(F.asc("nation"), F.desc("o_year"))
    )


@query(
    "q16_supplier_part_counts",
    """
    SELECT p_brand, p_size,
           COUNT(DISTINCT l_suppkey) AS supplier_cnt
    FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) ps
    JOIN part ON l_partkey = p_partkey
    WHERE p_brand <> 'Brand#11'
      AND p_type <> 'MEDIUM'
      AND p_size IN (1, 4, 7, 10, 13, 16, 19, 22)
      AND l_suppkey NOT IN (
        SELECT s_suppkey FROM supplier WHERE s_acctbal < 0
      )
    GROUP BY p_brand, p_size
    ORDER BY supplier_cnt DESC, p_brand, p_size
    """,
)
def q16_supplier_part_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape (how many suppliers can supply qualifying
    parts): the part-supplier relation is derived from lineitem's
    DISTINCT (partkey, suppkey) pairs — the testdata's stand-in for
    partsupp — and the reference's complaints NOT-IN subquery becomes
    the negative-balance suppliers (same anti-join decorrelation).
    Plan: the pair-distinct collapses map-side before its shuffle; the
    attribute filters reach the part scan; the exclusion list is a
    broadcast anti join; count-distinct expands once.  Total order on
    (cnt desc, brand, size) keeps the gate hash-stable.

    NOT IN vs left-anti equivalence (ADVICE r6): the oracle's NOT IN
    returns UNKNOWN (drops ALL rows) if any s_suppkey is NULL and
    keeps no null-key probe rows, while left-anti keeps null-key probe
    rows.  Equivalent here because s_suppkey and l_suppkey are
    non-null keys — TPC-H declares both NOT NULL, and the driver
    testdata honors it (q15 canonicalizes the same way)."""
    li, part, supplier = _t(spark, sf_dir, "lineitem", "part", "supplier")
    pairs = li.select("l_partkey", "l_suppkey").distinct()
    bad_supp = supplier.filter(F.col("s_acctbal") < 0).select("s_suppkey")
    pf = part.filter(
        (F.col("p_brand") != "Brand#11")
        & (F.col("p_type") != "MEDIUM")
        & F.col("p_size").isin(1, 4, 7, 10, 13, 16, 19, 22)
    )
    return (
        pairs.join(
            F.broadcast(bad_supp),
            F.col("l_suppkey") == F.col("s_suppkey"),
            "left_anti",
        )
        .join(pf, F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_brand", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(F.desc("supplier_cnt"), F.asc("p_brand"), F.asc("p_size"))
    )


@query(
    "streaming_hll_hourly",
    """
    SELECT date_trunc('hour', ts) AS window_start,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_exact,
           TRUE AS est_within_5pct
    FROM events GROUP BY window_start ORDER BY window_start
    """,
    executes_stream=True,
)
def streaming_hll_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming mergeable distinct rollup under the value gate (the
    8th value-gated streaming execution path): events drain through a
    file stream into per-hour HLL sketch state
    (streaming/windows.windowed_distinct_sketch — bounded state per
    window, incremental merges per trigger), and the drained estimates
    must sit inside the sketch's 5% envelope of a BATCH exact distinct
    recount per hour, emitted as oracle-checkable booleans beside the
    exact counts (the hll_merge_error_bound pattern, now across the
    batch/streaming boundary: a wrong watermark, a dropped trigger, or
    state-merge corruption shifts an estimate or loses a window and
    breaks the hash)."""
    from automated_etl_pipeline_spark.io.sources import load_testdata
    from automated_etl_pipeline_spark.streaming.windows import (
        drain_stream,
        read_events_stream,
        windowed_distinct_sketch,
    )

    events = load_testdata(spark, sf_dir, ["events"])["events"]
    with scratch() as drop:
        events.write.mode("overwrite").parquet(drop)
        # 2 partitions: state is ~720 per-window sketch rows (sized to
        # state volume per the _stream_parts contract)
        est = drain_stream(
            windowed_distinct_sketch(
                read_events_stream(spark, drop, max_files_per_trigger=4)
            ),
            shuffle_partitions=2,
        )
    exact = events.groupBy(
        F.date_trunc("hour", "ts").alias("window_start")
    ).agg(F.countDistinct("user_id").alias("n_exact"))
    return (
        exact.join(est, "window_start", "left")
        .select(
            "window_start",
            "n_exact",
            (
                F.abs(F.coalesce("approx_distinct", F.lit(0)) - F.col("n_exact"))
                <= 0.05 * F.col("n_exact")
            ).alias("est_within_5pct"),
        )
        .orderBy("window_start")
    )


# ----------------------------------------------------------------------
# Join skew diagnostics: per-key cardinality product BEFORE running
# the join.  At 100 TB the first question about any planned equi-join
# is "which keys explode?" — the answer needs only the two per-key
# count vectors (each a partial-aggregated shuffle of its side, output
# bounded by distinct keys), never the join itself.  The est_rows
# column is the exact per-key output cardinality |L_k| * |R_k|; pct
# ranks each key's share of the total join output, which is what you
# feed a salting decision (salt keys whose pct makes a single task
# exceed its memory budget) or an AQE skew-threshold sanity check.
# For keys too numerous to hold reduced, cap each side's vector with
# the Misra-Gries heavy-hitters sketch first (functions/
# heavy_hitters.py) — the skewed keys ARE heavy hitters by definition.
# The window total runs over the REDUCED per-key frame (bounded by
# key cardinality), not the fact tables.
# ----------------------------------------------------------------------

_JOIN_SKEW_ORACLE = """
WITH l AS (SELECT c_nationkey AS k, COUNT(*) AS left_cnt
           FROM customer GROUP BY 1),
     r AS (SELECT s_nationkey AS k, COUNT(*) AS right_cnt
           FROM supplier GROUP BY 1),
     j AS (SELECT l.k, left_cnt, right_cnt,
                  left_cnt * right_cnt AS est_rows
           FROM l JOIN r USING (k))
SELECT k, left_cnt, right_cnt, est_rows,
       CAST(SUM(est_rows) OVER () AS BIGINT) AS total_rows,
       CAST(est_rows * 1000000 // SUM(est_rows) OVER () AS BIGINT)
         AS share_ppm
FROM j ORDER BY est_rows DESC, k LIMIT 10
"""


@query("join_skew_diagnostics", _JOIN_SKEW_ORACLE)
def join_skew_diagnostics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pre-join skew profile of customer ⋈ supplier ON nationkey: the
    top-10 keys by exact output cardinality |L_k|*|R_k| with their
    share of the total join output.  Both fact tables reduce to
    per-key counts first (map-side partial agg), so the only joined/
    windowed frame is bounded by key cardinality — the diagnostic
    never pays anything close to the join it profiles.  See the
    section comment for the 100 TB path (MG heavy-hitter cap when the
    key space itself doesn't reduce)."""
    cust, supp = _t(spark, sf_dir, "customer", "supplier")
    l = cust.groupBy(F.col("c_nationkey").alias("k")).agg(
        F.count(F.lit(1)).alias("left_cnt")
    )
    r = supp.groupBy(F.col("s_nationkey").alias("k")).agg(
        F.count(F.lit(1)).alias("right_cnt")
    )
    j = l.join(r, "k").withColumn(
        "est_rows", F.col("left_cnt") * F.col("right_cnt")
    )
    total = Window.partitionBy()  # over the reduced per-key frame only
    # Exact-integer share: est_rows*1e6 DIV total (floor division on
    # BIGINTs, bit-identical in any engine build) — never a double
    # ratio rounded onto a DECIMAL grid (the r8 driver-red construct).
    # Overflow headroom (r9 ADVICE): est_rows*1e6 needs
    # |L_k|*|R_k| < 9.2e12, i.e. ~3e6 rows on EACH side of one key
    # (~3e8 customers x ~4e6 suppliers per nation at this 25-key
    # profile) before the int64 product trips ANSI overflow — 4
    # orders of magnitude above sf100 (~1.5e7 customers TOTAL).  If a
    # profiled join ever approaches that, promote est_rows to
    # DECIMAL(38,0) on both sides; the share arithmetic is unchanged.
    return (
        j.withColumn("total_rows", F.sum("est_rows").over(total))
        .withColumn(
            "share_ppm",
            F.expr("CAST(est_rows * 1000000L DIV total_rows AS BIGINT)"),
        )
        .orderBy(F.desc("est_rows"), "k")
        .limit(10)
    )


# ----------------------------------------------------------------------
# Equi-depth histogram (the optimizer-statistics shape: 8 buckets of
# ~equal row count over o_totalprice).  Built WITHOUT a global-ntile
# window — a global NTILE pulls the whole table through one window
# partition, the classic single-task bottleneck.  Instead: the 7 cut
# points are exact percentiles (one partial-aggregated global agg),
# inlined as literals (a bounded 7-double collect — the star.py
# limit(1) precedent), and bucket assignment is a codegen'd
# comparison chain over the scan.  100 TB: swap percentile ->
# approx_percentile and the boundary pass is single-pass mergeable;
# assignment is unchanged.
#
# Cross-engine determinism: prices are cast to exact DECIMAL cents
# (BIGINT), and the probs k/8 are dyadic, so the interpolation
# lo + (hi - lo) * k/8 is EXACT in binary floating point in both
# engines — boundary comparisons cannot disagree by a last bit.
# ----------------------------------------------------------------------

_EQUI_DEPTH_ORACLE = """
WITH cents AS (
  SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
  FROM orders
),
cuts AS (
  SELECT quantile_cont(CAST(c AS DOUBLE),
           [0.125, 0.25, 0.375, 0.5, 0.625, 0.75, 0.875]) AS q
  FROM cents
),
b AS (
  SELECT c, 1 + len(list_filter((SELECT q FROM cuts),
                    x -> CAST(c AS DOUBLE) > x)) AS bucket
  FROM cents
)
SELECT bucket, COUNT(*) AS n_rows,
       CAST(MIN(c) AS DOUBLE) / 100 AS lo,
       CAST(MAX(c) AS DOUBLE) / 100 AS hi
FROM b GROUP BY bucket ORDER BY bucket
"""


@query("equi_depth_histogram", _EQUI_DEPTH_ORACLE)
def equi_depth_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """8-bucket equi-depth histogram of o_totalprice: exact percentile
    cut points inlined as literals, bucket = 1 + #cuts strictly below
    the value, per-bucket row count and bounds.  See the section
    comment for the no-global-window plan and the dyadic-cents
    determinism argument; the only driver-side data movement is the
    7-double cut vector."""
    (orders,) = _t(spark, sf_dir, "orders")
    cents_col = (
        F.col("o_totalprice").cast("decimal(18,2)") * 100
    ).cast("bigint")
    cents = orders.select(cents_col.alias("c"))
    probs = [0.125, 0.25, 0.375, 0.5, 0.625, 0.75, 0.875]
    cuts = cents.agg(
        F.percentile(F.col("c").cast("double"), F.lit(probs)).alias("q")
    ).collect()[0]["q"]  # bounded: exactly 7 doubles
    bucket = F.lit(1)
    for q in cuts:
        bucket = bucket + F.when(
            F.col("c").cast("double") > F.lit(q), 1
        ).otherwise(0)
    return (
        cents.withColumn("bucket", bucket)
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            (F.min("c").cast("double") / 100).alias("lo"),
            (F.max("c").cast("double") / 100).alias("hi"),
        )
        .orderBy("bucket")
    )


# ----------------------------------------------------------------------
# Hourly gap-fill + LOCF (last observation carried forward): the
# time-series regularization every metrics/feature pipeline needs —
# turn an irregular event stream into a dense per-key hourly series,
# carrying the last seen value across empty hours.  Plan: per-key
# hourly reduce (partial-aggregated shuffle), per-key spine explode
# bounded by that key's OWN active span (never a global calendar x
# key cartesian), per-key ordered window for the carry.  Everything
# is keyed by user — no global sort, no unbounded state; a 100 TB
# run partitions by user and each task fills its keys independently.
#
# r10 diagnosis-by-decomposition rework (VERDICT r9 asks #1-#3): the
# gate was driver-red for two rounds while green on every local leg,
# so both sides now avoid every construct on the suspect list —
#   * time axis = the INTEGER hour index floor(epoch_us/3.6e9)
#     everywhere (grouping, span, spine, carry order); no
#     date_trunc('hour'), no session-TZ-parsed timestamp literal on
#     either engine.  floor(us/3.6e9) via double division is exact:
#     us < 2^53 is exactly representable, the true quotient is
#     >= 1/3.6e9 ~ 2.8e-10 away from any integer it isn't equal to,
#     and one rounding at magnitude ~5e5 moves the value < 6e-11.
#   * the oracle's hourly reduce is a plain ROW_NUMBER() pick
#     (deterministic: (user_id, ts) unique), not arg_max;
#   * the oracle's spine is span JOIN a 10k-row ANSI digits-cross-
#     join numbers table (events span 720 hours; 10k covers 416
#     days), not range(timestamp)+unnest;
#   * the oracle's carry is the two-window COUNT/MAX gap-fill trick
#     (non-null-count defines a carry group; MAX over the group
#     fetches the single non-null), not LAST_VALUE IGNORE NULLS.
# ----------------------------------------------------------------------

# 5 digit positions => hour offsets 0..99999 (~11.4 years of hourly
# spine per user — far beyond any event-stream horizon; the events
# testdata spans 720 hours).  The cap is not silent: a longer span
# trips the Spark-side assert_true in _locf_filled BEFORE the two
# engines could quietly diverge (r10 code review).  nums_needed
# pre-filters to the corpus's actual max span so the per-user spine
# join touches max-span rows, not 1e5, per user.
_LOCF_NUMS = """
digits AS (
  SELECT 0 AS x UNION ALL SELECT 1 UNION ALL SELECT 2 UNION ALL SELECT 3
  UNION ALL SELECT 4 UNION ALL SELECT 5 UNION ALL SELECT 6 UNION ALL
  SELECT 7 UNION ALL SELECT 8 UNION ALL SELECT 9
),
nums AS (
  SELECT CAST(d1.x * 10000 + d2.x * 1000 + d3.x * 100 + d4.x * 10 + d5.x
              AS BIGINT) AS i
  FROM digits d1, digits d2, digits d3, digits d4, digits d5
)
"""

_LOCF_CORE = """
e AS (
  SELECT user_id,
         CAST(floor(epoch_us(ts) / 3600000000.0) AS BIGINT) AS hi,
         epoch_us(ts) AS us, value
  FROM events
),
hourly AS (
  SELECT user_id, hi, value AS last_val FROM (
    SELECT user_id, hi, value,
           ROW_NUMBER() OVER (PARTITION BY user_id, hi ORDER BY us DESC) AS rn
    FROM e
  ) WHERE rn = 1
),
span AS (SELECT user_id, MIN(hi) AS h0, MAX(hi) AS h1 FROM hourly GROUP BY 1),
nums_needed AS (
  SELECT i FROM nums WHERE i <= (SELECT MAX(h1 - h0) FROM span)
),
spine AS (
  SELECT s.user_id, s.h0 + n.i AS hi
  FROM span s JOIN nums_needed n ON n.i <= s.h1 - s.h0
),
filled AS (
  SELECT user_id, hi, last_val,
         MAX(last_val) OVER (PARTITION BY user_id, grp) AS locf
  FROM (
    SELECT s.user_id, s.hi, hr.last_val,
           COUNT(hr.last_val) OVER (
             PARTITION BY s.user_id ORDER BY s.hi
             ROWS UNBOUNDED PRECEDING) AS grp
    FROM spine s
    LEFT JOIN hourly hr ON s.user_id = hr.user_id AND s.hi = hr.hi
  )
)
"""

_LOCF_ORACLE = (
    "WITH " + _LOCF_NUMS + "," + _LOCF_CORE + """
SELECT user_id % 50 AS bucket,
       COUNT(*) AS n_hours,
       CAST(SUM(CASE WHEN last_val IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_filled,
       CAST(SUM(CAST(floor(locf * 100) AS BIGINT)) AS BIGINT)
         AS sum_locf_cents
FROM filled GROUP BY bucket ORDER BY bucket
"""
)


def _locf_filled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared LOCF pipeline: integer-hour reduce -> per-key spine ->
    left join -> carry window (section comment has the determinism
    contract)."""
    (events,) = _t(spark, sf_dir, "events")
    base = events.select(
        "user_id",
        F.floor(F.unix_micros("ts") / F.lit(3_600_000_000.0))
        .cast("bigint")
        .alias("hi"),
        F.unix_micros("ts").alias("us"),
        "value",
    )
    hourly = base.groupBy("user_id", "hi").agg(
        F.max_by("value", "us").alias("last_val")
    )
    span = hourly.groupBy("user_id").agg(
        F.min("hi").alias("h0"), F.max("hi").alias("h1")
    )
    # Lazy guard (no extra action): the ORACLE's ANSI numbers-table
    # spine covers offsets 0..99999; a user spanning more hours would
    # otherwise silently truncate the oracle side only.  assert_true
    # raises inside the same job instead (r10 code review).
    spine = span.select(
        "user_id",
        # the assert is folded INTO the sequence bound (h0 + guarded
        # span == h1) so column pruning cannot remove it — a dropped
        # assert-only column is pruned to nothing and never fires
        # (verified on pyspark 4.1.2; r10 code review)
        F.explode(
            F.sequence(
                F.col("h0"),
                F.col("h0")
                + F.when(
                    F.assert_true(
                        F.col("h1") - F.col("h0") < 100000,
                        F.lit("locf spine span exceeds the oracle numbers table"),
                    ).isNull(),
                    F.col("h1") - F.col("h0"),
                ),
            )
        ).alias("hi"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("hi")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        spine.join(hourly, ["user_id", "hi"], "left")
        .withColumn("locf", F.last("last_val", ignorenulls=True).over(w))
    )


@query("locf_hourly_gap_fill", _LOCF_ORACLE)
def locf_hourly_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense per-user hourly series with LOCF carry across empty
    hours, rolled up to 50 hash-bucket checksums (spine size, filled-
    hour count, exact cent sum of the carried series — any wrong
    spine bound, missed carry, or off-by-one-hour shifts a checksum).
    Time axis is the integer hour index on BOTH engines and the
    oracle is plain ANSI SQL end-to-end (section comment).  The
    last-event-in-hour reduce uses max_by(value, us); (user_id, ts)
    is unique in the events data model, so the reduce is
    deterministic at every SF."""
    filled = _locf_filled(spark, sf_dir)
    return (
        filled.groupBy(F.pmod("user_id", F.lit(50)).alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_hours"),
            F.sum(
                F.when(F.col("last_val").isNull(), 1).otherwise(0)
            ).alias("n_filled"),
            # floor(x*100) of the SAME IEEE double is bit-identical in
            # every engine build (multiply + floor are required IEEE
            # ops); summing the resulting BIGINT cents is exact and
            # order-free — no decimal-grid rounding anywhere.
            F.sum(
                F.floor(F.col("locf") * 100).cast("bigint")
            ).alias("sum_locf_cents"),
        )
        .orderBy("bucket")
    )


# ----------------------------------------------------------------------
# Schema-wide referential-integrity audit (operators/quality.fk_audit)
# over every FK edge in the star/snowflake: each fact reduces to
# per-key counts map-side, each parent to its distinct keys, and the
# orphan check joins the two REDUCED frames — the audit never joins a
# fact table at row grain.  On this clean testdata the correct answer
# is 0 orphans everywhere; the hash stays value-sensitive through
# n_rows / n_distinct_keys per edge (7 different magnitudes), and the
# orphan arithmetic itself is pinned on planted-orphan frames in
# tests/test_cleaning.py.
# ----------------------------------------------------------------------

_FK_AUDIT_ORACLE = """
SELECT * FROM (
  SELECT 'customer.c_nationkey->nation' AS fk, COUNT(*) AS n_rows,
         COUNT(DISTINCT c_nationkey) AS n_distinct_keys,
         CAST(SUM(CASE WHEN n.n_nationkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS n_orphan_rows,
         CAST(SUM(CASE WHEN c.c_nationkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS n_null_rows
  FROM customer c LEFT JOIN nation n ON c.c_nationkey = n.n_nationkey
  UNION ALL
  SELECT 'lineitem.l_orderkey->orders', COUNT(*),
         COUNT(DISTINCT l_orderkey),
         CAST(SUM(CASE WHEN o.o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT),
         CAST(SUM(CASE WHEN l.l_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
  FROM lineitem l LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey
  UNION ALL
  SELECT 'lineitem.l_partkey->part', COUNT(*),
         COUNT(DISTINCT l_partkey),
         CAST(SUM(CASE WHEN p.p_partkey IS NULL THEN 1 ELSE 0 END) AS BIGINT),
         CAST(SUM(CASE WHEN l.l_partkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
  FROM lineitem l LEFT JOIN part p ON l.l_partkey = p.p_partkey
  UNION ALL
  SELECT 'lineitem.l_suppkey->supplier', COUNT(*),
         COUNT(DISTINCT l_suppkey),
         CAST(SUM(CASE WHEN s.s_suppkey IS NULL THEN 1 ELSE 0 END) AS BIGINT),
         CAST(SUM(CASE WHEN l.l_suppkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
  FROM lineitem l LEFT JOIN supplier s ON l.l_suppkey = s.s_suppkey
  UNION ALL
  SELECT 'nation.n_regionkey->region', COUNT(*),
         COUNT(DISTINCT n_regionkey),
         CAST(SUM(CASE WHEN r.r_regionkey IS NULL THEN 1 ELSE 0 END) AS BIGINT),
         CAST(SUM(CASE WHEN n.n_regionkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
  FROM nation n LEFT JOIN region r ON n.n_regionkey = r.r_regionkey
  UNION ALL
  SELECT 'orders.o_custkey->customer', COUNT(*),
         COUNT(DISTINCT o_custkey),
         CAST(SUM(CASE WHEN c.c_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT),
         CAST(SUM(CASE WHEN o.o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
  FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
  UNION ALL
  SELECT 'supplier.s_nationkey->nation', COUNT(*),
         COUNT(DISTINCT s_nationkey),
         CAST(SUM(CASE WHEN n.n_nationkey IS NULL THEN 1 ELSE 0 END) AS BIGINT),
         CAST(SUM(CASE WHEN s.s_nationkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
  FROM supplier s LEFT JOIN nation n ON s.s_nationkey = n.n_nationkey
) ORDER BY fk
"""


@query("fk_referential_audit", _FK_AUDIT_ORACLE)
def fk_referential_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All seven FK edges of the schema audited in one result: per
    edge, child rows / distinct keys / orphan rows, via the
    reduce-first fk_audit operator (see section comment)."""
    from automated_etl_pipeline_spark.operators.quality import fk_audit

    region, nation, customer, supplier, orders, lineitem, part = _t(
        spark, sf_dir,
        "region", "nation", "customer", "supplier", "orders",
        "lineitem", "part",
    )
    audits = [
        fk_audit(customer, "c_nationkey", nation, "n_nationkey",
                 "customer.c_nationkey->nation"),
        fk_audit(lineitem, "l_orderkey", orders, "o_orderkey",
                 "lineitem.l_orderkey->orders"),
        fk_audit(lineitem, "l_partkey", part, "p_partkey",
                 "lineitem.l_partkey->part"),
        fk_audit(lineitem, "l_suppkey", supplier, "s_suppkey",
                 "lineitem.l_suppkey->supplier"),
        fk_audit(nation, "n_regionkey", region, "r_regionkey",
                 "nation.n_regionkey->region"),
        fk_audit(orders, "o_custkey", customer, "c_custkey",
                 "orders.o_custkey->customer"),
        fk_audit(supplier, "s_nationkey", nation, "n_nationkey",
                 "supplier.s_nationkey->nation"),
    ]
    out = audits[0]
    for a in audits[1:]:
        out = out.unionAll(a)
    return out.orderBy("fk")


# ----------------------------------------------------------------------
# Rolling-window anomaly detection: per-user trailing-24h z-scores
# from EXACT integer window moments.  Engine-native stddev over a
# window is accumulation-order dependent (can't value-hash); here
# sum and sum-of-squares accumulate BIGINT cents (floor(value*100),
# bit-identical in any engine build) inside the frame, so the
# variance (s2 - s^2/n)/(n-1) is bit-identical across engines and
# the z threshold cannot flicker.  The trailing frame itself runs
# through the event/expiry retraction union (operators/rolling.py):
# Spark re-aggregates sliding RANGE frames per row, O(n*f) on a hot
# key, while the retraction plan's unbounded-preceding running sums
# are incremental — linear on hot keys, bit-identical integer sums
# (measured 529 s -> seconds at 32 M rows, SCALE_SMOKE_r09.md).
# Per-key ordered windows only — no global sort; the streaming twin
# would be a watermarked sliding aggregate.  Guard rails: windows
# need n >= 5 and positive variance before scoring (cold-start rows
# score NULL, counted as non-anomalous).
# ----------------------------------------------------------------------

_ROLLING_ANOMALY_CORE = """
e AS (
  SELECT user_id, epoch_us(ts) AS us,
         CAST(floor(value * 100) AS BIGINT) AS xc
  FROM events
),
w AS (
  SELECT user_id, xc,
         SUM(xc) OVER win AS sc,
         SUM(xc * xc) OVER win AS s2c,
         COUNT(*) OVER win AS n
  FROM e
  WINDOW win AS (PARTITION BY user_id ORDER BY us
                 RANGE BETWEEN 86400000000 PRECEDING AND CURRENT ROW)
),
scored AS (
  SELECT user_id, n,
         CAST(n AS HUGEINT) * xc - sc AS dnum,
         CAST(n AS HUGEINT) * s2c - CAST(sc AS HUGEINT) * sc AS vnum
  FROM w
)
"""

_ROLLING_ANOMALY_ORACLE = (
    "WITH " + _ROLLING_ANOMALY_CORE + """
SELECT user_id % 20 AS bucket, COUNT(*) AS n_events,
       CAST(SUM(CASE WHEN n >= 5 AND vnum > 0 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_scored,
       CAST(SUM(CASE WHEN n >= 5 AND vnum > 0
                 AND 25 * dnum * dnum * (n - 1) > 64 * n * vnum
                THEN 1 ELSE 0 END) AS BIGINT) AS n_anomalies,
       CAST(SUM(CASE WHEN n >= 5 AND vnum > 0
                 AND dnum * dnum * (n - 1) > 4 * n * vnum
                THEN 1 ELSE 0 END) AS BIGINT) AS n_z2,
       CAST(SUM(abs(dnum)) AS BIGINT) AS sum_absdnum
FROM scored GROUP BY bucket ORDER BY bucket
"""
)


def _rolling_scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-24h integer-moment frame for the rolling gate:
    BIGINT cents through the retraction union
    (operators/rolling.py), then the exact per-row pair
    dnum = n*x - s (n times the deviation from the window mean) and
    vnum = n*s2 - s^2 (n*(n-1) times the window variance) — both
    exact integers, so every downstream threshold comparison is
    integer arithmetic on both engines."""
    from automated_etl_pipeline_spark.operators.rolling import (
        trailing_integer_moments,
    )

    (events,) = _t(spark, sf_dir, "events")
    base = events.select(
        "user_id",
        F.floor(F.col("value") * 100).cast("bigint").alias("xc"),
        F.unix_micros("ts").alias("us"),
    )
    w = trailing_integer_moments(
        base, "user_id", "us", "xc", window_span=86_400_000_000
    )
    # 128-bit intermediates (r10 review): n*s2c and sc*sc reach
    # n^2*xc^2, which exceeds int64 already at ~3100 rows per 24h
    # frame with xc ~ 1e6 cents — ANSI Spark would error the whole
    # gate.  DECIMAL(38,0) matches the oracle's HUGEINT promotion and
    # keeps every comparison exact; dnum (<= 2*n*xc) stays far inside
    # int64 for any physical window but is cast up once so downstream
    # products start 128-bit.
    d38 = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    return w.select(
        "user_id",
        "n",
        "sc",
        "s2c",
        (d38(F.col("n")) * F.col("xc") - F.col("sc")).alias("dnum"),
        (
            d38(F.col("n")) * F.col("s2c")
            - d38(F.col("sc")) * F.col("sc")
        ).alias("vnum"),
    )


@query("rolling_anomaly_zscores", _ROLLING_ANOMALY_ORACLE)
def rolling_anomaly_zscores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-24h per-user z-score anomalies rolled up to 20 hash
    buckets — r10 rework (VERDICT r9 ask #4): NO double sqrt/division
    feeds any gate value.  z > k on the trailing frame (mean m = s/n,
    sample variance v = (n*s2 - s^2)/(n*(n-1))) is equivalent to
    (n*x - s)^2 * (n-1) > k^2 * n * (n*s2 - s^2) — with BIGINT-cent
    moments both sides are exact integers, so the comparison is
    bit-identical on any engine/build.  Gate values: event count,
    scored count (n >= 5, positive variance), anomaly counts at
    z > 1.6 (25*dnum^2*(n-1) > 64*n*vnum) and z > 2.0, plus
    sum|dnum| which pins the window moments themselves.  Spark side
    computes dnum/vnum and the cross-products in DECIMAL(38,0)
    (the int64 bound n^2*xc^2 < 9.2e18 would already fail at ~3100
    rows per frame with xc ~ 1e6 cents); headroom: with |dnum| <=
    2*n*xc the largest product 25*dnum^2*(n-1) <= 100*n^3*xc^2 stays
    under 1e38 for n <= 4e7 rows per frame at xc <= 1e6 — beyond any
    physical 24h window.  DuckDB promotes to HUGEINT explicitly.
    The trailing frame runs through the retraction union
    (operators/rolling.py) — linear on hot keys vs Spark's O(n*f)
    sliding-frame re-aggregation, measured 510 s -> 18.1 s at 32 M
    rows (SCALE_SMOKE_r09.md)."""
    s = _rolling_scored(spark, sf_dir)
    lhs = F.col("dnum") * F.col("dnum") * (F.col("n") - 1)
    rhs_base = F.col("vnum") * F.col("n")
    ok = (F.col("n") >= 5) & (F.col("vnum") > 0)
    return (
        s.groupBy(F.pmod("user_id", F.lit(20)).alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.when(ok, 1).otherwise(0)).cast("bigint").alias(
                "n_scored"
            ),
            F.sum(
                F.when(ok & (lhs * 25 > rhs_base * 64), 1).otherwise(0)
            ).cast("bigint").alias("n_anomalies"),
            F.sum(
                F.when(ok & (lhs > rhs_base * 4), 1).otherwise(0)
            ).cast("bigint").alias("n_z2"),
            F.sum(F.abs(F.col("dnum"))).cast("bigint").alias(
                "sum_absdnum"
            ),
        )
        .orderBy("bucket")
    )


# ----------------------------------------------------------------------
# Functional-dependency audit (operators/quality.fd_audit): the DQ
# probe behind schema discovery and denormalization decisions — does
# X determine Y?  One distinct-pair reduction per claim (map-side
# partial agg), per-key counts on the reduced frame; the claims below
# mix a TRUE dependency (nation key -> region key, 0 violations) with
# three FALSE ones whose violation counts and fan-outs the hash pins.
# ----------------------------------------------------------------------

_FD_AUDIT_ORACLE = """
SELECT * FROM (
  SELECT 'customer.c_nationkey->c_mktsegment' AS fd,
         COUNT(*) AS n_keys,
         CAST(SUM(CASE WHEN ny > 1 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_violating_keys,
         MAX(ny) AS max_fanout
  FROM (SELECT c_nationkey,
               COUNT(DISTINCT COALESCE(CAST(c_mktsegment AS VARCHAR),
                                       '<<NULL>>')) AS ny
        FROM customer GROUP BY c_nationkey)
  UNION ALL
  SELECT 'lineitem.l_orderkey->l_returnflag', COUNT(*),
         CAST(SUM(CASE WHEN ny > 1 THEN 1 ELSE 0 END) AS BIGINT), MAX(ny)
  FROM (SELECT l_orderkey,
               COUNT(DISTINCT COALESCE(CAST(l_returnflag AS VARCHAR),
                                       '<<NULL>>')) AS ny
        FROM lineitem GROUP BY l_orderkey)
  UNION ALL
  SELECT 'nation.n_nationkey->n_regionkey', COUNT(*),
         CAST(SUM(CASE WHEN ny > 1 THEN 1 ELSE 0 END) AS BIGINT), MAX(ny)
  FROM (SELECT n_nationkey,
               COUNT(DISTINCT COALESCE(CAST(n_regionkey AS VARCHAR),
                                       '<<NULL>>')) AS ny
        FROM nation GROUP BY n_nationkey)
  UNION ALL
  SELECT 'orders.o_custkey->o_orderpriority', COUNT(*),
         CAST(SUM(CASE WHEN ny > 1 THEN 1 ELSE 0 END) AS BIGINT), MAX(ny)
  FROM (SELECT o_custkey,
               COUNT(DISTINCT COALESCE(CAST(o_orderpriority AS VARCHAR),
                                       '<<NULL>>')) AS ny
        FROM orders GROUP BY o_custkey)
) ORDER BY fd
"""


@query("fd_dependency_audit", _FD_AUDIT_ORACLE)
def fd_dependency_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Four functional-dependency claims audited in one result (one
    true, three false — keys / violating keys / worst fan-out per
    claim); reduce-first shape per the section comment."""
    from automated_etl_pipeline_spark.operators.quality import fd_audit

    nation, customer, orders, lineitem = _t(
        spark, sf_dir, "nation", "customer", "orders", "lineitem"
    )
    audits = [
        fd_audit(customer, "c_nationkey", "c_mktsegment",
                 "customer.c_nationkey->c_mktsegment"),
        fd_audit(lineitem, "l_orderkey", "l_returnflag",
                 "lineitem.l_orderkey->l_returnflag"),
        fd_audit(nation, "n_nationkey", "n_regionkey",
                 "nation.n_nationkey->n_regionkey"),
        fd_audit(orders, "o_custkey", "o_orderpriority",
                 "orders.o_custkey->o_orderpriority"),
    ]
    out = audits[0]
    for a in audits[1:]:
        out = out.unionAll(a)
    return out.orderBy("fd")


# ----------------------------------------------------------------------
# Market-basket analysis: frequent co-occurring item pairs with
# minimum support — orders are baskets, suppliers the items.  The
# pair generation is a WITHIN-BASKET self-join (u < v) whose fan-out
# is bounded by basket size (TPC-H baskets hold <= 7 line items →
# <= 21 pairs), so candidate volume is O(rows * basket_size), never
# O(items²); support counting is one partial-aggregated shuffle on
# the pair key.  At 100 TB the levers are the ones already in this
# repo: a basket-size cap (WindowGroupLimit) for pathological
# baskets, and the Misra-Gries sketch when the pair space itself
# cannot reduce.  Top-25 lands via TakeOrderedAndProject.
# ----------------------------------------------------------------------

_FREQ_PAIRS_ORACLE = """
WITH items AS (
  SELECT DISTINCT l_orderkey AS basket, l_suppkey AS item FROM lineitem
),
pairs AS (
  SELECT a.item AS u, b.item AS v, COUNT(*) AS support
  FROM items a JOIN items b
    ON a.basket = b.basket AND a.item < b.item
  GROUP BY 1, 2
)
SELECT u, v, support FROM pairs WHERE support >= 2
ORDER BY support DESC, u, v LIMIT 25
"""


@query("frequent_pairs_minsup", _FREQ_PAIRS_ORACLE)
def frequent_pairs_minsup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-25 supplier pairs by basket co-occurrence support (minsup
    2) — ONE groupBy(basket).collect_set(item) shuffle + per-basket
    higher-order-function pair explode + one pair-count shuffle (r15
    opt, guide §2.4: collect_set IS the old distinct, so the distinct
    exchange and the within-basket self-join's sort both drop; fan-out
    stays bounded by basket size exactly as before — see the section
    comment)."""
    (li,) = _t(spark, sf_dir, "lineitem")
    baskets = (
        li.groupBy(F.col("l_orderkey").alias("basket"))
        .agg(F.sort_array(F.collect_set("l_suppkey")).alias("its"))
        .filter(F.size("its") >= 2)
    )
    pair_arr = F.flatten(
        F.transform(
            F.col("its"),
            lambda x, i: F.transform(
                F.slice(F.col("its"), i + 2, F.size(F.col("its"))),
                lambda y: F.struct(x.alias("u"), y.alias("v")),
            ),
        )
    )
    # explode_outer: non-empty by the size(its) >= 2 filter — identical
    # rows, no inferred size()>0 guard re-running the HOF (de304a0)
    pairs = (
        baskets.select(F.explode_outer(pair_arr).alias("p"))
        .groupBy(F.col("p.u").alias("u"), F.col("p.v").alias("v"))
        .agg(F.count(F.lit(1)).alias("support"))
        .filter(F.col("support") >= 2)
    )
    return pairs.orderBy(F.desc("support"), "u", "v").limit(25)


# ----------------------------------------------------------------------
# Exact weighted median (lower weighted median: smallest value whose
# cumulative weight reaches half the group total).  Chosen over the
# interpolated form because it is COMPARISON-ONLY — integer weights,
# decimal values, no floating interpolation — so the gate needs no
# rounding anywhere, and price ties at the boundary resolve to the
# same value under any within-tie order.  Plan: per-group value-sort
# window (the honest exact shape, with the
# same documented 100 TB swap: a weighted GK/t-digest sketch); groups
# here are (returnflag, ship-year), which parallelizes across
# group-partitions and grows with the data's time span.
# ----------------------------------------------------------------------

_WMEDIAN_ORACLE = """
WITH base AS (
  SELECT l_returnflag AS flag, EXTRACT(YEAR FROM l_shipdate) AS yr,
         CAST(l_extendedprice AS DECIMAL(18,2)) AS price,
         CAST(l_quantity AS BIGINT) AS qty,
         l_orderkey, l_linenumber
  FROM lineitem
),
c AS (
  SELECT flag, yr, price, qty,
         SUM(qty) OVER (PARTITION BY flag, yr
                        ORDER BY price, l_orderkey, l_linenumber
                        ROWS UNBOUNDED PRECEDING) AS cum,
         SUM(qty) OVER (PARTITION BY flag, yr) AS tot
  FROM base
)
SELECT flag, CAST(yr AS BIGINT) AS yr,
       CAST(MIN(CASE WHEN cum * 2 >= tot THEN price END) AS DOUBLE)
         AS wmedian,
       CAST(ANY_VALUE(tot) AS BIGINT) AS total_qty,
       COUNT(*) AS n_rows
FROM c GROUP BY flag, yr ORDER BY flag, yr
"""


@query("weighted_median_price", _WMEDIAN_ORACLE)
def weighted_median_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantity-weighted median extended price per (returnflag,
    ship-year) — exact lower weighted median via cumulative-weight
    windows; see section comment for the determinism and scale
    arguments."""
    (li,) = _t(spark, sf_dir, "lineitem")
    base = li.select(
        F.col("l_returnflag").alias("flag"),
        F.year("l_shipdate").cast("long").alias("yr"),
        F.col("l_extendedprice").cast("decimal(18,2)").alias("price"),
        F.col("l_quantity").cast("bigint").alias("qty"),
        "l_orderkey",
        "l_linenumber",
    )
    w = Window.partitionBy("flag", "yr").orderBy(
        "price", "l_orderkey", "l_linenumber"
    )
    c = base.select(
        "flag",
        "yr",
        "price",
        F.sum("qty")
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .alias("cum"),
        F.sum("qty").over(Window.partitionBy("flag", "yr")).alias("tot"),
    )
    return (
        c.groupBy("flag", "yr")
        .agg(
            F.min(F.when(F.col("cum") * 2 >= F.col("tot"), F.col("price")))
            .cast("double")
            .alias("wmedian"),
            F.first("tot").alias("total_qty"),
            F.count(F.lit(1)).alias("n_rows"),
        )
        .orderBy("flag", "yr")
    )


# ----------------------------------------------------------------------
# Association rules from the frequent pairs: confidence(u -> v) =
# support(u,v) / support(u), both directions per pair, ranked by
# confidence.  All three frames are REDUCED (pair supports, item
# supports — bounded by item-space size, not row count), so the rule
# stage costs nothing beyond the support counts frequent_pairs
# already pays; confidence is a ratio of integer supports (IEEE-
# exact, the log-free rule again).
# ----------------------------------------------------------------------

_ASSOC_RULES_ORACLE = """
WITH items AS (
  SELECT DISTINCT l_orderkey AS basket, l_suppkey AS item FROM lineitem
),
isup AS (SELECT item, COUNT(*) AS s FROM items GROUP BY item),
psup AS (
  SELECT a.item AS u, b.item AS v, COUNT(*) AS s_uv
  FROM items a JOIN items b ON a.basket = b.basket AND a.item < b.item
  GROUP BY 1, 2
),
rules AS (
  SELECT u AS antecedent, v AS consequent, s_uv,
         CAST(s_uv * 1000000 // su.s AS BIGINT) AS conf_ppm
  FROM psup JOIN isup su ON psup.u = su.item
  WHERE s_uv >= 2
  UNION ALL
  SELECT v, u, s_uv,
         CAST(s_uv * 1000000 // sv.s AS BIGINT)
  FROM psup JOIN isup sv ON psup.v = sv.item
  WHERE s_uv >= 2
)
SELECT antecedent, consequent, s_uv AS pair_support, conf_ppm
FROM rules ORDER BY conf_ppm DESC, antecedent, consequent LIMIT 25
"""


@query("association_rules_topk", _ASSOC_RULES_ORACLE)
def association_rules_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-25 association rules by confidence over the supplier
    basket graph (minsup 2, both rule directions) — reduced-frame
    joins only, integer-ratio confidence (see section comment)."""
    (li,) = _t(spark, sf_dir, "lineitem")
    items = li.select(
        F.col("l_orderkey").alias("basket"), F.col("l_suppkey").alias("item")
    ).distinct()
    isup = items.groupBy("item").agg(F.count(F.lit(1)).alias("s"))
    a, b = items.alias("a"), items.alias("b")
    psup = (
        a.join(
            b,
            (F.col("a.basket") == F.col("b.basket"))
            & (F.col("a.item") < F.col("b.item")),
        )
        .groupBy(F.col("a.item").alias("u"), F.col("b.item").alias("v"))
        .agg(F.count(F.lit(1)).alias("s_uv"))
        .filter(F.col("s_uv") >= 2)
    )

    # Both rule directions from ONE pass over the pair supports (r15
    # opt, guide §2.2): join u's and v's supports once and explode the
    # two directed rules per pair — the old per-direction helper
    # consumed the self-join+groupBy subtree in two union branches.
    # conf_ppm is the same exact integer ppm (floor division on
    # positive BIGINTs): no double ratio, no decimal-grid rounding.
    both = (
        psup.join(
            F.broadcast(isup.select(F.col("item").alias("u"), F.col("s").alias("s_u"))),
            "u",
        )
        .join(
            F.broadcast(isup.select(F.col("item").alias("v"), F.col("s").alias("s_v"))),
            "v",
        )
        .select(
            F.explode(
                F.array(
                    F.struct(
                        F.col("u").alias("antecedent"),
                        F.col("v").alias("consequent"),
                        F.col("s_uv").alias("pair_support"),
                        F.expr("CAST(s_uv * 1000000L DIV s_u AS BIGINT)")
                        .alias("conf_ppm"),
                    ),
                    F.struct(
                        F.col("v").alias("antecedent"),
                        F.col("u").alias("consequent"),
                        F.col("s_uv").alias("pair_support"),
                        F.expr("CAST(s_uv * 1000000L DIV s_v AS BIGINT)")
                        .alias("conf_ppm"),
                    ),
                )
            ).alias("r")
        )
    )
    return (
        both.select("r.*")
        .orderBy(F.desc("conf_ppm"), "antecedent", "consequent")
        .limit(25)
    )


# ----------------------------------------------------------------------
# Benford first-digit audit — the forensic DQ screen for fabricated
# or artificially-generated numeric columns: natural multi-magnitude
# amounts follow P(d) = log10(1 + 1/d); uniform synthetics (like this
# testdata's prices — which the audit correctly flags) and invented
# figures don't.  The nine expected shares are INLINE LITERALS
# (precomputed once), so no engine log10 is evaluated — the log-free
# determinism rule again.  Plan: one string-prefix projection + a
# 9-group partial-aggregated count; shares and deviations are ratios
# of integer counts.
# ----------------------------------------------------------------------

# Benford expected first-digit shares as exact integer ppm (the
# canonical 6-dp table log10(1+1/d), precomputed once * 1e6 — no
# engine log10 is ever evaluated).
_BENFORD_PPM = {
    "1": 301030, "2": 176091, "3": 124939, "4": 96910,
    "5": 79181, "6": 66947, "7": 57992, "8": 51153,
    "9": 45757,
}

_BENFORD_CASE_SQL = "CASE d " + " ".join(
    f"WHEN '{d}' THEN {s}" for d, s in _BENFORD_PPM.items()
) + " END"

_BENFORD_ORACLE = f"""
WITH digits AS (
  SELECT substr(CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS VARCHAR), 1, 1)
    AS d
  FROM orders
),
c AS (SELECT d, COUNT(*) AS n FROM digits GROUP BY d),
tot AS (SELECT SUM(n) AS t FROM c)
SELECT d AS digit, n,
       CAST(n * 1000000 // t AS BIGINT) AS share_ppm,
       CAST({_BENFORD_CASE_SQL} AS BIGINT) AS benford_ppm,
       CAST(abs(n * 1000000 // t - ({_BENFORD_CASE_SQL})) AS BIGINT)
         AS abs_dev_ppm
FROM c, tot ORDER BY d
"""


@query("benford_digit_audit", _BENFORD_ORACLE)
def benford_digit_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-digit distribution of o_totalprice vs the Benford
    expectation (inline literal shares) — counts, observed shares,
    and absolute deviations per digit.  This synthetic corpus is
    correctly flagged as non-Benford (uniform price range); see
    section comment."""
    (orders,) = _t(spark, sf_dir, "orders")
    d = F.substring(
        F.col("o_totalprice").cast("decimal(18,2)").cast("string"), 1, 1
    )
    c = (
        orders.select(d.alias("d"))
        .groupBy("d")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    tot = c.agg(F.sum("n").alias("t"))
    expr = None
    for dig, s in _BENFORD_PPM.items():
        cond = F.when(F.col("d") == dig, F.lit(s).cast("bigint"))
        expr = cond if expr is None else expr.when(
            F.col("d") == dig, F.lit(s).cast("bigint")
        )
    # exact integer ppm share (positive BIGINT floor division): the
    # observed/expected comparison never leaves integer space
    share_ppm = F.expr("CAST(n * 1000000L DIV t AS BIGINT)")
    return (
        c.crossJoin(F.broadcast(tot))
        .select(
            F.col("d").alias("digit"),
            "n",
            share_ppm.alias("share_ppm"),
            expr.alias("benford_ppm"),
            F.abs(share_ppm - expr).alias("abs_dev_ppm"),
        )
        .orderBy("digit")
    )


# ----------------------------------------------------------------------
# Linear multi-touch attribution: each purchase's value is split
# equally across the user's view/click touches in the preceding 7
# days (purchases with no touches are 'direct').  The touch-purchase
# pairing is an equi-join on user_id with a per-key time-range
# predicate — pair volume is bounded by per-user activity in the
# window, never cross-user; the per-purchase touch count comes from a
# window over the paired frame (purchase-grain, bounded).  Credit =
# value / n_touch on identical doubles both engines, floored to
# BIGINT micro-units before the exact order-insensitive integer sum.
# ----------------------------------------------------------------------

_ATTRIBUTION_ORACLE = """
WITH purchases AS (
  SELECT event_id, user_id, ts, value FROM events
  WHERE event_type = 'purchase'
),
touches AS (
  SELECT user_id, ts, event_type FROM events
  WHERE event_type IN ('view', 'click')
),
pt AS (
  SELECT p.event_id, p.value, t.event_type AS touch_type,
         COUNT(*) OVER (PARTITION BY p.event_id) AS n_touch
  FROM purchases p JOIN touches t
    ON p.user_id = t.user_id
   AND t.ts < p.ts AND t.ts >= p.ts - INTERVAL 7 DAY
),
credited AS (
  SELECT touch_type, COUNT(*) AS n_credited,
         CAST(SUM(CAST(floor(value / n_touch * 1000000) AS BIGINT))
              AS BIGINT) AS credit_micros
  FROM pt GROUP BY touch_type
),
direct AS (
  SELECT 'direct' AS touch_type, COUNT(*) AS n_credited,
         CAST(SUM(CAST(floor(value * 1000000) AS BIGINT)) AS BIGINT)
           AS credit_micros
  FROM purchases p
  WHERE NOT EXISTS (
    SELECT 1 FROM touches t
    WHERE t.user_id = p.user_id
      AND t.ts < p.ts AND t.ts >= p.ts - INTERVAL 7 DAY)
)
SELECT * FROM credited
UNION ALL SELECT * FROM direct WHERE n_credited > 0
ORDER BY touch_type
"""


@query("multi_touch_attribution", _ATTRIBUTION_ORACLE)
def multi_touch_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """7-day linear attribution of purchase value across view/click
    touches, with a 'direct' bucket for untouched purchases — see
    section comment for the per-key pairing bound."""
    (events,) = _t(spark, sf_dir, "events")
    purchases = events.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", F.col("ts").alias("pts"), "value"
    )
    touches = events.filter(
        F.col("event_type").isin("view", "click")
    ).select(
        F.col("user_id").alias("t_user"),
        F.col("ts").alias("tts"),
        F.col("event_type").alias("touch_type"),
    )
    cond = (
        (F.col("user_id") == F.col("t_user"))
        & (F.col("tts") < F.col("pts"))
        & (F.col("tts") >= F.col("pts") - F.expr("interval 7 days"))
    )
    # ONE left join replaces the inner + anti pair over the same
    # (purchases x touches) condition (r15 opt, guide §2.2/§3): an
    # unmatched purchase survives as its single null-extended row, so
    # n_touch = 1 and floor(value/1 * 1e6) IS the direct formula
    # (IEEE division by 1.0 is exact); matched groups have no
    # null-extended row, so their counts and credits are unchanged.
    # The absent-'direct'-bucket case falls out of grouping (no
    # unmatched rows -> no group), matching the old n_credited > 0
    # filter.
    pt = purchases.join(touches, cond, "left").withColumn(
        "n_touch", F.count(F.lit(1)).over(Window.partitionBy("event_id"))
    )
    return (
        pt.groupBy(
            F.coalesce(F.col("touch_type"), F.lit("direct")).alias(
                "touch_type"
            )
        )
        .agg(
            F.count(F.lit(1)).alias("n_credited"),
            # credit as floor-micros: value/n_touch is the same IEEE
            # double in both engines; floor(x*1e6) is bit-identical,
            # and the BIGINT sum is exact and order-free (no
            # decimal-grid rounding)
            F.sum(
                F.floor(F.col("value") / F.col("n_touch") * 1_000_000)
                .cast("bigint")
            ).alias("credit_micros"),
        )
        .orderBy("touch_type")
    )


# ----------------------------------------------------------------------
# CUSUM change-point statistic per event type: the cumulative sum of
# deviations from the series mean peaks exactly where the level
# shifts — the classic offline change-point locator, here fully
# deterministic because it runs in EXACT INTEGER space: with v_i =
# floor(value_i * 1e6) micro-units, n the series length and s = Σv,
# the mean-deviation prefix sum scaled by n is
#   cusum_k = n·Σ_{i<=k} v_i − k·s = Σ_{i<=k} (v_i·n − s)
# — a BIGINT window sum (positive scaling per type preserves both
# the argmax and the peak ordering).  The argmax timestamp is
# selected via a composite sortable string (zero-padded |cusum| +
# timestamp), so ties at the peak resolve to the LATEST timestamp in
# both engines by plain MAX.  Per-key ordered windows only; (n, s)
# is a bounded per-type frame broadcast back.  When one type's series
# stops fitting a task, swap the window for the bucketed two-phase
# prefix sum (operators/prefix.py — row-for-row equal, measured in
# SCALE_SMOKE_r09.md); the plain keyed window is kept here because it
# is the cheaper plan while a series fits.  BIGINT headroom:
# |cusum| <= n^2 * max(v) ~ 2e17 at sf0.1 — ample; toward sf1+ the
# n-scaled form would overflow LOUDLY in both engines (ANSI/DuckDB
# raise, never wrap), and the fix is DECIMAL(38,0) accumulation or
# dropping the n-scaling in favor of per-type mean subtraction in
# micro-units.
# ----------------------------------------------------------------------

_CUSUM_ORACLE = """
WITH e AS (
  SELECT event_type, ts, event_id,
         CAST(floor(value * 1000000) AS BIGINT) AS v
  FROM events
),
m AS (
  SELECT event_type, COUNT(*) AS n, CAST(SUM(v) AS BIGINT) AS s
  FROM e GROUP BY event_type
),
c AS (
  SELECT e.event_type, e.ts,
         SUM(e.v * m.n - m.s) OVER (
           PARTITION BY e.event_type ORDER BY e.ts, e.event_id
           ROWS UNBOUNDED PRECEDING) AS cusum
  FROM e JOIN m ON e.event_type = m.event_type
),
k AS (
  SELECT event_type, cusum,
         lpad(CAST(CAST(abs(cusum) AS BIGINT) AS VARCHAR), 20, '0')
           || strftime(ts, '%Y%m%d%H%M%S') AS pick
  FROM c
)
SELECT event_type,
       CAST(MAX(abs(cusum)) AS BIGINT) AS max_cusum_scaled,
       substr(MAX(pick), 21) AS argmax_ts,
       COUNT(*) AS n
FROM k GROUP BY event_type ORDER BY event_type
"""


@query("cusum_change_point", _CUSUM_ORACLE)
def cusum_change_point(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type CUSUM peak (n-scaled integer magnitude +
    deterministic argmax timestamp + series length) — exact BIGINT
    cumulative deviations, see section comment."""
    (events,) = _t(spark, sf_dir, "events")
    e = events.withColumn(
        "v", F.floor(F.col("value") * 1_000_000).cast("bigint")
    )
    m = e.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"), F.sum("v").alias("s")
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    c = e.join(F.broadcast(m), "event_type").select(
        "event_type",
        "ts",
        F.sum(F.col("v") * F.col("n") - F.col("s"))
        .over(w)
        .alias("cusum"),
    )
    pick = F.concat(
        F.lpad(
            F.abs(F.col("cusum")).cast("bigint").cast("string"),
            20,
            "0",
        ),
        F.date_format("ts", "yyyyMMddHHmmss"),
    )
    return (
        c.select("event_type", "cusum", pick.alias("pick"))
        .groupBy("event_type")
        .agg(
            F.max(F.abs(F.col("cusum")))
            .cast("bigint")
            .alias("max_cusum_scaled"),
            F.substring(F.max("pick"), 21, 14).alias("argmax_ts"),
            F.count(F.lit(1)).alias("n"),
        )
        .orderBy("event_type")
    )


# ----------------------------------------------------------------------
# Per-key linear trend (OLS slope/intercept from exact integer
# moments): slope = (n·Σxy − Σx·Σy) / (n·Σx² − (Σx)²) with x the
# INTEGER day index (epoch-days − 19723, i.e. days since 2024-01-01;
# positive floor division before the shift, so DIV/// agree) and y
# in BIGINT cents (floor(value*100)) — every moment is an exact
# integer sum, the one-pass closed form is mergeable (partial+final
# agg, no window, no sort), and the engine-native linear-regression
# aggregates it replaces are accumulation-order dependent (can't
# value-hash).  Slope/intercept derive from the integer moments via
# identical IEEE double ops and are emitted as floor(v*1e6) BIGINTs
# (units: cents/day and cents) — no decimal-grid rounding anywhere.
# The trend-per-key shape is the monitoring primitive behind drift
# detection at any number of keys.
# ----------------------------------------------------------------------

_TREND_ORACLE = """
WITH b AS (
  SELECT event_type,
         epoch_us(ts) // 86400000000 - 19723 AS x,
         CAST(floor(value * 100) AS BIGINT) AS y
  FROM events
),
s AS (
  SELECT event_type, COUNT(*) AS n,
         CAST(SUM(x) AS BIGINT) AS sx,
         CAST(SUM(y) AS BIGINT) AS sy,
         CAST(SUM(x * y) AS BIGINT) AS sxy,
         CAST(SUM(x * x) AS BIGINT) AS sxx
  FROM b GROUP BY event_type
),
d AS (
  SELECT event_type, n,
         CAST(n AS DOUBLE) AS nd, CAST(sx AS DOUBLE) AS sxd,
         CAST(sy AS DOUBLE) AS syd, CAST(sxy AS DOUBLE) AS sxyd,
         CAST(sxx AS DOUBLE) AS sxxd
  FROM s
)
SELECT event_type, n,
       CAST(floor((nd * sxyd - sxd * syd) / (nd * sxxd - sxd * sxd)
                  * 1000000) AS BIGINT) AS slope_micro,
       CAST(floor((syd - (nd * sxyd - sxd * syd)
                         / (nd * sxxd - sxd * sxd) * sxd) / nd
                  * 1000000) AS BIGINT) AS intercept_micro
FROM d ORDER BY event_type
"""


@query("trend_slope_per_key", _TREND_ORACLE)
def trend_slope_per_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OLS value-vs-time slope and intercept per event type from
    exact integer moments (day index x cents), emitted as floor-micro
    BIGINTs — one mergeable pass, see section comment."""
    (events,) = _t(spark, sf_dir, "events")
    # Floor semantics to match the oracle's `//` for ANY sign: Spark
    # DIV truncates toward zero, so a pre-1970 timestamp would land
    # one day late on the Spark side only (r9 ADVICE).  The double
    # division is exact here: |unix_micros| < 2^53 and a day index is
    # >= 1/86400e6 ~ 1.2e-11 from any integer it isn't, while one
    # rounding at day-index magnitude (~2e4) moves < 4e-12.
    x = (
        F.floor(F.unix_micros("ts") / F.lit(86_400_000_000.0)).cast(
            "bigint"
        )
        - 19723
    )
    y = F.floor(F.col("value") * 100).cast("bigint")
    s = events.select("event_type", x.alias("x"), y.alias("y")).groupBy(
        "event_type"
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    nd = F.col("n").cast("double")
    sxd = F.col("sx").cast("double")
    syd = F.col("sy").cast("double")
    sxyd = F.col("sxy").cast("double")
    sxxd = F.col("sxx").cast("double")
    slope = (nd * sxyd - sxd * syd) / (nd * sxxd - sxd * sxd)
    intercept = (syd - slope * sxd) / nd
    return (
        s.select(
            "event_type",
            "n",
            F.floor(slope * 1_000_000).cast("bigint").alias("slope_micro"),
            F.floor(intercept * 1_000_000)
            .cast("bigint")
            .alias("intercept_micro"),
        )
        .orderBy("event_type")
    )


# ----------------------------------------------------------------------
# k-anonymity audit: for a quasi-identifier set, how re-identifiable
# is the table?  Reports the equivalence-class landscape — class
# count, minimum class size (the k in k-anonymity), and how many
# ROWS sit in classes below the k=5 threshold (the population a
# release would endanger).  One partial-aggregated group-by to class
# sizes; every later step runs on the reduced class frame.  The QI
# set here is (nationkey, mktsegment) on customer — the audit shape
# is column-agnostic.
# ----------------------------------------------------------------------

_KANON_ORACLE = """
WITH classes AS (
  SELECT c_nationkey, c_mktsegment, COUNT(*) AS sz
  FROM customer GROUP BY 1, 2
)
SELECT COUNT(*) AS n_classes,
       MIN(sz) AS k_anonymity,
       CAST(SUM(CASE WHEN sz < 5 THEN sz ELSE 0 END) AS BIGINT)
         AS rows_below_k5,
       CAST(SUM(CASE WHEN sz < 5 THEN 1 ELSE 0 END) AS BIGINT)
         AS classes_below_k5,
       CAST(SUM(sz) AS BIGINT) AS n_rows
FROM classes
"""


@query("k_anonymity_audit", _KANON_ORACLE)
def k_anonymity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity of customer under the (nationkey, mktsegment)
    quasi-identifier: class count, min class size, and the rows/
    classes under the k=5 release threshold — reduce-first, see
    section comment."""
    (customer,) = _t(spark, sf_dir, "customer")
    classes = customer.groupBy("c_nationkey", "c_mktsegment").agg(
        F.count(F.lit(1)).alias("sz")
    )
    return classes.agg(
        F.count(F.lit(1)).alias("n_classes"),
        F.min("sz").alias("k_anonymity"),
        F.sum(F.when(F.col("sz") < 5, F.col("sz")).otherwise(0)).alias(
            "rows_below_k5"
        ),
        F.sum(F.when(F.col("sz") < 5, 1).otherwise(0)).alias(
            "classes_below_k5"
        ),
        F.sum("sz").alias("n_rows"),
    )


# ----------------------------------------------------------------------
# Seasonality profile: hour-of-day share and micro-averaged value per
# event type — the periodic-pattern decomposition behind staffing /
# anomaly baselines ("is 3am traffic low, or broken?").  One
# partial-aggregated (type, hour) group-by; shares are exact integer
# ppm (floor division of counts) against a per-type window total on
# the REDUCED 24-row-per-type frame; value mass is an exact BIGINT
# micro-unit sum.  The uniformity deviation is pinned per cell as the
# exact integer numerator 24*n - total.
# ----------------------------------------------------------------------

_SEASONALITY_ORACLE = """
WITH c AS (
  SELECT event_type, EXTRACT(HOUR FROM ts) AS hod, COUNT(*) AS n,
         SUM(CAST(floor(value * 1000000) AS BIGINT)) AS sv
  FROM events GROUP BY 1, 2
)
SELECT event_type, CAST(hod AS BIGINT) AS hod, n,
       CAST(n * 1000000 // SUM(n) OVER (PARTITION BY event_type) AS BIGINT)
         AS share_ppm,
       CAST(24 * n - SUM(n) OVER (PARTITION BY event_type) AS BIGINT)
         AS dev24,
       CAST(sv AS BIGINT) AS sum_value_micros
FROM c ORDER BY event_type, hod
"""


@query("seasonality_profile", _SEASONALITY_ORACLE)
def seasonality_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hour-of-day event share (integer ppm), exact deviation-from-
    uniform numerator dev24 = 24*n - total (dev = dev24/(24*total)),
    and the exact micro-unit value sum per (type, hour) cell —
    reduce-first, fully integer gate values, see section comment."""
    (events,) = _t(spark, sf_dir, "events")
    c = events.groupBy(
        "event_type", F.hour("ts").cast("long").alias("hod")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(
            F.floor(F.col("value") * 1_000_000).cast("bigint")
        ).alias("sv"),
    )
    tot = F.sum("n").over(Window.partitionBy("event_type"))
    return (
        c.select(
            "event_type",
            "hod",
            "n",
            (F.col("n") * 1_000_000)
            .cast("bigint")
            .alias("__num"),
            tot.alias("__tot"),
            "sv",
        )
        .select(
            "event_type",
            "hod",
            "n",
            F.expr("CAST(__num DIV __tot AS BIGINT)").alias("share_ppm"),
            (24 * F.col("n") - F.col("__tot"))
            .cast("bigint")
            .alias("dev24"),
            F.col("sv").alias("sum_value_micros"),
        )
        .orderBy("event_type", "hod")
    )


# ----------------------------------------------------------------------
# Gini concentration of customer spend per nation — the inequality /
# concentration audit (is one buyer the whole market?).  The rank-
# weighted form G = (2·Σ(i·x_i) − (n+1)·Σx) / (n·Σx) needs an
# ordered rank per group (per-key window over the customer-grain
# REDUCED spend frame, not orders); with spend in BIGINT cents the
# weighted sum Σ(i·x_i) and both Gini terms are EXACT integers — a
# double Σ(i·x) would be accumulation-order dependent and
# unhashable, and a rounded ratio would hit the decimal-grid trap.
# The gate emits the exact (numerator, denominator) pair.
# ----------------------------------------------------------------------

_GINI_ORACLE = """
WITH spend AS (
  SELECT o.o_custkey AS ck, c.c_nationkey AS nk,
         SUM(CAST(CAST(o.o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT))
           AS s
  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
  GROUP BY 1, 2
),
r AS (
  SELECT nk, s, ROW_NUMBER() OVER (PARTITION BY nk ORDER BY s, ck) AS i,
         COUNT(*) OVER (PARTITION BY nk) AS n,
         SUM(s) OVER (PARTITION BY nk) AS tot
  FROM spend
)
SELECT nk AS nationkey, ANY_VALUE(n) AS n_customers,
       CAST(ANY_VALUE(tot) AS BIGINT) AS total_spend_cents,
       CAST(2 * SUM(i * s) - (ANY_VALUE(n) + 1) * ANY_VALUE(tot) AS BIGINT)
         AS gini_num,
       CAST(ANY_VALUE(n) * ANY_VALUE(tot) AS BIGINT) AS gini_den
FROM r GROUP BY nk ORDER BY nk
"""


@query("gini_concentration", _GINI_ORACLE)
def gini_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-nation Gini of customer spend as the exact integer pair
    (gini_num, gini_den): G = (2·Σi·s − (n+1)·T) / (n·T) with spend
    in BIGINT cents — rank-weighted sums stay integers end-to-end
    (see section comment)."""
    orders, customer = _t(spark, sf_dir, "orders", "customer")
    spend = (
        orders.join(
            customer, orders.o_custkey == customer.c_custkey
        )
        .groupBy(
            F.col("o_custkey").alias("ck"),
            F.col("c_nationkey").alias("nk"),
        )
        .agg(
            F.sum(
                (F.col("o_totalprice").cast("decimal(18,2)") * 100)
                .cast("bigint")
            ).alias("s")
        )
    )
    w = Window.partitionBy("nk")
    r = spend.select(
        "nk",
        "s",
        F.row_number().over(w.orderBy("s", "ck")).alias("i"),
        F.count(F.lit(1)).over(w).alias("n"),
        F.sum("s").over(w).alias("tot"),
    )
    return (
        r.groupBy("nk")
        .agg(
            F.first("n").alias("n_customers"),
            F.first("tot").cast("bigint").alias("total_spend_cents"),
            (
                2 * F.sum(F.col("i") * F.col("s"))
                - (F.first("n") + 1) * F.first("tot")
            )
            .cast("bigint")
            .alias("gini_num"),
            (F.first("n") * F.first("tot"))
            .cast("bigint")
            .alias("gini_den"),
        )
        .select(
            F.col("nk").alias("nationkey"),
            "n_customers",
            "total_spend_cents",
            "gini_num",
            "gini_den",
        )
        .orderBy("nationkey")
    )


# ----------------------------------------------------------------------
# 2-D skyline (Pareto front): orders not dominated on (newer date,
# higher price) — the multi-criteria shortlist operator.  Exact and
# reduce-first: collapse to one (date, max price) row per date (the
# per-date max can never be dominated by same-date rows; dominated
# rows can't resurface), then the skyline test on the REDUCED frame
# is a single ordered cumulative-max window: a date survives iff its
# max price strictly exceeds every strictly-later date's max.  The
# window runs over date-cardinality rows (bounded by the time span),
# never order grain, and all comparisons are decimal/date-exact —
# no floats anywhere.  Skyline membership of individual orders =
# equi-join back on the (date, price) point (count reported).
# ----------------------------------------------------------------------

_SKYLINE_ORACLE = """
WITH perday AS (
  SELECT o_orderdate AS d, MAX(CAST(o_totalprice AS DECIMAL(18,2))) AS p
  FROM orders GROUP BY 1
),
sk AS (
  SELECT d, p,
         MAX(p) OVER (ORDER BY d DESC
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           AS later_max
  FROM perday
),
front AS (
  SELECT d, p FROM sk WHERE later_max IS NULL OR p > later_max
)
SELECT strftime(f.d, '%Y%m%d') AS order_day,
       CAST(f.p AS DOUBLE) AS price,
       COUNT(*) AS n_orders_at_point
FROM front f JOIN orders o
  ON o.o_orderdate = f.d AND CAST(o.o_totalprice AS DECIMAL(18,2)) = f.p
GROUP BY f.d, f.p ORDER BY f.d
"""


@query("skyline_pareto_front", _SKYLINE_ORACLE)
def skyline_pareto_front(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto-optimal (date, price) points over orders with the count
    of orders sitting on each point — reduce-first skyline, see
    section comment."""
    (orders,) = _t(spark, sf_dir, "orders")
    perday = orders.groupBy(F.col("o_orderdate").alias("d")).agg(
        F.max(F.col("o_totalprice").cast("decimal(18,2)")).alias("p")
    )
    w = (
        Window.orderBy(F.desc("d"))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    front = (
        perday.withColumn("later_max", F.max("p").over(w))
        .filter(
            F.col("later_max").isNull() | (F.col("p") > F.col("later_max"))
        )
        .select("d", "p")
    )
    return (
        F.broadcast(front)
        .join(
            orders,
            (orders.o_orderdate == F.col("d"))
            & (orders.o_totalprice.cast("decimal(18,2)") == F.col("p")),
        )
        .groupBy("d", "p")
        .agg(F.count(F.lit(1)).alias("n_orders_at_point"))
        .select(
            F.date_format("d", "yyyyMMdd").alias("order_day"),
            F.col("p").cast("double").alias("price"),
            "n_orders_at_point",
        )
        .orderBy("order_day")
    )


# ----------------------------------------------------------------------
# Two-sample KS drift statistic: max |CDF_a - CDF_b| between the
# pre- and post-1997-06 price distributions — the distribution-drift
# monitor (train vs serve, yesterday vs today) in its log-free form
# (PSI needs log ratios; KS is pure rational arithmetic, so the gate
# hashes exactly).  Values are binned to $500 integer buckets FIRST
# (floor division on exact cents) — the standard practice for
# monitoring, and what bounds the CDF frame: the cumulative window
# runs over bin-cardinality rows (~1.2k), never value or row grain.
# Counts, cumulative sums, and the final max are integers and exact
# ratios of integers end-to-end.
# ----------------------------------------------------------------------

def _epoch_us_col(df: DataFrame, c: str) -> F.Column:
    """BIGINT epoch-micros of a timestamp column, session-TZ-free for
    BOTH physical types the testdata ships: TIMESTAMP_NTZ columns
    (orders.o_orderdate — parquet µs, isAdjustedToUTC=false) convert
    wall-as-UTC via io/sources.ntz_epoch_us_sql — the SAME pure date
    arithmetic the loader uses, one source of truth (r10 review) —
    and loader-normalized TIMESTAMP columns (events.ts) use
    unix_micros directly (the TIMESTAMP branch assumes the loader's
    wall-as-UTC normalization already ran; all _t() tables satisfy
    that by construction).  DuckDB's epoch_us on the same parquet
    reads the identical naive wall value as UTC, so the BIGINT agrees
    on both engines in every session zone."""
    from pyspark.sql import types as T

    from automated_etl_pipeline_spark.io.sources import ntz_epoch_us_sql

    dt = {f.name: f.dataType for f in df.schema.fields}[c]
    if isinstance(dt, T.TimestampNTZType):
        return F.expr(ntz_epoch_us_sql(c))
    return F.unix_micros(F.col(c))


_KS_CORE = """
t AS (
  SELECT CAST(floor(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
              / 50000.0) AS BIGINT) AS bin,
         CASE WHEN epoch_us(o_orderdate) < 865123200000000
              THEN 1 ELSE 0 END AS ca,
         CASE WHEN epoch_us(o_orderdate) < 865123200000000
              THEN 0 ELSE 1 END AS cb
  FROM orders
),
bins AS (
  SELECT bin, CAST(SUM(ca) AS BIGINT) AS ca, CAST(SUM(cb) AS BIGINT) AS cb
  FROM t GROUP BY bin
),
cum AS (
  SELECT bin,
         CAST(SUM(ca) OVER (ORDER BY bin ROWS UNBOUNDED PRECEDING)
              AS BIGINT) AS cna,
         CAST(SUM(cb) OVER (ORDER BY bin ROWS UNBOUNDED PRECEDING)
              AS BIGINT) AS cnb,
         CAST(SUM(ca) OVER () AS BIGINT) AS na,
         CAST(SUM(cb) OVER () AS BIGINT) AS nb
  FROM bins
)
"""

_KS_DRIFT_ORACLE = (
    "WITH " + _KS_CORE + """
SELECT CAST(MAX(abs(cna * nb - cnb * na)) AS BIGINT) AS ks_num,
       MAX(na) AS n_before, MAX(nb) AS n_after,
       COUNT(*) AS n_bins
FROM cum
"""
)


def _ks_cum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binned-CDF frame for the KS gate.  r10
    determinism rework (VERDICT r9 asks #2-#3): the pre/post split
    compares unix_micros(o_orderdate) against the BIGINT literal
    865123200000000 (1997-06-01T00:00:00Z) on both engines — no
    session-TZ timestamp-literal parse and no DATE-vs-TIMESTAMP
    comparison; the $500 bin is floor(cents / 50000.0) via double
    division on both engines — exact, because cents <= 5e7 is exactly
    representable, the true quotient is either an integer (both
    operands exact => exact result) or >= 1/50000 away from one while
    one rounding moves the value < 1e-13; and the oracle uses only
    plain ANSI windows (no hugeint //, no FILTER, no ANY_VALUE)."""
    (orders,) = _t(spark, sf_dir, "orders")
    cents = (
        F.col("o_totalprice").cast("decimal(18,2)") * 100
    ).cast("bigint")
    pre = _epoch_us_col(orders, "o_orderdate") < F.lit(865_123_200_000_000)
    tagged = orders.select(
        F.floor(cents / F.lit(50_000.0)).cast("bigint").alias("bin"),
        F.when(pre, 1).otherwise(0).alias("ca"),
        F.when(pre, 0).otherwise(1).alias("cb"),
    )
    bins = tagged.groupBy("bin").agg(
        F.sum("ca").alias("ca"), F.sum("cb").alias("cb")
    )
    wcum = Window.orderBy("bin").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    wall = Window.partitionBy()
    return bins.select(
        "bin",
        F.sum("ca").over(wcum).alias("cna"),
        F.sum("cb").over(wcum).alias("cnb"),
        F.sum("ca").over(wall).alias("na"),
        F.sum("cb").over(wall).alias("nb"),
    )


@query("ks_drift_statistic", _KS_DRIFT_ORACLE)
def ks_drift_statistic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binned two-sample KS statistic between pre/post-1997-06 price
    distributions, emitted as the exact integer numerator
    max|cna*nb - cnb*na| plus the two sample sizes (KS = ks_num /
    (n_before*n_after)) and bin count — log-free, float-free drift
    detection over a bounded CDF frame (section comment and
    _ks_cum docstring carry the r10 determinism contract)."""
    cum = _ks_cum(spark, sf_dir)
    # |CDF_a - CDF_b| maximized as the integer cross-product
    # |cna*nb - cnb*na| (same argmax since na*nb > 0 is constant):
    # pure BIGINT arithmetic end-to-end — no double ratio, no
    # decimal-grid rounding.
    diff = F.abs(
        F.col("cna") * F.col("nb") - F.col("cnb") * F.col("na")
    )
    return cum.agg(
        F.max(diff).cast("bigint").alias("ks_num"),
        F.max("na").alias("n_before"),
        F.max("nb").alias("n_after"),
        F.count(F.lit(1)).alias("n_bins"),
    )


# ----------------------------------------------------------------------
# r12 additions: interval concurrency sweep, one-pass column profiler,
# compaction bin-packing planner.
# ----------------------------------------------------------------------

_INTERVAL_CONCURRENCY_ORACLE = """
WITH iv AS (
  SELECT event_type, event_id, ts AS s,
         ts + (300 + event_id % 900) * INTERVAL 1 SECOND AS e
  FROM events
), pts AS (
  SELECT event_type, s AS t, 1 AS delta, event_id FROM iv
  UNION ALL
  SELECT event_type, e AS t, -1 AS delta, event_id FROM iv
), run AS (
  SELECT event_type, t,
         SUM(delta) OVER (PARTITION BY event_type
                          ORDER BY t, delta, event_id
                          ROWS UNBOUNDED PRECEDING) AS c
  FROM pts
), mx AS (
  SELECT event_type, t, c,
         MAX(c) OVER (PARTITION BY event_type) AS m
  FROM run
)
SELECT event_type,
       CAST(COUNT(*) // 2 AS BIGINT) AS n_intervals,
       CAST(MAX(c) AS BIGINT) AS max_concurrency,
       MIN(CASE WHEN c = m THEN t END) AS peak_at
FROM mx GROUP BY event_type ORDER BY event_type
"""


@query("interval_max_concurrency", _INTERVAL_CONCURRENCY_ORACLE)
def interval_max_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval max-concurrency (the classic +1/-1 sweep): each event
    spawns a half-open interval [ts, ts + 300 + event_id%900 s); the
    gate reports, per event_type, how many intervals ever overlap at
    once and the first instant the peak is reached.  Half-open
    semantics = an interval ending exactly when another starts does
    NOT overlap it, enforced by sorting the -1 delta before the +1 at
    equal timestamps.  The production question is "max concurrent
    sessions / connections / jobs" — a capacity-planning staple.

    Scale: the sweep is a per-key ordered prefix sum — one shuffle on
    event_type, each key's timeline scanned once.  A hot key with more
    points than a task can order gets the scd2_history_chunked
    treatment (range-chunk the timeline, carry chunk-edge partial sums
    forward); event-type keyspaces are small and uniform here."""
    (events,) = _t(spark, sf_dir, "events")
    dur = (F.lit(300) + F.col("event_id") % 900).cast("int")
    iv = events.select(
        "event_type",
        "event_id",
        F.col("ts").alias("s"),
        (F.col("ts") + F.make_interval(secs=dur)).alias("e"),
    )
    pts = iv.select(
        "event_type",
        F.col("s").alias("t"),
        F.lit(1).alias("delta"),
        "event_id",
    ).unionAll(
        iv.select(
            "event_type",
            F.col("e").alias("t"),
            F.lit(-1).alias("delta"),
            "event_id",
        )
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("t", "delta", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    run = pts.withColumn("c", F.sum("delta").over(w))
    mx = run.withColumn("m", F.max("c").over(Window.partitionBy("event_type")))
    return (
        mx.groupBy("event_type")
        .agg(
            (F.count(F.lit(1)) / 2).cast("bigint").alias("n_intervals"),
            F.max("c").cast("bigint").alias("max_concurrency"),
            F.min(F.when(F.col("c") == F.col("m"), F.col("t"))).alias("peak_at"),
        )
        .orderBy("event_type")
    )


_PROFILE_COLS = [
    ("o_orderkey", "BIGINT"),
    ("o_custkey", "BIGINT"),
    ("o_orderstatus", "VARCHAR"),
    ("o_totalprice", "DECIMAL(18,2)"),
    ("o_orderdate", "TIMESTAMP"),
    ("o_orderpriority", "VARCHAR"),
]

_PROFILE_ORACLE = "\nUNION ALL\n".join(
    f"""
SELECT '{c}' AS col_name,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(COUNT(*) - COUNT({c}) AS BIGINT) AS n_null,
       CAST(COUNT(DISTINCT {c}) AS BIGINT) AS n_distinct,
       CAST(MIN(CAST({c} AS {t})) AS VARCHAR) AS min_str,
       CAST(MAX(CAST({c} AS {t})) AS VARCHAR) AS max_str
FROM orders"""
    for c, t in _PROFILE_COLS
) + "\nORDER BY col_name"


@query("profile_table_columns", _PROFILE_ORACLE)
def profile_table_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-pass column profiler: per-column row/null/exact-distinct
    counts plus min/max rendered to strings — the first thing any data
    catalog or ingestion QA runs on a new table.  Doubles are profiled
    through DECIMAL(18,2) so the min/max string rendering is identical
    cross-engine (Spark's Double.toString vs DuckDB's shortest-repr
    would diverge); timestamps render as 'yyyy-MM-dd HH:mm:ss' in
    both.

    Scale: ONE wide scan for everything hash-aggregable — counts,
    nulls, and the multi-column exact COUNT(DISTINCT), which expands
    to one Expand + partial/final aggregate pair (Catalyst's standard
    rewrite), shuffling only the distinct key streams, never the rows.
    STRING min/max live in a second, trivial aggregate joined back as
    a 1x1 broadcast (r15 opt, guide §1.2 step 2): a string aggregation
    BUFFER is immutable in UnsafeRow, so one min(string) in the wide
    aggregate forced the WHOLE pipeline - Expand included - into
    SortAggregate, i.e. full sorts of the 7x-expanded stream (1.05M
    rows at sf0.1; measured same-session paired 3.7 -> 1.7 s median).
    The narrow second scan reads 2 columns with map-side partials -
    nothing next to the sorts it removes.  At 100 TB swap exact
    distinct for approx_count_distinct (HLL) per the
    hll_merge_error_bound pattern."""
    (orders,) = _t(spark, sf_dir, "orders")
    spark_t = {
        "BIGINT": "bigint",
        "VARCHAR": "string",
        "DECIMAL(18,2)": "decimal(18,2)",
        "TIMESTAMP": "timestamp",
    }
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    str_aggs = []
    for c, t in _PROFILE_COLS:
        cc = F.col(c).cast(spark_t[t])
        aggs += [
            F.sum(F.col(c).isNull().cast("bigint")).alias(f"null__{c}"),
            F.countDistinct(F.col(c)).alias(f"dist__{c}"),
        ]
        target = str_aggs if t == "VARCHAR" else aggs
        target += [
            F.min(cc).cast("string").alias(f"min__{c}"),
            F.max(cc).cast("string").alias(f"max__{c}"),
        ]
    one = orders.agg(*aggs).crossJoin(F.broadcast(orders.agg(*str_aggs)))
    rows = one.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("col_name"),
                        F.col("n_rows").cast("bigint").alias("n_rows"),
                        F.col(f"null__{c}").cast("bigint").alias("n_null"),
                        F.col(f"dist__{c}").cast("bigint").alias("n_distinct"),
                        F.col(f"min__{c}").alias("min_str"),
                        F.col(f"max__{c}").alias("max_str"),
                    )
                    for c, _ in _PROFILE_COLS
                ]
            )
        ).alias("p")
    )
    return rows.select("p.*").orderBy("col_name")


_STREAMING_CDC_ORACLE = """
WITH final AS (
  SELECT o_orderkey,
         CASE WHEN o_orderkey % 4 = 0 THEN 3
              WHEN o_orderkey % 3 = 0 THEN 2
              WHEN o_orderkey % 2 = 0 THEN 1
              ELSE 0 END AS version,
         CASE WHEN o_orderkey % 4 = 0 THEN o_totalprice + 3000
              WHEN o_orderkey % 3 = 0 THEN o_totalprice + 2000
              WHEN o_orderkey % 2 = 0 THEN o_totalprice + 1000
              ELSE o_totalprice END AS price,
         CASE WHEN o_orderkey % 4 = 0 THEN 'U3'
              WHEN o_orderkey % 3 = 0 THEN 'U2'
              WHEN o_orderkey % 2 = 0 THEN 'U1'
              ELSE o_orderstatus END AS status
  FROM orders WHERE o_orderkey IS NOT NULL
)
SELECT status AS o_orderstatus,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(CAST(price AS DECIMAL(18,2))) AS DOUBLE) AS sum_total,
       CAST(MAX(version) AS BIGINT) AS max_version
FROM final GROUP BY status ORDER BY status
"""


@query("streaming_cdc_upsert", _STREAMING_CDC_ORACLE, executes_stream=True)
def streaming_cdc_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming CDC upsert (streaming/cdc.py) — the 10th value-gated
    streaming execution path: three versioned change batches (keys
    divisible by 2, 3, 4; each bumps price by 1000*k and stamps status
    'Uk') are staged as change files, drained through a file stream ->
    foreachBatch -> merge_upsert into an epoch-versioned parquet
    snapshot, and the FINAL snapshot is aggregated.  The oracle derives
    the expected end state analytically: per key, the highest
    applicable version wins — which is exactly what version-driven
    last-writer-wins MERGE must produce regardless of how the file
    source batched or ordered the change files (the commutativity that
    makes streaming CDC exact over reordering transports).

    Scale: each micro-batch is one key-shuffle merge window over
    snapshot+batch (operators/merge.py); the epoch commit is
    copy-on-write parquet here, a table-format transaction at
    production scale — partition-pruned rewrites, same merge core."""
    from automated_etl_pipeline_spark.streaming.cdc import run_cdc_merge_stream
    from automated_etl_pipeline_spark.streaming.windows import _stream_parts

    (orders,) = _t(spark, sf_dir, "orders")
    orders = orders.filter(F.col("o_orderkey").isNotNull())
    # narrow to the merge key + the 2 aggregated columns before the
    # base/batch writes (r15 opt, guide §2.3/§4.1 pass only what the
    # operator needs): the CDC merge state, every drop file and the
    # final stateful shuffle carried all 9 orders columns for
    # identical per-status aggregates
    orders = orders.select("o_orderkey", "o_orderstatus", "o_totalprice")
    base = orders.withColumn("version", F.lit(0).cast("long"))
    schema = base.schema  # orders schema + version, reused by the stream reader

    with scratch() as root:
        drop, state = f"{root}/drop", f"{root}/state"
        for k in (1, 2, 3):
            batch = (
                orders.filter(F.col("o_orderkey") % (k + 1) == 0)
                .withColumn("version", F.lit(k).cast("long"))
                .withColumn("o_totalprice", F.col("o_totalprice") + 1000 * k)
                .withColumn("o_orderstatus", F.lit(f"U{k}"))
            )
            batch.coalesce(1).write.mode("append").parquet(drop)
        with _stream_parts(spark):
            final = run_cdc_merge_stream(
                spark,
                base,
                drop,
                schema,
                key_cols=["o_orderkey"],
                version_col="version",
                state_root=state,
            )
        out = (
            final.groupBy("o_orderstatus")
            .agg(
                F.count(F.lit(1)).alias("n_orders"),
                dsum("o_totalprice", alias="sum_total"),
                F.max("version").cast("bigint").alias("max_version"),
            )
            .orderBy("o_orderstatus")
        )
        snap = materialize(out)
    return snap.orderBy("o_orderstatus")


# Poisson(1) CDF thresholds (e^-1 * sum 1/k!), shortest-repr doubles
# injected as IDENTICAL literals into the Spark expressions and the
# oracle SQL — both engines parse them to the same float64.
_POIS_CDF = [
    0.36787944117144233,
    0.7357588823428847,
    0.9196986029286058,
    0.9810118431238463,
    0.9963401531726563,
    0.9994058151824183,
]
_BOOT_B = 40
_U_DENOM = 4503599627370496.0  # 2^52: 13 md5 hex chars -> exact double

# Hex-domain CDF thresholds (r15 opt, guide §1.2 step 2 — per-task
# work): the uniform u = v / 2^52 (v = the 13-hex-char lane parsed
# base 16) is only ever COMPARED against the pinned thresholds, and
# a fixed-width lowercase hex string orders lexicographically exactly
# as its numeric value — so each comparison can run on the raw md5
# substring, skipping both conv() parses and the double division.
# Exactness: v <= 2^52 - 1 is integer, v / 2^52 is an EXACT double
# (division by a power of two, 53-bit mantissa suffices), so
# u < T  <=>  v/2^52 < T in real arithmetic  <=>  v < T * 2^52
# <=>  v < ceil(Fraction(T) * 2^52)  (Fraction(T) is T's exact
# binary value; when T * 2^52 is an integer the ceil is itself and
# the strict < still agrees).  Verified exhaustively against the
# conv() path over every (row, lane) at sf0.1: 0 mismatches.
def _hex_thresholds(cdf: list[float]) -> list[str]:
    import math

    from fractions import Fraction

    return [format(math.ceil(Fraction(t) * (1 << 52)), "013x") for t in cdf]


_POIS_CDF_HEX = _hex_thresholds(_POIS_CDF)

_BOOTSTRAP_ORACLE = f"""
WITH r AS (
  SELECT o_orderkey, o_totalprice, UNNEST(range({_BOOT_B // 2})) AS p
  FROM orders WHERE o_orderkey IS NOT NULL
), d AS (
  SELECT p, o_totalprice, md5(o_orderkey || ':' || p) AS dg FROM r
), u AS (
  SELECT 2 * p AS b, o_totalprice,
         ('0x' || substr(dg, 1, 13))::BIGINT / {_U_DENOM} AS u
  FROM d
  UNION ALL
  SELECT 2 * p + 1 AS b, o_totalprice,
         ('0x' || substr(dg, 14, 13))::BIGINT / {_U_DENOM} AS u
  FROM d
), w AS (
  SELECT b, o_totalprice,
         CASE WHEN u < {_POIS_CDF[0]} THEN 0
              WHEN u < {_POIS_CDF[1]} THEN 1
              WHEN u < {_POIS_CDF[2]} THEN 2
              WHEN u < {_POIS_CDF[3]} THEN 3
              WHEN u < {_POIS_CDF[4]} THEN 4
              WHEN u < {_POIS_CDF[5]} THEN 5
              ELSE 6 END AS w
  FROM u
), rep AS (
  SELECT b,
         CAST(SUM(w * CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
           / CAST(SUM(w) AS BIGINT) AS m
  FROM w GROUP BY b
), ranked AS (
  SELECT m, row_number() OVER (ORDER BY m, b) AS rk FROM rep
)
SELECT CAST({_BOOT_B} AS BIGINT) AS b_replicas,
       CAST((SELECT COUNT(*) FROM orders WHERE o_orderkey IS NOT NULL)
            AS BIGINT) AS n_rows,
       (SELECT CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
               / COUNT(*)
        FROM orders WHERE o_orderkey IS NOT NULL) AS point_mean,
       (SELECT m FROM ranked WHERE rk = 1) AS ci_low,
       (SELECT m FROM ranked WHERE rk = {_BOOT_B - 1}) AS ci_high
"""


@query("stats_poisson_bootstrap_ci", _BOOTSTRAP_ORACLE)
def stats_poisson_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson bootstrap confidence interval for the mean order price —
    THE distributed bootstrap (Chamandy et al., Google 2012): instead
    of resampling n rows with replacement (which needs global
    coordination), each row independently receives a Poisson(1) weight
    per replica; for large n the replica statistics are distributed as
    classical bootstrap replicas.  Weights are deterministic here —
    md5(key:replica) -> exact 52-bit uniform -> pinned inverse-CDF
    thresholds — so both engines draw the IDENTICAL 'random' weights
    and the 95% empirical CI (rank 1 / rank B-1 of B=40 replica means)
    hash-matches to the bit.

    Scale: one explode by B, one (replica) groupBy with map-side
    combine — each task emits B partial rows; the B-row replica frame
    is the only thing globally sorted.  B scales the cost linearly and
    independently of n; per-replica sums are exact decimals so the
    replica means are order-independent."""
    (orders,) = _t(spark, sf_dir, "orders")
    base = orders.filter(F.col("o_orderkey").isNotNull())
    # r15 measured-and-REJECTED: removing the explode entirely —
    # 40 per-row weight columns in map-side projections feeding ONE
    # 80-sum global HashAggregate (zero row blowup, one exchange of 80
    # partials) — ran 1.6x SLOWER (min-of-3 alternating gate reps 4.40
    # vs 7.17 s): the 41-field md5 projection plus the 80-buffer
    # aggregate blow past whole-stage codegen's field budget, and the
    # interpreted row path costs far more than iterating the exploded
    # 3M-row frame through codegen.  The explode-by-pairs + 20-group
    # aggregate below is the fastest measured shape.
    #
    # Cast to the exact decimal ONCE per base row, BEFORE the two
    # explodes (r15 opt, guide §1.2 step 2 / §2.3 narrower types
    # early): the cast used to sit inside the replica aggregate, so it
    # ran per (row x B) — 40x the conversions for identical values
    # (measured: 10.2s -> 6.8s on the isolated subplan).  w * decimal
    # and the decimal sum are unchanged, so every replica mean is
    # bit-identical.
    r = base.select(
        "o_orderkey",
        F.col("o_totalprice").cast("decimal(18,2)").alias("tp_dec"),
        F.explode(F.sequence(F.lit(0), F.lit(_BOOT_B // 2 - 1))).alias("p"),
    )
    # one md5 per (row, digest-pair): each digest yields TWO 52-bit
    # uniform lanes (hex 1-13 and 14-26) — halves the hash cost.
    # dg is its own projection so the two lanes share one evaluation
    # (CollapseProject keeps non-cheap aliases separate)
    d = r.select(
        "tp_dec",
        "p",
        F.md5(
            F.concat(
                F.col("o_orderkey").cast("string"),
                F.lit(":"),
                F.col("p").cast("string"),
            )
        ).alias("dg"),
    )

    # Poisson weight per lane DIRECTLY from the hex substring via the
    # pre-computed hex-domain thresholds (_POIS_CDF_HEX above): the
    # CASE runs as 6 memcmp string compares instead of conv() base-16
    # parse + double divide + double compare — identical weights
    # (exactness argument at _hex_thresholds), measured 6.35 -> 4.14 s
    # on the isolated replica pipeline.
    def _w(start: int):
        h = F.substring("dg", start, 13)
        w = F.when(h < _POIS_CDF_HEX[0], 0)
        for k in range(1, 6):
            w = w.when(h < _POIS_CDF_HEX[k], k)
        return w.otherwise(6)

    # Aggregate BY DIGEST ROW (p), both lanes at once (r15 opt, guide
    # §2.3 aggregate before you shuffle / shuffle fewer rows): the
    # 2-lane explode used to double the frame to 6M rows before the
    # groupBy; summing each lane's (w*price, w) in the same 3M-row
    # pass and expanding to the two replicas AFTER aggregation feeds
    # the exchange 20 groups x 4 sums instead of 40 x 2 over twice the
    # rows.  Decimal sums are exact and order-independent, so each
    # replica mean is bit-identical to the exploded form.
    lanes = d.select(
        "tp_dec", "p", _w(1).alias("w1"), _w(14).alias("w2")
    )
    rep_p = lanes.groupBy("p").agg(
        F.sum(F.col("w1") * F.col("tp_dec")).alias("s1"),
        F.sum("w1").alias("c1"),
        F.sum(F.col("w2") * F.col("tp_dec")).alias("s2"),
        F.sum("w2").alias("c2"),
    )
    rep = rep_p.select(
        F.explode(
            F.array(
                F.struct(
                    (2 * F.col("p")).cast("long").alias("b"),
                    (F.col("s1").cast("double") / F.col("c1").cast("bigint")).alias("m"),
                ),
                F.struct(
                    (2 * F.col("p") + 1).cast("long").alias("b"),
                    (F.col("s2").cast("double") / F.col("c2").cast("bigint")).alias("m"),
                ),
            )
        ).alias("x")
    ).select("x.b", "x.m")
    ranked = rep.withColumn(
        "rk", F.row_number().over(Window.orderBy("m", "b"))
    )
    # BOTH CI bounds from ONE aggregate over the ranked B-row frame:
    # separate rk==1 / rk==B-1 filters each became their own broadcast
    # subtree, and Spark does not share subtrees across broadcasts —
    # the explode-by-B + md5 pipeline (the dominant cost) executed
    # TWICE (r15 opt: plans/r15/stats_poisson_bootstrap_ci_before.txt
    # shows 2 md5 evaluations; _after.txt shows 1; guide §2.4 —
    # remove duplicated heavy subtrees before tuning anything inside
    # them).  max(when(...)) over the two surviving rows is exact.
    ci = ranked.filter(
        (F.col("rk") == 1) | (F.col("rk") == _BOOT_B - 1)
    ).agg(
        F.max(F.when(F.col("rk") == 1, F.col("m"))).alias("ci_low"),
        F.max(F.when(F.col("rk") == _BOOT_B - 1, F.col("m"))).alias(
            "ci_high"
        ),
    )
    point = base.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        (
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double")
            / F.count(F.lit(1))
        ).alias("point_mean"),
    )
    return (
        point.crossJoin(F.broadcast(ci))
        .select(
            F.lit(_BOOT_B).cast("bigint").alias("b_replicas"),
            "n_rows",
            "point_mean",
            "ci_low",
            "ci_high",
        )
    )


_CSV_QUARANTINE_ORACLE = """
SELECT CAST(COUNT(*) AS BIGINT) AS n_total,
       CAST(COUNT(*) FILTER (WHERE o_orderkey % 97 != 0) AS BIGINT)
         AS n_clean,
       CAST(COUNT(*) FILTER (WHERE o_orderkey % 97 = 0) AS BIGINT)
         AS n_quarantined,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
              FILTER (WHERE o_orderkey % 97 != 0) AS DOUBLE)
         AS clean_revenue
FROM orders WHERE o_orderkey IS NOT NULL
"""


@query("csv_permissive_quarantine", _CSV_QUARANTINE_ORACLE)
def csv_permissive_quarantine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Malformed-row quarantine — the PERMISSIVE twin of the S1
    FAILFAST gate: every 97th order's price is corrupted ('bad<price>')
    before a CSV round-trip; the re-read uses an explicit schema plus
    columnNameOfCorruptRecord, so damaged rows land in the quarantine
    column instead of killing the job OR silently vanishing.  The gate
    proves the exact split: quarantined count == planted count, clean
    aggregate == the oracle's aggregate over the undamaged keys — a
    row misrouted either way shifts a BIGINT.

    Scale: quarantine is scan-time per-row routing (no extra pass);
    the corrupt column is pruned away on the clean path.  This is the
    badRecordsPath pattern every production CSV ingest runs; FAILFAST
    (S1) remains the contract for schema-critical feeds."""
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    (orders,) = _t(spark, sf_dir, "orders")
    staged = (
        orders.filter(F.col("o_orderkey").isNotNull())
        .select(
            "o_orderkey",
            F.when(
                F.col("o_orderkey") % 97 == 0,
                F.concat(F.lit("bad"), F.col("o_totalprice").cast("string")),
            )
            .otherwise(F.col("o_totalprice").cast("string"))
            .alias("o_totalprice"),
            "o_orderpriority",
        )
    )
    schema = StructType(
        [
            StructField("o_orderkey", LongType()),
            StructField("o_totalprice", DoubleType()),
            StructField("o_orderpriority", StringType()),
            StructField("_corrupt_record", StringType()),
        ]
    )
    with scratch() as root:
        path = f"{root}/orders"
        staged.write.option("header", True).mode("overwrite").csv(path)
        back = (
            spark.read.schema(schema)
            .option("header", True)
            .option("mode", "PERMISSIVE")
            .option("columnNameOfCorruptRecord", "_corrupt_record")
            .csv(path)
            # PERMISSIVE populates _corrupt_record lazily from the same
            # scan; cache() is the documented requirement before
            # referencing it alongside parsed columns
            .cache()
        )
        bad = F.col("_corrupt_record").isNotNull()
        out = back.agg(
            F.count(F.lit(1)).alias("n_total"),
            F.sum(F.when(~bad, 1).otherwise(0)).cast("bigint").alias("n_clean"),
            F.sum(F.when(bad, 1).otherwise(0))
            .cast("bigint")
            .alias("n_quarantined"),
            F.sum(F.when(~bad, F.col("o_totalprice").cast("decimal(18,2)")))
            .cast("double")
            .alias("clean_revenue"),
        )
        snap = materialize(out)
        back.unpersist()
    return snap


_COMPACT_REWRITE_ORACLE = """
SELECT CAST(1 AS BIGINT) AS frag_files_ge_appends,
       CAST(1 AS BIGINT) AS n_files_compacted,
       CAST(6 AS BIGINT) AS final_version,
       CAST(COUNT(*) AS BIGINT) AS n_rows_latest,
       CAST(COUNT(*) AS BIGINT) AS n_rows_pre_compaction,
       CAST(SUM(CAST(s_acctbal AS DECIMAL(18,2))) AS DOUBLE)
         AS bal_latest
FROM supplier
"""


@query("manifest_compaction_rewrite", _COMPACT_REWRITE_ORACLE)
def manifest_compaction_rewrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compaction as a REWRITE commit on the manifest table
    (io/manifest.py): five fragmented appends (3 files each by
    explicit repartition) are compacted by reading the snapshot and
    committing a single-file rewrite.  The gate pins the whole ledger:
    >= 5 fragmented files before (the exact count is rows-per-
    partition-dependent across SFs, so the invariant is pinned, not
    the number), exactly 1 after, version 6 at the end, row counts
    identical at version 5 (pre-compaction) and 6 (post-compaction),
    and the exact-decimal balance preserved — a compaction that loses
    or duplicates a row, or a rewrite that appends instead of
    replacing, shifts a BIGINT.

    Scale: on a real table the rewrite is per-partition (only touched
    partitions' files swap) and old files age out via vacuum — the
    manifest semantics here are exactly those, minus retention."""
    from automated_etl_pipeline_spark.io.manifest import (
        commit_append,
        commit_rewrite,
        current_version,
        manifest_files,
        read_table,
    )

    (sup,) = _t(spark, sf_dir, "supplier")
    # narrow to the 2 columns the ledger aggregates (r15 opt, guide
    # §2.3/§6): fragments, the compaction read AND its rewrite carried
    # all 7 supplier columns for identical counts/balance
    sup = sup.select("s_suppkey", "s_acctbal")
    with scratch() as root:
        for k in range(5):
            commit_append(
                sup.filter(F.col("s_suppkey") % 5 == k).repartition(3),
                root,
                f"frag-{k}",
            )
        n_frag = len(manifest_files(root))
        # production shape (r14): capture the base version FIRST, read
        # the snapshot AT that version, and conflict-check the rewrite
        # against it.  The r13 shape resolved expected_base AFTER
        # read_table had already pinned its file list, so a commit
        # landing between the two calls passed the check while the
        # rewritten df held the older snapshot — the exact lost-update
        # the check exists to prevent (r13 ADVICE, medium).
        base = current_version(root)
        pre = read_table(spark, root, version=base).count()
        compacted = read_table(spark, root, version=base).repartition(1)
        commit_rewrite(compacted, root, "compact-1", expected_base=base)
        n_comp = len(manifest_files(root))
        ver = current_version(root)
        latest = read_table(spark, root)
        agg = latest.agg(
            F.count(F.lit(1)).alias("n_rows_latest"),
            dsum("s_acctbal", alias="bal_latest"),
        ).collect()[0]
        out = spark.createDataFrame(
            [
                (
                    # r14: the exact fragment count (15 at sf0.01) is
                    # rows-per-partition-dependent — a 2-row slice under
                    # repartition(3) writes only its non-empty files, so
                    # the old pin failed at sf0.001.  Pin the invariant
                    # instead: every append produced at least one file.
                    int(n_frag >= 5),
                    n_comp,
                    ver,
                    agg["n_rows_latest"],
                    pre,
                    agg["bal_latest"],
                )
            ],
            "frag_files_ge_appends long, n_files_compacted long, "
            "final_version long, n_rows_latest long, "
            "n_rows_pre_compaction long, bal_latest double",
        )
    return out


_ZONE_MAP_MULTICOL_ORACLE = """
WITH o AS (
  SELECT CAST(floor((EXTRACT(year FROM o_orderdate) - 1992) / 2.0) AS BIGINT)
           AS ybin,
         CAST(floor(o_totalprice / 200000.0) AS BIGINT) AS band,
         o_totalprice
  FROM orders
), fb AS (
  SELECT ybin, band,
         MIN(o_totalprice) AS mn, MAX(o_totalprice) AS mx
  FROM o GROUP BY 1, 2
), hit AS (
  SELECT * FROM o
  WHERE ybin BETWEEN 1 AND 2
    AND o_totalprice BETWEEN 150000.0 AND 380000.0
)
SELECT CAST((SELECT COUNT(*) FROM fb) AS BIGINT) AS files_total,
       CAST((SELECT COUNT(*) FROM fb
             WHERE ybin BETWEEN 1 AND 2
               AND mn <= 380000.0 AND mx >= 150000.0) AS BIGINT)
         AS files_scanned,
       CAST((SELECT COUNT(*) FROM hit) AS BIGINT) AS n_rows_pred,
       CAST((SELECT CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
                    AS DOUBLE) FROM hit) AS DOUBLE) AS bal_pred,
       CAST((SELECT COUNT(*) FROM hit) AS BIGINT) AS n_rows_fullscan
"""


@query("zone_map_multicol_pruning", _ZONE_MAP_MULTICOL_ORACLE)
def zone_map_multicol_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-column zone maps + partition-value pruning (r14, VERDICT
    r13 ask #8): orders land one file per (ybin, band) cell — ybin =
    2-year partition bucket (a PARTITION-VALUE column: per-file
    min == max by construction), band = a 200k totalprice band (a
    SORT-style column whose per-file [min, max] is a real range) —
    with BOTH columns' stats recorded at commit time
    (``stats_cols=["o_ybin", "o_totalprice"]``).  A conjunctive
    predicate (ybin range AND totalprice range) must then scan exactly
    the files whose stats intersect on EVERY column: the oracle
    re-derives files_total and files_scanned from per-cell extremes,
    and the pruned read's result is proven equal to the full-scan
    result (row count + exact-decimal balance).  A pruner that drops a
    qualifying file, fails to skip a disjoint one, or ANDs the columns
    wrong shifts a BIGINT.

    Scale: this is the 100-TB layout — hive-style partition values and
    within-partition sort columns pruned by ONE mechanism (file stats
    in the manifest, parquet footers in production): a selective
    2-dimensional predicate touches the handful of (partition, band)
    cells it names, independent of table size.  Partition pruning is
    the min == max degenerate case, exactly as in Iceberg/Delta."""
    import glob
    import os

    from automated_etl_pipeline_spark.io.manifest import (
        commit_add_files,
        read_table,
        read_table_pruned,
        stage_dir,
    )

    (orders,) = _t(spark, sf_dir, "orders")
    binned = orders.select(
        F.floor((F.year("o_orderdate") - F.lit(1992)) / F.lit(2.0))
        .cast("long")
        .alias("o_ybin"),
        F.floor(F.col("o_totalprice") / F.lit(200000.0))
        .cast("long")
        .alias("o_band"),
        "o_totalprice",
    )
    with scratch() as root:
        # ONE partitioned write lays out one file per (ybin, band)
        # cell, then ONE commit registers them all (r15 opt, guide §8:
        # one pass moves the bytes, metadata work is a single grouped
        # aggregate).  The old shape collected the distinct cells to
        # the driver and ran commit_append per cell — 2 Spark jobs per
        # cell, each re-scanning orders (~25 jobs at sf0.1; O(cells)
        # at 100 TB — exactly the driver-side file-ops loop the guide
        # bans).  repartition on the cell columns puts each cell
        # wholly in one task, so partitionBy writes EXACTLY one file
        # per cell — same layout, same stats, identical read results.
        stage = stage_dir(root)
        (
            binned.withColumn("pb", F.col("o_ybin"))
            .withColumn("bb", F.col("o_band"))
            .repartition(F.col("o_ybin"), F.col("o_band"))
            .drop("o_band")
            .write.partitionBy("pb", "bb")
            .parquet(stage)
        )
        files = sorted(
            glob.glob(os.path.join(stage, "pb=*", "bb=*", "*.parquet"))
        )
        commit_add_files(
            spark,
            files,
            root,
            "cells",
            stats_cols=["o_ybin", "o_totalprice"],
        )
        pruned, n_total, n_scanned = read_table_pruned(
            spark,
            root,
            predicates={
                "o_ybin": (1, 2),
                "o_totalprice": (150000.0, 380000.0),
            },
        )
        pred = (F.col("o_ybin").between(1, 2)) & (
            F.col("o_totalprice").between(150000.0, 380000.0)
        )
        agg = (
            pruned.filter(pred)
            .agg(
                F.count(F.lit(1)).alias("n_rows_pred"),
                dsum("o_totalprice", alias="bal_pred"),
            )
            .collect()[0]
        )
        full_n = read_table(spark, root).filter(pred).count()
        out = spark.createDataFrame(
            [
                (
                    n_total,
                    n_scanned,
                    agg["n_rows_pred"],
                    agg["bal_pred"],
                    full_n,
                )
            ],
            "files_total long, files_scanned long, n_rows_pred long, "
            "bal_pred double, n_rows_fullscan long",
        )
    return out


# Final logical content after the MoR commit sequence below, as one
# predicate per row (the three branches are DISJOINT: the first
# excludes %8 IN (1,2); %8=1 implies %4=1, never 3):
#   v1+v2 survivors: %4 IN (0,1,2) AND %8 NOT IN (1,2)
#   v4 fresh:        %4 = 3
#   v4 re-insert:    %8 = 1   (deleted at v3, re-inserted at v4 —
#                              survives by the sequence rule)
_MOR_FINAL = (
    "((o_orderkey % 4 IN (0,1,2) AND o_orderkey % 8 NOT IN (1,2)) "
    "OR o_orderkey % 4 = 3 OR o_orderkey % 8 = 1)"
)
_MOR_DELETE_ORACLE = f"""
SELECT o_orderpriority,
       CAST(COUNT(*) FILTER (WHERE {_MOR_FINAL}) AS BIGINT) AS n_final,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
              FILTER (WHERE {_MOR_FINAL}) AS DOUBLE) AS rev_final,
       CAST(COUNT(*) FILTER (WHERE {_MOR_FINAL}) AS BIGINT) AS n_compacted,
       CAST(COUNT(*) FILTER (WHERE o_orderkey % 4 IN (0,1,2)) AS BIGINT)
         AS n_pre_delete,
       CAST(1 AS BIGINT) AS dels_live_before,
       CAST(0 AS BIGINT) AS dels_live_after
FROM orders
GROUP BY o_orderpriority ORDER BY o_orderpriority
"""


@query("manifest_delete_merge_on_read", _MOR_DELETE_ORACLE)
def manifest_delete_merge_on_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merge-on-read equality DELETE on the manifest table
    (io/manifest.commit_delete): orders land in two appends (v1:
    key%4 in 0,1; v2: key%4=2); v3 DELETES the keys with key%8 in
    (1,2) by staging a delete-key file — zero data files rewritten;
    v4 appends key%4=3 plus a RE-INSERT of the key%8=1 rows.  The
    gate proves all three contract points at once: (a) the final read
    hides exactly the v1/v2 rows whose keys were deleted while the
    v4 re-inserts survive (Iceberg's delete.at > file.added_at
    sequence rule — each re-inserted key appears ONCE); (b) a
    time-travel read of v2 still sees every pre-delete row; (c) a
    compaction rewrite materializes the deletes (same aggregate from
    the compacted files) and clears the pending delete list (the
    before/after flags).  Any wrong row shifts a BIGINT count or the
    DECIMAL-exact revenue.

    Scale: this is how a 100-TB table serves GDPR-style deletions —
    the delete commit is O(keys), reads add one broadcast-size
    anti-join per delete generation (AQE picks broadcast, no hint),
    and the cost is repaid at the next scheduled compaction."""
    from automated_etl_pipeline_spark.io.manifest import (
        commit_append,
        commit_delete,
        commit_rewrite,
        current_version,
        manifest_delete_files,
        read_table,
    )

    (orders,) = _t(spark, sf_dir, "orders")
    # narrow to the 3 columns the gate aggregates / deletes on before
    # any append stages (r15 opt, guide §2.3/§6): the appends, the
    # compaction rewrite and every read carried all 9 orders columns
    # (comment/clerk dominate) for identical results
    orders = orders.select("o_orderkey", "o_orderpriority", "o_totalprice")
    k = F.col("o_orderkey")
    with scratch() as root:
        commit_append(orders.filter(k % 4 < 2), root, "a1")
        commit_append(orders.filter(k % 4 == 2), root, "a2")
        pre = read_table(spark, root)  # v2 file list pinned here
        commit_delete(
            orders.filter((k % 8).isin(1, 2)).select("o_orderkey"),
            root,
            "d1",
            ["o_orderkey"],
        )
        commit_append(
            orders.filter((k % 4 == 3) | (k % 8 == 1)), root, "a3"
        )
        dels_before = 1 if manifest_delete_files(root) else 0
        final = read_table(spark, root)
        base = current_version(root)
        commit_rewrite(
            read_table(spark, root), root, "compact", expected_base=base
        )
        dels_after = 1 if manifest_delete_files(root) else 0
        compacted = read_table(spark, root)

        def agg(df, n_name, rev=False):
            cols = [F.count(F.lit(1)).alias(n_name)]
            if rev:
                cols.append(dsum("o_totalprice", alias="rev_final"))
            return df.groupBy("o_orderpriority").agg(*cols)

        out = (
            agg(final, "n_final", rev=True)
            .join(agg(compacted, "n_compacted"), "o_orderpriority")
            .join(agg(pre, "n_pre_delete"), "o_orderpriority")
            .select(
                "o_orderpriority",
                F.col("n_final").cast("bigint").alias("n_final"),
                "rev_final",
                F.col("n_compacted").cast("bigint").alias("n_compacted"),
                F.col("n_pre_delete").cast("bigint").alias("n_pre_delete"),
                F.lit(dels_before).cast("bigint").alias("dels_live_before"),
                F.lit(dels_after).cast("bigint").alias("dels_live_after"),
            )
            .orderBy("o_orderpriority")
        )
        snap = materialize(out)
    return snap.orderBy("o_orderpriority")


_MV_REFRESH_ORACLE = """
SELECT l_returnflag,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
         AS sum_price,
       CAST(3 AS BIGINT) AS n_incremental,
       CAST(1 AS BIGINT) AS n_full,
       CAST(1 AS BIGINT) AS noop_ok
FROM lineitem WHERE l_orderkey % 10 != 0
GROUP BY l_returnflag ORDER BY l_returnflag
"""


@query("mv_incremental_refresh", _MV_REFRESH_ORACLE)
def mv_incremental_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incrementally maintained materialized view (io/mv.py) over the
    manifest change feed: lineitem lands in three appends
    (l_linenumber <=2, 3-4, >=5), each followed by a refresh that
    folds ONLY the newly appended files into the stored partials —
    then a merge-on-read DELETE (keys with l_orderkey % 10 = 0) forces
    the declared fallback, ONE full recompute from the post-delete
    snapshot, and a final no-op refresh proves the watermark.  The MV
    read must hash-match a plain SQL aggregate of the surviving rows:
    counts are integer sums and the measures exact DECIMAL partials,
    so the incremental fold is bit-identical to recomputation — any
    double-fold, missed delta, or stale watermark shifts a BIGINT or
    an exact decimal.  The refresh-mode sequence (3 incremental, 1
    full, then noop) is emitted and pinned by the oracle's literals.

    Scale: each refresh scans only the appended files (driver-side
    manifest diff) and ships one partial row per group — the
    dashboard-refresh pattern at 100 TB, where re-aggregating the
    whole table per refresh is the thing this operator exists to
    avoid."""
    from automated_etl_pipeline_spark.io.manifest import (
        commit_append,
        commit_delete,
    )
    from automated_etl_pipeline_spark.io.mv import IncrementalAggView

    (li,) = _t(spark, sf_dir, "lineitem")
    # project to the 5 columns the view + delete key actually touch
    # BEFORE anything is staged (r15 opt, guide §2.3/§6): the appends
    # used to write all 16 lineitem columns and every refresh re-read
    # them — 4x the bytes staged, scanned and delta-folded for
    # identical MV results (comment/shipinstruct dominate row width)
    li = li.select(
        "l_orderkey",
        "l_linenumber",
        "l_returnflag",
        "l_quantity",
        "l_extendedprice",
    )
    ln = F.col("l_linenumber")
    with scratch() as root:
        src, mv_root = f"{root}/src", f"{root}/mv"
        view = IncrementalAggView(
            src,
            mv_root,
            ["l_returnflag"],
            sum_cols={"sum_qty": "l_quantity", "sum_price": "l_extendedprice"},
        )
        modes = []
        for i, pred in enumerate([ln <= 2, ln.between(3, 4), ln >= 5]):
            commit_append(li.filter(pred), src, f"a{i}")
            modes.append(view.refresh(spark)["mode"])
        commit_delete(
            li.filter(F.col("l_orderkey") % 10 == 0).select("l_orderkey"),
            src,
            "d1",
            ["l_orderkey"],
        )
        modes.append(view.refresh(spark)["mode"])
        noop_ok = 1 if view.refresh(spark)["mode"] == "noop" else 0
        out = (
            view.read(spark)
            .select(
                "l_returnflag",
                F.col("n").cast("bigint").alias("n"),
                F.col("sum_qty").cast("double").alias("sum_qty"),
                F.col("sum_price").cast("double").alias("sum_price"),
                F.lit(modes.count("incremental"))
                .cast("bigint")
                .alias("n_incremental"),
                F.lit(modes.count("full")).cast("bigint").alias("n_full"),
                F.lit(noop_ok).cast("bigint").alias("noop_ok"),
            )
            .orderBy("l_returnflag")
        )
        snap = materialize(out)
    return snap.orderBy("l_returnflag")


_MV_CDF_ORACLE = """
SELECT l_returnflag,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
       CAST(2 AS BIGINT) AS n_incremental,
       CAST(1 AS BIGINT) AS n_cdf,
       CAST(0 AS BIGINT) AS n_full,
       CAST(1 AS BIGINT) AS noop_ok
FROM lineitem WHERE l_orderkey % 7 != 0
GROUP BY l_returnflag ORDER BY l_returnflag
"""


@query("mv_cdf_retraction_refresh", _MV_CDF_ORACLE)
def mv_cdf_retraction_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change-data-feed retraction folding (io/mv.py + io/manifest.py
    ``record_changes``): two lineitem appends refresh incrementally,
    then a DELETE that RECORDED its victim rows at commit time
    (``commit_delete(record_changes=True)`` — Delta CDF's idea)
    refreshes as NEGATIVE partials via ``read_changes_cdf`` instead of
    the full recompute an unrecorded delete forces; a final no-op
    refresh pins the watermark.  The MV must hash-match the plain SQL
    aggregate of the surviving rows — exact DECIMAL partials make
    insert-fold minus retraction-fold bit-identical to recomputation —
    and the mode sequence (2 incremental, 1 incremental_cdf, 0 full)
    is pinned by the oracle's literals: a full-recompute regression or
    a double-fold shifts a BIGINT.

    Scale: the retraction delta costs one semi-join at DELETE-commit
    time (amortized into the commit) and the refresh stays O(changes)
    — at 100 TB, the difference between a dashboard refresh reading a
    few delete files and re-aggregating the table."""
    from automated_etl_pipeline_spark.io.manifest import (
        commit_append,
        commit_delete,
    )
    from automated_etl_pipeline_spark.io.mv import IncrementalAggView

    (li,) = _t(spark, sf_dir, "lineitem")
    # narrow to the touched columns before staging (r15 opt, guide
    # §2.3/§6 — same rationale as mv_incremental_refresh): the CDF
    # delete records victim ROWS at commit time, so slim rows also
    # shrink the recorded change files the refresh folds
    li = li.select(
        "l_orderkey", "l_linenumber", "l_returnflag", "l_quantity"
    )
    with scratch() as root:
        src, mv_root = f"{root}/src", f"{root}/mv"
        view = IncrementalAggView(
            src, mv_root, ["l_returnflag"], sum_cols={"sum_qty": "l_quantity"}
        )
        modes = []
        for i, pred in enumerate(
            [F.col("l_linenumber") <= 3, F.col("l_linenumber") >= 4]
        ):
            commit_append(li.filter(pred), src, f"a{i}")
            modes.append(view.refresh(spark)["mode"])
        commit_delete(
            li.filter(F.col("l_orderkey") % 7 == 0).select("l_orderkey"),
            src,
            "d1",
            ["l_orderkey"],
            record_changes=True,
        )
        modes.append(view.refresh(spark)["mode"])
        noop_ok = 1 if view.refresh(spark)["mode"] == "noop" else 0
        out = (
            view.read(spark)
            .select(
                "l_returnflag",
                F.col("n").cast("bigint").alias("n"),
                F.col("sum_qty").cast("double").alias("sum_qty"),
                F.lit(modes.count("incremental"))
                .cast("bigint")
                .alias("n_incremental"),
                F.lit(modes.count("incremental_cdf"))
                .cast("bigint")
                .alias("n_cdf"),
                F.lit(modes.count("full")).cast("bigint").alias("n_full"),
                F.lit(noop_ok).cast("bigint").alias("noop_ok"),
            )
            .orderBy("l_returnflag")
        )
        snap = materialize(out)
    return snap.orderBy("l_returnflag")


_STREAM_MANIFEST_SINK_ORACLE = """
SELECT o_orderstatus,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
       CAST(4 AS BIGINT) AS committed_version,
       CAST(1 AS BIGINT) AS replay_noop_ok
FROM orders WHERE o_orderkey IS NOT NULL
GROUP BY o_orderstatus ORDER BY o_orderstatus
"""


@query(
    "streaming_manifest_sink_exactly_once",
    _STREAM_MANIFEST_SINK_ORACLE,
    executes_stream=True,
)
def streaming_manifest_sink_exactly_once(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Exactly-once streaming sink into the manifest table
    (streaming/manifest_sink.py): orders split into four drop files
    (key % 4), drained through a file stream at one file per trigger
    -> foreachBatch -> commit_append under run_id (query, batch_id) —
    one atomic table version per micro-batch.  After the drain, batch
    0 is RE-DELIVERED through the same committer (the crash window
    between manifest publish and checkpoint advance): the run_id
    ledger must no-op it, leaving version and content untouched.  The
    gate hash-checks the final table against the plain orders
    aggregate and pins version==4 and the replay flag — a double
    append shifts every count, a missed batch shifts the version.

    Scale: this is the streaming half of the table format — each
    micro-batch is one driver-side publish-if-absent over O(batch)
    files, readers tail committed versions (read_changes) and the
    incremental MV (io/mv.py) folds them without re-reading the
    table.  The same (appId, batchId) txn recipe Delta's streaming
    sink rides."""
    from automated_etl_pipeline_spark.io.manifest import (
        current_version,
        read_table,
    )
    from automated_etl_pipeline_spark.streaming.manifest_sink import (
        manifest_batch_committer,
        run_stream_to_manifest,
    )
    from automated_etl_pipeline_spark.streaming.windows import _stream_parts

    (orders,) = _t(spark, sf_dir, "orders")
    orders = orders.filter(F.col("o_orderkey").isNotNull())
    # narrow to the split key + the 2 aggregated columns before the
    # drop files are written (r15 opt, guide §2.3/§6): the 4 drop
    # files, the stream scan and every manifest append carried all 9
    # orders columns for identical per-status aggregates
    orders = orders.select("o_orderkey", "o_orderstatus", "o_totalprice")
    with scratch() as root:
        drop, tbl, state = f"{root}/drop", f"{root}/tbl", f"{root}/state"
        for i in range(4):
            orders.filter(F.col("o_orderkey") % 4 == i).coalesce(
                1
            ).write.mode("append").parquet(drop)
        with _stream_parts(spark):
            v = run_stream_to_manifest(
                spark, drop, orders.schema, tbl, state
            )
        # replay of an already-committed batch_id (same query name the
        # runner used): must be absorbed by the run_id ledger
        manifest_batch_committer(tbl, "ingest")(
            orders.filter(F.col("o_orderkey") % 4 == 0), 0
        )
        replay_ok = 1 if current_version(tbl) == v else 0
        out = (
            read_table(spark, tbl)
            .groupBy("o_orderstatus")
            .agg(
                F.count(F.lit(1)).alias("n_orders"),
                dsum("o_totalprice", alias="revenue"),
            )
            .select(
                "o_orderstatus",
                F.col("n_orders").cast("bigint").alias("n_orders"),
                "revenue",
                F.lit(v).cast("bigint").alias("committed_version"),
                F.lit(replay_ok).cast("bigint").alias("replay_noop_ok"),
            )
            .orderBy("o_orderstatus")
        )
        snap = materialize(out)
    return snap.orderBy("o_orderstatus")


_BUCKETED_JOIN_ORACLE = """
SELECT o.o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n_lines,
       CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
         AS revenue
FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
WHERE o.o_orderkey IS NOT NULL
GROUP BY o.o_orderpriority ORDER BY o.o_orderpriority
"""


@query("bucketed_colocated_join", _BUCKETED_JOIN_ORACLE)
def bucketed_colocated_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle-free fact-fact join via bucketing: orders and lineitem
    are written as 8-bucket tables on the join key (bucketBy + sortBy,
    external-path tables), so the sort-merge join reads both sides
    ALREADY co-partitioned — no exchange on either join input, the
    layout IS the shuffle, paid once at write time and amortized over
    every subsequent join.  This is the standard answer when BOTH
    sides are too big to broadcast and the join repeats (the fact-fact
    case broadcast can't touch); tests/test_plans.py asserts the
    executed plan has zero join-input exchanges and bucketed scans.

    The merge hint pins SMJ so the gate exercises the bucketed path
    even at gate scale (AQE would otherwise broadcast the small side
    here — at production scale neither side qualifies)."""
    import uuid

    orders, li = _t(spark, sf_dir, "orders", "lineitem")
    tag = uuid.uuid4().hex[:8]
    to, tl = f"bkt_orders_{tag}", f"bkt_lineitem_{tag}"
    with scratch() as base:
        try:
            # bucket only the join key + the aggregated column (r15 opt,
            # guide §2.3/§6 — the layout shuffle is paid on 2 columns per
            # side instead of 9/16; join, bucketed-scan plan shape and the
            # per-priority aggregate are identical)
            (
                orders.filter(F.col("o_orderkey").isNotNull())
                .select("o_orderkey", "o_orderpriority")
                .write.bucketBy(8, "o_orderkey")
                .sortBy("o_orderkey")
                .option("path", f"{base}/{to}")
                .saveAsTable(to)
            )
            (
                li.filter(F.col("l_orderkey").isNotNull())
                .select("l_orderkey", "l_extendedprice")
                .write.bucketBy(8, "l_orderkey")
                .sortBy("l_orderkey")
                .option("path", f"{base}/{tl}")
                .saveAsTable(tl)
            )
            o = spark.table(to).hint("merge")
            l = spark.table(tl)
            out = (
                o.join(l, o["o_orderkey"] == l["l_orderkey"])
                .groupBy("o_orderpriority")
                .agg(
                    F.count(F.lit(1)).alias("n_lines"),
                    F.sum(
                        F.col("l_extendedprice").cast("decimal(18,2)")
                    )
                    .cast("double")
                    .alias("revenue"),
                )
                .orderBy("o_orderpriority")
            )
            snap = materialize(out)
        finally:
            spark.sql(f"DROP TABLE IF EXISTS {to}")
            spark.sql(f"DROP TABLE IF EXISTS {tl}")
    return snap.orderBy("o_orderpriority")


# ---------------------------------------------------------------------------
# r15 manifest-table wave (VERDICT r14 asks #1, #5, #6): bloom
# point-lookup file skipping, column renames over stable column IDs,
# timestamp time travel.
# ---------------------------------------------------------------------------

_BLOOM_POINT_LOOKUP_ORACLE = """
WITH bounds AS (
  SELECT MIN(o_orderkey) AS mn, MAX(o_orderkey) AS mx FROM orders
),
keys AS (
  SELECT 'lo' AS probe, mn AS k FROM bounds
  UNION ALL
  SELECT 'mid', (SELECT MIN(o_orderkey) FROM orders
                 WHERE o_orderkey >= (SELECT mx // 2 FROM bounds))
  UNION ALL
  SELECT 'hi', mx FROM bounds
)
SELECT probe,
       CAST(k AS BIGINT) AS o_orderkey,
       CAST((SELECT COUNT(*) FROM orders o WHERE o.o_orderkey = keys.k)
            AS BIGINT) AS n_rows,
       CAST((SELECT SUM(CAST(o_totalprice AS DECIMAL(18,2)))
             FROM orders o WHERE o.o_orderkey = keys.k)
            AS DOUBLE) AS total,
       CAST(1 AS BIGINT) AS mid_bloom_lt_zone,
       CAST(1 AS BIGINT) AS mid_scan_lt_half,
       CAST(0 AS BIGINT) AS absent_rows,
       CAST(1 AS BIGINT) AS absent_scan_le_8
FROM keys ORDER BY probe
"""


@query("manifest_bloom_point_lookup", _BLOOM_POINT_LOOKUP_ORACLE)
def manifest_bloom_point_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom point-lookup file skipping on the manifest table (r15,
    VERDICT r14 ask #1).  Zone maps cannot prune ``key = k`` on a
    high-cardinality UNSORTED column — every file's [min, max]
    straddles the probe, so a one-row answer reads the whole table at
    100 TB.  This gate builds an 18-file manifest table from orders
    (one partitioned write laying out 3 unsorted files per
    ``o_orderkey % 6`` residue class, per-file 65536-bit Bloom
    sidecars committed via ``bloom_cols`` in a single
    ``commit_add_files``), then hash-gates three point lookups (global min /
    first-above-midpoint / global max keys — each derived identically
    in both engines) read through ``read_table_pruned(eq=...)``:

    - the returned ROWS equal the plain-table answer (pruning is
      exact: false positives are re-filtered, false negatives are
      impossible);
    - ``mid_bloom_lt_zone``: for the midpoint key, bloom+zone scans
      STRICTLY fewer files than the zone map alone — the zone-only
      read degenerates to (nearly) a full scan on the unsorted key
      while the bitmaps keep it at the owning append's files plus a
      measured-small false-positive tail;
    - ``mid_scan_lt_half`` / ``absent_scan_le_8``: margins pinned as
      booleans so the gate is SF-stable (file COUNTS shift with
      layout; the ordering invariants do not);
    - an absent key (max + 12345) returns zero rows.

    Scale: the pruning decision is driver-side metadata math — no
    Spark job runs to decide which files to read; at 1000 executors
    the saved work is the difference between 32768 tasks and ~5.
    SCALE_SMOKE_r15 measures files-scanned staying O(1) under 16x
    table growth while zone-only scanning grows O(files)."""
    import glob
    import os

    from automated_etl_pipeline_spark.io.manifest import (
        commit_add_files,
        read_table_pruned,
        stage_dir,
    )

    (orders,) = _t(spark, sf_dir, "orders")
    sub = orders.select("o_orderkey", "o_totalprice")
    with scratch() as root:
        # ONE partitioned write + ONE commit builds the same 18-file
        # layout the original 6 commit_append calls produced (r15 opt,
        # guide §8 / §2.4): bucket = key % 6 (so each file still holds
        # only its residue class — the pruning invariants depend on
        # that), sub-split = xxhash64(key) % 3 (3 unsorted files per
        # bucket, full key range each, exactly like the old
        # repartition(3)).  The old loop cost 6 x (write job + stats
        # job); this costs 1 write + 1 min/max pass + 1 bloom pass —
        # O(1) jobs, the shape that survives O(files) growth.
        stage = stage_dir(root)
        (
            sub.withColumn("b", F.col("o_orderkey") % 6)
            .withColumn(
                "s", F.pmod(F.xxhash64("o_orderkey"), F.lit(3))
            )
            .repartition(F.col("b"), F.col("s"))
            .write.partitionBy("b", "s")
            .parquet(stage)
        )
        files = sorted(
            glob.glob(os.path.join(stage, "b=*", "s=*", "*.parquet"))
        )
        commit_add_files(
            spark,
            files,
            root,
            "cells",
            stats_cols=["o_orderkey"],
            bloom_cols=["o_orderkey"],
            bloom_bits=65536,
        )
        mn, mx = sub.agg(
            F.min("o_orderkey"), F.max("o_orderkey")
        ).collect()[0]
        mid = sub.filter(F.col("o_orderkey") >= mx // 2).agg(
            F.min("o_orderkey")
        ).collect()[0][0]
        probes = [("lo", mn), ("mid", mid), ("hi", mx)]
        rows = []
        mid_bloom = mid_zone = total_files = 0
        for label, k in probes:
            pruned, n_total, n_bloom = read_table_pruned(
                spark, root, eq={"o_orderkey": int(k)}
            )
            got = (
                pruned.filter(F.col("o_orderkey") == int(k))
                .agg(
                    F.count(F.lit(1)).alias("n"),
                    F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
                    .cast("double")
                    .alias("total"),
                )
                .collect()[0]
            )
            rows.append((label, int(k), int(got["n"]), float(got["total"])))
            if label == "mid":
                # the zone-only comparison read matters only where the
                # zone map degenerates (midpoint on an unsorted key);
                # lo/hi keys ARE zone-prunable, so comparing there
                # would prove nothing
                _, _, n_zone = read_table_pruned(
                    spark, root, predicates={"o_orderkey": (int(k), int(k))}
                )
                mid_bloom, mid_zone, total_files = n_bloom, n_zone, n_total
        absent_df, _, n_absent_scan = read_table_pruned(
            spark, root, eq={"o_orderkey": int(mx) + 12345}
        )
        absent_rows = absent_df.filter(
            F.col("o_orderkey") == int(mx) + 12345
        ).count()
        out = spark.createDataFrame(
            rows, "probe string, o_orderkey long, n_rows long, total double"
        ).select(
            "probe",
            "o_orderkey",
            "n_rows",
            "total",
            F.lit(1 if mid_bloom < mid_zone else 0)
            .cast("bigint")
            .alias("mid_bloom_lt_zone"),
            F.lit(1 if mid_bloom < total_files / 2 else 0)
            .cast("bigint")
            .alias("mid_scan_lt_half"),
            F.lit(int(absent_rows)).cast("bigint").alias("absent_rows"),
            F.lit(1 if n_absent_scan <= 8 else 0)
            .cast("bigint")
            .alias("absent_scan_le_8"),
        )
    return out.orderBy("probe")


_COLUMN_RENAME_ORACLE = """
SELECT c_mktsegment,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
         AS acct_balance_sum,
       CAST(0 AS BIGINT) AS n_null_balance,
       CAST(1 AS BIGINT) AS v1_old_name_ok,
       CAST(1 AS BIGINT) AS fresh_reuse_null_ok
FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment
"""


@query("manifest_column_rename", _COLUMN_RENAME_ORACLE)
def manifest_column_rename(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column rename via stable column IDs (r15, VERDICT r14 ask #5;
    io/manifest.commit_rename).  v1 appends the even half of customer
    under ``c_acctbal``; a METADATA-ONLY commit renames it to
    ``acct_balance``; the odd half appends under the new name, and a
    final append REUSES the old name ``c_acctbal`` as a genuinely new
    column.  The gate hash-checks:

    - the unioned logical view sums ``acct_balance`` over ALL rows
      with ZERO nulls (``n_null_balance``): pre-rename files resolve
      their physical ``c_acctbal`` bytes to the new name through the
      id mapping — the distinction from drop+add, which would
      NULL-fill half the table;
    - ``v1_old_name_ok``: time travel to v1 still reads the
      pre-rename schema (renames never rewrite history);
    - ``fresh_reuse_null_ok``: the re-used old name is a FRESH column
      (new id) — pre-rename files' physical ``c_acctbal`` bytes must
      NOT leak into it (NULL everywhere except the final append).

    Scale: a rename at 100 TB moves zero data bytes — one manifest
    write; readers group files by physical-name signature (bounded by
    renames spanned, here 2 scans) with pushdown intact per scan."""
    from automated_etl_pipeline_spark.io.manifest import (
        commit_append,
        commit_rename,
        read_table,
    )

    (cust,) = _t(spark, sf_dir, "customer")
    base = cust.select("c_custkey", "c_mktsegment", "c_acctbal")
    k = F.col("c_custkey")
    with scratch() as root:
        commit_append(base.filter(k % 2 == 0), root, "a1")
        commit_rename(root, "r1", {"c_acctbal": "acct_balance"})
        commit_append(
            base.filter((k % 2 == 1) & (k % 5 != 0)).withColumnRenamed(
                "c_acctbal", "acct_balance"
            ),
            root,
            "a2",
        )
        commit_append(
            base.filter((k % 2 == 1) & (k % 5 == 0))
            .withColumnRenamed("c_acctbal", "acct_balance")
            .withColumn("c_acctbal", F.lit("fresh")),
            root,
            "a3",
        )
        v1_cols = read_table(spark, root, version=1).columns
        v1_old_name_ok = 1 if v1_cols == [
            "c_custkey", "c_mktsegment", "c_acctbal"
        ] else 0
        latest = read_table(spark, root)
        fresh_reuse_null_ok = (
            1
            if latest.filter(
                F.col("c_acctbal").isNotNull()
                & ~((k % 2 == 1) & (k % 5 == 0))
            ).count()
            == 0
            else 0
        )
        out = (
            latest.groupBy("c_mktsegment")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.col("acct_balance").cast("decimal(18,2)"))
                .cast("double")
                .alias("acct_balance_sum"),
                F.sum(F.col("acct_balance").isNull().cast("long"))
                .cast("bigint")
                .alias("n_null_balance"),
            )
            .select(
                "c_mktsegment",
                F.col("n").cast("bigint").alias("n"),
                "acct_balance_sum",
                "n_null_balance",
                F.lit(v1_old_name_ok).cast("bigint").alias("v1_old_name_ok"),
                F.lit(fresh_reuse_null_ok)
                .cast("bigint")
                .alias("fresh_reuse_null_ok"),
            )
            .orderBy("c_mktsegment")
        )
        snap = materialize(out)
    return snap.orderBy("c_mktsegment")


_TIME_TRAVEL_TS_ORACLE = """
SELECT o_orderpriority,
       CAST(COUNT(*) FILTER (WHERE o_orderkey % 3 != 2) AS BIGINT)
         AS n_asof_2500,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
              FILTER (WHERE o_orderkey % 3 != 2) AS DOUBLE)
         AS rev_asof_2500,
       CAST(COUNT(*) FILTER (WHERE o_orderkey % 3 = 0) AS BIGINT)
         AS n_asof_1000,
       CAST(1 AS BIGINT) AS early_raises,
       CAST(1 AS BIGINT) AS boundary_inclusive
FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority
"""


@query("manifest_time_travel_ts", _TIME_TRAVEL_TS_ORACLE)
def manifest_time_travel_ts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Timestamp time travel (r15, VERDICT r14 ask #6;
    io/manifest.resolve_as_of).  Three appends of orders split by
    ``o_orderkey % 3`` are stamped with PINNED synthetic commit
    times 1000/2000/3000 via ``commit_ts`` (no wall-clock
    nondeterminism — VERDICT's stamp-via-commit-metadata rule); the
    gate hash-checks:

    - ``read_table(as_of_ts=2500)`` resolves to v2 (splits 0 and 1);
    - ``as_of_ts=1000`` is INCLUSIVE at the boundary (resolves v1,
      pinned via ``boundary_inclusive``);
    - an as-of BEFORE the first commit raises instead of silently
      reading anything (``early_raises``).

    The vacuum-retention interaction (an expired as-of raises, never
    reads newer) is pinned by
    tests/test_manifest_r15.py::test_vacuum_expired_as_of_raises.

    Scale: as-of resolution is driver-side manifest metadata (newest-
    first scan, bounded by retained versions; a production port keeps
    a version->ts index) — no data is touched until the resolved
    snapshot's file list is handed to the scan."""
    from automated_etl_pipeline_spark.io.manifest import (
        commit_append,
        read_table,
        resolve_as_of,
    )

    (orders,) = _t(spark, sf_dir, "orders")
    sub = orders.select("o_orderkey", "o_totalprice", "o_orderpriority")
    with scratch() as root:
        for i, ts in enumerate([1000.0, 2000.0, 3000.0]):
            commit_append(
                sub.filter(F.col("o_orderkey") % 3 == i),
                root,
                f"a{i}",
                commit_ts=ts,
            )
        try:
            resolve_as_of(root, 999.0)
            early_raises = 0
        except ValueError:
            early_raises = 1
        boundary_inclusive = 1 if resolve_as_of(root, 1000.0) == 1 else 0
        asof_1000 = (
            read_table(spark, root, as_of_ts=1000.0)
            .groupBy("o_orderpriority")
            .agg(F.count(F.lit(1)).alias("n_asof_1000"))
        )
        out = (
            read_table(spark, root, as_of_ts=2500.0)
            .groupBy("o_orderpriority")
            .agg(
                F.count(F.lit(1)).alias("n_asof_2500"),
                F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
                .cast("double")
                .alias("rev_asof_2500"),
            )
            .join(asof_1000, "o_orderpriority", "left")
            .select(
                "o_orderpriority",
                F.col("n_asof_2500").cast("bigint").alias("n_asof_2500"),
                "rev_asof_2500",
                F.coalesce(F.col("n_asof_1000"), F.lit(0))
                .cast("bigint")
                .alias("n_asof_1000"),
                F.lit(early_raises).cast("bigint").alias("early_raises"),
                F.lit(boundary_inclusive)
                .cast("bigint")
                .alias("boundary_inclusive"),
            )
            .orderBy("o_orderpriority")
        )
        snap = materialize(out)
    return snap.orderBy("o_orderpriority")


_UPSERT_MERGE_ORACLE = """
WITH final AS (
  SELECT o_orderkey, o_orderpriority,
         CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice * 2
              ELSE o_totalprice END AS price
  FROM orders
  UNION ALL
  SELECT -o_orderkey - 1, o_orderpriority, o_totalprice
  FROM orders WHERE o_orderkey % 7 = 3
)
SELECT o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CAST(price AS DECIMAL(18,2))) AS DOUBLE) AS rev,
       CAST(COUNT(*) FILTER (WHERE o_orderkey < 0) AS BIGINT) AS n_inserted,
       CAST(1 AS BIGINT) AS single_version_ok,
       CAST(1 AS BIGINT) AS cdf_balance_ok
FROM final GROUP BY o_orderpriority ORDER BY o_orderpriority
"""


@query("manifest_upsert_merge", _UPSERT_MERGE_ORACLE)
def manifest_upsert_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE as one atomic commit (r15; io/manifest.commit_upsert).
    v1 appends all of orders; ONE upsert commit then (a) replaces
    every ``o_orderkey % 7 == 0`` row with a doubled price and (b)
    inserts a negated-key copy of every ``% 7 == 3`` row — both
    effects in a single version, so no reader can observe the delete
    without the insert (two separate delete+append commits cannot
    avoid that window).  Mechanically the commit stages data files
    AND delete-key files sharing one sequence number; the read rule
    ``delete.at > file.added_at`` (strict) hides matching rows only
    in older files while the commit's own rows survive.

    Hash-gated: the post-merge per-priority counts and exact-decimal
    revenue (doubling a double is exact IEEE in both engines), the
    inserted-row count, ``single_version_ok`` (the table is at v2),
    and ``cdf_balance_ok`` — the upsert recorded its victims, so
    ``read_changes_cdf`` serves exactly n(%7==0) delete rows and
    n(%7==0) + n(%7==3) insert rows, which is also what lets the
    incremental MV fold a merge instead of recomputing
    (tests/test_manifest_r15.py::test_upsert_cdf_and_incremental_mv).

    Scale: write cost is O(upsert) + O(keys), never O(table) — the
    Hudi/Delta/Iceberg MERGE posture; at 100 TB the alternative
    (copy-on-write rewrite of every touched partition) is the thing
    this commit kind exists to avoid."""
    from automated_etl_pipeline_spark.io.manifest import (
        commit_append,
        commit_upsert,
        current_version,
        read_changes_cdf,
        read_table,
    )

    (orders,) = _t(spark, sf_dir, "orders")
    base = orders.select("o_orderkey", "o_orderpriority", "o_totalprice")
    k = F.col("o_orderkey")
    with scratch() as root:
        commit_append(base, root, "a0")
        up = base.filter(k % 7 == 0).withColumn(
            "o_totalprice", F.col("o_totalprice") * 2
        ).unionByName(
            base.filter(k % 7 == 3).withColumn(
                "o_orderkey", -F.col("o_orderkey") - 1
            )
        )
        commit_upsert(
            up, root, "u1", ["o_orderkey"], record_changes=True
        )
        single_version_ok = 1 if current_version(root) == 2 else 0
        # one conditional aggregate instead of two count() jobs (r15
        # opt, guide §2.4): same integers, one scan
        _c = base.agg(
            F.sum((k % 7 == 0).cast("long")).alias("n_mod"),
            F.sum((k % 7 == 3).cast("long")).alias("n_new"),
        ).collect()[0]
        n_mod, n_new = _c["n_mod"], _c["n_new"]
        cdf = read_changes_cdf(spark, root, 1, 2)
        # one conditional aggregate instead of two count() jobs over
        # the change feed (r15 opt, guide §2.4): same integers, one scan
        _cdf = cdf.agg(
            F.sum((F.col("_change_type") == "insert").cast("long")).alias("i"),
            F.sum((F.col("_change_type") == "delete").cast("long")).alias("d"),
        ).collect()[0]
        n_ins = _cdf["i"] or 0
        n_del = _cdf["d"] or 0
        cdf_balance_ok = (
            1 if (n_ins == n_mod + n_new and n_del == n_mod) else 0
        )
        out = (
            read_table(spark, root)
            .groupBy("o_orderpriority")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
                .cast("double")
                .alias("rev"),
                F.sum((k < 0).cast("long")).cast("bigint").alias("n_inserted"),
            )
            .select(
                "o_orderpriority",
                F.col("n").cast("bigint").alias("n"),
                "rev",
                "n_inserted",
                F.lit(single_version_ok)
                .cast("bigint")
                .alias("single_version_ok"),
                F.lit(cdf_balance_ok).cast("bigint").alias("cdf_balance_ok"),
            )
            .orderBy("o_orderpriority")
        )
        snap = materialize(out)
    return snap.orderBy("o_orderpriority")
