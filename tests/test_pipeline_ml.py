"""Tests for pipeline/runner.py (O1-O5) and ml/ (M2-M5)."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from automated_etl_pipeline_spark.ml.poisson import (
    fit_poisson_rates,
    team_strength_training_frame,
)
from automated_etl_pipeline_spark.ml.simulate import (
    knockout_bracket,
    outcome_probs,
    round_robin_table,
    tournament_win_probability,
)
from automated_etl_pipeline_spark.pipeline.runner import Pipeline, Stage


# ---------------- pipeline runner ----------------


def test_pipeline_runs_stages_in_order_with_context(spark):
    log = []
    p = Pipeline(
        stages=[
            Stage("a", lambda s, ctx: log.append(("a", ctx["run_id"]))),
            Stage("b", lambda s, ctx: log.append(("b", ctx["run_id"]))),
        ],
        run_id="fixed",
    )
    res = p.run(spark)
    assert [r.name for r in res] == ["a", "b"] and all(r.ok for r in res)
    assert log == [("a", "fixed"), ("b", "fixed")]


def test_pipeline_retry_then_success(spark):
    calls = {"n": 0}

    def flaky(s, ctx):
        calls["n"] += 1
        if calls["n"] < 2:
            raise ValueError("transient")
        return "ok"

    p = Pipeline(stages=[Stage("flaky", flaky, retries=1)])
    res = p.run(spark)
    assert res[0].ok and res[0].attempts == 2


def test_pipeline_cleanup_always_runs(spark):
    ran = []
    p = Pipeline(
        stages=[
            Stage("boom", lambda s, c: 1 / 0, retries=0),
            Stage("load", lambda s, c: ran.append("load")),
            Stage("cleanup", lambda s, c: ran.append("cleanup"), always_run=True),
        ]
    )
    with pytest.raises(RuntimeError, match="boom"):
        p.run(spark)
    assert ran == ["cleanup"]  # load skipped, cleanup ran (ALL_DONE)
    statuses = {r.name: r.ok for r in p.results}
    assert statuses == {"boom": False, "load": False, "cleanup": True}


def test_pipeline_fanout_group(spark):
    ran = []
    p = Pipeline(
        stages=[
            Stage("etl", lambda s, c: ran.append("etl")),
            [Stage(f"load{i}", lambda s, c, i=i: ran.append(f"load{i}")) for i in range(4)],
        ]
    )
    p.run(spark)
    assert ran[0] == "etl" and set(ran[1:]) == {"load0", "load1", "load2", "load3"}


# ---------------- ML: GLM + simulation ----------------


@pytest.fixture(scope="module")
def matches(spark):
    rows = []
    # Strong beats Weak consistently; Mid splits.
    data = [
        ("Strong", "Weak", 3, 0),
        ("Strong", "Weak", 4, 1),
        ("Weak", "Strong", 0, 2),
        ("Strong", "Mid", 2, 1),
        ("Mid", "Strong", 1, 1),
        ("Mid", "Weak", 2, 0),
        ("Weak", "Mid", 1, 2),
        ("Mid", "Weak", 3, 1),
    ]
    for i, (h, a, hs, as_) in enumerate(data):
        rows.append((f"201{i % 7}-06-01", h, a, hs, as_, "FIFA World Cup"))
    return spark.createDataFrame(
        rows, "date string, home_team string, away_team string, "
        "home_score int, away_score int, tournament string"
    ).withColumn("date", F.to_date("date"))


def test_training_frame_unpivots(matches):
    tf = team_strength_training_frame(matches)
    assert tf.columns == ["team", "opponent", "goals", "weight"]
    assert tf.count() == 2 * matches.count()


def test_glm_orders_team_strength(matches):
    tf = team_strength_training_frame(matches)
    model = fit_poisson_rates(tf, ["team", "opponent"], "goals", weight_col="weight")
    pairs = tf.sparkSession.createDataFrame(
        [("Strong", "Weak"), ("Weak", "Strong")], "team string, opponent string"
    )
    preds = {
        (r.team, r.opponent): r.expected for r in model.predict(pairs).collect()
    }
    assert preds[("Strong", "Weak")] > preds[("Weak", "Strong")]
    assert all(v > 0 for v in preds.values())  # log link ⇒ positive rates


def test_glm_ridge_floor_is_default(matches):
    """The saturated one-hot design (team + opponent columns sum to the
    intercept) makes the normal-equations covariance singular at
    regParam=0 — IRLS then Cholesky-fails and retries with Quasi-Newton
    every iteration.  The 1e-8 ridge floor must be on by default so the
    Cholesky path succeeds first try."""
    tf = team_strength_training_frame(matches)
    model = fit_poisson_rates(tf, ["team", "opponent"], "goals", weight_col="weight")
    glr_model = model.model.stages[-1]
    assert glr_model.getRegParam() == pytest.approx(1e-8)


def test_poisson_pinned_rates_match_z():
    """Every PINNED_POISSON_RATE_E4 literal must equal
    floor(exp(z_e6/1e6)*1e4) for the pinned additive z — the two pin
    tables cannot drift apart.  Evaluated same-interpreter, so a libm
    ulp cannot flake this (the fractional parts sit >= 0.078 from the
    floor boundary anyway)."""
    import math

    from automated_etl_pipeline_spark.ml.poisson import (
        PINNED_POISSON_COEF_E6,
        PINNED_POISSON_RATE_E4,
    )

    mu0 = PINNED_POISSON_COEF_E6["intercept"]
    a = PINNED_POISSON_COEF_E6["l_returnflag"]
    b = PINNED_POISSON_COEF_E6["l_linestatus"]
    assert set(PINNED_POISSON_RATE_E4) == {
        (rf, ls) for rf in a for ls in b
    }
    for (rf, ls), rate in PINNED_POISSON_RATE_E4.items():
        z = mu0 + a[rf] + b[ls]
        assert rate == math.floor(math.exp(z / 1e6) * 1e4), (rf, ls)
        frac = math.exp(z / 1e6) * 1e4 - rate
        assert 0.01 < frac < 0.99, (rf, ls, frac)  # far from the boundary


def test_poisson_pinned_literals_mirror_oracle_sql():
    """The m2 gate's DuckDB oracle hard-codes the pinned coefficients
    as VALUES literals; pin them against the module constants so a
    coefficient refresh cannot drift one side silently (the
    quality_classifier_filter recipe)."""
    from automated_etl_pipeline_spark.ml.poisson import (
        PINNED_POISSON_COEF_E6,
        PINNED_POISSON_RATE_E4,
    )
    from automated_etl_pipeline_spark.queries_ml import _M2_POISSON_ORACLE

    sql = _M2_POISSON_ORACLE
    assert f"CAST({PINNED_POISSON_COEF_E6['intercept']} + rf.a_e6" in sql
    for rf, v in PINNED_POISSON_COEF_E6["l_returnflag"].items():
        assert f"('{rf}', {v})" in sql
    for ls, v in PINNED_POISSON_COEF_E6["l_linestatus"].items():
        assert f"('{ls}', {v})" in sql
    for (rf, ls), v in PINNED_POISSON_RATE_E4.items():
        assert f"('{rf}', '{ls}', {v})" in sql


def test_poisson_refit_matches_pin(spark):
    """The pin contract: PINNED_POISSON_COEF_E6 is the model fit on the
    sf0.01 training sample.  Refit from scratch and assert every cell
    log-rate agrees within 2e-4 nats (IRLS float-sum ordering moves the
    optimum by far less; a stale or wrong pin moves it by >= 1e-3).
    Also relocates the old gate's float invariants here (r12 contract):
    positive rates and the intercept score equation
    sum(mu_i) == sum(y_i)."""
    import math

    from automated_etl_pipeline_spark.ml.poisson import (
        PINNED_POISSON_COEF_E6,
        fit_poisson_rates,
    )

    li = spark.read.parquet("/root/testdata/sf0.01/lineitem.parquet")
    train = (
        li.filter(F.col("l_orderkey") % 100 == 0)
        .select(
            "l_returnflag",
            "l_linestatus",
            F.col("l_quantity").cast("double").alias("qty"),
        )
        .localCheckpoint()
    )
    rates = fit_poisson_rates(
        train, categorical_cols=["l_returnflag", "l_linestatus"], label_col="qty"
    )
    combos = train.select("l_returnflag", "l_linestatus").distinct()
    pred = {
        (r.l_returnflag, r.l_linestatus): r.mu
        for r in rates.predict(combos, out_col="mu").collect()
    }
    mu0 = PINNED_POISSON_COEF_E6["intercept"]
    a = PINNED_POISSON_COEF_E6["l_returnflag"]
    b = PINNED_POISSON_COEF_E6["l_linestatus"]
    assert set(pred) == {(rf, ls) for rf in a for ls in b}
    for (rf, ls), mu in pred.items():
        assert mu > 0, (rf, ls)
        z_pin = (mu0 + a[rf] + b[ls]) / 1e6
        assert abs(math.log(mu) - z_pin) < 2e-4, (rf, ls, math.log(mu), z_pin)
    # intercept score equation at the IRLS optimum: predicted mass ==
    # observed mass over the training rows (1e-4 relative)
    cells = train.groupBy("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("n"), F.sum("qty").alias("sy")
    ).collect()
    mass_pred = sum(pred[(r.l_returnflag, r.l_linestatus)] * r.n for r in cells)
    mass_obs = sum(r.sy for r in cells)
    assert abs(mass_pred - mass_obs) / mass_obs < 1e-4


def test_outcome_probs_sum_to_one():
    p = outcome_probs(1.5, 1.1)
    assert p.home_win + p.draw + p.away_win == pytest.approx(1.0, abs=1e-6)
    assert p.home_win > p.away_win  # higher expected goals ⇒ higher win prob


def test_simulation_deterministic_and_sane():
    teams = ["A", "B", "C", "D"]
    exp = {}
    strength = {"A": 2.5, "B": 1.5, "C": 1.0, "D": 0.6}
    for t in teams:
        for o in teams:
            if t != o:
                exp[(t, o)] = strength[t] / (1 + 0.3 * strength[o])
    table1 = round_robin_table(teams, exp, np.random.default_rng(1))
    table2 = round_robin_table(teams, exp, np.random.default_rng(1))
    assert table1 == table2  # seeded ⇒ reproducible
    champ = knockout_bracket(teams, exp, np.random.default_rng(2))
    assert champ in teams
    probs = tournament_win_probability([teams], exp, n_sims=300, seed=3)
    assert sum(probs.values()) == pytest.approx(1.0)
    assert probs.get("A", 0) > probs.get("D", 0)  # strongest beats weakest


def test_geometric_mean_udaf_exact(spark):
    # The driver gate (udaf_geometric_mean_price) checks
    # transcendental-free integer cent moments (r10 — numpy log vs
    # oracle ln can differ by an ulp at a floor boundary, so ln-based
    # values are pinned HERE, same-engine, where tolerance and
    # closed-form checks are expressible, and kept out of the
    # cross-engine hash entirely).
    from automated_etl_pipeline_spark.functions.python_udfs import (
        geometric_mean,
        log_sum_e4,
    )

    df = spark.createDataFrame(
        [("a", 2.0), ("a", 8.0), ("b", 5.0)], "g string, x double"
    )
    gm = {
        r.g: r.gm
        for r in df.groupBy("g").agg(geometric_mean("x").alias("gm")).collect()
    }
    assert gm["a"] == pytest.approx(4.0, rel=1e-12)  # sqrt(2*8)
    assert gm["b"] == pytest.approx(5.0, rel=1e-12)
    import math

    ls = {
        r.g: r.ls
        for r in df.groupBy("g").agg(log_sum_e4("x").alias("ls")).collect()
    }
    assert ls["a"] == math.floor(math.log(2.0) * 1e4) + math.floor(
        math.log(8.0) * 1e4
    )
    assert ls["b"] == math.floor(math.log(5.0) * 1e4)


def test_cents_moment_udafs_exact(spark):
    # r10 gate UDAFs: exact integer cent moments through the Arrow
    # grouped-agg boundary — mul/floor/mod only, closed-form pinned.
    from automated_etl_pipeline_spark.functions.python_udfs import (
        cents_sq_mod_sum,
        cents_sum,
    )

    df = spark.createDataFrame(
        [("a", 123.45), ("a", 0.07), ("b", 499978.59)], "g string, x double"
    )
    got = {
        r.g: (r.s, r.q)
        for r in df.groupBy("g")
        .agg(cents_sum("x").alias("s"), cents_sq_mod_sum("x").alias("q"))
        .collect()
    }
    import math

    exp = {}
    for g, xs in {"a": [123.45, 0.07], "b": [499978.59]}.items():
        cs = [math.floor(x * 100) for x in xs]
        exp[g] = (sum(cs), sum((c * c) % 1_000_000_000 for c in cs))
    assert got == exp


def test_cents_moment_udafs_reject_nonfinite(spark):
    from automated_etl_pipeline_spark.functions.python_udfs import cents_sum
    from pyspark.errors import PythonException

    df = spark.createDataFrame(
        [("a", float("nan"))], "g string, x double"
    )
    with pytest.raises(PythonException, match="finite"):
        df.groupBy("g").agg(cents_sum("x").alias("s")).collect()


def test_cents_sum_group_total_overflow_rejected(spark):
    """r10 review: per-element bounds allow ~1e3 near-bound rows to
    wrap the int64 GROUP sum; the exact Python-int total must reject
    instead of wrapping."""
    import pandas as pd
    import pytest

    from automated_etl_pipeline_spark.functions.python_udfs import cents_sum

    f = cents_sum.func
    assert f(pd.Series([1.25, 2.5])) == 125 + 250
    with pytest.raises(ValueError, match="group total overflows"):
        f(pd.Series([8.9e13] * 1100))


def test_cents_sq_mod_sum_negative_matches_sql_semantics(spark):
    """r10 ADVICE follow-up: numpy % follows the divisor's sign while
    SQL % follows the dividend's, but the GATE value is residue-
    convention-invariant — congruent inner residues square to
    congruent values and the outer % canonicalizes a non-negative
    square identically in every engine.  This test PINS that
    invariance on negatives against both engines' % and the closed
    form (the advice's divergence claim was wrong; the UDF uses
    np.fmod anyway so traced intermediates match SQL)."""
    import math

    import duckdb

    from automated_etl_pipeline_spark.functions.python_udfs import (
        cents_sq_mod_sum,
    )

    vals = [-123.45, -99999999999.99, 0.07, -0.01]
    df = spark.createDataFrame([("g", v) for v in vals], "g string, x double")
    got = (
        df.groupBy("g")
        .agg(cents_sq_mod_sum("x").alias("q"))
        .collect()[0]["q"]
    )
    expr = """
        CAST(SUM(((CAST(floor(x * 100) AS BIGINT) % 1000000000)
                  * (CAST(floor(x * 100) AS BIGINT) % 1000000000))
                 % 1000000000) AS BIGINT)
    """
    df.createOrReplaceTempView("cents_neg")
    via_spark = spark.sql(
        f"SELECT {expr} AS q FROM cents_neg GROUP BY g"
    ).collect()[0]["q"]
    duck = duckdb.connect()
    vals_sql = ", ".join(f"({v!r})" for v in vals)
    via_duck = duck.execute(
        f"SELECT {expr} AS q FROM (VALUES {vals_sql}) t(x)"
    ).fetchone()[0]
    # and the closed form with explicit dividend-sign residues
    m = 1_000_000_000

    def srem(a: int) -> int:
        return a % m if a >= 0 else -((-a) % m)

    exp = sum(srem(srem(math.floor(v * 100)) ** 2) for v in vals)
    assert got == via_spark == via_duck == exp


def test_m4_gate_matches_outcome_probs(spark):
    """ml/bracket's polynomial-ratio outcome probabilities (the M4
    fragments the exact bracket gate builds on) must equal
    ml/simulate.outcome_probs normalized to the same <= 6-goal
    truncation (the exp factor cancels in normalization) — pins the
    shared-text SQL arithmetic to the reference implementation."""
    import math

    import duckdb

    from automated_etl_pipeline_spark.ml.bracket import (
        LAMBDA_H,
        LAMBDA_V,
        M4_PROB_EXPRS,
    )
    from automated_etl_pipeline_spark.ml.simulate import outcome_probs

    # strengths: the top-8 nations by customer count, the bracket's frame
    con = duckdb.connect()
    s = con.execute(
        """
        SELECT n_name, COUNT(*) AS cnt
        FROM read_parquet('/root/testdata/sf0.001/customer.parquet') c
        JOIN read_parquet('/root/testdata/sf0.001/nation.parquet') n
          ON c.c_nationkey = n.n_nationkey
        GROUP BY n_name ORDER BY cnt DESC, n_name LIMIT 8
        """
    ).fetchall()
    cnt = dict(s)
    pairs = spark.createDataFrame(
        [(a, b, cnt[a], cnt[b]) for a in cnt for b in cnt if a != b],
        "team_a string, team_b string, s_a long, s_b long",
    )
    rows = (
        pairs.selectExpr(
            "team_a", "team_b", f"{LAMBDA_H} AS lh", f"{LAMBDA_V} AS lv"
        )
        .selectExpr(
            "team_a", "team_b",
            *[f"{e} AS {c}" for c, e in M4_PROB_EXPRS.items()],
        )
        .collect()
    )
    assert len(rows) == 56  # 8 teams, directed pairs
    for r in rows:
        sa, sb = cnt[r["team_a"]], cnt[r["team_b"]]
        lh = 0.5 + (2.0 * sa) / (sa + sb)
        lv = 0.5 + (2.0 * sb) / (sa + sb)
        p = outcome_probs(lh, lv, max_goals=6)
        tot = p.home_win + p.draw + p.away_win
        for col, val in (
            ("p_home_e6", p.home_win / tot),
            ("p_draw_e6", p.draw / tot),
            ("p_away_e6", p.away_win / tot),
        ):
            # numpy's summation order differs from the gate's fixed
            # chain, so allow the one-ulp-at-the-floor-boundary slack
            assert abs(r[col] - math.floor(val * 1e6)) <= 1, (
                r["team_a"], r["team_b"], col, r[col], val,
            )
        assert 999997 <= r["p_home_e6"] + r["p_draw_e6"] + r["p_away_e6"] <= 1000000


def test_bracket_exact_gate_matches_python_mirror(spark):
    """The m5_bracket_exact shared-text SQL must agree with the
    independent Python enumeration (ml/bracket.exact_champion_probs)
    on every team, up to the gate's e15/e6 quantization — two
    implementations of the same exact computation, so disagreement
    beyond floor slack means one of them mis-propagates the bracket."""
    import math

    import duckdb

    import automated_etl_pipeline_spark.queries_ml  # noqa: F401
    from automated_etl_pipeline_spark.ml.bracket import (
        exact_champion_probs,
    )
    from automated_etl_pipeline_spark.queries import QUERIES

    rows = QUERIES["m5_bracket_exact"](
        spark, "/root/testdata/sf0.001"
    ).collect()
    assert len(rows) == 8 and [r["seed"] for r in rows] == list(range(1, 9))

    con = duckdb.connect()
    s = con.execute(
        """
        SELECT n_name, COUNT(*) AS cnt
        FROM read_parquet('/root/testdata/sf0.001/customer.parquet') c
        JOIN read_parquet('/root/testdata/sf0.001/nation.parquet') n
          ON c.c_nationkey = n.n_nationkey
        GROUP BY n_name ORDER BY cnt DESC, n_name LIMIT 8
        """
    ).fetchall()
    teams = [r[0] for r in s]
    st = dict(s)
    expected = {
        (a, b): 0.5 + 2.0 * st[a] / (st[a] + st[b])
        for a in teams
        for b in teams
        if a != b
    }
    exact = exact_champion_probs([teams[:4], teams[4:]], expected)
    assert sum(exact.values()) == pytest.approx(1.0, abs=1e-9)
    for r in rows:
        want = math.floor(exact[r["team"]] * 1e6)
        # e15 mass flooring (<= 729 ulps per class) can move the e6
        # floor by at most one at a boundary
        assert abs(r["p_champ_e6"] - want) <= 1, (r["team"], r["p_champ_e6"], want)
    total = sum(r["p_champ_e6"] for r in rows)
    assert 999990 <= total <= 1000000


def test_mc_tournament_converges_to_exact():
    """The seeded Monte-Carlo operator surface (ml/simulate.py) must
    converge to ml/bracket.exact_champion_probs under the SAME outcome
    model (max_goals=10) — the r14 derandomization's property bridge:
    the exact gate pins values, the simulator is validated against
    them instead of against nothing."""
    from automated_etl_pipeline_spark.ml.bracket import (
        exact_champion_probs,
    )

    teams = ["T1", "T2", "T3", "T4", "T5", "T6", "T7", "T8"]
    strength = {t: 100 - 9 * i for i, t in enumerate(teams)}
    expected = {
        (a, b): 0.5 + 2.0 * strength[a] / (strength[a] + strength[b])
        for a in teams
        for b in teams
        if a != b
    }
    groups = [teams[:4], teams[4:]]
    exact = exact_champion_probs(groups, expected, max_goals=10)
    n_sims = 4000
    mc = tournament_win_probability(expected=expected, groups=groups, n_sims=n_sims, seed=7)
    # 4σ for a binomial proportion at p≈0.3, n=4000 is ~0.029
    for t in teams:
        assert abs(mc.get(t, 0.0) - exact[t]) < 0.035, (
            t, mc.get(t, 0.0), exact[t],
        )
    # truncation sensitivity is tiny at these rates: the gate's 6-goal
    # model and the simulator's 10-goal model agree within 2e-3
    exact6 = exact_champion_probs(groups, expected, max_goals=6)
    for t in teams:
        assert abs(exact6[t] - exact[t]) < 2e-3
