"""Weighted Poisson GLM over categorical features (SURVEY.md §2.9 M2-M3).

The reference fits ``smf.glm('goals ~ team + opponent', family=Poisson,
freq_weights=weight)`` in statsmodels (ml_project.py:211-212) and
scores pairings (ml_project.py:220-221). Spark-native equivalent:
StringIndexer → OneHotEncoder → GeneralizedLinearRegression
(family=poisson, link=log, weightCol) — distributed IRLS, so the fit
scales to arbitrarily many rows (the reference's pandas fit is bounded
by driver memory).

Parity note (SURVEY.md §7.3e): coefficient vectors are NOT comparable
to statsmodels (different categorical baselines/regularization floor);
parity is asserted at prediction level and via model invariants in
tests, not coefficient equality.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.ml import Pipeline as MlPipeline
from pyspark.ml import PipelineModel
from pyspark.ml.feature import OneHotEncoder, StringIndexer
from pyspark.ml.regression import GeneralizedLinearRegression
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


# Frozen production model (the quality_classifier_filter recipe,
# VERDICT r12 ask #1): the log-link Poisson GLM fit ONCE by
# fit_poisson_rates on the sf0.01 lineitem training sample
# (l_orderkey % 100 == 0, qty ~ l_returnflag + l_linestatus), its
# per-cell log-rates decomposed additively (exactly — the 2-factor
# model has no interaction term, residuals were 0.0 to the last bit)
# and pinned as 1e-6 integer literals.  Baselines: l_returnflag='A',
# l_linestatus='F' carry 0 by the identifiability convention.
# log E[qty | rf, ls] = (intercept + a_rf + b_ls) / 1e6.
PINNED_POISSON_COEF_E6: dict[str, dict[str, int] | int] = {
    "intercept": 3282023,
    "l_returnflag": {"A": 0, "N": -20969, "R": -5128},
    "l_linestatus": {"F": 0, "O": -28038},
}
# Expected quantity per cell in 1e-4 units: floor(exp(z_e6/1e6)*1e4),
# evaluated ONCE at pin time so neither engine computes a
# transcendental at gate time (the r9 integer-space rule).  The
# fractional parts sit 0.078..0.216 from the floor boundary — a
# refreshed libm cannot flip them; tests/test_pipeline_ml.py
# re-derives each literal from z_e6 and asserts equality.
PINNED_POISSON_RATE_E4: dict[tuple[str, str], int] = {
    ("A", "F"): 266295,
    ("A", "O"): 258933,
    ("N", "F"): 260770,
    ("N", "O"): 253560,
    ("R", "F"): 264933,
    ("R", "O"): 257608,
}


@dataclass
class PoissonRates:
    model: PipelineModel
    label_col: str

    def predict(self, df: DataFrame, out_col: str = "expected") -> DataFrame:
        """Expected event rate per row (exp of the linear predictor)."""
        return self.model.transform(df).withColumnRenamed("prediction", out_col)


def fit_poisson_rates(
    df: DataFrame,
    categorical_cols: list[str],
    label_col: str,
    weight_col: str | None = None,
) -> PoissonRates:
    """Fit E[label | categoricals] with a log-link Poisson GLM.

    ``regParam`` is a 1e-8 ridge floor: the one-hot design
    over (team, opponent) is saturated (columns sum to the intercept),
    so at 0.0 the normal-equations Cholesky factorization hits a
    singular covariance matrix and IRLS falls back to Quasi-Newton with
    a warning on every iteration.  The floor restores positive
    definiteness while perturbing predictions below float precision.
    """
    stages = []
    feature_cols = []
    for c in categorical_cols:
        stages.append(
            StringIndexer(inputCol=c, outputCol=f"{c}_idx", handleInvalid="keep")
        )
        stages.append(OneHotEncoder(inputCol=f"{c}_idx", outputCol=f"{c}_vec"))
        feature_cols.append(f"{c}_vec")
    from pyspark.ml.feature import VectorAssembler

    stages.append(VectorAssembler(inputCols=feature_cols, outputCol="features"))
    glr = GeneralizedLinearRegression(
        family="poisson",
        link="log",
        labelCol=label_col,
        featuresCol="features",
        regParam=1e-8,
    )
    if weight_col:
        glr = glr.setWeightCol(weight_col)
    stages.append(glr)
    model = MlPipeline(stages=stages).fit(df)
    return PoissonRates(model=model, label_col=label_col)


def team_strength_training_frame(matches: DataFrame) -> DataFrame:
    """The reference's model-data construction (ml_project.py:191-205):
    weight from tournament name + recency, then the home/away unpivot
    into (team, opponent, goals, weight) rows.

    Divergence from the reference, by design: ml_project.py:199 computes
    ``1 / ((2019 - year) * weight)`` which divides by zero for matches
    in the anchor year itself (the dataset reaches 2020) — pandas yields
    inf silently, Spark ANSI mode raises. We clamp the age to ≥ 1.
    """
    w = F.when(
        F.col("tournament").contains("Cup") | F.col("tournament").contains("Euro"), 1
    ).otherwise(100)
    age = F.greatest(F.lit(1), F.lit(2019) - F.year(F.col("date")))
    recency = F.lit(1.0) / (age.cast("double") * w.cast("double"))
    base = matches.withColumn("weight", recency)
    home = base.select(
        F.col("home_team").alias("team"),
        F.col("away_team").alias("opponent"),
        F.col("home_score").cast("double").alias("goals"),
        "weight",
    )
    away = base.select(
        F.col("away_team").alias("team"),
        F.col("home_team").alias("opponent"),
        F.col("away_score").cast("double").alias("goals"),
        "weight",
    )
    return home.unionByName(away)
