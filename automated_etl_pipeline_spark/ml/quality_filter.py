"""Model-based document-quality filtering (logistic regression over
cheap text features).

The modern curation stack filters with a LEARNED quality model, not
just hand rules: CCNet's LM perplexity (functions/perplexity.py),
FineWeb-Edu's classifier-graded quality tiers, and the "quality
classifier" stage of GPT-3/LLaMA-style pipelines (a linear model over
features, trained on a weakly-labeled positive set, scoring the whole
pool).  This module is that stage in Spark-native form:

- **Features are one JVM-side projection** (token/char counts,
  distinct-token ratio, average word length) — no UDF, computed in
  the same scan that feeds the fit.
- **The fit is distributed IRLS**: GeneralizedLinearRegression
  (family=binomial, link=logit) — same engine posture as
  ml/poisson.py; driver holds only the coefficient vector.
- **Scoring is a broadcast of the model** through
  ``PipelineModel.transform`` — linear, no shuffle.

Reference parity: the reference repo's ML surface is the Poisson
match model (ml_project.py:211) — it has no data-quality stage; this
extends the engine's LLM-curation family (SURVEY.md §2.11).

Determinism contract: IRLS aggregates float gradients across
partitions, so COEFFICIENTS are only reproducible to float-sum
ordering; anything value-gated on the scores would be latently flaky
(the r9 ADVICE class).  Callers gate STRUCTURE and the model's
defining invariants instead: with an intercept and the canonical
logit link, the IRLS optimum satisfies sum(p_i) == sum(y_i) over the
training rows (the score equation — same invariant family as
m2_poisson_expected's mass check), and every probability lies in
(0, 1)."""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.ml import Pipeline as MlPipeline
from pyspark.ml import PipelineModel
from pyspark.ml.feature import VectorAssembler
from pyspark.ml.regression import GeneralizedLinearRegression
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

FEATURE_COLS = ["n_tokens", "n_chars", "distinct_ratio", "avg_word_len"]

# Frozen production model: the coefficient vector fit ONCE by
# fit_quality_classifier on the sf0.01 corpus (weak label
# lang == 'en'), rounded to 1e-6 units and pinned as integers.  This
# is the shape a real curation stack ships: train on a sample, freeze,
# score petabytes with pure column arithmetic — no model object, no
# UDF, bit-reproducible anywhere.  Keys match FEATURE_COLS + intercept.
PINNED_COEF_E6: dict[str, int] = {
    "intercept": 301699,
    "n_tokens": 46773,
    "n_chars": -8218,
    "distinct_ratio": 419748,
    "avg_word_len": -156685,
}
# Selection threshold p >= 0.45 as a logit in the same 1e-6 units
# (logit(0.45) = -0.200671): keep iff z >= logit(tau).
PINNED_TAU_LOGIT_E6 = -200671


def raw_text_counts(
    docs: DataFrame,
    extra_cols: tuple[str, ...] = (),
) -> DataFrame:
    """(doc_id, n_tok, n_chars, n_distinct, *extra_cols): the INTEGER
    counts behind text_feature_frame's ratios — the exact-arithmetic
    surface for pinned-coefficient scoring (ratios reconstruct as
    n_distinct/n_tok and n_chars/n_tok).  ``extra_cols`` pass through
    from the same scan so callers needing a label column never
    self-join the corpus to get it back (one projection, no
    shuffle).

    The token array is materialized in its OWN projection stage
    before the size/distinct consumers (r15, VERDICT r14 ask #4):
    higher-order split/filter expressions get no codegen
    common-subexpression elimination, and referencing ``toks`` twice
    in one select evaluates the split twice per row; a non-cheap
    alias referenced twice is exactly what CollapseProject declines
    to inline, so the two-stage shape runs the split once — half the
    per-row string work on the 100 TB scoring path."""
    toks = F.filter(
        F.split(F.coalesce(F.col("text"), F.lit("")), " "), lambda t: t != ""
    )
    return docs.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        toks.alias("__toks"),
        F.length(F.coalesce(F.col("text"), F.lit(""))).cast("long").alias(
            "n_chars"
        ),
        *[F.col(c) for c in extra_cols],
    ).select(
        "doc_id",
        F.size("__toks").cast("long").alias("n_tok"),
        "n_chars",
        F.size(F.array_distinct("__toks")).cast("long").alias("n_distinct"),
        *[F.col(c) for c in extra_cols],
    )


def pinned_logit_columns() -> tuple[F.Column, F.Column]:
    """(z_scaled, keep) over a raw_text_counts frame, EXACT in int64.

    The logit decision z >= logit(tau) is multiplied through by
    n_tok > 0 so the two ratio features clear to integers
    (distinct_ratio*n_tok = n_distinct, avg_word_len*n_tok = n_chars):

      z_scaled = (intercept - tau)*n_tok + c_tok*n_tok^2
                 + c_chars*n_chars*n_tok + c_dr*n_distinct
                 + c_awl*n_chars            [1e-6 logit units x n_tok]

    keep iff n_tok > 0 AND z_scaled >= 0.  Every term is a product of
    two bounded longs and small literals — int64-exact for docs up to
    ~10^6 tokens/chars, engine-independent (the r9 integer-space
    rule)."""
    c = PINNED_COEF_E6
    z = (
        F.lit(c["intercept"] - PINNED_TAU_LOGIT_E6) * F.col("n_tok")
        + F.lit(c["n_tokens"]) * F.col("n_tok") * F.col("n_tok")
        + F.lit(c["n_chars"]) * F.col("n_chars") * F.col("n_tok")
        + F.lit(c["distinct_ratio"]) * F.col("n_distinct")
        + F.lit(c["avg_word_len"]) * F.col("n_chars")
    )
    keep = (F.col("n_tok") > 0) & (z >= 0)
    return z, keep


def text_feature_frame(docs: DataFrame) -> DataFrame:
    """(doc_id, n_tokens, n_chars, distinct_ratio, avg_word_len):
    quality features as pure column algebra over one scan.  NULL text
    behaves as empty (zero counts, ratios 0)."""
    toks = F.filter(
        F.split(F.coalesce(F.col("text"), F.lit("")), " "), lambda t: t != ""
    )
    n_tok = F.size(toks)
    n_chars = F.length(F.coalesce(F.col("text"), F.lit("")))
    return docs.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        n_tok.cast("double").alias("n_tokens"),
        n_chars.cast("double").alias("n_chars"),
        F.when(
            n_tok > 0, F.size(F.array_distinct(toks)) / n_tok
        )
        .otherwise(F.lit(0.0))
        .alias("distinct_ratio"),
        F.when(n_tok > 0, n_chars / n_tok).otherwise(F.lit(0.0)).alias(
            "avg_word_len"
        ),
    )


@dataclass
class QualityModel:
    model: PipelineModel

    def score(self, features: DataFrame) -> DataFrame:
        """Append the model's quality probability ``p_quality`` to a
        feature frame."""
        return self.model.transform(features).withColumnRenamed(
            "prediction", "p_quality"
        )


def fit_quality_classifier(
    train: DataFrame,
    label_col: str,
    feature_cols: list[str] | None = None,
) -> QualityModel:
    """Fit P(label | features) with a logit-link binomial GLM
    (distributed IRLS; ridge floor per ml/poisson.py's conditioning
    note).  ``label_col`` must be 0/1."""
    cols = feature_cols or FEATURE_COLS
    stages = [
        VectorAssembler(inputCols=cols, outputCol="features"),
        GeneralizedLinearRegression(
            family="binomial",
            link="logit",
            labelCol=label_col,
            featuresCol="features",
            regParam=1e-6,
        ),
    ]
    return QualityModel(model=MlPipeline(stages=stages).fit(train))
