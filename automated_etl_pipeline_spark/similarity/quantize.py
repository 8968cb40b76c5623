"""Symmetric int8 embedding quantization as array expressions.

A 100 TB embedding store at float32 is 4 bytes/dim; int8 cuts it 4×
and is the standard serving format for ANN indexes (IVF-PQ's scalar
little sibling). Quantization is per-vector symmetric:

    scale = 127 / max_i |x_i|          (0 when the vector is all-zero)
    q_i   = floor(x_i * scale + 0.5)   ∈ [-127, 127]

Everything is ``transform`` / ``array_max`` element arithmetic — one
narrow projection, no shuffle, no Python. Dequantized error is bounded
by 0.5/scale per element, which the tests assert.

Determinism notes (oracle parity):
- ``floor(x*scale + 0.5)`` pins rounding to half-up-toward-+inf in
  BOTH engines; SQL ``round()`` half-away-from-zero vs Java HALF_UP
  would diverge on negative .5 boundaries.
- float32 elements promote to the identical double in Spark and
  DuckDB, and every expression here is element-local (no fold-order
  sensitivity), so integer outputs hash-match exactly.
- The max-abs reduction feeding ``scale`` MUST be materialized as its
  own projection before being referenced inside the quantize lambda:
  higher-order functions get no common-subexpression elimination, so
  an inlined max-abs would re-scan the vector once per element
  (O(d²) — the round-1 MinHash lesson).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

INT8_MAX = 127


def abs_max(vec: Column) -> Column:
    """max_i |x_i| as double (0.0 for an all-zero or empty vector)."""
    return F.array_max(F.transform(vec, lambda x: F.abs(x))).cast("double")


def quantize_expr(vec: Column, scale: Column) -> Column:
    """int8 codes: floor(x*scale + 0.5) per element, as array<long>.

    ``scale`` must be a materialized column attribute (see module
    docstring), never an inline ``abs_max`` expression.
    """
    return F.transform(
        vec,
        lambda x: F.floor(x.cast("double") * scale + F.lit(0.5)).cast("long"),
    )


def dequant_max_err(vec: Column, scale: Column) -> Column:
    """max_i |x_i - q_i/scale| — worst per-element reconstruction
    error of the vector (0.0 for all-zero vectors, where scale=0 and
    q=x=0)."""
    err = F.transform(
        vec,
        lambda x: F.when(scale == 0.0, F.lit(0.0)).otherwise(
            F.abs(
                x.cast("double")
                - F.floor(x.cast("double") * scale + F.lit(0.5)) / scale
            )
        ),
    )
    return F.array_max(err)


def with_int8(df: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """Attach ``q_scale`` (double), ``q_codes``
    (array<long> in [-127,127]) and ``q_max_err`` (double) to
    ``df``. Two projections so the max-abs scan runs once per vector.
    """
    amax = abs_max(F.col(vec_col)).alias("_amax")
    step1 = df.select("*", amax)
    scale = F.when(F.col("_amax") == 0.0, F.lit(0.0)).otherwise(
        F.lit(float(INT8_MAX)) / F.col("_amax")
    )
    step2 = step1.select("*", scale.alias("q_scale")).drop("_amax")
    sc = F.col("q_scale")
    return step2.select(
        "*",
        quantize_expr(F.col(vec_col), sc).alias("q_codes"),
        dequant_max_err(F.col(vec_col), sc).alias("q_max_err"),
    )
