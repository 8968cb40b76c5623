"""Seeded sign random projection — Johnson-Lindenstrauss dimensionality
reduction for the similarity stack.

At 100 TB the embedding column is the widest thing in the corpus
(64-3072 floats/row); every ANN stage downstream (sign-LSH banding,
IVF coarse quantization, brute-force rerank shuffles) pays per
dimension.  A sign (Achlioptas ±1) projection to d' << d preserves
pairwise distances within 1±eps with probability controlled by d'
(JL lemma: d' = O(log n / eps^2)), costs one dense mat-vec per row,
and — because the matrix here is SEEDED (md5 of (seed, i, j) parity),
not sampled at runtime — is bit-reproducible across engines, runs and
shards: late-arriving data projects onto the identical matrix, and
the DuckDB oracle can embed the same matrix as literals.

Scale shape: the matrix is a driver-side constant folded into the
plan as literal arrays (d x d' signs — ~4 KB at 64x16; even 3072x128
is ~400 KB, broadcast-free since it rides the serialized plan).  The
projection is a fixed-order fma chain per output dim inside
whole-stage codegen — no shuffle, no UDF, no Python.  Sums run in
index order in BOTH engines (Spark ``aggregate`` over ``zip_with``
and DuckDB ``list_sum`` over ``list_transform`` are sequential
left-to-right), so the doubles are IEEE-identical and value-hashable
without decimal quantization.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def sign_matrix(in_dim: int, out_dim: int, seed: int = 7) -> list[list[float]]:
    """out_dim rows of in_dim ±1 signs, a pure function of the seed:
    sign(i, j) = +1 iff the first hex nibble of md5(f"{seed}:{j}:{i}")
    is even.  Stable across platforms (md5), trivially re-derivable in
    any engine or language for parity checks."""
    return [
        [
            1.0
            if int(hashlib.md5(f"{seed}:{j}:{i}".encode()).hexdigest()[0], 16) % 2 == 0
            else -1.0
            for i in range(in_dim)
        ]
        for j in range(out_dim)
    ]


def project(vec: Column, matrix: list[list[float]]) -> Column:
    """array<double> of len(matrix): signed sums of ``vec`` against each
    matrix row, scaled by 1/sqrt(out_dim) (the JL isometry constant).
    Fixed left-to-right summation order — see module doc."""
    scale = (1.0 / len(matrix)) ** 0.5
    return F.array(
        *[
            (
                F.aggregate(
                    F.zip_with(
                        vec,
                        F.array(*[F.lit(s) for s in row]),
                        lambda x, s: x.cast("double") * s,
                    ),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                )
                * F.lit(scale)
            )
            for row in matrix
        ]
    )


def project_embeddings(
    emb: DataFrame,
    out_dim: int = 16,
    seed: int = 7,
) -> DataFrame:
    """Append the projected vector column; in_dim read from the first
    row is avoided — caller passes a frame whose vectors share a known
    width (the testdata embeddings are fixed 64-wide; schemas.py)."""
    in_dim = 64
    return emb.withColumn(
        "proj", project(F.col("embedding"), sign_matrix(in_dim, out_dim, seed))
    )


def oracle_matrix_sql(matrix: list[list[float]]) -> str:
    """The same matrix as a DuckDB literal list-of-lists expression."""
    rows = ", ".join(
        "[" + ", ".join(f"{s:.1f}" for s in row) + "]" for row in matrix
    )
    return f"[{rows}]"
