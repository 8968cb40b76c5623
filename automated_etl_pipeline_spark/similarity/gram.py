"""Distributed integer Gram matrix over int8-quantized embeddings —
the reduction that powers PCA / covariance / whitening at corpus
scale.

PCA on n x d embeddings never materializes n^2 anything: it reduces
the corpus to the d x d Gram matrix G = Q^T Q (d=64 here, 2,080
upper-triangle cells), eigendecomposes THAT on the driver, and
projects rows through the resulting d x k matrix as a per-row
expression.  The only distributed step is the Gram reduction, and on
int8 codes it is EXACT integer arithmetic — order-independent, hence
cross-engine hashable, unlike a float covariance whose partial-sum
order differs per engine.

Plan shape: one nested-``transform`` projection expands each vector
into its 2,080 upper-triangle products, ``explode`` streams them, and
the (i, j) groupBy partial-aggregates map-side — each task emits at
most 2,080 partial rows no matter how many vectors it read, so the
shuffle is O(partitions x d^2/2), NOT O(n x d^2/2).  That map-side
combine is the whole scale story; it is the same plan a dedicated
``mapInPandas`` partial-Gram would produce, without leaving the JVM.

Overflow headroom: |q_i q_j| <= 127^2 = 16,129, so a BIGINT cell
holds ~5.7e14 vectors — comfortably past any corpus.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from automated_etl_pipeline_spark.similarity.quantize import with_int8


def gram_upper_triangle(emb: DataFrame, dim: int = 64) -> DataFrame:
    """(i, j, gram) for 0 <= i <= j < dim: exact BIGINT sums of
    q_i * q_j over all vectors' int8 codes."""
    q = with_int8(emb).select(F.col("q_codes").alias("c"))
    cells = q.select(
        F.explode(
            F.flatten(
                F.transform(
                    F.sequence(F.lit(0), F.lit(dim - 1)),
                    lambda i: F.transform(
                        F.sequence(i, F.lit(dim - 1)),
                        lambda j: F.struct(
                            i.alias("i"),
                            j.alias("j"),
                            (F.get(F.col("c"), i) * F.get(F.col("c"), j)).alias(
                                "p"
                            ),
                        ),
                    ),
                )
            )
        ).alias("cell")
    )
    return (
        cells.groupBy(
            F.col("cell.i").cast("int").alias("i"),
            F.col("cell.j").cast("int").alias("j"),
        )
        .agg(F.sum("cell.p").cast("bigint").alias("gram"))
        .orderBy("i", "j")
    )
