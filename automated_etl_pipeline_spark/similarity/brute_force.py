"""Exact cosine top-k over an embedding column (ANN baseline).

Every approximate variant (lsh.py) is recall-measured against this.

Scale: no shuffle — the query vector broadcasts, similarity is a
per-row HOF expression inside codegen, and top-k runs as
TakeOrderedAndProject (per-partition heaps, driver k-merge). On a
1000-executor cluster this is a single map-side pass over the table.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _fold_sum(arr: Column) -> Column:
    return F.aggregate(arr, F.lit(0.0), lambda acc, v: acc + v)


def dot(a: Column, b: Column) -> Column:
    return _fold_sum(F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")))


def l2_norm(a: Column) -> Column:
    return F.sqrt(_fold_sum(F.transform(a, lambda x: x.cast("double") * x.cast("double"))))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (l2_norm(a) * l2_norm(b))


def lit_vector(vec: Sequence[float]) -> Column:
    """A query vector as a literal array<double> column."""
    return F.array(*[F.lit(float(v)) for v in vec])


def topk_cosine(
    emb: DataFrame,
    query_vec: Sequence[float],
    k: int = 10,
) -> DataFrame:
    """Exact top-k by cosine to ``query_vec`` (ties broken on id)."""
    q = lit_vector(query_vec)
    sim = F.round(cosine(F.col("embedding"), q), 6).alias("cosine_sim")
    return (
        emb.select("vec_id", sim)
        .orderBy(F.desc("cosine_sim"), F.asc("vec_id"))
        .limit(k)
    )
