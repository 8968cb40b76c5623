"""IVF-style approximate nearest-neighbor search: coarse cells +
probe-then-rerank.

Classic IVF (inverted file, Jégou et al.) partitions vectors into
cells around centroids; a query scores only the ``nprobe`` nearest
cells instead of the whole corpus. Here the cell assignment is the
``label`` column (deterministic, so the whole operator is
oracle-checkable); swapping in k-means assignments
(pyspark.ml.clustering.KMeans) changes only the cell-id column.

Scale design:
- Centroids: posexplode to (cell, pos, value) then two-level hash agg
  — shuffle carries only n_cells x dim rows after map-side combine.
  At serving time centroids are a tiny broadcast table computed once,
  not per query.
- Probing: top-nprobe cells by exact centroid cosine (driver-scale:
  n_cells rows). The candidate scan then prunes to the probed cells —
  with the table *partitioned by cell id* this is partition pruning:
  a 1000-executor cluster reads only nprobe/n_cells of the data.
- Rerank: exact cosine over candidates, TakeOrderedAndProject top-k.

Determinism: centroid means differ across engines by fp summation
order (~1e-15); all comparisons happen on round(6) values with
cell-id / vec-id tiebreaks, so rankings agree.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from automated_etl_pipeline_spark.similarity.brute_force import cosine

DIM = 64


def cell_centroids(emb: DataFrame) -> DataFrame:
    """(label, centroid array<double>) — per-cell mean embedding."""
    per_pos = (
        emb.select("label", F.posexplode(F.col("embedding").cast("array<double>")))
        .groupBy("label", "pos")
        .agg((F.sum("col") / F.count(F.lit(1))).alias("m"))
    )
    return per_pos.groupBy("label").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "m"))), lambda s: s["m"]
        ).alias("centroid")
    )


def ivf_topk(
    emb: DataFrame,
    query_vec_id: int,
    k: int = 20,
    nprobe: int = 3,
) -> DataFrame:
    """Approximate top-k by cosine to the ``query_vec_id`` vector,
    scanning only the ``nprobe`` cells whose centroids are nearest."""
    q = F.broadcast(
        emb.filter(F.col("vec_id") == query_vec_id).select(
            F.col("embedding").cast("array<double>").alias("q_emb")
        )
    )
    probed = F.broadcast(
        cell_centroids(emb)
        .crossJoin(q)
        .select(
            "label",
            F.round(cosine(F.col("centroid"), F.col("q_emb")), 6).alias("cell_sim"),
        )
        .orderBy(F.desc("cell_sim"), F.asc("label"))
        .limit(nprobe)
        .select("label")
    )
    sim = F.round(cosine(F.col("embedding"), F.col("q_emb")), 6)
    return (
        emb.join(probed, "label", "left_semi")
        .crossJoin(q)
        .select("vec_id", "label", sim.alias("cosine_sim"))
        .orderBy(F.desc("cosine_sim"), F.asc("vec_id"))
        .limit(k)
    )


def build_oracle_sql(query_vec_id: int) -> str:
    """DuckDB SQL for the same probe-then-rerank search with k = 20 and
    nprobe = 3."""
    dot = (
        "list_sum(list_transform(range(1, {n} + 1), i -> "
        "CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)))"
    )
    cos_eq = (
        f"ROUND({dot.format(n=DIM, a='{a}', b='{b}')} / "
        f"(sqrt({dot.format(n=DIM, a='{a}', b='{a}')}) * "
        f"sqrt({dot.format(n=DIM, a='{b}', b='{b}')})), 6)"
    )
    return f"""
    WITH q AS (SELECT embedding AS q_emb FROM embeddings WHERE vec_id = {query_vec_id}),
    cent AS (
      SELECT label, pos.pos AS pos,
             SUM(CAST(embedding[pos.pos] AS DOUBLE)) / COUNT(*) AS m
      FROM embeddings CROSS JOIN (SELECT UNNEST(range(1, {DIM} + 1)) AS pos) pos
      GROUP BY label, pos.pos
    ), cell_score AS (
      SELECT label,
             ROUND(SUM(m * CAST(q.q_emb[pos] AS DOUBLE))
               / (sqrt(SUM(m * m))
                * sqrt((SELECT {dot.format(n=DIM, a="q.q_emb", b="q.q_emb")} FROM q))), 6)
               AS cell_sim
      FROM cent CROSS JOIN q GROUP BY label
    ), probed AS (
      SELECT label FROM cell_score ORDER BY cell_sim DESC, label LIMIT 3
    )
    SELECT e.vec_id, e.label, {cos_eq.format(a="e.embedding", b="q.q_emb")} AS cosine_sim
    FROM embeddings e
    JOIN probed USING (label)
    CROSS JOIN q
    ORDER BY cosine_sim DESC, e.vec_id LIMIT 20
    """
