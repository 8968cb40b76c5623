"""SemDeDup — semantic deduplication via within-cluster cosine pruning.

The embedding-space dedup of Abbas et al., "SemDeDup: Data-efficient
learning at web-scale through semantic deduplication"
(arXiv:2303.09540): k-means the corpus embeddings, then ONLY within
each cluster compute pairwise cosine and greedily drop one member of
every pair above epsilon.  Clustering is what makes web-scale feasible:
candidate pairs are O(Σ cᵢ²) instead of O(n²), and k is the lever —
k ≈ n / target_cluster_size bounds every cluster's pair count.  A
``max_cluster`` cap (the analogue of the LSH bucket cap) skips degenerate
clusters outright: a cluster that big means k is mis-sized, and its
members are better handled by exact/near dedup upstream.

Composition, not new machinery: clustering is similarity/kmeans.py's
deterministic fixed-iteration Lloyd's (quantized-integer arithmetic,
oracle-checkable), and the pair stage reuses its quantized vectors —
dot products and squared norms are exact BIGINT sums, so the cosine is
one identical double expression in both engines
(dot / sqrt(n2a·n2b)), rounded to 6 dp before thresholding per the
repo-wide float discipline.  Zero vectors are excluded from pairing
explicitly: 0/0 is NaN, and Spark orders NaN differently from DuckDB
in comparisons, so the guard keeps the engines aligned.

Scale: the pair join is equi-keyed on cluster (no cartesian); the
n2/dot arithmetic is codegen column expressions; losers collapse to a
DISTINCT per cluster; the report is an 8-key aggregate.  The epsilon
used by the registry gate (0.42) is a demo threshold — this corpus has
no pair above cosine 0.52 (see emb_cosine_sim_join's note); production
SemDeDup runs epsilon ≥ 0.95 with the identical plan.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from automated_etl_pipeline_spark.similarity.kmeans import (
    DIM,
    ORACLE_ITERS,
    _oracle_ctes,
    kmeans_assign,
)


def _cluster_dup_pairs(threshold: float):
    """Per-cluster dup-pair finder for applyInPandas: one integer
    Gram matmul per cluster batch, upper-triangle threshold, keep-min
    semantics via ascending-id ordering.

    Why this backs an ORACLE-GATED value (cross-engine exactness):
    - quantized components are |q| ≲ scale·|x|ₘₐₓ, so every product,
      the 64-term dots (Gram entries), and the squared norms are EXACT
      int64 — summation order is irrelevant, identical to DuckDB's
      BIGINT list_sum.
    - the cosine is then one double expression over exact integers
      (dot / sqrt(n2a·n2b)) — the same IEEE ops both engines run.
    - rounding mimics Spark/DuckDB ROUND (half away from zero) via
      trunc(|x|·10⁶ + 0.5); numpy's own round() is half-EVEN and
      would diverge on exact halves.
    - zero-norm vectors are excluded BEFORE pairing (0/0 = NaN, and
      Spark and DuckDB order NaN differently in comparisons).

    Why applyInPandas instead of a pair self-join with a dot UDF
    (both were measured): the join ships every vector once PER PAIR —
    O(pairs·dim) shuffle, 14.9 s at sf0.1 with HOF dots, 4.6 s with a
    vectorized pair-dot UDF — while the grouped matmul ships each
    vector once PER CLUSTER — O(n·dim) shuffle + one c×c Gram per
    group, 2.x s, and the asymptotic win is what matters at scale."""

    def f(key, pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("vec_id")
        q = np.stack([np.asarray(x, dtype=np.int64) for x in pdf["q"]])
        ids = pdf["vec_id"].to_numpy()
        n2 = (q * q).sum(axis=1)
        keep = n2 > 0
        q, ids, n2 = q[keep], ids[keep], n2[keep]
        empty = pd.DataFrame({"cluster": [], "id_a": [], "id_b": []}).astype(
            {"cluster": "int32", "id_a": "int64", "id_b": "int64"}
        )
        if len(ids) < 2:
            return empty
        gram = q @ q.T  # exact int64
        denom = np.sqrt(np.outer(n2.astype(np.float64), n2.astype(np.float64)))
        cos = gram / denom
        r = np.trunc(np.abs(cos) * 1e6 + 0.5) / 1e6 * np.sign(cos)
        i, j = np.triu_indices(len(ids), k=1)
        m = r[i, j] >= threshold
        return pd.DataFrame(
            {
                "cluster": np.full(int(m.sum()), key[0], dtype="int32"),
                "id_a": ids[i[m]],
                "id_b": ids[j[m]],
            }
        )

    return f


def semdedup_report(
    emb: DataFrame,
    k: int = 8,
    iters: int = 3,
    threshold: float = 0.42,
    max_cluster: int = 10_000,
) -> DataFrame:
    """Per-cluster SemDeDup accounting: (cluster, n_vecs, n_dup_pairs,
    n_pruned, n_kept) with keep-min-id pruning at cosine ≥ threshold."""
    # keep_q: the assignment already carries the quantized vectors, so
    # the pair stage needs no re-quantize + id join (r15 opt — the old
    # shape re-derived ``pts`` and joined it back on vec_id)
    assigned = kmeans_assign(emb, k, iters, keep_q=True)
    av = (
        assigned
        .select(
            F.col("vec_id"),
            "cluster",
            "q",
            F.aggregate(
                F.transform("q", lambda x: x * x),
                F.lit(0).cast("long"),
                lambda acc, x: acc + x,
            ).alias("n2"),
        )
        .localCheckpoint()  # both pair sides + the report read it
    )
    csize = av.groupBy("cluster").agg(F.count(F.lit(1)).alias("csz"))
    small = csize.filter(F.col("csz") <= max_cluster).select("cluster")
    dup = (
        av.select("cluster", "vec_id", "q")
        .join(F.broadcast(small), "cluster", "left_semi")
        .groupBy("cluster")
        .applyInPandas(
            _cluster_dup_pairs(threshold), "cluster int, id_a long, id_b long"
        )
    )
    dupc = dup.groupBy("cluster").agg(F.count(F.lit(1)).alias("n_dup_pairs"))
    pruned = (
        dup.select("cluster", F.col("id_b").alias("vec_id"))
        .distinct()
        .groupBy("cluster")
        .agg(F.count(F.lit(1)).alias("n_pruned"))
    )
    return (
        csize.join(dupc, "cluster", "left")
        .join(pruned, "cluster", "left")
        .select(
            "cluster",
            F.col("csz").alias("n_vecs"),
            F.coalesce("n_dup_pairs", F.lit(0)).alias("n_dup_pairs"),
            F.coalesce("n_pruned", F.lit(0)).alias("n_pruned"),
            (F.col("csz") - F.coalesce("n_pruned", F.lit(0))).alias("n_kept"),
        )
        .orderBy("cluster")
    )


def build_oracle_sql() -> str:
    """DuckDB mirror of ``semdedup_report(threshold=0.42)`` over the
    shared k-means CTE chain."""
    return (
        _oracle_ctes()
        + f""", av AS (
  SELECT vec_id, cluster, q,
         list_sum(list_transform(q, x -> x * x)) AS n2
  FROM a{ORACLE_ITERS}
), csize AS (
  SELECT cluster, COUNT(*) AS csz FROM av GROUP BY cluster
), pr AS (
  SELECT a.cluster, a.vec_id AS id_a, b.vec_id AS id_b,
         ROUND(CAST(list_sum(list_transform(range(1, {DIM + 1}),
                 i -> a.q[i] * b.q[i])) AS DOUBLE)
               / sqrt(CAST(a.n2 AS DOUBLE) * CAST(b.n2 AS DOUBLE)), 6) AS cos
  FROM av a JOIN av b ON a.cluster = b.cluster AND a.vec_id < b.vec_id
  JOIN csize s ON s.cluster = a.cluster AND s.csz <= 10000
  WHERE a.n2 > 0 AND b.n2 > 0
), dup AS (
  SELECT cluster, id_a, id_b FROM pr WHERE cos >= 0.42
), dupc AS (
  SELECT cluster, COUNT(*) AS n_dup_pairs FROM dup GROUP BY cluster
), pruned AS (
  SELECT cluster, COUNT(*) AS n_pruned
  FROM (SELECT DISTINCT cluster, id_b FROM dup) GROUP BY cluster
)
SELECT c.cluster,
       CAST(c.csz AS BIGINT) AS n_vecs,
       CAST(COALESCE(d.n_dup_pairs, 0) AS BIGINT) AS n_dup_pairs,
       CAST(COALESCE(p.n_pruned, 0) AS BIGINT) AS n_pruned,
       CAST(c.csz - COALESCE(p.n_pruned, 0) AS BIGINT) AS n_kept
FROM csize c
LEFT JOIN dupc d ON c.cluster = d.cluster
LEFT JOIN pruned p ON c.cluster = p.cluster
ORDER BY c.cluster"""
    )
