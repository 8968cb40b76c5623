"""Deterministic distributed k-means (Lloyd's, fixed iterations) over an
embedding column — the clustering primitive a training-data curation
pipeline uses for cluster-balanced sampling, topic coverage reports,
and IVF coarse quantizers (similarity/ivf.py uses a one-pass variant;
this is the iterative refinement).

Everything is DataFrame column expressions — no UDF, no driver-side
vectors, no collect: centroids live in a k-row DataFrame that is
broadcast back into each assignment pass, and updates are
posexplode + two groupBys. The iteration count is FIXED (hyperparameter,
like graph/pagerank.py's fixed-iteration design): convergence checks
would add a driver round-trip per iteration for no testable benefit.

Determinism (what makes this oracle-checkable cross-engine):
- inputs are quantized ONCE to integers (round(x * SCALE)): centroid
  updates then sum exact BIGINTs — Spark's parallel partial aggregation
  and DuckDB's sequential sum agree bit-for-bit — and the mean is a
  single double division;
- distances fold left-to-right over the 64 components in both engines
  (F.aggregate / list_sum), so the doubles are IEEE-identical;
- argmin ties break on the cluster id (deterministic total order);
- init is the k lowest-id vectors (seeded-deterministic, like
  ml/simulate.py), not random sampling.

Scale: each iteration is one k-way broadcast crossJoin (k rows of
dim doubles — KBs), one per-vector window over k candidate rows, and
one (cluster, pos)-keyed aggregation: all shuffles are keyed and
bounded by k*dim or n*k rows; nothing is quadratic in n. At a billion
vectors the per-iteration cost is ~k full scans' worth of FLOPs —
exactly MLlib's KMeans cost model, but expressed as a plain Catalyst
plan (AQE-optimizable, no RDD boundary).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# Fixed-point scale and vector width the gates and their DuckDB oracles
# share: both engines must round to the same integer codes.  The oracles
# run Lloyd's with ORACLE_K clusters for ORACLE_ITERS passes, the k and
# iters the gates pass to the Spark side.
SCALE = 1000
DIM = 64
ORACLE_K = 8
ORACLE_ITERS = 3


def quantize_vectors(emb: DataFrame) -> DataFrame:
    """(vec_id, q: array<bigint>) — fixed-point inputs; the exactness of
    everything downstream rests on this single rounding."""
    return emb.select(
        F.col("vec_id"),
        F.transform(
            F.col("embedding"),
            lambda x: F.round(x.cast("double") * SCALE).cast("long"),
        ).alias("q"),
    )


def _sq_dist(q: Column, c: Column) -> Column:
    """Sum of squared differences, folded left-to-right (sequential —
    matches DuckDB's list_sum evaluation order, so doubles agree)."""
    return F.aggregate(
        F.zip_with(q, c, lambda a, b: (a.cast("double") - b) * (a.cast("double") - b)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _assign(pts: DataFrame, cent: DataFrame) -> DataFrame:
    """Nearest-centroid assignment: broadcast the k-row centroid table,
    compute k distances per vector, keep the argmin (ties -> lowest
    cluster id).

    Shape (r16 opt, guide §2.3/§2.4 — shuffle fewer bytes): the argmin
    is a grouped ``min(struct(d2, cluster))`` over the crossJoin
    output WITHOUT the vector columns — struct comparison is
    lexicographic, so min(struct) picks exactly the (lowest d2,
    then lowest cluster) row the old row_number window picked.  The
    broadcast crossJoin preserves ``pts``'s partitioning, so the
    partial aggregate collapses the k candidates per vector MAP-SIDE
    and the exchange carries n narrow rows — where the old
    ``Window.partitionBy(id)`` shuffled all n*k candidate rows WITH
    the dim-length ``q`` array on each (k*~540B per vector vs ~20B).
    ``q`` is re-attached by an id-keyed join against ``pts`` (two
    n-row exchanges of one q copy each) — the §8 proxy rule: decide
    on small rows, move the heavy column once.

    The aggregation's struct buffer is immutable, so the argmin runs
    as SortAggregate/ObjectHashAggregate rather than codegen
    HashAggregate — but over n*k NARROW rows with no exchange, which
    measured faster than the window (paired A/B at sf0.1:
    kmeans_cluster_stats 0.87x, semdedup_cluster_prune 0.90x) and
    shuffles ~4x fewer bytes at k=8.

    r15 measured-and-REJECTED alternative (kept for the record):
    folding the k centroids into one broadcast array row and taking
    the argmin as an ``array_min`` over (d2, cluster) structs removes
    the exchange too but ran 1.09x SLOWER — higher-order functions
    are CodegenFallback and the interpreted fold over k x dim costs
    more than it saves.  A min(struct) that CARRIES the array column
    hits the immutable-agg-buffer SortAggregate trap on the whole
    stream (the profile_table_columns lesson) — hence aggregate
    first, re-join ``q`` after."""
    best = (
        pts.crossJoin(F.broadcast(cent))
        .withColumn("d2", _sq_dist(F.col("q"), F.col("c")))
        .groupBy("vec_id")
        .agg(F.min(F.struct(F.col("d2"), F.col("cluster"))).alias("__best"))
        .select(
            "vec_id",
            F.col("__best.cluster").alias("cluster"),
            F.col("__best.d2").alias("d2"),
        )
    )
    return best.join(pts, "vec_id").select("vec_id", "q", "cluster", "d2")


def _update(assigned: DataFrame) -> DataFrame:
    """New centroids: component-wise mean per cluster. Integer sums are
    exact; the array is rebuilt position-sorted (collect_list order is
    nondeterministic, array_sort on the (pos, m) struct is not)."""
    means = (
        assigned.select("cluster", F.posexplode("q").alias("pos", "v"))
        .groupBy("cluster", "pos")
        .agg((F.sum("v").cast("double") / F.count(F.lit(1))).alias("m"))
    )
    return means.groupBy("cluster").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "m"))), lambda s: s.m
        ).alias("c")
    )


def kmeans_assign(
    emb: DataFrame,
    k: int = 8,
    iters: int = 3,
    keep_q: bool = False,
) -> DataFrame:
    """(vec_id, cluster, d2) under the centroids after ``iters`` Lloyd
    passes (assignment i uses centroids from update i-1; the returned
    assignment is pass ``iters``, i.e. centroids updated iters-1
    times).  ``keep_q=True`` additionally returns the quantized ``q``
    column — consumers that need the vectors (semdedup's pair stage)
    then skip a re-quantize + id join."""
    pts = quantize_vectors(emb)
    # init: the k lowest-id vectors, cluster ids 0..k-1 in id order
    # (the window runs over k rows — driver-scale, not a global sort)
    w0 = Window.orderBy("vec_id")
    cent = (
        pts.orderBy("vec_id")
        .limit(k)
        .select(
            (F.row_number().over(w0) - 1).cast("int").alias("cluster"),
            F.transform("q", lambda x: x.cast("double")).alias("c"),
        )
    )
    assigned = _assign(pts, cent)
    for _ in range(iters - 1):
        cent = _update(assigned)
        assigned = _assign(pts, cent)
    cols = ["vec_id", F.col("cluster").cast("int").alias("cluster"), "d2"]
    if keep_q:
        cols.insert(1, F.col("q"))
    return assigned.select(*cols)


def _oracle_ctes() -> str:
    """The shared CTE chain (pts → cent0 → d1/a1 → … → a{ORACLE_ITERS})
    every k-means oracle builds on — generated from the same
    hyperparameters as the Spark plan so the two engines cannot drift
    structurally.
    list_sum folds the same components the Spark F.aggregate folds;
    SUM over BIGINT is exact in both."""
    sq = (
        f"(CAST(p.q[i] AS DOUBLE) - c.c[i]) * (CAST(p.q[i] AS DOUBLE) - c.c[i])"
    )
    parts = [
        f"""WITH pts AS (
  SELECT vec_id,
         list_transform(embedding,
           x -> CAST(round(CAST(x AS DOUBLE) * {SCALE}) AS BIGINT)) AS q
  FROM embeddings
), cent0 AS (
  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cluster,
         list_transform(q, x -> CAST(x AS DOUBLE)) AS c
  FROM (SELECT vec_id, q FROM pts ORDER BY vec_id LIMIT {ORACLE_K})
)"""
    ]
    for it in range(1, ORACLE_ITERS + 1):
        parts.append(
            f""", d{it} AS (
  SELECT p.vec_id, p.q, c.cluster,
         list_sum(list_transform(range(1, {DIM + 1}), i -> {sq})) AS d2
  FROM pts p CROSS JOIN cent{it - 1} c
), a{it} AS (
  SELECT vec_id, q, cluster, d2 FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d2, cluster) AS rn
    FROM d{it}
  ) WHERE rn = 1
)"""
        )
        if it < ORACLE_ITERS:
            parts.append(
                f""", m{it} AS (
  SELECT cluster, i.range AS pos,
         CAST(SUM(q[i.range]) AS DOUBLE) / COUNT(*) AS m
  FROM a{it} CROSS JOIN range(1, {DIM + 1}) i
  GROUP BY cluster, pos
), cent{it} AS (
  SELECT cluster, list(m ORDER BY pos) AS c FROM m{it} GROUP BY cluster
)"""
            )
    return "".join(parts)


def duckdb_oracle_sql() -> str:
    """DuckDB mirror of ``kmeans_cluster_stats(k=ORACLE_K,
    iters=ORACLE_ITERS)``."""
    return (
        _oracle_ctes()
        + f"""
SELECT cluster, COUNT(*) AS n_vecs,
       CAST(SUM(CAST(sqrt(d2) / {SCALE} AS DECIMAL(18,6))) AS DOUBLE)
         / COUNT(*) AS avg_dist
FROM a{ORACLE_ITERS} GROUP BY cluster ORDER BY cluster"""
    )


def duckdb_balanced_sample_sql() -> str:
    """DuckDB mirror of ``kmeans_balanced_sample`` — same CTE chain,
    then the per-cluster deterministic-hash top-10.  The sample
    order key is ``md5(CAST(id AS VARCHAR))``: both engines produce the
    identical lowercase hex string, so the 'random' pick is
    bit-reproducible cross-engine (and across reruns — a curation
    sample you can re-derive is auditable)."""
    return (
        _oracle_ctes()
        + f"""
SELECT cluster, vec_id, CAST(rn AS BIGINT) AS samp_rank FROM (
  SELECT cluster, vec_id,
         row_number() OVER (
           PARTITION BY cluster
           ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS rn
  FROM a{ORACLE_ITERS})
WHERE rn <= 10 ORDER BY cluster, samp_rank"""
    )


def kmeans_cluster_stats(
    emb: DataFrame,
    k: int = 8,
    iters: int = 3,
) -> DataFrame:
    """Per-cluster size + mean member distance (the curation report:
    which topics dominate, which are thin).  Distances go through a
    DECIMAL(18,6) cast before summing so the mean is exact-arithmetic
    cross-engine (the repo-wide double-sum discipline)."""
    assigned = kmeans_assign(emb, k, iters)
    dist = (F.sqrt(F.col("d2")) / SCALE).cast("decimal(18,6)")
    return (
        assigned.groupBy("cluster")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            (F.sum(dist).cast("double") / F.count(F.lit(1))).alias("avg_dist"),
        )
        .orderBy("cluster")
    )


def kmeans_balanced_sample(emb: DataFrame) -> DataFrame:
    """Cluster-balanced corpus sample — the module's stated purpose,
    as a consumer of the clusters (ORACLE_K clusters after
    ORACLE_ITERS passes): up to 10 members per cluster, picked by a
    DETERMINISTIC pseudo-random order (md5 of the id — identical hex
    in DuckDB, so the sample is cross-engine reproducible and
    re-derivable for audits; a seeded rand() would be
    engine-specific).  A dominant topic contributes 10 rows, a
    thin one contributes what it has — the standard counter to
    majority-topic capture in training-data curation.

    Scale: the rank filter hits Spark's WindowGroupLimit rewrite
    (plan-asserted in tests/test_plans.py) — each map task pre-trims
    to 10 rows per cluster before the shuffle, so the exchange
    carries at most 10 × #partitions rows per cluster, not the
    cluster's full membership."""
    assigned = kmeans_assign(emb, ORACLE_K, ORACLE_ITERS)
    w = Window.partitionBy("cluster").orderBy(
        F.md5(F.col("vec_id").cast("string")), F.col("vec_id")
    )
    return (
        assigned.withColumn("samp_rank", F.row_number().over(w).cast("long"))
        .filter(F.col("samp_rank") <= 10)
        .select("cluster", "vec_id", "samp_rank")
        .orderBy("cluster", "samp_rank")
    )
