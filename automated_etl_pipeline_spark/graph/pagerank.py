"""Fixed-iteration PageRank over a DataFrame edge list.

PageRank (Page, Brin, Motwani, Winograd 1999 — public) as repeated
join-aggregate rounds: the reference corpus-quality signal for web
training data (link-centrality as a document-quality prior). The
variant here is the plain power iteration

    pr_{t+1}(v) = (1-d)/N + d * SUM_{u->v} pr_t(u) / deg(u)

with a FIXED iteration count and no dangling-mass redistribution —
both choices made so the identical computation is expressible as a
DuckDB recursive CTE and the driver can hash-compare values.

Scale design:
- Each iteration is one join (edges x ranks, shuffle on src) plus one
  aggregation (shuffle on dst) — the canonical Pregel-as-SQL shape.
  Edges and degrees are computed once and localCheckpointed; ranks are
  checkpointed every CHECKPOINT_EVERY rounds so the lineage (and
  Catalyst re-analysis cost) stays O(1) per round instead of growing
  with the iteration count.
- Contribution sums go through DECIMAL(20,12): decimal addition is
  exact and fold-order-free, so the result is bit-stable across
  partitionings AND matches the oracle (double SUM would drift with
  shuffle order — the same rule every aggregate gate here follows).
- Convergence at 100 TB: the per-round cost is independent of t; the
  caller picks iters (5-20 typical). For corpus scoring the absolute
  fixpoint is not needed — rank ORDER stabilizes much earlier.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from automated_etl_pipeline_spark.plans.materialize import materialize

CHECKPOINT_EVERY = 2
DAMPING = 0.85


def pagerank(
    nodes: DataFrame,
    edges: DataFrame,
    iters: int = 5,
) -> DataFrame:
    """Rank every node after ``iters`` power-iteration rounds.

    ``nodes`` carry ``doc_id``; ``edges`` (src, dst) are interpreted as
    DIRECTED src->dst (symmetrize before calling for an undirected
    similarity graph). Nodes with no out-edges leak their mass (no
    dangling redistribution); nodes with no in-edges settle at
    (1-d)/N with d = DAMPING. Returns (doc_id, pagerank double).
    """
    n = nodes.count()
    if n == 0:
        return nodes.select("doc_id", F.lit(0.0).alias("pagerank"))
    base = float(1.0 - DAMPING) / n

    e0 = edges.select("src", "dst").localCheckpoint()
    deg = e0.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    # deg rides the edge list (r15 opt, guide §2.2 — hoist the
    # loop-invariant): the old loop re-joined deg to the edges EVERY
    # iteration; the (src, dst, deg) join is iteration-independent, so
    # pay it once at setup and each round is one join lighter.  Values
    # are unchanged — c = pr/deg is the same expression either way.
    e = e0.join(deg, "src").localCheckpoint()

    ranks = nodes.select(
        F.col("doc_id").alias("node"), F.lit(1.0 / n).alias("pr")
    )
    for t in range(iters):
        contribs = (
            e.join(ranks, e.src == ranks.node)
            .select(
                "dst",
                (F.col("pr") / F.col("deg"))
                .cast("decimal(20,12)")
                .alias("c"),
            )
            .groupBy("dst")
            .agg(F.sum("c").alias("m"))
        )
        ranks = (
            nodes.select(F.col("doc_id").alias("node"))
            .join(contribs, F.col("node") == F.col("dst"), "left")
            .select(
                "node",
                (
                    F.lit(base)
                    + F.lit(DAMPING)
                    * F.coalesce(
                        F.col("m").cast("double"), F.lit(0.0)
                    )
                ).alias("pr"),
            )
        )
        if (t + 1) % CHECKPOINT_EVERY == 0 and t + 1 < iters:
            # materialize, not bare localCheckpoint: checkpointing
            # preserves originStats, and the per-round joins square
            # Catalyst's sizeInBytes BigInt until planning itself is
            # the bottleneck at high iteration counts
            # (plans/materialize.py; measured on the suffix array)
            ranks = materialize(ranks)
    return ranks.select(F.col("node").alias("doc_id"), F.col("pr").alias("pagerank"))
