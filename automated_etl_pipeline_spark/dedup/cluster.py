"""Connected components over the near-duplicate pair graph — the
clustering step that turns pairwise dedup output into keep/drop sets.

Pairwise near-dedup (minhash.py / simhash.py) emits edges; dropping
``doc_b`` of every edge is only one-hop and over-deletes chains
(a-b, b-c drops both b and c even though c may only resemble b). The
correct grouping is the connected component, with one survivor per
component (the min id).

Spark-first formulation: iterative min-label propagation —
every vertex starts labeled with itself; each round every vertex takes
the min of its own and its neighbors' labels; fixpoint in
O(component diameter) rounds. This is the simple variant of the
small-star/large-star algorithm (Kiveris et al., "Connected
Components in MapReduce and Beyond"); near-dup components are shallow
(diameter ~ a few hops), so few rounds suffice.

Scale notes:
- Each round is one join + one groupBy on the edge list — all hash
  shuffles on vertex ids. Labels only ever decrease, so convergence is
  monotone; the loop exits when sum(labels) stops changing (one tiny
  aggregate per round, no row-level diff join).
- ``localCheckpoint`` per round truncates the lineage — without it the
  plan doubles every iteration and the driver dies long before the
  data does (the classic iterative-DataFrame trap).
- Oracle: a DuckDB recursive CTE reaches the same fixpoint
  (min reachable id == min label of the component).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from automated_etl_pipeline_spark.plans.materialize import materialize


def connected_components(
    vertices: DataFrame,
    edges: DataFrame,
    id_col: str = "id",
    src_col: str = "src",
    dst_col: str = "dst",
    max_iter: int = 25,
) -> DataFrame:
    """(id, component) — component = min vertex id reachable via edges
    (undirected). Vertices with no edges form singleton components."""
    sym = (
        edges.select(F.col(src_col).alias("a"), F.col(dst_col).alias("b"))
        .unionByName(
            edges.select(F.col(dst_col).alias("a"), F.col(src_col).alias("b"))
        )
        .distinct()
        .localCheckpoint()
    )
    # isolated vertices are their own component and never change —
    # keep them out of the iteration (in a dedup corpus they are the
    # overwhelming majority) and union them back at the end
    all_v = vertices.select(F.col(id_col).alias("vid"))
    edge_v = sym.select(F.col("a").alias("vid")).distinct()
    singletons = all_v.join(edge_v, "vid", "left_anti").select(
        "vid", F.col("vid").alias("label")
    )
    labels = edge_v.select("vid", F.col("vid").alias("label")).localCheckpoint()
    # convergence probe: labels only ever decrease, so the label sum is
    # strictly monotone until fixpoint. Summed as DECIMAL(38,0) — a
    # BIGINT sum of 64-bit hash ids overflows (ANSI mode: crash;
    # legacy: silent wrap and a bogus convergence signal).
    label_sum = lambda df: df.agg(  # noqa: E731
        F.sum(F.col("label").cast("decimal(38,0)"))
    ).first()[0]
    prev_sum = label_sum(labels)
    converged = False
    # max_iter productive rounds + 1 confirmation round: a component
    # whose diameter exactly equals max_iter changes the sum on every
    # productive round and needs the extra pass to prove the fixpoint
    for _ in range(max_iter + 1):
        nbr = (
            sym.join(labels, sym.b == labels.vid)
            .groupBy("a")
            .agg(F.min("label").alias("nbr_label"))
        )
        labels = (
            labels.join(nbr, labels.vid == nbr.a, "left")
            .select(
                "vid",
                F.least(
                    F.col("label"), F.coalesce(F.col("nbr_label"), F.col("label"))
                ).alias("label"),
            )
        )
        # materialize, not bare localCheckpoint: the per-round
        # label-propagation join squares the preserved sizeInBytes
        # stat, so at max_iter=25 planning alone would be unbounded
        # BigInt arithmetic (plans/materialize.py; the suffix-array
        # measurement).  Re-rooting resets the stat every round.
        labels = materialize(labels)
        cur_sum = label_sum(labels)
        if cur_sum == prev_sum:
            converged = True
            break
        prev_sum = cur_sum
    if not converged:
        raise ValueError(
            f"connected_components did not converge in {max_iter} rounds "
            "(component diameter exceeds max_iter); raise max_iter — "
            "returning partial labels would silently mislabel components"
        )
    return labels.unionByName(singletons).select(
        F.col("vid").alias(id_col), F.col("label").alias("component")
    )


def dedup_keep_set(
    vertices: DataFrame,
    edges: DataFrame,
) -> DataFrame:
    """One survivor per component (the min id): the correct global
    keep-set for cascade deletion."""
    comp = connected_components(vertices, edges)
    return comp.filter(F.col("id") == F.col("component")).select("id")


def _large_star(e: DataFrame) -> DataFrame:
    """One large-star round (Kiveris et al., "Connected Components in
    MapReduce and Beyond", SoCC'14): for every node u over its full
    neighborhood N(u), connect each strictly-larger neighbor to
    m = min(N(u) + {u}).  Emits no self-loops (m <= u < v).

    INPUT CONTRACT (r15 opt): ``e`` is canonical — distinct edges with
    ``u > v`` — so the symmetrized union below is disjoint by
    construction (u>v rows never collide with their u<v mirrors) and
    needs NO distinct: one full shuffle per round removed.  The output
    is canonical again (every emitted row is (old v, m) with
    v > u >= m), so rounds chain without re-canonicalizing."""
    sym = e.unionByName(
        e.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    mins = (
        sym.groupBy("u")
        .agg(F.min("v").alias("__mv"))
        .select("u", F.least("u", "__mv").alias("m"))
    )
    return (
        sym.join(mins, "u")
        .where(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .distinct()
    )


def _small_star(e: DataFrame) -> DataFrame:
    """One small-star round: orient every edge large->small, then for
    every node u connect u and each of its (all smaller) neighbors to
    m = min(N(u)) — except m itself.  Emits no self-loops.

    INPUT CONTRACT (r15 opt): ``e`` is canonical (distinct, ``u > v``)
    — large-star's output always is — so the orient-and-distinct pass
    the general form needs (a greatest/least projection plus a full
    shuffle) is a no-op here and is skipped.  Output rows are (v, m)
    with v > m and (u, m) with u > m: canonical modulo the final
    distinct, which stays (different u can emit the same pair)."""
    oriented = e
    mins = oriented.groupBy("u").agg(F.min("v").alias("m"))
    nbrs = (
        oriented.join(mins, "u")
        .where(F.col("v") != F.col("m"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
    )
    selfs = mins.select("u", F.col("m").alias("v"))
    return nbrs.unionByName(selfs).distinct()


def connected_components_stars(
    vertices: DataFrame,
    edges: DataFrame,
    id_col: str = "id",
    src_col: str = "src",
    dst_col: str = "dst",
    max_iter: int = 50,
    stats_out: dict | None = None,
) -> DataFrame:
    """(id, component) — same contract as ``connected_components``
    (component = min reachable vertex id), via the alternating
    large-star/small-star algorithm: O(log n) rounds for ANY component
    shape, vs O(diameter) for min-label propagation.  Use this when
    components can be deep (citation/link graphs, transitive fuzzy
    matches); propagation stays the cheaper choice for the shallow
    clusters near-dup dedup produces (2-3 rounds of one join each vs
    two groupBy+join rounds here).

    Convergence: the edge multiset is a fixpoint of small-star —
    checked exactly (count + exceptAll), never probabilistically; a
    graph that hasn't converged in ``max_iter`` rounds fails loudly
    (same contract as propagation).  Each round's frames go through
    ``materialize`` so neither lineage nor Catalyst's sizeInBytes
    stat compounds (plans/materialize.py)."""
    # seed CANONICAL: orient u > v before the dedup shuffle (r15 opt)
    # — the star helpers then keep the invariant for free, so neither
    # round pays the symmetrize-distinct (large star) or the
    # orient-distinct (small star) shuffle the general forms need.
    # Orientation inside the same distinct costs nothing extra and
    # collapses (a,b)/(b,a) mirror inputs to one row up front.
    sym = (
        edges.select(F.col(src_col).alias("u"), F.col(dst_col).alias("v"))
        .where(F.col("u") != F.col("v"))
        .select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        )
        .distinct()
        .localCheckpoint()
    )
    all_v = vertices.select(F.col(id_col).alias("vid"))
    edge_v = (
        sym.select(F.col("u").alias("vid"))
        .unionByName(sym.select(F.col("v").alias("vid")))
        .distinct()
        .localCheckpoint()
    )
    singletons = all_v.join(edge_v, "vid", "left_anti").select(
        "vid", F.col("vid").alias("component")
    )
    cur = materialize(sym)
    # carry |cur| across rounds: each round then pays two cheap counts
    # over already-materialized frames, and the exceptAll scans run
    # ONLY on candidate-final rounds (all three counts equal) — folded
    # into one action via union + isEmpty (r11 ADVICE: the old same()
    # pair cost two counts plus two full-edge-set exceptAll scans on
    # every round, converged or not)
    c_cur = cur.count()
    converged = c_cur == 0
    rounds = 0
    for _ in range(max_iter):
        if converged:
            break
        rounds += 1
        ls = materialize(_large_star(cur))
        nxt = materialize(_small_star(ls))
        c_ls, c_nxt = ls.count(), nxt.count()
        # converged only when BOTH operations are at their fixpoint
        # (a union of stars is a fixpoint of each; requiring only the
        # composite could in principle accept an ls/ss 2-cycle and
        # mislabel — never trade a loud failure for a wrong answer).
        # All frames are distinct, so equal counts + empty one-sided
        # differences prove set equality.
        if (
            c_ls == c_cur
            and c_nxt == c_cur
            and nxt.exceptAll(cur).unionByName(ls.exceptAll(cur)).isEmpty()
        ):
            cur = nxt
            converged = True
            break
        cur, c_cur = nxt, c_nxt
    if stats_out is not None:
        # observability hook for smokes/tests: how many alternating
        # rounds the graph actually needed
        stats_out["rounds"] = rounds
    if not converged:
        raise ValueError(
            f"connected_components_stars did not converge in {max_iter}"
            " rounds; raise max_iter — returning partial labels would"
            " silently mislabel components"
        )
    # at the fixpoint every non-root points directly at its component
    # min; roots appear only on the v side (or not at all)
    labels = cur.groupBy("u").agg(F.min("v").alias("component")).select(
        F.col("u").alias("vid"), "component"
    )
    roots = edge_v.join(
        labels.select(F.col("vid")), "vid", "left_anti"
    ).select("vid", F.col("vid").alias("component"))
    return (
        labels.unionByName(roots)
        .unionByName(singletons)
        .select(F.col("vid").alias(id_col), "component")
    )
