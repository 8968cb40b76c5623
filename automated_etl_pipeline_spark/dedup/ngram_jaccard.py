"""Exact n-gram (shingle) Jaccard near-duplicate pairs via PPJoin-style
prefix filtering.

The third point on the dedup accuracy/cost curve (alongside
``dedup/minhash.py``'s probabilistic LSH and ``dedup/simhash.py``'s
bit-fingerprints): candidates come from a PREFIX inverted index (Chaudhuri
et al. SSJoin / Xiao et al. PPJoin), and every candidate is verified with
the exact set Jaccard — no approximation in the similarity value itself.

Prefix filter (the completeness theorem): sort every shingle set in one
global canonical order (ascending document frequency, ties by shingle
value) and index only each doc's first ``p = |S| - ceil(t*|S|) + 1``
shingles. If J(A,B) >= t then |A∩B| >= ceil(t*max(|A|,|B|)), and the
canonically-smallest common shingle provably lands inside BOTH prefixes
— so indexing prefixes alone finds EVERY qualifying pair. Unlike v1's
hot-shingle df-cap + min-common heuristics (which silently missed pairs
whose overlap was hot or thin), the prefix index is exact-complete.

Scale design:
- Index size drops from sum(|S|) to ~(1-t)*sum(|S|) entries, and the
  candidate join cost sum(df_prefix^2) collapses because frequency-
  ascending order puts HOT shingles at the END of every set — a hot
  shingle enters a prefix only when a doc consists almost entirely of
  hot shingles. Skew resistance falls out of the order itself instead
  of an arbitrary cap.
- The length filter rides the candidate join: J >= t forces
  min(|A|,|B|) >= t*max(|A|,|B|), pruning cross-size pairs before the
  pair-dedup shuffle.
- Shuffles: one explode + df-agg (shingle-keyed), one doc-keyed window
  for the per-doc frequency rank, the prefix self-join (shingle-keyed),
  and two verification joins by doc id. All key-partitioned; no
  all-pairs stage anywhere.
- Remaining quadratic risk is GENUINE duplicate blowup (N mutual
  duplicates => N^2/2 output pairs); run exact dedup first (the cascade
  does) — no candidate scheme can report fewer pairs than exist.
- The optional ``max_df_frac`` cap (v1's stop-shingle trick) is kept as
  an explicit opt-in: it pre-drops ultra-hot shingles from the index
  AND the prefix-length base, trading completeness (pairs whose overlap
  is predominantly hot can be missed) for a hard bound on index df.
  With prefix filtering it is usually unnecessary — leave it None.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# THE shingle definition is shared with MinHash — near-dedup stages of
# a cascade must agree on what a shingle is, and both modules' oracle
# SQL mirrors this single implementation.
from automated_etl_pipeline_spark.dedup.minhash import shingle_set as token_ngrams


def shingle_hash60(s: Column) -> Column:
    """60-bit shingle hash: first 15 hex chars of md5, parsed base-16.

    Why not minhash.shingle_hashes' 32-bit variant: that width exists
    for the permutation arithmetic (products must stay under BIGINT);
    here the hash IS the set element, and at 32 bits a corpus-wide
    birthday collision is likely (n²/2³³), silently perturbing an
    "exact" Jaccard.  60 bits keeps collisions negligible AND parses
    identically in DuckDB (('0x' || 15 hex)::BIGINT < 2⁶³ never
    overflows; 16 hex could)."""
    return F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast("long")


def jaccard_pairs(
    docs: DataFrame,
    n: int = 3,
    threshold: float = 0.6,
    max_df_frac: float | None = None,
    stop_hot_share: float | None = None,
) -> DataFrame:
    """(doc_a, doc_b, jaccard) for ALL pairs with exact shingle-set
    Jaccard >= threshold — complete by the prefix-filter theorem (see
    module docstring) when ``max_df_frac`` and ``stop_hot_share`` are
    both None (the default).  ``stop_hot_share`` is the sketch-measured
    variant of the stop-shingle cap: shingles holding at least that
    share of all shingle instances (found by functions/heavy_hitters,
    confirmed by exact recount) are dropped from the index and the
    prefix-length base.

    Shingles are 60-bit-hashed ONCE up front (``shingle_hash60``): the
    index join keys and the verification arrays are then 8-byte longs
    instead of raw n-gram strings — a several-fold smaller shuffle
    payload for the exact-verify join, with identical Jaccard values
    (the oracle hashes its sets the same way; collisions at 60 bits
    are ~n²/2⁶¹).  The shingle table is localCheckpoint-ed — the prefix
    build plus the two verification joins would otherwise re-execute
    the shingle pass three times (persist(MEMORY_AND_DISK) at cluster
    scale); the prefix index is deliberately NOT checkpointed — its
    self-join's two sides are the same subplan, so ReuseExchange
    materializes the window shuffle once (see inline note below)."""
    # Pre-filter on the CHEAP equivalent condition BEFORE the shingle
    # projection (r15 opt, guide §4.4's duplication mode with pure JVM
    # expressions): ``s`` is empty iff the doc has < n tokens
    # (shingle_set's contract; NULL text -> size(split) = -1, dropped
    # either way), and a ``filter(size(s) > 0)`` ABOVE the projection
    # gets pushed below it with the alias inlined — the whole
    # md5+transform pipeline ran TWICE per row (plan showed md5 x2;
    # the oracle already phrases the filter this cheap way).
    sh = (
        docs.filter(F.size(F.split(F.col("text"), " ")) >= n)
        .select(
            F.col("doc_id"),
            F.array_distinct(
                F.transform(token_ngrams(F.col("text"), n), shingle_hash60)
            ).alias("s"),
        )
        .withColumn("sz", F.size("s"))
        .localCheckpoint()
    )

    inv = sh.select("doc_id", "sz", F.explode("s").alias("g"))
    dft = inv.groupBy("g").agg(F.count(F.lit(1)).alias("df"))
    if max_df_frac is not None:
        # opt-in stop-shingle cap: hot shingles leave the index AND the
        # prefix-length base (kept-set semantics; documented miss mode)
        n_docs = sh.agg(F.count(F.lit(1)).alias("n_docs"))
        dft = (
            dft.crossJoin(F.broadcast(n_docs))
            .filter(F.col("df") <= F.col("n_docs") * max_df_frac)
            .select("g", "df")
        )
    if stop_hot_share is not None:
        # MEASURED stop-shingle cap (VERDICT r7 ask #5): hot shingles
        # are found by the Misra-Gries sketch + exact-recount pipeline
        # — single bounded-memory pass over the instance stream instead
        # of trusting a guessed constant.  The confirmed set equals the
        # exact {g : df(g) >= stop_hot_share * total_instances}, so the
        # capped output is deterministic and a DuckDB HAVING clause can
        # mirror it (tests/test_heavy_hitters.py).  Same kept-set
        # semantics as max_df_frac: hot shingles leave the index and
        # the prefix-length base; exact verification still uses FULL
        # sets, so reported Jaccard values are true — only pairs whose
        # qualifying overlap is predominantly hot can be missed (the
        # documented, intended trade).
        from automated_etl_pipeline_spark.functions.heavy_hitters import (
            heavy_hitters,
        )

        hot = heavy_hitters(inv.select("g"), "g", phi=stop_hot_share).select("g")
        dft = dft.join(F.broadcast(hot), "g", "left_anti")

    # canonical order: ascending df, ties by shingle value — identical
    # in the DuckDB oracle, so prefixes never drift between engines
    w_rank = Window.partitionBy("doc_id").orderBy(F.asc("df"), F.asc("g"))
    ranked = inv.join(dft, "g").withColumn("rn", F.row_number().over(w_rank))
    if max_df_frac is None and stop_hot_share is None:
        # uncapped: the kept set IS the full set, so |kept| == sz and
        # the count-over-partition window is a free column reference
        ranked = ranked.withColumn("ksz", F.col("sz"))
    else:
        ranked = ranked.withColumn(
            "ksz", F.count(F.lit(1)).over(Window.partitionBy("doc_id"))
        )
    # PPJoin prefix length p = |S| - ceil(t*|S|) + 1 over the (kept)
    # set.  The 1e-9 nudge keeps binary64 rounding from pushing
    # ceil(t*|S|) one above the real-arithmetic value, which would
    # shorten the prefix and break the completeness theorem; it can
    # only ever LENGTHEN the prefix (safe side), and the oracle uses
    # the identical expression so prefixes never drift cross-engine.
    # No checkpoint: the candidate self-join's two sides are the same
    # subplan, so Spark's ReuseExchange materializes the window shuffle
    # once and replays it (cheaper than an eager checkpoint pass).
    pref = ranked.filter(
        F.col("rn")
        <= F.col("ksz") - F.ceil(threshold * F.col("ksz") - 1e-9) + 1
    ).select("doc_id", "g", "sz", "rn")

    # overlap requirement: J >= t  <=>  |A∩B| >= t/(1+t) * (|A|+|B|)
    min_overlap = (threshold / (1.0 + threshold)) * (
        F.col("a.sz") + F.col("b.sz")
    ) - 1e-9
    # positional filter (the "PP" in PPJoin): a row joining a's
    # position-i shingle to b's position-j shingle bounds the total
    # overlap by 1 + min(remaining suffix lengths); instances below
    # min_overlap can't witness a qualifying pair.  Completeness holds
    # because the canonically-SMALLEST common shingle instance always
    # satisfies the bound for a truly-qualifying pair.
    pos_bound = F.lit(1) + F.least(
        F.col("a.sz") - F.col("a.rn"), F.col("b.sz") - F.col("b.rn")
    )
    a, b = pref.alias("a"), pref.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.g") == F.col("b.g"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            # length filter: J >= t forces min >= t*max — prune before
            # the pair-dedup shuffle.  Same 1e-9 safety nudge as the
            # prefix-length ceil: if t*max rounds a hair ABOVE the
            # real-arithmetic value, a boundary pair with min exactly
            # t*max would be wrongly pruned; the nudge only ever
            # ADMITS extra candidates (safe side — exact verify
            # rejects them), and the oracle mirrors it.
            & (
                F.least(F.col("a.sz"), F.col("b.sz"))
                >= threshold * F.greatest(F.col("a.sz"), F.col("b.sz")) - 1e-9
            )
            & (pos_bound >= min_overlap),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
    )

    sa, sb = sh.alias("sa"), sh.alias("sb")
    inter = F.size(F.array_intersect(F.col("sa.s"), F.col("sb.s")))
    union = F.size(F.col("sa.s")) + F.size(F.col("sb.s")) - inter
    jac = F.round(inter.cast("double") / union, 6)
    return (
        cand.join(sa, F.col("doc_a") == F.col("sa.doc_id"))
        .join(sb, F.col("doc_b") == F.col("sb.doc_id"))
        .select("doc_a", "doc_b", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )
