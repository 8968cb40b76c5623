"""Variable-length exact-substring dedup via a distributed suffix
array (prefix doubling).

`dedup/spans.py` finds FIXED-width (W-token) duplicated windows — the
Spark-native stand-in for the suffix-array signal of Lee et al.,
"Deduplicating Training Data Makes Language Models Better"
(arXiv:2107.06499).  This module builds the real thing: for every
token position in the corpus, the length of the LONGEST substring
starting there that also occurs anywhere else (any other position in
any document, the same document included).  That exact per-position
match length is what the paper's suffix array provides and what a
fixed window cannot: spans are maximal and variable-length, so a
1000-token verbatim copy is one span, not 1000-W+1 overlapping
window hits.

Reference parity note: the reference pipeline
(nareshpendyala/Automated-ETL-Pipeline) has no dedup surface at all —
this operator belongs to the engine's LLM-training-data extension
family, alongside dedup/minhash.py and dedup/spans.py.

Algorithm — all DataFrame ops, sized for a corpus that fits no task:

1. **Global positions.**  Tokens explode to one row per (doc, pos).
   Each doc's block gets a contiguous global id range ``gid``
   computed from exclusive prefix sums of block lengths (two-phase:
   range repartition + per-pid keyed running sums + bounded offset
   collect — no global window).  One
   SENTINEL row per document terminates its block with a rank unique
   to the doc, so no comparison ever runs past a document boundary:
   any window containing a sentinel is globally unique.

2. **Prefix doubling** (Manber-Myers).  ``rank_k[gid]`` names the
   2^k-token window at ``gid``; each round self-joins the rank frame
   shifted by 2^k and re-keys ``(rank, rank_shift)`` pairs — by pure
   order-preserving arithmetic while the rank-space bound stays under
   2^31 (the bound squares per arithmetic round), with a full
   ``_dense_ranks`` re-densify only when it would overflow.
   Doubling STARTS at k = ``_W0`` (= 8): the level-3 key is built
   map-side from each doc's own token array (an 8-token-slot struct
   with a per-doc sentinel tiebreak, ranked in one densify), so the
   k = 1, 2, 4 rounds never run.
   Rounds needed: ceil(log2(longest doc + 1)) - log2(_W0) —
   sentinels make every suffix distinct within that horizon, NOT
   log2(corpus).  Ranks are
   re-densified by ``_dense_ranks`` (below); every round frame is
   materialized via plans/materialize.py — localCheckpoint PLUS a
   fresh-LogicalRDD re-root, so both the lineage AND Catalyst's
   ``sizeInBytes`` statistic stay flat across rounds (checkpointing
   alone preserves ``originStats``, which the per-round self-joins
   square until planning itself becomes million-bit BigInt
   arithmetic — measured 12.8 s/level at round 7, 0.3 s reset).

3. **Neighbor LCPs.**  With all suffixes distinct, the final rank IS
   the suffix-array position; adjacent ranks give the n-1 candidate
   pairs.  Exact LCP per pair descends the stored rank levels
   greedily (h += 2^k whenever rank_k matches at offset h) — the
   classic O(log n)-per-pair sparse-table walk, expressed as one
   equi-join per level over the pair frame; the final < _W0 tokens
   resolve in ONE content join (array common-prefix) instead of the
   three k = 1, 2, 4 rank joins.  Kasai's O(n) LCP scan is
   inherently sequential and is NOT used.

4. **Match lengths.**  The longest match of suffix i against the
   whole corpus equals its max LCP with its two suffix-array
   neighbors (standard SA property), so a union + max-by-gid
   finishes the job.

Scale shape: O(log Lmax) rounds, each one equi-join + one
re-densify; the only driver-side materializations are
per-shuffle-partition count rows (``_dense_ranks`` offsets, bounded
by spark.sql.shuffle.partitions) and prefix.py's bounded bucket
frames.  No global windows: the only windows are per-pid local
ranks (keyed by partition id over a checkpointed frame) and the
per-document islands merge (doc-length bounded, same contract as
spans.py).  Memory: the stored levels hold O(n log Lmax) rows across
the round frames — the price of a distributable LCP; at 100 TB,
persist levels to executor-local disk (the materialize checkpoint
already does) and raise shuffle partitions with corpus size.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from automated_etl_pipeline_spark.plans.materialize import materialize
from automated_etl_pipeline_spark.operators.ranks import (
    global_ranks,
    partition_offsets,
)

_MISSING_RANK = -1  # gid past corpus end in a shifted join

# Arithmetic re-key guard: a doubling round may re-key (rank, __r2)
# as rank*(ubound+2) + (__r2+2) only while ubound stays below this,
# keeping the product under 2^63 even on the NEXT chained round
# ((2^31+1)^2 < 2^63).  Module-level so tests can pin it to 0 and
# compare against the densify-every-round fallback.
_ARITH_UBOUND_LIMIT = 1 << 31

# Initial rank window in tokens (r15 opt): level 0 ranks the first
# _W0 suffix components directly (a token-slot struct built map-side
# from each doc's token array), so prefix doubling STARTS at k = _W0
# and the k = 1, 2, 4 rounds — one full densify + remap each — never
# run; the LCP descent resolves the final < _W0 tokens with ONE
# content join instead of log2(_W0) rank-level joins.  8 keeps the
# struct narrow enough for the range partitioner's sampling while
# skipping three rounds; the equivalence argument is in
# corpus_positions' docstring.
_W0 = 8


def _dense_ranks(
    df: DataFrame, key_cols: list[str], out_col: str
) -> tuple[DataFrame, int]:
    """(ranked, n_distinct): global dense rank (0-based) of the
    distinct ``key_cols`` tuples under their natural sort order, via
    the shared two-phase construction (operators/ranks.py — no
    single-partition window).  ``n_distinct`` comes free from the
    offset collect and is the doubling loop's all-ranks-distinct
    early-exit test (r10 review: the loop previously paid one full
    max(rank) scan per round for the same answer)."""
    return global_ranks(df.select(*key_cols).distinct(), key_cols, out_col)


def _block_offsets(lens: DataFrame) -> DataFrame:
    """(doc_id, block_len, offset): EXCLUSIVE running sum of
    ``block_len`` in ``doc_id`` order — the shared two-phase shape
    (operators/ranks.py), NOT a constant-key global window (Catalyst
    constant-folds a literal partition key into an empty partition
    spec = single-partition WindowExec)."""
    parts, off_df, _ = partition_offsets(lens, ["doc_id"], weight_col="block_len")
    w = (
        Window.partitionBy("__pid")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return (
        parts.join(F.broadcast(off_df), "__pid")
        .withColumn(
            "offset",
            (F.coalesce(F.sum("block_len").over(w), F.lit(0)) + F.col("__off")).cast(
                "long"
            ),
        )
        .drop("__pid", "__off")
    )


def corpus_positions(docs: DataFrame) -> DataFrame:
    """(gid, doc_id, pos, is_sent, key): one row per real token plus
    one sentinel row per document (pos == len(tokens)), gids
    contiguous per doc block in ``doc_id`` order.  ``key`` is the
    LEVEL-log2(_W0) comparison key, built map-side from the doc's own
    token array: a struct of the next ``_W0`` token slots (``''`` for
    slots at/past the doc's sentinel) plus a ``term`` long — the doc's
    sentinel rank ``-offset-2`` when the window is truncated by the
    sentinel, ``0`` for complete windows.

    Struct comparison of these keys reproduces the ORIGINAL per-token
    comparison (vocab rank per slot, sentinel rank -offset-2 below all
    tokens) outcome-for-outcome:

    - token slots compare as strings — the same total order the old
      dense vocab rank encoded;
    - tokens are non-empty (the split filter), so the ``''`` pad
      sorts strictly first — exactly the negative sentinel rank
      deciding "shorter suffix first";
    - components past the first sentinel can never decide a
      comparison in the old key space (sentinel ranks are globally
      unique, so two windows agreeing through a sentinel are the SAME
      window); replacing them with ``''`` pads plus the per-doc
      ``term`` tiebreak therefore flips no outcome, and ``term``
      reproduces the old sentinel-vs-sentinel order (-offset-2 on
      both sides) for content-equal truncated windows.

    Empty/whitespace-only docs contribute just their sentinel."""
    toks = docs.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        # NULL text behaves as an empty doc (size(NULL) would poison
        # the offset arithmetic with -1/NULL otherwise)
        F.filter(
            F.split(F.coalesce(F.col("text"), F.lit("")), " "), lambda t: t != ""
        ).alias("t"),
    )
    lens = toks.select("doc_id", (F.size("t") + F.lit(1)).alias("block_len"))
    offs = _block_offsets(lens)
    base = toks.join(offs, "doc_id")
    # one row per position INCLUDING the sentinel (pos == size(t));
    # slots/term come straight off the token array — no vocab densify,
    # no explode-then-regroup
    # try_element_at: past-the-end slots are NULL (ANSI element_at
    # raises), coalesced to the '' pad
    slot = lambda j: F.coalesce(  # noqa: E731
        F.try_element_at(F.col("t"), F.col("pos") + F.lit(j + 1)), F.lit("")
    )
    term = F.when(
        F.col("pos") + F.lit(_W0) > F.size("t"),
        (-F.col("offset") - F.lit(2)).cast("long"),
    ).otherwise(F.lit(0).cast("long"))
    return base.select(
        "doc_id",
        "offset",
        "t",
        F.explode(F.sequence(F.lit(0), F.size("t"))).alias("pos"),
    ).select(
        (F.col("offset") + F.col("pos")).alias("gid"),
        "doc_id",
        "pos",
        (F.col("pos") == F.size("t")).alias("is_sent"),
        F.struct(
            *[slot(j).alias(f"t{j}") for j in range(_W0)],
            term.alias("term"),
        ).alias("key"),
    )


def suffix_ranks(
    docs: DataFrame,
) -> tuple[DataFrame, list[tuple[int, DataFrame]], DataFrame]:
    """Run prefix doubling to completion.

    Returns ``(final, levels, low)``: ``final`` is (gid, doc_id, pos,
    is_sent, rank) with all ranks distinct (rank == suffix-array
    position); ``levels`` is [(prefix_len, (gid, rank))...] for every
    doubling level from ``_W0`` up, for the LCP descent's coarse
    steps; ``low`` is (gid, w) — the up-to-``_W0 - 1`` tokens
    following ``gid``, projected off the materialized position frame
    for the descent's final content comparison (the k = 1..4 rank
    levels the ``_W0`` start skips are exactly token-content equality,
    so one array comparison replaces them)."""
    pos = materialize(corpus_positions(docs))
    n = pos.count()
    low = pos.select(
        "gid",
        F.filter(
            F.array(*[F.col(f"key.t{j}") for j in range(_W0 - 1)]),
            lambda x: x != "",
        ).alias("w"),
    )
    if n == 0:
        return (
            pos.select("gid", "doc_id", "pos", "is_sent").withColumn(
                "rank", F.lit(None).cast("long")
            ),
            [],
            low,
        )
    max_block = pos.groupBy("doc_id").count().agg(F.max("count")).collect()[0][0]
    # level-log2(_W0) ranks: one densify of the map-side window keys —
    # the vocab rank + r0 re-densify + three k<_W0 doubling rounds of
    # the k=1 start collapse into this single pass
    r0, n0 = _dense_ranks(pos.select("key"), ["key"], "__d")
    cur = materialize(
        pos.join(r0, "key")
        .select("gid", "doc_id", "pos", "is_sent", F.col("__d").alias("rank"))
    )
    levels: list[tuple[int, DataFrame]] = [(_W0, cur.select("gid", "rank"))]
    k = _W0
    # `ubound`: exclusive upper bound of the current rank space (exact
    # n_distinct after a densify round, the (ubound+1)^2 envelope after
    # an arithmetic round); `dense` — whether ranks are additionally
    # dense-consecutive in [0, ubound) (only densify rounds make them
    # so, and only the FINAL frame needs it).
    ubound = n0
    dense = True
    # n0 == n: every _W0-window is already unique — the order is fully
    # decided and the doubling loop never needs to run
    while n0 < n and k < max_block:
        shifted = cur.select(
            (F.col("gid") - F.lit(k)).alias("gid"), F.col("rank").alias("__r2")
        )
        paired = (
            cur.join(shifted, "gid", "left")
            .fillna({"__r2": _MISSING_RANK})
        )
        if ubound < _ARITH_UBOUND_LIMIT:
            # ARITHMETIC re-key (r15 opt, guide §1.2 step 1 / §2.4 —
            # remove whole shuffles): with ranks bounded in [0, ubound),
            # the pair (rank, __r2) maps ORDER-PRESERVINGLY into one
            # long as rank * (ubound + 2) + (__r2 + 2)
            # (__r2 ∈ {-1} ∪ [0, ubound), so the shifted second term
            # stays inside one stride) — equal pairs stay equal,
            # distinct pairs stay distinct, order is lexicographic.
            # That is everything a doubling level needs from its rank,
            # so the round skips the full _dense_ranks machinery (a
            # distinct shuffle, a range-repartition with its sampling
            # job, an eager checkpoint, an offsets collect and a remap
            # join) for a pure projection.  DENSITY IS NOT REQUIRED —
            # only the bound — so arithmetic rounds CHAIN while the
            # squaring envelope stays under 2^31 (max new rank is
            # (ubound-1)(ubound+2) + ubound+1 = (ubound+1)^2 - 2, and
            # the guard keeps the next round's product under 2^63):
            # a 14k-token corpus runs D,A,A,D,... (densify every THIRD
            # round), a tiny one chains 3+.  ubound >= 2^31 (> ~2e9
            # distinct suffixes in one build) falls back to
            # densify-every-round — same results, the old cost.
            cur = materialize(
                paired.select(
                    "gid",
                    "doc_id",
                    "pos",
                    "is_sent",
                    (
                        F.col("rank") * F.lit(ubound + 2)
                        + (F.col("__r2") + F.lit(2))
                    ).alias("rank"),
                )
            )
            ubound = (ubound + 1) ** 2
            dense = False
            k *= 2
            levels.append((k, cur.select("gid", "rank")))
            continue
        remap, n_distinct = _dense_ranks(
            paired.select("rank", "__r2"), ["rank", "__r2"], "__d"
        )
        cur = materialize(
            paired.join(remap, ["rank", "__r2"])
            .select("gid", "doc_id", "pos", "is_sent", F.col("__d").alias("rank"))
        )
        ubound, dense = n_distinct, True
        k *= 2
        levels.append((k, cur.select("gid", "rank")))
        # all-ranks-distinct: the remap's distinct (rank, __r2) count
        # equals the position count — known for free from the offset
        # collect; no per-round max(rank) scan (r10 review).  An
        # arithmetic round cannot test this (its distinct count is
        # unknown by construction), so completion is detected at the
        # next densify — at most a chain of cheap projection rounds
        # (k squares past max_block quickly, so the chain is short).
        if n_distinct == n:
            break
    if not dense:
        # the loop ended on an arithmetic round: ranks are distinct
        # and correctly ORDERED but sparse, while neighbor_lcps pairs
        # rank r with rank r-1 — i.e. the FINAL frame must be dense
        # consecutive suffix-array positions.  One last densify
        # restores that contract (the sparse levels already appended
        # are fine: the LCP descent only ever tests rank EQUALITY).
        remap, _ = _dense_ranks(cur.select("rank"), ["rank"], "__d")
        cur = materialize(
            cur.join(remap, "rank")
            .select("gid", "doc_id", "pos", "is_sent", F.col("__d").alias("rank"))
        )
    return cur, levels, low


def neighbor_lcps(
    final: DataFrame,
    levels: list[tuple[int, DataFrame]],
    low: DataFrame,
) -> DataFrame:
    """(i, j, lcp): exact longest-common-prefix in tokens for each
    adjacent pair in suffix-array order (i at rank r, j at rank r-1).
    Sentinel rows participate (their LCPs are 0 by construction —
    sentinel windows are unique at every level).

    Descent shape (r15 opt): the stored levels start at ``_W0``, so
    the greedy binary descent resolves ``h`` to within ``_W0`` tokens;
    ONE content join against ``low`` then compares the up-to-
    ``_W0 - 1`` following tokens directly — rank equality at the
    skipped k = 1..4 levels IS token equality, so the array
    common-prefix adds the identical remainder the three per-level
    joins used to."""
    a = final.select(F.col("rank"), F.col("gid").alias("i"))
    b = final.select((F.col("rank") - 1).alias("rank"), F.col("gid").alias("j"))
    pairs = a.join(b, "rank").select("i", "j").withColumn("h", F.lit(0).cast("long"))
    for step, (plen, lvl) in enumerate(reversed(levels), start=1):
        la = lvl.select(F.col("gid").alias("__ga"), F.col("rank").alias("__ra"))
        lb = lvl.select(F.col("gid").alias("__gb"), F.col("rank").alias("__rb"))
        pairs = (
            pairs.withColumn("__ga", F.col("i") + F.col("h"))
            .withColumn("__gb", F.col("j") + F.col("h"))
            .join(la, "__ga", "left")
            .join(lb, "__gb", "left")
            .withColumn(
                "h",
                F.col("h")
                + F.when(
                    F.col("__ra").isNotNull() & (F.col("__ra") == F.col("__rb")),
                    F.lit(plen),
                ).otherwise(F.lit(0)),
            )
            .drop("__ga", "__gb", "__ra", "__rb")
        )
        # Checkpoint every 4th level, not every level: the descent is a
        # fixed linear join chain with one consumer, so correctness
        # never needs the barrier — a per-level eager checkpoint just
        # materializes the n-row pair frame L times (L sequential
        # actions of driver latency at small scale, L corpus-size disk
        # writes at large).  Every 4 levels caps Catalyst's analyzed
        # plan at ~8 joins while collapsing the wall to ceil(L/4)
        # actions (measured 71 s -> ~9 s on the sf0.001 gate corpus).
        if step % 4 == 0:
            pairs = materialize(pairs)
    # final < _W0 tokens: one content join (see docstring).  A left
    # miss (no low row) cannot happen for live gids, but zip_with's
    # NULL padding and the coalesce keep it 0-safe regardless.
    la = low.select(F.col("gid").alias("__ga"), F.col("w").alias("__wa"))
    lb = low.select(F.col("gid").alias("__gb"), F.col("w").alias("__wb"))
    matched = F.zip_with(
        F.col("__wa"),
        F.col("__wb"),
        lambda x, y: x.isNotNull() & y.isNotNull() & (x == y),
    )
    cpfx = F.aggregate(
        matched,
        F.struct(
            F.lit(0).cast("long").alias("n"), F.lit(True).alias("go")
        ),
        lambda acc, m: F.struct(
            (
                acc["n"] + F.when(acc["go"] & m, F.lit(1)).otherwise(F.lit(0))
            ).alias("n"),
            (acc["go"] & m).alias("go"),
        ),
        lambda acc: acc["n"],
    )
    pairs = (
        pairs.withColumn("__ga", F.col("i") + F.col("h"))
        .withColumn("__gb", F.col("j") + F.col("h"))
        .join(la, "__ga", "left")
        .join(lb, "__gb", "left")
        .withColumn("h", F.col("h") + F.coalesce(cpfx, F.lit(0)))
        .drop("__ga", "__gb", "__wa", "__wb")
    )
    return pairs.select("i", "j", F.col("h").alias("lcp"))


def match_lengths(docs: DataFrame) -> DataFrame:
    """(doc_id, pos, match_len): for every real token position, the
    length in tokens of the longest substring starting there that
    occurs at any OTHER position in the corpus (same doc included,
    Lee et al. semantics).  0 = the suffix starting here shares no
    first token with any other suffix."""
    final, levels, low = suffix_ranks(docs)
    if not levels:
        return final.select("doc_id", "pos", F.lit(0).cast("long").alias("match_len")).limit(0)
    lcps = neighbor_lcps(final, levels, low)
    per_gid = (
        lcps.select(F.col("i").alias("gid"), "lcp")
        .unionByName(lcps.select(F.col("j").alias("gid"), "lcp"))
        .groupBy("gid")
        .agg(F.max("lcp").alias("match_len"))
    )
    return (
        final.filter(~F.col("is_sent"))
        .join(per_gid, "gid", "left")
        .select(
            "doc_id",
            "pos",
            F.coalesce(F.col("match_len"), F.lit(0)).cast("long").alias("match_len"),
        )
    )


def duplicated_spans(
    docs: DataFrame,
    min_len: int,
) -> DataFrame:
    """(doc_id, span_start, span_end, span_len): maximal per-document
    spans covered by duplicated substrings of >= ``min_len`` tokens.
    A start position p with match_len >= min_len covers
    [p, p+match_len-1]; overlapping/adjacent covers merge via
    gaps-and-islands with a running max end (per-doc window, doc-length
    bounded — spans.py's contract)."""
    ml = match_lengths(docs).filter(
        F.col("match_len") >= F.lit(min_len)
    )
    w = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    flagged = ml.withColumn(
        "new_island",
        F.when(
            F.col("pos")
            > F.coalesce(
                F.max(F.col("pos") + F.col("match_len") - 1).over(w),
                F.lit(-2).cast("long"),
            )
            + 1,
            F.lit(1),
        ).otherwise(F.lit(0)),
    )
    w2 = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    islands = flagged.withColumn("island", F.sum("new_island").over(w2))
    return (
        islands.groupBy("doc_id", "island")
        .agg(
            F.min("pos").alias("span_start"),
            F.max(F.col("pos") + F.col("match_len") - 1).alias("span_end"),
        )
        .select(
            "doc_id",
            "span_start",
            "span_end",
            (F.col("span_end") - F.col("span_start") + 1).alias("span_len"),
        )
    )


def longest_repeat(docs: DataFrame) -> DataFrame:
    """One row, ALWAYS: the longest substring occurring >= 2 times in
    the corpus — (length, doc_id, pos, other_doc_id, other_pos,
    phrase).  Ties broken by (doc_id, pos) of the i side for
    determinism.  Degenerate corpora — no documents, all-empty
    documents, or a single token position (no adjacent suffix pair) —
    return one (0, NULL, NULL, NULL, NULL, NULL) row rather than an
    empty frame (r10 ADVICE: the docstring promised one row; the
    no-levels branch and pair-free corpora silently broke it)."""
    spark = docs.sparkSession
    schema = (
        "length long, doc_id long, pos long, other_doc_id long,"
        " other_pos long, phrase string"
    )
    fallback = spark.createDataFrame(
        [(0, None, None, None, None, None)], schema
    )
    final, levels, low = suffix_ranks(docs)
    if not levels:
        return fallback
    lcps = neighbor_lcps(final, levels, low)
    meta = final.select("gid", "doc_id", "pos")
    top = (
        lcps.join(meta.withColumnsRenamed({"gid": "i", "doc_id": "di", "pos": "pi"}), "i")
        .join(
            meta.withColumnsRenamed(
                {"gid": "j", "doc_id": "dj", "pos": "pj"}
            ),
            "j",
        )
        .orderBy(F.desc("lcp"), F.asc("di"), F.asc("pi"))
        .limit(1)
    )
    toks = docs.select(
        F.col("doc_id").cast("long").alias("di"),
        # NULL text is an empty doc, the corpus_positions contract —
        # split(NULL) would NULL-poison the phrase slice (r10 ADVICE)
        F.filter(
            F.split(F.coalesce(F.col("text"), F.lit("")), " "),
            lambda t: t != "",
        ).alias("__t"),
    )
    got = top.join(toks, "di").select(
        F.col("lcp").cast("long").alias("length"),
        F.col("di").cast("long").alias("doc_id"),
        F.col("pi").cast("long").alias("pos"),
        F.col("dj").cast("long").alias("other_doc_id"),
        F.col("pj").cast("long").alias("other_pos"),
        F.when(
            F.col("lcp") > 0,
            F.concat_ws(
                " ", F.slice(F.col("__t"), F.col("pi") + 1, F.col("lcp"))
            ),
        ).alias("phrase"),
    )
    # one-row-always without a second pipeline execution: the real row
    # (priority 0) wins over the fallback (priority 1) in a bounded
    # 2-row sort — no isEmpty()/count() action re-running the doubling
    return (
        got.withColumn("__p", F.lit(0))
        .unionByName(fallback.withColumn("__p", F.lit(1)))
        .orderBy("__p")
        .limit(1)
        .drop("__p")
    )


def remove_duplicate_spans(docs: DataFrame, min_len: int) -> DataFrame:
    """(doc_id, n_tokens, n_removed, text_clean): apply Lee et al.'s
    removal step — cut every maximal duplicated span of >= ``min_len``
    tokens (``duplicated_spans``) out of each document and re-join the
    surviving tokens.  Documents with no qualifying span pass through
    unchanged; a fully-duplicated document becomes the empty string.

    Scale: spans collect per document only (doc-length bounded, the
    spans.py contract); the cut itself is an array filter over the
    token array — map-side, no extra shuffle beyond the span
    computation."""
    spans_arr = duplicated_spans(docs, min_len).groupBy("doc_id").agg(
        F.collect_list(F.struct("span_start", "span_end")).alias("__spans")
    )
    toks = docs.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.filter(
            F.split(F.coalesce(F.col("text"), F.lit("")), " "),
            lambda t: t != "",
        ).alias("__t"),
    )
    joined = toks.join(spans_arr, "doc_id", "left").withColumn(
        "__spans",
        F.coalesce(
            "__spans",
            F.array().cast("array<struct<span_start:long,span_end:long>>"),
        ),
    )
    kept = F.filter(
        "__t",
        lambda t, i: ~F.exists(
            "__spans",
            lambda s: (i >= s.span_start) & (i <= s.span_end),
        ),
    )
    return joined.select(
        "doc_id",
        F.size("__t").cast("long").alias("n_tokens"),
        (F.size("__t") - F.size(kept)).cast("long").alias("n_removed"),
        F.array_join(kept, " ").alias("text_clean"),
    )
