"""Interpolated Kneser-Ney bigram language model for CCNet-style
perplexity partitioning (Kneser & Ney 1995; Chen & Goodman 1999;
Wenzek et al. arXiv:1911.00359).

``functions/perplexity.py`` partitions with the simpler hashed-bucket
unigram surrogate; ``kn_continuation_counts`` (queries_llm.py)
materializes the statistic that makes KN different — a word's
lower-order probability is proportional to how many DISTINCT left
contexts it follows, not how often it occurs.  This module is the
SCORER built on those counts: the interpolated-KN bigram probability

    p(r | l) = (max(c(l,r) - d, 0) + d * N1+(l.) * pc(r)) / c(l.)
    pc(r)    = (N1+(.r) + 1) / (T + V)        # add-one continuation
    p(r | l) = pc(r)                          # unseen left context

with discount d = 0.75, T = distinct bigram types, V = distinct
continuation vocabulary.  The +1/(T+V) floor keeps every probability
strictly positive for out-of-target tokens (the raw pool is scored
against a target-corpus LM, CCNet's shape), so log scores are always
defined.

Determinism contract (the r9 integer-space rule): per-BIGRAM-TYPE
log-scores are floored to 1e-4-nat integers — ``floor(ln(p) * 1e4)``
of a bit-identical IEEE double is engine-stable (ln differs by at
most an ulp between builds; a 1e-4 grid boundary hit needs the exact
value within ~1e-16 of the grid — the log_sum_e4 recipe).  Every
input to ln is the SAME arithmetic expression tree on both engines
(IEEE add/mul/div are exactly rounded), so the doubles agree bitwise.

Reference parity note: the reference pipeline
(nareshpendyala/Automated-ETL-Pipeline) has no LM surface; this
extends the engine's LLM-curation family (SURVEY.md §2.11).

Scale shape (100 TB posture):
- LM statistics are three aggregations over the target's bigrams —
  (l,r)-, l-, and r-keyed, all partial-aggregated equi-shuffles;
- scoring joins doc bigram TYPES (one row per distinct (doc,l,r))
  against the three stat tables on their natural keys plus one
  broadcast 2-scalar frame — no all-pairs, no windows, no UDF;
- the head/middle/tail cut reuses the two-phase exact-global-rank
  construction (operators/ranks.py) on (avg_nll, doc_id), never a
  single-partition window.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from automated_etl_pipeline_spark.operators.ranks import global_ranks

DISCOUNT = 0.75


def _doc_bigrams(docs: DataFrame) -> DataFrame:
    """(doc_id, l, r, cnt): per-document bigram type counts over the
    whitespace tokenization (empty tokens dropped, NULL text = empty
    doc).  Docs with < 2 tokens contribute no rows."""
    toks = F.filter(
        F.split(F.coalesce(F.col("text"), F.lit("")), " "), lambda t: t != ""
    )
    pairs = F.zip_with(
        F.slice(toks, 1, F.greatest(F.size(toks) - 1, F.lit(0))),
        F.slice(toks, 2, F.greatest(F.size(toks) - 1, F.lit(0))),
        lambda a, b: F.struct(a.alias("l"), b.alias("r")),
    )
    return (
        docs.select(
            F.col("doc_id").cast("long").alias("doc_id"),
            F.explode(
                F.when(F.size(toks) >= 2, pairs).otherwise(
                    F.array().cast("array<struct<l:string,r:string>>")
                )
            ).alias("b"),
        )
        .groupBy("doc_id", F.col("b.l").alias("l"), F.col("b.r").alias("r"))
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )


def kn_doc_scores(
    raw: DataFrame,
    target: DataFrame,
) -> DataFrame:
    """(doc_id, n_bigrams, nll_e4): per raw document, the bigram count
    (with multiplicity) and the total interpolated-KN negative
    log-likelihood in integer 1e-4 nats:

        nll_e4 = -sum_types cnt * floor(ln(p(r|l)) * 1e4)

    Docs with no bigrams get (0, NULL) — no meaningful score, the
    ccnet_partition 'empty' contract."""
    tgt = _doc_bigrams(target)
    bg = tgt.groupBy("l", "r").agg(F.sum("cnt").cast("long").alias("c_lr"))
    left = bg.groupBy("l").agg(
        F.sum("c_lr").cast("long").alias("c_l"),
        F.count(F.lit(1)).cast("long").alias("n1_fwd"),
    )
    cont = bg.groupBy("r").agg(F.count(F.lit(1)).cast("long").alias("n1_back"))
    scal = bg.agg(
        F.count(F.lit(1)).cast("long").alias("__T"),
        F.countDistinct("r").cast("long").alias("__V"),
    )
    doc = (
        _doc_bigrams(raw)
        .join(bg, ["l", "r"], "left")
        .join(left, "l", "left")
        .join(cont, "r", "left")
        .crossJoin(F.broadcast(scal))
    )
    # EXPRESSION TREE MIRRORED IN queries_llm._KN_PARTITION_ORACLE —
    # edit both (the doubles must stay bitwise-identical).
    # Zero-guard (r11 rule, both sides): an EMPTY target LM (no target
    # doc with >= 2 tokens) has T + V = 0 — Spark ANSI would raise
    # DIVIDE_BY_ZERO where DuckDB yields NULL; the explicit guard makes
    # every probability NULL on both engines, routing all docs to the
    # 'empty' part instead of crashing (pinned in
    # tests/test_perplexity.py::test_kn_empty_target_routes_all_empty).
    tv = F.col("__T") + F.col("__V")
    pc = F.when(
        tv > 0, (F.coalesce("n1_back", F.lit(0)) + F.lit(1.0)) / tv
    )
    seen_l = F.coalesce("c_l", F.lit(0)) > 0
    p = F.when(
        seen_l,
        (
            F.greatest(F.coalesce("c_lr", F.lit(0)) - F.lit(DISCOUNT), F.lit(0.0))
            + F.lit(DISCOUNT) * F.coalesce("n1_fwd", F.lit(0)) * pc
        )
        / F.col("c_l"),
    ).otherwise(pc)
    per_doc = doc.select(
        "doc_id",
        "cnt",
        (F.col("cnt") * F.floor(F.log(p) * F.lit(10000.0)).cast("long")).alias(
            "__lp_e4"
        ),
    ).groupBy("doc_id").agg(
        F.sum("cnt").cast("long").alias("n_bigrams"),
        (-F.sum("__lp_e4")).cast("long").alias("nll_e4"),
    )
    ids = raw.select(F.col("doc_id").cast("long").alias("doc_id"))
    return ids.join(per_doc, "doc_id", "left").select(
        "doc_id",
        F.coalesce("n_bigrams", F.lit(0)).cast("long").alias("n_bigrams"),
        F.col("nll_e4"),
    )


def kn_partition(raw: DataFrame, target: DataFrame) -> DataFrame:
    """(doc_id, n_bigrams, nll_e4, part): CCNet head/middle/tail split
    of the raw pool by KN-bigram perplexity — head is the
    ceil(N*0.25) documents with the lowest average NLL (most
    target-like), ties broken on doc_id; 'empty' for docs with no
    bigrams.  The ranking key avg = nll_e4 / n_bigrams is a division
    of two exact integers — the same IEEE double on any engine.

    Same cut arithmetic as perplexity.ccnet_partition (quarter
    fractions keep ceil(N*frac) IEEE-exact), so on the same pool
    predicate the part SIZES match ccnet_partition's row for
    row — the cross-check pinned in tests/test_perplexity.py."""
    scores = kn_doc_scores(raw, target).localCheckpoint(
        eager=True
    )
    scored = scores.filter(F.col("nll_e4").isNotNull()).withColumn(
        "__avg", F.col("nll_e4") / F.col("n_bigrams")
    )
    ranked, total = global_ranks(scored, ["__avg", "doc_id"])
    cut_head = math.ceil(total * 0.25)
    cut_mid = math.ceil(total * 0.75)
    parted = ranked.select(
        "doc_id",
        "n_bigrams",
        "nll_e4",
        F.when(F.col("__rank") < cut_head, F.lit("head"))
        .when(F.col("__rank") < cut_mid, F.lit("middle"))
        .otherwise(F.lit("tail"))
        .alias("part"),
    )
    empty = scores.filter(F.col("nll_e4").isNull()).select(
        "doc_id", "n_bigrams", "nll_e4", F.lit("empty").alias("part")
    )
    return parted.unionByName(empty)
