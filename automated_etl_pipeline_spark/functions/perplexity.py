"""CCNet-style LM-perplexity quality partitioning over hashed
n-grams (Wenzek et al. 2019, arXiv:1911.00359), expressed entirely in
JVM-side DataFrame ops.

CCNet scores every document by its perplexity under a language model
trained on a high-quality target corpus (Wikipedia in the paper) and
splits the pool into HEAD / MIDDLE / TAIL by corpus-level perplexity
thresholds — head (lowest perplexity, most target-like) is kept for
pretraining, tail is dropped or down-weighted.  Here the LM is the
same hashed-n-gram bucket model DSIR uses (functions/dsir.py:
fixed-B broadcastable table, add-one smoothed), the score is exact
cross-entropy in nats per n-gram, and the split is by EXACT global
rank thirds rather than approximate quantiles, so the partition is
deterministic and reproducible.

Reference parity note: the reference pipeline
(nareshpendyala/Automated-ETL-Pipeline) has no data-quality surface;
this operator extends the engine's LLM-curation family (SURVEY.md
2.11) alongside dsir_select and oov_rate_quality (the log-free gate
stand-in — a perplexity VALUE can never hash-gate cross-engine
because ln() is not identically rounded).

Scale shape (the reason this fits a 100 TB pool):
- the LM is a fixed-B broadcast table; scoring is a map-side explode
  plus one (doc_id)-keyed aggregation — linear, no cross-doc op;
- the head/middle/tail cut needs a GLOBAL rank, which is computed in
  the two-phase form (range repartition by (h, doc_id), per-pid keyed
  row_number on the materialized frame, bounded per-pid offset
  collect — one row per shuffle partition), never a single-partition
  window;
- cut points are exact ceil(N*frac) ranks, so reruns partition
  identically wherever the scores do not tie (ties break on doc_id).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from automated_etl_pipeline_spark.functions.dsir import (
    bucket_log_probs,
    hashed_ngram_counts,
)
from automated_etl_pipeline_spark.operators.ranks import global_ranks


def doc_cross_entropy(
    raw: DataFrame,
    target: DataFrame,
    n: int = 2,
    buckets: int = 8192,
) -> DataFrame:
    """(doc_id, n_ngrams, h): per raw document, the exact
    cross-entropy in nats per n-gram under the target corpus's
    hashed-n-gram LM: h = -sum_b cnt_b * log p_target(b) / sum_b
    cnt_b.  exp(h) is the document's perplexity.  Docs with no
    n-grams get h NULL with n_ngrams 0 (no meaningful score)."""
    lm = bucket_log_probs(target, n, buckets)
    per_doc = (
        hashed_ngram_counts(raw, n, buckets)
        .join(F.broadcast(lm), "bucket")
        .groupBy("doc_id")
        .agg(
            F.sum("cnt").alias("n_ngrams"),
            (-F.sum(F.col("cnt") * F.col("logp")) / F.sum("cnt")).alias("h"),
        )
    )
    ids = raw.select(F.col("doc_id").cast("long").alias("doc_id"))
    return ids.join(per_doc, "doc_id", "left").select(
        "doc_id",
        F.coalesce(F.col("n_ngrams"), F.lit(0)).alias("n_ngrams"),
        F.col("h"),
    )


def ccnet_partition(
    raw: DataFrame,
    target: DataFrame,
    head_frac: float = 1.0 / 3.0,
    middle_frac: float = 1.0 / 3.0,
    n: int = 2,
    buckets: int = 8192,
) -> DataFrame:
    """(doc_id, n_ngrams, h, part): CCNet head/middle/tail split of
    the raw pool by target-LM cross-entropy.  ``part`` is 'head' for
    the ceil(N*head_frac) lowest-h documents (most target-like),
    'middle' for the next ceil(N*(head_frac+middle_frac)) - head
    ranks, 'tail' for the rest, and 'empty' for documents with no
    n-grams (h NULL; they never enter the ranked pool).  Ties on h
    break on doc_id, so the partition is deterministic.

    The scores frame (3 narrow columns per document) is materialized
    once — both the ranked and empty branches reuse it, so the
    LM-scoring pipeline runs a single pass over the pool."""
    scores = doc_cross_entropy(raw, target, n, buckets).localCheckpoint(
        eager=True
    )
    scored = scores.filter(F.col("h").isNotNull())
    ranked, total = global_ranks(scored, ["h", "doc_id"])
    cut_head = math.ceil(total * head_frac)
    cut_mid = math.ceil(total * (head_frac + middle_frac))
    parted = ranked.select(
        "doc_id",
        "n_ngrams",
        "h",
        F.when(F.col("__rank") < cut_head, F.lit("head"))
        .when(F.col("__rank") < cut_mid, F.lit("middle"))
        .otherwise(F.lit("tail"))
        .alias("part"),
    )
    empty = scores.filter(F.col("h").isNull()).select(
        "doc_id", "n_ngrams", "h", F.lit("empty").alias("part")
    )
    return parted.unionByName(empty)
