"""DSIR — Data Selection via Importance Resampling (Xie et al. 2023,
arXiv:2302.03169) over hashed n-gram features, expressed entirely in
JVM-side DataFrame ops.

Given a small TARGET corpus (the domain you want more of) and a large
RAW pool, DSIR scores every raw document by the log-likelihood ratio
of its hashed n-gram bag under the target vs raw unigram-of-buckets
models, then draws the selection by Gumbel top-k over the scores —
equivalent to sampling without replacement proportional to the
importance weights exp(score).

Reference parity note: the reference pipeline
(nareshpendyala/Automated-ETL-Pipeline) has no data-selection
surface; this operator extends the engine's LLM-curation family
(SURVEY.md 2.11) alongside source_mixture_weights and
weighted_sample_aes.

Scale shape (the reason DSIR fits a 100 TB pool):
- features are HASHED into a fixed bucket space B (default 8192):
  both language models are B-row tables, built with one
  partial-aggregated groupBy each and BROADCAST everywhere after —
  no shuffle grows with pool size;
- per-doc scoring is a map-side explode + one (doc_id)-keyed
  aggregation — linear, no cross-doc operation;
- selection is Gumbel top-k via a single TakeOrderedAndProject; the
  Gumbel noise is DERIVED (md5 of doc_id and seed, A-ES style — see
  weighted_sample_aes), so reruns and retries are bit-stable with no
  RNG state.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def hashed_ngram_counts(
    docs: DataFrame,
    n: int = 2,
    buckets: int = 8192,
) -> DataFrame:
    """(doc_id, bucket, cnt): occurrence counts of hashed word
    n-grams per document.  bucket = pmod(xxhash64(ngram), buckets).
    Docs shorter than n tokens contribute no rows."""
    toks = F.filter(
        F.split(F.coalesce(F.col("text"), F.lit("")), " "), lambda t: t != ""
    )
    grams = F.transform(
        F.sequence(F.lit(1), F.size(toks) - F.lit(n - 1)),
        lambda i: F.concat_ws(" ", F.slice(toks, i, n)),
    )
    return (
        docs.select(
            F.col("doc_id").cast("long").alias("doc_id"),
            F.explode(
                F.when(F.size(toks) >= n, grams).otherwise(
                    F.array().cast("array<string>")
                )
            ).alias("__g"),
        )
        .select(
            "doc_id", F.pmod(F.xxhash64("__g"), F.lit(buckets)).alias("bucket")
        )
        .groupBy("doc_id", "bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def bucket_log_probs(
    docs: DataFrame,
    n: int = 2,
    buckets: int = 8192,
) -> DataFrame:
    """(bucket, logp): add-one-smoothed log probability of every
    bucket 0..B-1 under the corpus's hashed-n-gram unigram model —
    a COMPLETE B-row table (absent buckets get the smoothing floor),
    safe to broadcast."""
    spark = docs.sparkSession
    counts = (
        hashed_ngram_counts(docs, n, buckets)
        .groupBy("bucket")
        .agg(F.sum("cnt").alias("cnt"))
    )
    total = counts.agg(F.coalesce(F.sum("cnt"), F.lit(0)).alias("__t"))
    return (
        spark.range(buckets)
        .select(F.col("id").alias("bucket"))
        .join(counts, "bucket", "left")
        .crossJoin(F.broadcast(total))
        .select(
            "bucket",
            F.log(
                (F.coalesce(F.col("cnt"), F.lit(0)) + F.lit(1)).cast("double")
                / (F.col("__t") + F.lit(buckets)).cast("double")
            ).alias("logp"),
        )
    )


def importance_weights(
    raw: DataFrame,
    target: DataFrame,
    n: int = 2,
    buckets: int = 8192,
) -> DataFrame:
    """(doc_id, n_ngrams, weight): per raw document, the DSIR
    log-importance weight sum_b cnt_b * (log p_target(b) -
    log p_raw(b)).  Positive = looks more like the target domain than
    the pool.  Docs with no n-grams score 0 with n_ngrams 0."""
    tgt = bucket_log_probs(target, n, buckets).select(
        "bucket", F.col("logp").alias("__lt")
    )
    rawp = bucket_log_probs(raw, n, buckets).select(
        "bucket", F.col("logp").alias("__lr")
    )
    per_doc = (
        hashed_ngram_counts(raw, n, buckets)
        .join(F.broadcast(tgt), "bucket")
        .join(F.broadcast(rawp), "bucket")
        .groupBy("doc_id")
        .agg(
            F.sum("cnt").alias("n_ngrams"),
            F.sum(F.col("cnt") * (F.col("__lt") - F.col("__lr"))).alias("weight"),
        )
    )
    ids = raw.select(F.col("doc_id").cast("long").alias("doc_id"))
    return ids.join(per_doc, "doc_id", "left").select(
        "doc_id",
        F.coalesce(F.col("n_ngrams"), F.lit(0)).alias("n_ngrams"),
        F.coalesce(F.col("weight"), F.lit(0.0)).alias("weight"),
    )


def dsir_select(
    raw: DataFrame,
    target: DataFrame,
    k: int,
    seed: int = 0,
    n: int = 2,
    buckets: int = 8192,
    weights: DataFrame | None = None,
) -> DataFrame:
    """(doc_id, weight, score): the k raw documents drawn without
    replacement proportional to exp(weight) via Gumbel top-k —
    score = weight + Gumbel(md5(doc_id, seed)).  Deterministic for a
    fixed seed (derived noise, A-ES style); one
    TakeOrderedAndProject, no shuffle beyond the weight aggregation.
    Pass a precomputed ``importance_weights`` frame via ``weights``
    when the caller also consumes the weights — the two-LM scoring
    pipeline is the dominant cost and must not run twice."""
    w = (
        weights
        if weights is not None
        else importance_weights(raw, target, n, buckets)
    )
    # u strictly inside (0,1): (h + 0.5) / 2^32 with h the first 8
    # md5 hex digits — keeps both ln() calls finite
    u = (
        (
            F.conv(
                F.substring(
                    F.md5(
                        F.concat_ws(
                            ":", F.col("doc_id").cast("string"), F.lit(str(seed))
                        )
                    ),
                    1,
                    8,
                ),
                16,
                10,
            ).cast("double")
            + F.lit(0.5)
        )
        / F.lit(4294967296.0)
    )
    gumbel = -F.log(-F.log(u))
    return (
        w.select("doc_id", "weight", (F.col("weight") + gumbel).alias("score"))
        .orderBy(F.desc("score"), "doc_id")
        .limit(k)
    )
