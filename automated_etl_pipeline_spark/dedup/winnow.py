"""Winnowing document fingerprints (Schleimer, Wilkerson & Aiken,
SIGMOD 2003 — the MOSS algorithm).

Rolling k-gram hashes, then the minimum hash of every w-wide window of
consecutive gram hashes: any shared substring of length >= k + w - 1
between two documents is GUARANTEED to produce at least one shared
fingerprint (the winnowing guarantee), while only ~2/(w+1) of gram
hashes are kept.  The selected-min fingerprint set is the standard
local-similarity sketch for plagiarism/near-dup detection —
complementary to MinHash (global resemblance) because it localizes
matches to contiguous runs.

Spark dataflow — everything before the pair join is a narrow
per-document column expression (no UDF, no shuffle):

  tokens → ordered k-gram hash array H (one md5 per gram) →
  window minima ``min(H[j..j+w-1])`` → distinct fingerprint set →
  explode → hot-capped inverted index → pair self-join.

Scale notes:
- The per-window ``array_min(slice(...))`` is O(n·w) per doc; the
  O(n) ascending-minima deque is not expressible as a column
  expression, but w is a small constant (4-10) so the factor is flat
  and the work stays inside codegen per-row.  At 100 TB this remains
  embarrassingly parallel — zero shuffles until the index join.
- The inverted index reuses the n-gram module's defenses: a relative
  document-frequency cap drops boilerplate fingerprints shared by a
  large fraction of the corpus (pair blowup is sum(df²)), and the
  pair aggregation shuffles only (doc_a, doc_b) longs.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from automated_etl_pipeline_spark.dedup.ngram_jaccard import shingle_hash60

DEFAULT_K = 4
DEFAULT_W = 5


def gram_hash_array(tokens: Column, k: int = DEFAULT_K) -> Column:
    """Ordered 60-bit k-gram hashes of an ordered token array."""
    return F.transform(
        F.sequence(F.lit(1), F.size(tokens) - (k - 1)),
        lambda i: shingle_hash60(F.concat_ws(" ", F.slice(tokens, i, k))),
    )


def window_minima_set(grams: Column, w: int = DEFAULT_W) -> Column:
    """Distinct minima of every w-wide window of consecutive gram
    hashes.  ``grams`` MUST be a materialized column attribute, never
    the gram-hash expression itself: higher-order lambdas run outside
    codegen with no common-subexpression elimination, so an inlined
    gram expression is recomputed for every window — O(n²) md5 calls
    per document (the round-1 MinHash lesson)."""
    return F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.size(grams) - (w - 1)),
            lambda j: F.array_min(F.slice(grams, j, w)),
        )
    )


def winnow_fingerprint_set(
    tokens: Column, k: int = DEFAULT_K, w: int = DEFAULT_W
) -> Column:
    """Distinct winnowed fingerprints of an ordered token array.

    Caller must filter ``size(tokens) >= k + w - 1`` (shorter docs
    have no full window; ``F.sequence`` would run DESCENDING for a
    negative span and silently fabricate windows).

    Single-expression convenience for tests/small frames ONLY — it
    inlines the gram array into the window lambda and pays the O(n²)
    recompute above.  Pipelines go through ``gram_hash_array`` +
    ``window_minima_set`` across two projections (see
    ``fingerprint_pairs``)."""
    return window_minima_set(gram_hash_array(tokens, k), w)


def fingerprint_pairs(
    docs: DataFrame,
    k: int = DEFAULT_K,
    w: int = DEFAULT_W,
    min_shared: int = 2,
    max_df_frac: float | None = 0.02,
) -> DataFrame:
    """(doc_a, doc_b, n_shared): pairs sharing >= min_shared winnowed
    fingerprints of relative document frequency <= max_df_frac.

    ``max_df_frac=None`` disables the hot-fingerprint cap entirely —
    with min_shared=1 that is the configuration under which the
    winnowing GUARANTEE holds exactly (any shared run of k+w-1 tokens
    yields a pair; brute-force-verified in
    tests/test_dedup_similarity.py).  The capped default trades that
    corner of recall for a hard bound on index df, same contract as
    ngram_jaccard's opt-in cap.  (A None cap used to flow into the
    filter as ``df <= n_docs * NULL`` — three-valued logic silently
    emptied the whole index; regression-pinned now.)"""
    toks = F.split(F.col("text"), " ")
    fp = (
        docs.select(F.col("doc_id"), toks.alias("t"))
        .filter(F.size("t") >= k + w - 1)
        # two projections: "h" is an attribute (referenced twice below —
        # size + slice — so CollapseProject keeps it), and each gram is
        # hashed exactly once instead of once per window
        .select("doc_id", gram_hash_array(F.col("t"), k).alias("h"))
        .select("doc_id", window_minima_set(F.col("h"), w).alias("fp"))
        .localCheckpoint()  # consumed by df-agg AND both join sides
    )
    inv = fp.select("doc_id", F.explode("fp").alias("f"))
    if max_df_frac is not None:
        n_docs = fp.agg(F.count(F.lit(1)).alias("n_docs"))
        keep = (
            inv.groupBy("f")
            .agg(F.count(F.lit(1)).alias("df"))
            .crossJoin(F.broadcast(n_docs))
            .filter(F.col("df") <= F.col("n_docs") * max_df_frac)
            .select("f")
        )
        inv = inv.join(keep, "f", "left_semi")
    a, b = inv.alias("a"), inv.alias("b")
    return (
        a.join(
            b,
            (F.col("a.f") == F.col("b.f"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )
