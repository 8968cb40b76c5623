"""Exact duplicated-span detection and removal planning.

The exact-substring dedup signal of Lee et al., "Deduplicating
Training Data Makes Language Models Better" (the suffix-array
construction replaced by the Spark-native fixed-W rolling-window hash
join): every W-token sliding window is content-hashed with the shared
60-bit md5 scheme (dedup/ngram_jaccard.shingle_hash60 — 8-byte shuffle
keys, identical parse in DuckDB); a hash seen in >= 2 distinct
documents marks a cross-document duplicated span.

Two consumers:
- ``span_report``: per-doc duplicated
  window counts/fractions — the "how much of this doc is copied"
  metric.
- ``removal_spans``: keep-first-owner
  edit list — each duplicated hash's owner is the lowest doc_id;
  occurrences elsewhere become removal candidates whose overlapping/
  adjacent [pos, pos+W-1] intervals merge into maximal spans via
  gaps-and-islands (new island when the gap between window starts
  exceeds W).

Scale: the window explode is n_tokens rows/doc (same order as the
shingle index); owner/dup aggregates collapse map-side (shuffle
O(distinct windows)); the islands pass windows only over REMOVABLE
positions.  Nothing is quadratic.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from automated_etl_pipeline_spark.dedup.ngram_jaccard import shingle_hash60


def tokenized(docs: DataFrame, w: int) -> DataFrame:
    """(id, t: array<string>) for docs long enough to hold one window."""
    return (
        docs.select("doc_id", F.split("text", " ").alias("t"))
        .filter(F.size("t") >= w)
    )


def windows(toks: DataFrame, w: int) -> DataFrame:
    """(id, pos, h): 60-bit hash of each w-token sliding window,
    pos 1-based."""
    return (
        toks.select(
            "doc_id",
            F.posexplode(
                F.transform(
                    F.sequence(F.lit(1), F.size("t") - w + 1),
                    lambda i: shingle_hash60(
                        F.concat_ws(" ", F.slice("t", i, w))
                    ),
                )
            ).alias("p0", "h"),
        )
        .select("doc_id", (F.col("p0") + 1).alias("pos"), "h")
    )


def span_report(docs: DataFrame, w: int) -> DataFrame:
    """(doc_id, n_windows, n_dup_windows, dup_frac) for docs with at
    least one cross-doc duplicated window, ordered by doc_id."""
    toks = tokenized(docs, w)
    win = windows(toks, w)
    dup = (
        win.groupBy("h")
        .agg(F.countDistinct("doc_id").alias("nd"))
        .filter(F.col("nd") >= 2)
        .select("h")
    )
    per_doc = win.join(dup, "h").groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_dup_windows")
    )
    n_windows = (F.size("t") - w + 1).cast("long")
    return (
        per_doc.join(toks, "doc_id")
        .select(
            "doc_id",
            n_windows.alias("n_windows"),
            "n_dup_windows",
            F.round(
                F.col("n_dup_windows").cast("double") / n_windows, 6
            ).alias("dup_frac"),
        )
        .orderBy("doc_id")
    )


def removal_token_counts(
    docs: DataFrame,
    w: int,
    toks: DataFrame | None = None,
) -> DataFrame:
    """(doc_id, n_spans, tokens_removed): per-doc keep-first-owner span
    accounting WITHOUT the token-total join — the reusable core of
    ``removal_spans``, consumed directly by pipelines that already
    carry the doc's token count (corpus_curation_e2e's edit-list
    stage).  Callers that already tokenized (removal_spans needs the
    same frame for its n_tokens join) pass ``toks`` so the split-heavy
    tokenize stays a single shared subtree instead of two independent
    ones Catalyst won't dedupe (ADVICE r7)."""
    toks = tokenized(docs, w) if toks is None else toks
    win = windows(toks, w)
    owner = (
        win.groupBy("h")
        .agg(
            F.min("doc_id").alias("owner_doc"),
            F.countDistinct("doc_id").alias("nd"),
        )
        .filter(F.col("nd") >= 2)
        .select("h", "owner_doc")
    )
    removable = (
        win.join(owner, "h")
        .filter(F.col("doc_id") > F.col("owner_doc"))
        .select("doc_id", "pos")
        .distinct()
    )
    w_doc = Window.partitionBy("doc_id").orderBy("pos")
    flagged = removable.withColumn(
        "new_island",
        F.when(
            F.lag("pos").over(w_doc).isNull()
            | (F.col("pos") > F.lag("pos").over(w_doc) + w),
            1,
        ).otherwise(0),
    )
    islands = flagged.withColumn(
        "island",
        F.sum("new_island").over(
            w_doc.rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    spans = islands.groupBy("doc_id", "island").agg(
        F.min("pos").alias("s"),
        (F.max("pos") + w - 1).alias("e"),
    )
    span_len = F.col("e") - F.col("s") + 1
    return spans.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_spans"),
        F.sum(span_len).alias("tokens_removed"),
    )


def removal_spans(docs: DataFrame, w: int) -> DataFrame:
    """(doc_id, n_spans, tokens_removed, n_tokens, tokens_kept):
    keep-first-owner merged removal spans per doc, ordered by doc_id."""
    toks = tokenized(docs, w)
    return (
        removal_token_counts(docs, w, toks=toks)
        .join(
            toks.select("doc_id", F.size("t").cast("long").alias("n_tokens")),
            "doc_id",
        )
        .select(
            "doc_id",
            "n_spans",
            "tokens_removed",
            "n_tokens",
            (F.col("n_tokens") - F.col("tokens_removed")).alias("tokens_kept"),
        )
        .orderBy("doc_id")
    )
