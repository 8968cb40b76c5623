"""Line-level corpus deduplication (the CCNet first stage).

CCNet (Wenzek et al. 2019, arXiv:1911.00359) deduplicates Common
Crawl BY LINE before any document-level scoring: every line's hash is
counted corpus-wide and repeated lines (boilerplate, navigation,
cookie banners) are dropped from every document but their first
occurrence.  Document-level dedup cannot catch this — two pages
sharing a header are not near-duplicates — and the paper credits line
dedup with removing ~70% of raw CC text.

The reference pipeline (nareshpendyala/Automated-ETL-Pipeline) has no
dedup surface; this module extends the engine's LLM-curation family
alongside dedup/minhash.py (document-level) and dedup/suffix_array.py
(substring-level).

The shared testdata has no newlines, so a "line" here is a
fixed-width non-overlapping token chunk (the chunk_documents
convention); the operator takes the split as a parameter and any
line-splitting (newline, sentence, chunk) produces the same shapes.

Scale shape:
- the keep decision is one ``groupBy(line_hash)`` aggregation with a
  map-side partial combine, taking ``min(doc_id * IDX_SPAN + idx)``
  as the survivor key — an ordinary min, NOT a per-hash window, so a
  boilerplate line occurring a billion times costs one combiner cell
  per task instead of a single-partition sort (the salted-agg lesson
  from operators/skew.py);
- survivors join back on (line_hash, composite key) — equi-keyed;
- document rebuild is a per-doc aggregation whose array is
  doc-length-bounded (the spans.py contract).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from automated_etl_pipeline_spark.plans.materialize import materialize

# Composite survivor key: doc_id * IDX_SPAN + idx must be unique and
# order-consistent with (doc_id, idx).  IDX_SPAN bounds lines per doc;
# exceeding it would corrupt the min, so the split function guards it.
IDX_SPAN = 1_000_000


def doc_lines(
    docs: DataFrame,
    width: int = 10,
) -> DataFrame:
    """(doc_id, idx, line, line_hash): non-overlapping ``width``-token
    chunks per document, md5-hashed (md5 is the cross-engine hash
    convention, queries_llm.py module docstring).  The final partial
    chunk is kept.  Documents longer than width * IDX_SPAN tokens are
    rejected loudly (composite-key bound, module comment)."""
    toks = docs.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.split(F.coalesce(F.col("text"), F.lit("")), " ").alias("t"),
    )
    lines = toks.select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(
                    F.lit(1),
                    F.greatest(F.size("t"), F.lit(1)),
                    F.lit(width),
                ),
                lambda s: F.struct(
                    ((s - 1) / width).cast("long").alias("idx"),
                    F.concat_ws(" ", F.slice("t", s, width)).alias("line"),
                ),
            )
        ).alias("c"),
    ).select(
        "doc_id",
        # assert folded into the load-bearing expression (a dropped
        # assert column is pruned away and never fires — r10 review)
        F.when(
            F.assert_true(
                F.col("c.idx") < IDX_SPAN,
                F.lit("doc_lines: document exceeds IDX_SPAN lines"),
            ).isNull(),
            F.col("c.idx"),
        ).alias("idx"),
        F.col("c.line").alias("line"),
    )
    return lines.withColumn("line_hash", F.md5("line"))


def keep_first_lines(lines: DataFrame) -> DataFrame:
    """Filter ``doc_lines`` output to each distinct line's FIRST
    occurrence in (doc_id, idx) order — the CCNet keep rule.  One
    skew-safe aggregation + one equi-join (module docstring)."""
    key = (F.col("doc_id") * IDX_SPAN + F.col("idx")).alias("__key")
    keyed = lines.withColumn("__key", key)
    first = keyed.groupBy("line_hash").agg(F.min("__key").alias("__key"))
    return keyed.join(first, ["line_hash", "__key"]).drop("__key")


def rebuild_documents(
    docs: DataFrame,
    width: int = 10,
) -> DataFrame:
    """(doc_id, n_lines, n_kept, rebuilt): every input document with
    its surviving lines re-joined in position order.  Documents whose
    every line was seen earlier rebuild to the empty string (they stay
    rows — the caller decides whether to drop empties).

    The lines frame is materialized once: both the survivor branch
    and the per-doc totals consume it, and without the barrier Spark
    re-runs the corpus-wide tokenize/explode/hash scan for each
    (r11 review)."""
    lines = materialize(doc_lines(docs, width))
    kept = keep_first_lines(lines)
    rebuilt = kept.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("idx", "line"))),
                lambda s: s.line,
            ),
            " ",
        ).alias("rebuilt"),
    )
    totals = lines.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_lines"))
    return (
        totals.join(rebuilt, "doc_id", "left")
        .select(
            "doc_id",
            "n_lines",
            F.coalesce("n_kept", F.lit(0)).cast("long").alias("n_kept"),
            F.coalesce("rebuilt", F.lit("")).alias("rebuilt"),
        )
    )
