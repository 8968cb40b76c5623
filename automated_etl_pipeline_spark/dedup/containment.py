"""Asymmetric containment pairs: |A∩B| / |A| >= t — near-SUPERSET
detection.

Symmetric Jaccard misses the commonest partial-duplication shape in
web corpora: a fragment (quote, syndicated excerpt, boilerplate-
wrapped copy) whose shingles are almost all inside a larger document.
A 40%-length excerpt of D has Jaccard(frag, D) ~ 0.4 — invisible at
near-dup thresholds — but containment(frag -> D) ~ 1.0.  Deduping
keeps the superset and drops/links the fragment (Lee et al. 2022 use
the same directional overlap for their partial-dup class).

Completeness by the directional prefix theorem (the PPJoin bound
specialized to containment, Chaudhuri et al. 2006): order each SUB
set canonically (ascending document frequency, ties by shingle
value); if none of A's first |A| - ceil(t*|A|) + 1 shingles is in B,
then |A∩B| <= |A| - prefix_len < t*|A|.  So probing only the SUB
prefix against the FULL inverted index finds every qualifying pair.
Only the sub side is prefix-truncated — containment is asymmetric,
and the superset side must stay fully indexed.

Scale: one explode + df aggregation (shingle-keyed), a per-doc window
for the canonical rank, the prefix-vs-index equi-join (rare-first
ordering keeps prefix df low — hot shingles enter a prefix only for
tiny or low-threshold sets), and one verification join by doc id
computing the exact intersection with ``array_intersect``.  Genuine
duplicate blowup (N mutual copies -> N^2 directed pairs) is exact
dedup's job first, as in the Jaccard cascade.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from automated_etl_pipeline_spark.dedup.minhash import shingle_set as token_ngrams
from automated_etl_pipeline_spark.dedup.ngram_jaccard import shingle_hash60


def containment_pairs(
    docs: DataFrame,
    threshold: float = 0.8,
) -> DataFrame:
    """(doc_sub, doc_super, containment) for ALL directed pairs with
    round(|sub∩super| / |sub|, 6) >= threshold; both directions
    appear for mutual near-copies."""
    # Cheap token-count pre-filter instead of filter(size(s) > 0)
    # above the projection — identical kept set (s empty iff < 3
    # tokens), and it stops predicate pushdown from inlining the
    # md5+transform shingle pipeline into the filter (it ran twice
    # per row; see ngram_jaccard.jaccard_pairs, r15 opt).
    sh = (
        docs.filter(F.size(F.split(F.col("text"), " ")) >= 3)
        .select(
            F.col("doc_id"),
            F.array_distinct(
                F.transform(token_ngrams(F.col("text"), 3), shingle_hash60)
            ).alias("s"),
        )
        .withColumn("sz", F.size("s"))
        .localCheckpoint()
    )
    inv = sh.select("doc_id", "sz", F.explode("s").alias("g"))
    dft = inv.groupBy("g").agg(F.count(F.lit(1)).alias("df"))
    ranked = inv.join(dft, "g").withColumn(
        "rn",
        F.row_number().over(
            Window.partitionBy("doc_id").orderBy("df", "g")
        ),
    )
    # FP-safe ceil, as in jaccard_pairs
    prefix = ranked.filter(
        F.col("rn")
        <= F.col("sz") - F.ceil(threshold * F.col("sz") - 1e-9) + 1
    ).select(F.col("doc_id").alias("sub"), F.col("g"))
    cand = (
        prefix.join(
            inv.select(F.col("doc_id").alias("sup"), "g"), "g"
        )
        .filter(F.col("sub") != F.col("sup"))
        .select("sub", "sup")
        .distinct()
    )
    sa = sh.select(
        F.col("doc_id").alias("sub"), F.col("s").alias("s_sub"), F.col("sz")
    )
    sb = sh.select(F.col("doc_id").alias("sup"), F.col("s").alias("s_sup"))
    # Admission on the UNROUNDED ratio, as the integer inequality
    # |sub∩super| >= ceil(t*|sub| - eps) — the exact bound the prefix
    # filter is complete for.  Admitting on the ROUNDED value (the old
    # rule) accepts pairs with true containment in [t - 5e-7, t) for
    # sub docs past ~2M shingles, which the prefix filter can miss
    # (r12 ADVICE); the rounded value is still what gets EMITTED.
    scored = (
        cand.join(sa, "sub")
        .join(sb, "sup")
        .select(
            F.col("sub").alias("doc_sub"),
            F.col("sup").alias("doc_super"),
            F.size(F.array_intersect("s_sub", "s_sup")).alias("__inter"),
            F.col("sz"),
        )
        .filter(F.col("__inter") >= F.ceil(threshold * F.col("sz") - 1e-9))
    )
    return scored.select(
        "doc_sub",
        "doc_super",
        F.round(F.col("__inter") / F.col("sz"), 6).alias("containment"),
    )
