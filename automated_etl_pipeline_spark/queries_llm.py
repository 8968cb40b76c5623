"""LLM-data-pipeline queries: dedup, text analysis, similarity search.

First-class operators for training-data curation at 100 TB scale
(BASELINE.json north star), each with a DuckDB oracle over the shared
``documents`` / ``embeddings`` testdata. Registered into the same
QUERIES/ORACLES dicts as queries.py.

Determinism notes:
- Hash-based ops use ``md5`` (identical hex output in Spark and DuckDB)
  — never engine-native ``hash()`` (xxhash64 vs murmur differ).
- Ratio columns are exact-int divisions (identical IEEE both sides).
- Cosine similarities fold 64 doubles sequentially in both engines and
  are rounded to 6 decimals before ranking; ties broken on vec_id.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from automated_etl_pipeline_spark.io.sources import spread
from automated_etl_pipeline_spark.queries import (
    _t,
    query,
    scratch,
)

# ----------------------------------------------------------------------
# Text analysis (SURVEY.md extensions; documents table)
# ----------------------------------------------------------------------


@query(
    "text_stats_by_lang",
    """
    SELECT lang,
           COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS total_tokens,
           CAST(SUM(len(string_split(text, ' '))) AS DOUBLE) / COUNT(*) AS avg_tokens
    FROM documents GROUP BY lang ORDER BY lang
    """,
)
def text_stats_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting (whitespace tokenizer) + corpus stats per lang.
    Pure column expressions — tokenization never leaves the JVM."""
    (docs,) = _t(spark, sf_dir, "documents")
    n_tokens = F.size(F.split("text", " "))
    return (
        docs.select("lang", "n_chars", n_tokens.alias("n_tokens"))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
            F.sum("n_tokens").alias("total_tokens"),
            (F.sum("n_tokens").cast("double") / F.count(F.lit(1))).alias("avg_tokens"),
        )
        .orderBy("lang")
    )


@query(
    "text_quality_scores",
    """
    SELECT doc_id,
           n_tokens,
           n_unique,
           CAST(n_unique AS DOUBLE) / n_tokens AS distinct_ratio,
           CAST(n_stop AS DOUBLE) / n_tokens AS stopword_ratio
    FROM (
      SELECT doc_id,
             len(string_split(text, ' ')) AS n_tokens,
             len(list_distinct(string_split(text, ' '))) AS n_unique,
             len(list_filter(string_split(text, ' '), t -> t IN ('the', 'a'))) AS n_stop
      FROM documents
    ) WHERE n_tokens > 0 ORDER BY doc_id
    """,
)
def text_quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality scoring: type-token ratio + stopword ratio per document —
    the standard cheap filters of an LLM data pipeline."""
    (docs,) = _t(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    df = docs.select(
        "doc_id",
        F.size(toks).alias("n_tokens"),
        F.size(F.array_distinct(toks)).alias("n_unique"),
        F.size(F.filter(toks, lambda t: t.isin("the", "a"))).alias("n_stop"),
    )
    return (
        df.filter(F.col("n_tokens") > 0)
        .select(
            "doc_id",
            "n_tokens",
            "n_unique",
            (F.col("n_unique").cast("double") / F.col("n_tokens")).alias("distinct_ratio"),
            (F.col("n_stop").cast("double") / F.col("n_tokens")).alias("stopword_ratio"),
        )
        .orderBy("doc_id")
    )


@query(
    "text_token_regex_count",
    """
    SELECT source,
           COUNT(*) AS n_docs,
           CAST(SUM(len(regexp_extract_all(text, '[a-z0-9]+'))) AS BIGINT) AS total_word_tokens
    FROM documents GROUP BY source ORDER BY source
    """,
)
def text_token_regex_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-ish regex tokenizer count (word-piece proxy) per source."""
    (docs,) = _t(spark, sf_dir, "documents")
    n = F.size(F.regexp_extract_all("text", F.lit("[a-z0-9]+"), 0))
    return (
        docs.groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.sum(n).alias("total_word_tokens"))
        .orderBy("source")
    )


_N_SHARDS = 16


@query(
    "shard_assignment_balance",
    f"""
    WITH sized AS (
      SELECT doc_id, len(string_split(text, ' ')) AS n_tok
      FROM documents
    ), ranked AS (
      SELECT doc_id, n_tok,
             row_number() OVER (ORDER BY n_tok DESC, doc_id) AS rk
      FROM sized
    ), assigned AS (
      SELECT doc_id, n_tok,
             CAST((rk - 1) % {_N_SHARDS} AS INT) AS shard
      FROM ranked
    )
    SELECT shard,
           COUNT(*) AS n_docs,
           CAST(SUM(n_tok) AS BIGINT) AS shard_tokens
    FROM assigned GROUP BY shard ORDER BY shard
    """,
)
def shard_assignment_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic shard planning for the training-data write: docs
    rank by token count (desc, doc_id tiebreak) and deal round-robin
    across 16 shards — the classic longest-first dealing that keeps
    per-shard token sums within one max-doc of each other, computed as
    a plan rather than a driver loop.  The report (per-shard doc count
    + token sum) is what a writer consumes as partitionBy values and
    what an SLA check reads for imbalance.

    Scale note (r13, plan-sweep rule 4): the global rank is the
    bucketed two-phase construction (operators/ranks.
    bucketed_global_ranks) — never a single-partition window; the only
    driver materializations are the min/max cut bounds and one count
    per bucket.  Descending token order is expressed as an
    ascending rank on (-n_tok, doc_id), so the rank values (and the
    oracle's row_number() ... DESC) are unchanged."""
    from automated_etl_pipeline_spark.operators.ranks import (
        bucketed_global_ranks,
    )

    (docs,) = _t(spark, sf_dir, "documents")
    sized = spread(docs).select(
        "doc_id",
        F.size(F.split("text", " ")).alias("n_tok"),
        (-F.size(F.split("text", " "))).alias("__negtok"),
    )
    ranked = bucketed_global_ranks(sized, ["__negtok", "doc_id"], "__rk")
    return (
        ranked.withColumn("shard", (F.col("__rk") % _N_SHARDS).cast("int"))
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").cast("long").alias("shard_tokens"),
        )
        .orderBy("shard")
    )


# ----------------------------------------------------------------------
# Similarity search over embeddings (array<float>, 64-dim)
# ----------------------------------------------------------------------


def _cosine_to_query(emb: DataFrame, query_vec_id: int) -> DataFrame:
    """cosine(e, q) with double math: dot and norms via sequential folds
    (deterministic order), then rounded to 6 dp.

    Scale: the query side is a broadcast of one row; the scan side is
    embarrassingly parallel — no shuffle at all until top-k, which Spark
    executes as TakeOrderedAndProject (per-partition heaps + driver
    k-merge), the right plan for brute-force ANN baseline at any scale.
    """
    q = emb.filter(F.col("vec_id") == query_vec_id).select(
        F.col("embedding").alias("q_emb")
    )
    both = emb.crossJoin(F.broadcast(q))
    prod = F.zip_with(
        "embedding", "q_emb", lambda x, y: x.cast("double") * y.cast("double")
    )
    dot = F.aggregate(prod, F.lit(0.0), lambda acc, v: acc + v)
    n_e = F.aggregate(
        F.transform("embedding", lambda x: x.cast("double") * x.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    n_q = F.aggregate(
        F.transform("q_emb", lambda x: x.cast("double") * x.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    sim = F.round(dot / (F.sqrt(n_e) * F.sqrt(n_q)), 6)
    return both.select("vec_id", "label", sim.alias("cosine_sim"))


# ----------------------------------------------------------------------
# MinHash-LSH near-dedup (dedup/minhash.py) — fully oracle-checkable
# because every hash is md5-based (portable across engines).
# ----------------------------------------------------------------------


from automated_etl_pipeline_spark.dedup import minhash as _mh  # noqa: E402


@query("dedup_minhash_lsh", _mh.build_oracle_sql())
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash(P=12) + LSH(4 bands × 3 rows) candidates, verified by
    exact shingle-set Jaccard ≥ 0.8 (see dedup/minhash.py for the scale
    analysis: signature computation is shuffle-free HOF codegen)."""
    (docs,) = _t(spark, sf_dir, "documents")
    return _mh.near_duplicate_pairs(spread(docs), threshold=0.8).orderBy("doc_a", "doc_b")


# ----------------------------------------------------------------------
# SimHash dedup (dedup/simhash.py) — 64-bit fingerprints + banded pairs,
# both oracle-checkable via shared md5-parse arithmetic (oracle SQL is
# generated by the module so Spark and DuckDB can never drift).
# ----------------------------------------------------------------------

from automated_etl_pipeline_spark.dedup import simhash as _sh  # noqa: E402


@query("dedup_simhash", _sh.fingerprint_oracle_sql())
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """64-bit SimHash fingerprint per document (dedup/simhash.py)."""
    (docs,) = _t(spark, sf_dir, "documents")
    return _sh.with_simhash(spread(docs)).orderBy("doc_id")


# ----------------------------------------------------------------------
# Deterministic k-means clustering (similarity/kmeans.py)
# ----------------------------------------------------------------------

from automated_etl_pipeline_spark.similarity import kmeans as _km  # noqa: E402


@query("kmeans_cluster_stats", _km.duckdb_oracle_sql())
def kmeans_cluster_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-iteration Lloyd's k-means over the embeddings table
    (similarity/kmeans.py for the determinism + scale analysis): the
    per-cluster size / mean-distance report a curation pipeline uses
    for topic balance and cluster-capped sampling.  Fully iterative ML
    expressed as a plain Catalyst plan — and oracle-checkable because
    the inputs are fixed-point quantized, so every centroid mean is a
    ratio of exact integer sums in BOTH engines."""
    (emb,) = _t(spark, sf_dir, "embeddings")
    return _km.kmeans_cluster_stats(emb, k=8, iters=3)


# ----------------------------------------------------------------------
# Exact n-gram Jaccard dedup (dedup/ngram_jaccard.py)
# ----------------------------------------------------------------------


@query(
    "dedup_ngram_jaccard",
    """
    WITH tok AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ), sh AS (
      -- shingle sets are 60-bit md5 hashes, mirroring Spark's
      -- shingle_hash60 (15 hex chars -> BIGINT) exactly
      SELECT doc_id,
             list_distinct(list_transform(
               list_distinct(list_transform(range(1, greatest(len(t) - 1, 1)),
                 i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])),
               g -> ('0x' || substr(md5(g), 1, 15))::BIGINT)) AS s
      FROM tok WHERE len(t) >= 3
    ), inv AS (
      SELECT doc_id, len(s) AS sz, UNNEST(s) AS g FROM sh
    ), dft AS (
      SELECT g, COUNT(*) AS df FROM inv GROUP BY g
    ), ranked AS (
      -- canonical order: ascending df, ties by shingle value —
      -- mirrors Spark's prefix window exactly
      SELECT i.doc_id, i.g, i.sz,
             row_number() OVER (PARTITION BY i.doc_id ORDER BY d.df, i.g) AS rn,
             COUNT(*) OVER (PARTITION BY i.doc_id) AS ksz
      FROM inv i JOIN dft d USING (g)
    ), pref AS (
      -- PPJoin prefix: first |S| - ceil(t*|S|) + 1 shingles (1e-9
      -- nudge mirrors Spark's FP-safe ceil)
      SELECT doc_id, g, sz, rn FROM ranked
      WHERE rn <= ksz - CEIL(0.6 * ksz - 1e-9) + 1
    ), cand AS (
      -- length filter + positional filter, mirroring Spark; candidate
      -- drift between engines is harmless (both sets are complete and
      -- the exact-Jaccard filter below decides the output)
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM pref a JOIN pref b
        ON a.g = b.g AND a.doc_id < b.doc_id
       AND least(a.sz, b.sz) >= 0.6 * greatest(a.sz, b.sz) - 1e-9
       AND 1 + least(a.sz - a.rn, b.sz - b.rn)
           >= (0.6 / 1.6) * (a.sz + b.sz) - 1e-9
    )
    SELECT doc_a, doc_b,
           ROUND(len(list_filter(sa.s, v -> list_contains(sb.s, v)))::DOUBLE
                 / (len(sa.s) + len(sb.s)
                    - len(list_filter(sa.s, v -> list_contains(sb.s, v)))), 6) AS jaccard
    FROM cand JOIN sh sa ON cand.doc_a = sa.doc_id
              JOIN sh sb ON cand.doc_b = sb.doc_id
    WHERE ROUND(len(list_filter(sa.s, v -> list_contains(sb.s, v)))::DOUBLE
                 / (len(sa.s) + len(sb.s)
                    - len(list_filter(sa.s, v -> list_contains(sb.s, v)))), 6) >= 0.6
    ORDER BY doc_a, doc_b
    """,
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-gram-shingle Jaccard pairs >= 0.6 via PPJoin prefix
    filtering (VERDICT r4 ask #5; dedup/ngram_jaccard.py for the
    completeness theorem and scale analysis).  Unlike the v1 hot-cap
    index this is COMPLETE: every pair with true Jaccard >= 0.6 is
    reported."""
    from automated_etl_pipeline_spark.dedup.ngram_jaccard import jaccard_pairs

    (docs,) = _t(spark, sf_dir, "documents")
    return jaccard_pairs(spread(docs), n=3, threshold=0.6).orderBy(
        "doc_a", "doc_b"
    )


# ----------------------------------------------------------------------
# Embedding-cosine similarity self-join (similarity/cosine_dedup.py)
# ----------------------------------------------------------------------

from automated_etl_pipeline_spark.similarity import cosine_dedup as _cd  # noqa: E402

_SIM_JOIN_TAU = 0.4


@query("emb_cosine_sim_join", _cd.build_oracle_sql(_SIM_JOIN_TAU))
def emb_cosine_sim_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded sign-LSH candidate pairs verified at exact cosine >= 0.4
    (embedding near-dup is the same operator at tau >= 0.95; this
    corpus has no vector closer than 0.52, so the demo threshold sits
    where results exist)."""
    (emb,) = _t(spark, sf_dir, "embeddings")
    # spread: the coding pass is CPU-bound and the testdata scan is one
    # partition; at real scale the scan arrives pre-split (no-op)
    return _cd.cosine_sim_join(spread(emb), _SIM_JOIN_TAU).orderBy("vec_a", "vec_b")


# ----------------------------------------------------------------------
# IVF probe-then-rerank ANN (similarity/ivf.py)
# ----------------------------------------------------------------------

from automated_etl_pipeline_spark.similarity import ivf as _ivf  # noqa: E402


from automated_etl_pipeline_spark.similarity import semdedup as _sd  # noqa: E402


@query("semdedup_cluster_prune", _sd.build_oracle_sql())
def semdedup_cluster_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023) per-cluster accounting: k-means the
    embeddings (the deterministic fixed-iteration Lloyd's of
    similarity/kmeans.py), pair ONLY within clusters, greedily prune
    the higher id of every pair at cosine >= 0.42 (demo epsilon —
    this corpus has no pair above 0.52; production runs >= 0.95 on the
    identical plan).  Clustering bounds candidates at O(sum c_i^2)
    with k as the lever; a max_cluster cap skips degenerate clusters
    (the LSH max_bucket analogue).  See similarity/semdedup.py."""
    (emb,) = _t(spark, sf_dir, "embeddings")
    return _sd.semdedup_report(spread(emb), threshold=0.42)


@query("ann_ivf_topk", _ivf.build_oracle_sql(query_vec_id=0))
def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style ANN: probe the 3 nearest label-cells, exact rerank
    top-20 (recall vs brute-force topk_cosine measured in tests)."""
    (emb,) = _t(spark, sf_dir, "embeddings")
    return _ivf.ivf_topk(emb, query_vec_id=0, k=20, nprobe=3)


# ----------------------------------------------------------------------
# Language-ID heuristic (functions/text.py)
# ----------------------------------------------------------------------

from automated_etl_pipeline_spark.functions import text as _txt  # noqa: E402


@query(
    "lang_id_confusion",
    f"""
    SELECT lang, {_txt.duckdb_predicted_lang_sql()} AS predicted_lang,
           COUNT(*) AS n_docs
    FROM documents GROUP BY lang, predicted_lang
    ORDER BY lang, predicted_lang
    """,
)
def lang_id_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Char-trigram language-ID vs the labeled lang column, as a
    confusion matrix (functions/text.py; accuracy is exercised on real
    snippets in tests — this corpus's text is synthetic)."""
    (docs,) = _t(spark, sf_dir, "documents")
    return (
        _txt.with_predicted_lang(spread(docs))
        .groupBy("lang", "predicted_lang")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .orderBy("lang", "predicted_lang")
    )


# ----------------------------------------------------------------------
# Document chunking — the tokenize→chunk step every training-data
# pipeline runs before embedding/packing. Pure HOF expressions: the
# token array is built once, chunk starts are a stride sequence, and
# each chunk is a clamped slice — explode is the only row-multiplier,
# no shuffle until the ORDER BY (which real pipelines don't need).
# ----------------------------------------------------------------------

CHUNK_TOKENS = 64
CHUNK_STRIDE = 48  # 16-token overlap


@query(
    "chunk_documents",
    f"""
    WITH tok AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ), chunks AS (
      SELECT doc_id,
             UNNEST(list_transform(range(1, len(t) + 1, {CHUNK_STRIDE}),
               s -> {{'idx': (s - 1) // {CHUNK_STRIDE},
                      'ctoks': t[s : s + {CHUNK_TOKENS - 1}]}})) AS c
      FROM tok
    )
    SELECT doc_id,
           CAST(c.idx AS INT) AS chunk_idx,
           CAST(len(c.ctoks) AS INT) AS n_tokens,
           md5(array_to_string(c.ctoks, ' ')) AS chunk_hash
    FROM chunks ORDER BY doc_id, chunk_idx
    """,
)
def chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping token chunks (64 tokens, stride 48) per document;
    chunks are emitted as (count, content-hash) so the gate compares
    chunk boundaries exactly without shipping the text twice."""
    (docs,) = _t(spark, sf_dir, "documents")
    toks = spread(docs).select("doc_id", F.split("text", " ").alias("t"))
    chunks = toks.select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("t"), F.lit(CHUNK_STRIDE)),
                lambda s: F.struct(
                    ((s - 1) / CHUNK_STRIDE).cast("int").alias("idx"),
                    F.slice("t", s, CHUNK_TOKENS).alias("ctoks"),
                ),
            )
        ).alias("c"),
    )
    return chunks.select(
        "doc_id",
        F.col("c.idx").alias("chunk_idx"),
        F.size("c.ctoks").alias("n_tokens"),
        F.md5(F.concat_ws(" ", "c.ctoks")).alias("chunk_hash"),
    ).orderBy("doc_id", "chunk_idx")


# ----------------------------------------------------------------------
# Sequence packing — pretraining's concat-then-chunk: documents are
# concatenated in a deterministic order and cut into fixed-size token
# sequences. One window cumsum + one explode; the per-sequence roll-up
# shuffles only (seq_id, contribution) pairs.
# ----------------------------------------------------------------------

PACK_SEQ_LEN = 512


def _global_start_offsets(tok: DataFrame) -> DataFrame:
    """(doc_id, n, start_off): exclusive global running sum of ``n`` in
    doc_id order, without a single-partition window (two-phase prefix
    sum; see pack_sequences docstring)."""
    spark = tok.sparkSession
    nparts = spark.sparkContext.defaultParallelism
    ranged = tok.repartitionByRange(nparts, "doc_id").withColumn(
        "pid", F.spark_partition_id()
    )
    w_local = (
        Window.partitionBy("pid")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    local = ranged.withColumn("local_cum", F.sum("n").over(w_local)).localCheckpoint()
    totals = sorted(
        local.groupBy("pid").agg(F.max("local_cum").alias("tot")).collect(),
        key=lambda r: r["pid"],
    )
    offsets, acc = [], 0
    for r in totals:
        offsets.append((r["pid"], acc))
        # a partition whose every n is NULL yields tot=None — treat as
        # contributing 0 to downstream offsets rather than TypeError
        acc += r["tot"] or 0
    off_df = spark.createDataFrame(offsets, "pid int, p_off long")
    return local.join(F.broadcast(off_df), "pid").select(
        "doc_id",
        "n",
        (F.col("p_off") + F.col("local_cum") - F.col("n")).alias("start_off"),
    )


@query(
    "pack_sequences",
    f"""
    WITH tok AS (
      SELECT doc_id, len(string_split(text, ' ')) AS n FROM documents
    ), pos AS (
      SELECT doc_id, n,
             CAST(SUM(n) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) - n
                  AS BIGINT) AS start_off
      FROM tok
    ), spans AS (
      SELECT doc_id,
             UNNEST(range(start_off // {PACK_SEQ_LEN},
                          (start_off + n - 1) // {PACK_SEQ_LEN} + 1)) AS seq_id,
             start_off, n
      FROM pos WHERE n > 0
    )
    SELECT CAST(seq_id AS BIGINT) AS seq_id,
           COUNT(*) AS n_docs,
           CAST(SUM(
             least((seq_id + 1) * {PACK_SEQ_LEN}, start_off + n)
             - greatest(seq_id * {PACK_SEQ_LEN}, start_off)
           ) AS BIGINT) AS n_tokens
    FROM spans GROUP BY seq_id ORDER BY seq_id
    """,
)
def pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pack the corpus into PACK_SEQ_LEN(=512)-token training sequences
    (docs concatenated by doc_id): per sequence, how many documents
    contribute and how many tokens land in it (= seq_len everywhere
    but the tail).

    The global running sum uses the two-phase prefix pattern, NOT a
    single-partition window: range-partition by doc_id, cumsum within
    each partition (window keyed on spark_partition_id — P-way
    parallel), then add per-partition prefix offsets computed driver-
    side from the P partition totals (P rows — tiny at any scale).
    Range partition i holds doc_ids strictly below partition i+1's, so
    offset(i) = sum of totals of partitions < i gives the exact global
    cumsum."""
    (docs,) = _t(spark, sf_dir, "documents")
    # coalesce: NULL text must count 0 tokens BEFORE the prefix sum —
    # a NULL n would poison every later document's running offset
    pos = _global_start_offsets(
        docs.select(
            "doc_id",
            F.coalesce(F.size(F.split("text", " ")), F.lit(0)).alias("n"),
        )
    ).filter(F.col("n") > 0)
    spans = pos.select(
        "doc_id",
        "start_off",
        "n",
        F.explode(
            F.sequence(
                F.floor(F.col("start_off") / PACK_SEQ_LEN),
                F.floor((F.col("start_off") + F.col("n") - 1) / PACK_SEQ_LEN),
            )
        ).alias("seq_id"),
    )
    contrib = F.least(
        (F.col("seq_id") + 1) * PACK_SEQ_LEN, F.col("start_off") + F.col("n")
    ) - F.greatest(F.col("seq_id") * PACK_SEQ_LEN, F.col("start_off"))
    return (
        spans.groupBy("seq_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(contrib).alias("n_tokens"),
        )
        .orderBy("seq_id")
    )


# ----------------------------------------------------------------------
# Deterministic hash sampling — reproducible stratified sampling with
# no RNG: a doc is kept iff its md5 bucket falls under the stratum's
# rate. Same sample on every engine, every run, every cluster layout —
# the only sane way to sample at 100 TB (rand() re-draws per retry).
# ----------------------------------------------------------------------

_SAMPLE_RATES = {"en": 50, "de": 20, "es": 20, "fr": 20, "zh": 10}  # buckets /100


@query(
    "sample_stratified_hash",
    f"""
    WITH tagged AS (
      SELECT lang,
             ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100
               AS bucket
      FROM documents
    )
    SELECT lang, COUNT(*) AS n_sampled FROM tagged
    WHERE bucket < CASE lang {" ".join(f"WHEN '{k}' THEN {v}" for k, v in _SAMPLE_RATES.items())} ELSE 0 END
    GROUP BY lang ORDER BY lang
    """,
)
def sample_stratified_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language hash-sampled doc counts at configured rates
    (en 50%, de/es/fr 20%, zh 10%)."""
    (docs,) = _t(spark, sf_dir, "documents")
    bucket = F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10).cast(
        "long"
    ) % 100
    rate = F.lit(0)
    for k, v in _SAMPLE_RATES.items():
        rate = F.when(F.col("lang") == k, v).otherwise(rate)
    return (
        docs.select("lang", bucket.alias("bucket"), rate.alias("rate"))
        .filter(F.col("bucket") < F.col("rate"))
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n_sampled"))
        .orderBy("lang")
    )


# ----------------------------------------------------------------------
# Near-dup clustering — connected components over the MinHash pair
# graph (dedup/cluster.py); the oracle reaches the same fixpoint with
# a recursive CTE (min reachable id == component label).
# ----------------------------------------------------------------------


def _clusters_oracle() -> str:
    from automated_etl_pipeline_spark.dedup.minhash import pairs_cte_sql

    return f"""
    WITH RECURSIVE {pairs_cte_sql()},
    sym AS (
      SELECT doc_a AS a, doc_b AS b FROM mh_pairs
      UNION
      SELECT doc_b AS a, doc_a AS b FROM mh_pairs
    ),
    reach AS (
      SELECT doc_id, doc_id AS r FROM documents
      UNION
      SELECT s.a AS doc_id, reach.r FROM sym s JOIN reach ON s.b = reach.doc_id
    )
    SELECT doc_id, CAST(MIN(r) AS BIGINT) AS component
    FROM reach GROUP BY doc_id ORDER BY doc_id
    """


def _keep_best_oracle() -> str:
    from automated_etl_pipeline_spark.dedup.minhash import pairs_cte_sql

    return f"""
    WITH RECURSIVE {pairs_cte_sql()},
    sym AS (
      SELECT doc_a AS a, doc_b AS b FROM mh_pairs
      UNION
      SELECT doc_b AS a, doc_a AS b FROM mh_pairs
    ),
    reach AS (
      SELECT doc_id, doc_id AS r FROM documents
      UNION
      SELECT s.a AS doc_id, reach.r FROM sym s JOIN reach ON s.b = reach.doc_id
    ),
    comp AS (
      SELECT doc_id, MIN(r) AS component FROM reach GROUP BY doc_id
    ),
    scored AS (
      SELECT c.component, c.doc_id,
             len(string_split(d.text, ' ')) AS n_tokens
      FROM comp c JOIN documents d USING (doc_id)
    ),
    ranked AS (
      SELECT component, doc_id, n_tokens,
             row_number() OVER (PARTITION BY component
                                ORDER BY n_tokens DESC, doc_id) AS rn,
             COUNT(*) OVER (PARTITION BY component) AS n_members
      FROM scored
    )
    SELECT CAST(component AS BIGINT) AS component,
           CAST(n_members AS BIGINT) AS n_members,
           doc_id AS survivor_doc,
           CAST(n_tokens AS BIGINT) AS survivor_tokens
    FROM ranked WHERE rn = 1 AND n_members >= 2
    ORDER BY component
    """


@query("dedup_keep_best_quality", _keep_best_oracle())
def dedup_keep_best_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware survivor selection: production dedup keeps the
    BEST member of each near-dup cluster, not the lowest id (Lee et
    al. and most curation stacks keep the longest/cleanest copy; the
    keep-min convention elsewhere in this registry is the
    tie-independent baseline).  Clusters = transitive MinHash
    components (dedup/cluster.py); quality = token count with doc_id
    as the deterministic tiebreak; output = one survivor per
    multi-member cluster with its size.

    Scale: the dedup/cluster.py component machinery (banded
    pairs, iterative min-label with the singleton fast path); the
    survivor pick is a per-component WindowGroupLimit-style rank-1
    filter over CLUSTER MEMBERS only (the tiny minority of a deduped
    corpus), never the full corpus."""
    from automated_etl_pipeline_spark.dedup.cluster import connected_components
    from automated_etl_pipeline_spark.dedup.minhash import near_duplicate_pairs

    (docs,) = _t(spark, sf_dir, "documents")
    docs = spread(docs)
    edges = near_duplicate_pairs(docs, threshold=0.8).select("doc_a", "doc_b")
    comp = connected_components(
        docs.select("doc_id"), edges, id_col="doc_id", src_col="doc_a", dst_col="doc_b"
    )
    scored = comp.join(
        docs.select("doc_id", F.size(F.split("text", " ")).alias("n_tokens")),
        "doc_id",
    )
    w = Window.partitionBy("component").orderBy(F.desc("n_tokens"), "doc_id")
    wc = Window.partitionBy("component")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .withColumn("n_members", F.count(F.lit(1)).over(wc))
        .filter((F.col("rn") == 1) & (F.col("n_members") >= 2))
        .select(
            "component",
            F.col("n_members").cast("long").alias("n_members"),
            F.col("doc_id").alias("survivor_doc"),
            F.col("n_tokens").cast("long").alias("survivor_tokens"),
        )
        .orderBy("component")
    )


# ----------------------------------------------------------------------
# BM25 retrieval (functions/ranking.py)
# ----------------------------------------------------------------------

_BM25_TERMS = ["spark", "query", "join"]

from automated_etl_pipeline_spark.functions import ranking as _rk  # noqa: E402


@query("bm25_topk", _rk.duckdb_oracle_sql(_BM25_TERMS))
def bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 documents by BM25 for a fixed probe query — the
    filter-postings-first dataflow of functions/ranking.py."""
    (docs,) = _t(spark, sf_dir, "documents")
    # no spread(): the postings build is one explode+filter — shuffle
    # cost of a pre-repartition exceeds the parallelism it buys
    return _rk.bm25_topk(docs, _BM25_TERMS, k=20)


# ----------------------------------------------------------------------
# Multimodal plumbing under the value gate: a media table derived from
# documents (payload = utf-8 text bytes) flows through the REAL
# Arrow/mapInPandas decode path (multimodal/binary_ops.py, fake codec);
# the fake is md5-byte arithmetic, so DuckDB recomputes it exactly —
# proving the batch iteration, schema, and boundary crossing lossless.
# ----------------------------------------------------------------------


@query(
    "multimodal_image_features",
    """
    SELECT doc_id AS media_id,
           CAST(16 + (('0x' || substr(md5(text), 1, 2))::INT % 240) AS INT) AS width,
           CAST(16 + (('0x' || substr(md5(text), 3, 2))::INT % 240) AS INT) AS height,
           CAST(1 + (('0x' || substr(md5(text), 5, 2))::INT % 4) AS INT) AS channels,
           ('0x' || substr(md5(text), 7, 2))::INT / 255.0 AS mean_luma
    FROM documents ORDER BY media_id
    """,
)
def multimodal_image_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image feature extraction over mapInPandas (deterministic fake
    codec): documents' text bytes stand in for image payloads."""
    from automated_etl_pipeline_spark.multimodal.binary_ops import (
        extract_image_features,
    )

    (docs,) = _t(spark, sf_dir, "documents")
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.lit("image").alias("media_type"),
        F.encode("text", "UTF-8").alias("payload"),
        F.lit("image/png").alias("mime"),
        F.octet_length(F.encode("text", "UTF-8")).cast("long").alias("n_bytes"),
    )
    # batch_size: these payloads are small text, so don't leave the
    # session's Arrow cap at the multi-MB-media default of 64
    return extract_image_features(
        media, deterministic_fake=True, batch_size=10_000
    ).orderBy("media_id")


@query(
    "multimodal_audio_features",
    """
    SELECT doc_id AS media_id,
           0.5 + ('0x' || substr(md5(text), 1, 2))::INT / 8.0 AS duration_s,
           CAST(CASE (('0x' || substr(md5(text), 3, 2))::INT % 4)
                WHEN 0 THEN 8000 WHEN 1 THEN 16000
                WHEN 2 THEN 22000 ELSE 44000 END AS INT) AS sample_rate,
           ('0x' || substr(md5(text), 5, 2))::INT / 255.0 AS rms
    FROM documents ORDER BY media_id
    """,
)
def multimodal_audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio feature extraction over mapInPandas (deterministic fake
    codec), same payload stand-in as the image query."""
    from automated_etl_pipeline_spark.multimodal.binary_ops import (
        extract_audio_features,
    )

    (docs,) = _t(spark, sf_dir, "documents")
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.lit("audio").alias("media_type"),
        F.encode("text", "UTF-8").alias("payload"),
        F.lit("audio/wav").alias("mime"),
        F.octet_length(F.encode("text", "UTF-8")).cast("long").alias("n_bytes"),
    )
    return extract_audio_features(
        media, deterministic_fake=True, batch_size=10_000
    ).orderBy("media_id")


@query(
    "multimodal_video_frames",
    """
    SELECT doc_id AS media_id,
           CAST(f.i AS INT) AS frame_idx,
           md5(text || chr(CAST(f.i AS INT))) AS frame_hash
    FROM documents CROSS JOIN range(4) f(i)
    ORDER BY media_id, frame_idx
    """,
)
def multimodal_video_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video frame sampling over mapInPandas (deterministic fake codec,
    binary_ops.py _sample_frames_bytes — the real path is the ffmpeg
    stub): one row per (video, frame_idx), frame_hash =
    md5(payload + frame_idx byte).  The fake is byte-exact in DuckDB
    (UTF-8 payload ‖ chr(i)), so the gate proves the row-explosion
    shape, Arrow batch iteration, and output schema lossless — the same
    contract as the image/audio siblings (VERDICT r4 ask #4)."""
    from automated_etl_pipeline_spark.multimodal.binary_ops import (
        sample_video_frames,
    )

    (docs,) = _t(spark, sf_dir, "documents")
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.lit("video").alias("media_type"),
        F.encode("text", "UTF-8").alias("payload"),
        F.lit("video/mp4").alias("mime"),
        F.octet_length(F.encode("text", "UTF-8")).cast("long").alias("n_bytes"),
    )
    return sample_video_frames(
        media, n_frames=4, deterministic_fake=True, batch_size=10_000
    ).orderBy("media_id", "frame_idx")


@query(
    "top_terms_per_lang",
    """
    WITH tf AS (
      SELECT lang, term, COUNT(*) AS n FROM (
        SELECT lang, UNNEST(string_split(text, ' ')) AS term FROM documents
      ) GROUP BY lang, term
    ), ranked AS (
      SELECT lang, term, n,
             row_number() OVER (PARTITION BY lang ORDER BY n DESC, term) AS rnk
      FROM tf
    )
    SELECT lang, CAST(rnk AS INT) AS rnk, term, n
    FROM ranked WHERE rnk <= 5 ORDER BY lang, rnk
    """,
)
def top_terms_per_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 terms per language: explode -> per-(lang, term) count ->
    rank within lang. Spark 3.5+ plans the rank filter as
    WindowGroupLimit (per-partition top-k, no full sort per group)."""
    (docs,) = _t(spark, sf_dir, "documents")
    # no spread(): split+explode is cheap; the groupBy shuffle already
    # redistributes, so a pre-repartition is pure added cost
    tf = (
        docs.select("lang", F.explode(F.split("text", " ")).alias("term"))
        .groupBy("lang", "term")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w = Window.partitionBy("lang").orderBy(F.desc("n"), F.asc("term"))
    return (
        tf.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 5)
        .select("lang", "rnk", "term", "n")
        .orderBy("lang", "rnk")
    )


# ----------------------------------------------------------------------
# Winnowing fingerprints (dedup/winnow.py) — MOSS-style local
# similarity, complementing MinHash's global resemblance.
# ----------------------------------------------------------------------


@query(
    "winnow_fingerprint_pairs",
    """
    WITH tok AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ), ok AS (
      SELECT doc_id, t FROM tok WHERE len(t) >= 8  -- k + w - 1
    ), grams AS (
      -- ordered 4-gram 60-bit hashes, mirroring shingle_hash60
      SELECT doc_id,
             list_transform(range(1, len(t) - 2),
               i -> ('0x' || substr(md5(array_to_string(t[i:i+3], ' ')), 1, 15))::BIGINT
             ) AS h
      FROM ok
    ), wins AS (
      -- min of every 5-wide window of consecutive gram hashes
      SELECT doc_id,
             list_distinct(list_transform(range(1, len(h) - 3),
               j -> list_min(h[j:j+4]))) AS fp
      FROM grams
    ), inv AS (
      SELECT doc_id, UNNEST(fp) AS f FROM wins
    ), keep AS (
      SELECT f FROM inv GROUP BY f
      HAVING COUNT(*) <= 0.02 * (SELECT COUNT(*) FROM wins)
    ), ki AS (
      SELECT doc_id, f FROM inv JOIN keep USING (f)
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(COUNT(*) AS BIGINT) AS n_shared
    FROM ki a JOIN ki b ON a.f = b.f AND a.doc_id < b.doc_id
    GROUP BY doc_a, doc_b HAVING COUNT(*) >= 2
    ORDER BY doc_a, doc_b
    """,
)
def winnow_fingerprint_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document pairs sharing >= 2 discriminative winnowed fingerprints
    (k=4 grams, w=5 windows — the winnowing guarantee catches any
    shared run of >= 8 tokens).  See dedup/winnow.py for the scale
    analysis."""
    from automated_etl_pipeline_spark.dedup.winnow import fingerprint_pairs

    (docs,) = _t(spark, sf_dir, "documents")
    return fingerprint_pairs(
        spread(docs), k=4, w=5, min_shared=2, max_df_frac=0.02
    ).orderBy("doc_a", "doc_b")


_SPAN_W = 20


@query(
    "oov_rate_quality",
    """
    WITH tok AS (
      SELECT doc_id, UNNEST(string_split(text, ' ')) AS term FROM documents
    ), vocab AS (
      SELECT term FROM (
        SELECT term, COUNT(*) AS n FROM tok GROUP BY term
        ORDER BY n DESC, term LIMIT 500
      )
    ), tot AS (
      SELECT doc_id, len(string_split(text, ' ')) AS n_tokens
      FROM documents WHERE len(string_split(text, ' ')) > 0
    ), oov AS (
      SELECT doc_id, COUNT(*) AS n_oov FROM tok
      WHERE term NOT IN (SELECT term FROM vocab) GROUP BY doc_id
    )
    SELECT t.doc_id,
           CAST(t.n_tokens AS BIGINT) AS n_tokens,
           CAST(COALESCE(o.n_oov, 0) AS BIGINT) AS n_oov,
           CAST(COALESCE(o.n_oov, 0) AS DOUBLE) / t.n_tokens AS oov_rate
    FROM tot t LEFT JOIN oov o ON t.doc_id = o.doc_id
    ORDER BY t.doc_id
    """,
)
def oov_rate_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Out-of-vocabulary-rate quality filter: vocabulary = top-500
    corpus terms (count desc, term asc — deterministic), per-doc OOV
    ratio as an exact int/int division.  The log-free stand-in for
    LM-perplexity filtering (ln() is not identically rounded across
    engines, so a perplexity gate could never hash-match; OOV rate
    ranks documents nearly as well for boilerplate/noise detection).

    Scale: vocab is a TakeOrderedAndProject top-k (per-partition heaps,
    no global sort) broadcast into a left-anti join against the
    exploded tokens — the heavy side shuffles only for its per-doc
    count aggregate."""
    (docs,) = _t(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.explode(F.split("text", " ")).alias("term"))
    vocab = (
        toks.groupBy("term")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("term"))
        .limit(500)
        .select("term")
    )
    tot = docs.select(
        "doc_id", F.size(F.split("text", " ")).alias("n_tokens")
    ).filter(F.col("n_tokens") > 0)
    oov = (
        toks.join(F.broadcast(vocab), "term", "left_anti")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_oov"))
    )
    return (
        tot.join(oov, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            F.coalesce("n_oov", F.lit(0)).alias("n_oov"),
            (
                F.coalesce("n_oov", F.lit(0)).cast("double") / F.col("n_tokens")
            ).alias("oov_rate"),
        )
        .orderBy("doc_id")
    )


@query(
    "vocab_encode_checksum",
    """
    WITH tok AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ), flat AS (
      SELECT doc_id, UNNEST(t) AS term FROM tok
    ), vocab AS (
      SELECT term, row_number() OVER (ORDER BY n DESC, term) AS token_id
      FROM (SELECT term, COUNT(*) AS n FROM flat GROUP BY term
            ORDER BY n DESC, term LIMIT 500)
    ), pos AS (
      SELECT doc_id, u.p AS p, t[u.p] AS term
      FROM tok, UNNEST(range(1, len(t) + 1)) AS u(p)
    ), enc AS (
      SELECT pos.doc_id, pos.p,
             COALESCE(v.token_id, 0) AS token_id
      FROM pos LEFT JOIN vocab v ON pos.term = v.term
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           CAST(COUNT(*) FILTER (token_id = 0) AS BIGINT) AS n_unk,
           CAST(SUM(p * token_id) AS BIGINT) AS checksum
    FROM enc GROUP BY doc_id ORDER BY doc_id
    """,
)
def vocab_encode_checksum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus tokenization against a learned vocabulary: top-500 terms
    get dense 1-based ids (count desc, term asc — deterministic), every
    document encodes to (position, token_id) with OOV -> 0, verified by
    a position-weighted integer checksum — an ordering or lookup error
    anywhere in the encode pipeline shifts it.

    Scale: the vocab id assignment is a window over the top-k result
    (500 rows — driver-trivial after TakeOrderedAndProject); encoding
    is posexplode + broadcast hash join, no shuffle on the corpus side
    until the per-doc aggregate."""
    (docs,) = _t(spark, sf_dir, "documents")
    flat = docs.select("doc_id", F.explode(F.split("text", " ")).alias("term"))
    topk = (
        flat.groupBy("term")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("term"))
        .limit(500)
    )
    vocab = topk.select(
        "term",
        F.row_number()
        .over(Window.orderBy(F.desc("n"), F.asc("term")))
        .alias("token_id"),
    )
    pos = docs.select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("p0", "term")
    ).select("doc_id", (F.col("p0") + 1).alias("p"), "term")
    enc = pos.join(F.broadcast(vocab), "term", "left").select(
        "doc_id", "p", F.coalesce("token_id", F.lit(0)).alias("token_id")
    )
    return (
        enc.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.count(F.when(F.col("token_id") == 0, 1)).alias("n_unk"),
            F.sum(F.col("p") * F.col("token_id")).alias("checksum"),
        )
        .orderBy("doc_id")
    )


@query(
    "length_bucketed_batches",
    """
    WITH tok AS (
      SELECT doc_id, len(string_split(text, ' ')) AS n
      FROM documents WHERE len(string_split(text, ' ')) > 0
    ), bucketed AS (
      SELECT doc_id, n, least(n // 32, 8) AS len_bucket FROM tok
    ), numbered AS (
      SELECT doc_id, n, len_bucket,
             (row_number() OVER (PARTITION BY len_bucket ORDER BY n, doc_id) - 1) // 16
               AS batch_id
      FROM bucketed
    )
    SELECT len_bucket, CAST(batch_id AS BIGINT) AS batch_id,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(MAX(n) AS BIGINT) AS max_len,
           CAST(MAX(n) * COUNT(*) - SUM(n) AS BIGINT) AS padding_waste
    FROM numbered GROUP BY len_bucket, batch_id
    ORDER BY len_bucket, batch_id
    """,
)
def length_bucketed_batches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-bucketed training batches: docs bucketed by token count
    (32-token-wide buckets, overflow at 256), batched 16-at-a-time
    within each bucket in (length, doc_id) order; reports per-batch
    padding waste (max_len*n - sum_len) — the tokens a fixed-shape
    training step would burn on pad.  Grouping similar lengths is THE
    standard trick for cutting that waste.

    Scale: the per-bucket row_number is a window over one bucket's docs
    — bounded skew (9 buckets); at petabyte scale replace it with the
    two-phase prefix sum used by pack_sequences (same shape, no
    single-bucket window)."""
    (docs,) = _t(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", F.size(F.split("text", " ")).alias("n")
    ).filter(F.col("n") > 0)
    bucketed = tok.withColumn(
        "len_bucket", F.least(F.floor(F.col("n") / 32), F.lit(8))
    )
    w = Window.partitionBy("len_bucket").orderBy("n", "doc_id")
    numbered = bucketed.withColumn(
        "batch_id", F.floor((F.row_number().over(w) - 1) / 16)
    )
    return (
        numbered.groupBy("len_bucket", "batch_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.max("n").alias("max_len"),
            (F.max("n") * F.count(F.lit(1)) - F.sum("n")).alias("padding_waste"),
        )
        .orderBy("len_bucket", "batch_id")
    )


from automated_etl_pipeline_spark.dedup import ngram_jaccard as _ng  # noqa: E402


@query(
    "decontamination_overlap",
    """
    WITH probe AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents
      WHERE doc_id % 20 = 0
    ), corpus AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents
      WHERE doc_id % 20 != 0
    ), pg AS (
      SELECT doc_id AS bench_doc,
             UNNEST(list_distinct(list_transform(range(1, len(t) - 6),
               i -> ('0x' || substr(md5(array_to_string(t[i:i+7], ' ')), 1, 15))::BIGINT
             ))) AS g
      FROM probe WHERE len(t) >= 8
    ), cg AS (
      SELECT doc_id AS corpus_doc,
             UNNEST(list_distinct(list_transform(range(1, len(t) - 6),
               i -> ('0x' || substr(md5(array_to_string(t[i:i+7], ' ')), 1, 15))::BIGINT
             ))) AS g
      FROM corpus WHERE len(t) >= 8
    ), hits AS (
      SELECT pg.bench_doc, cg.corpus_doc, COUNT(*) AS n_shared
      FROM pg JOIN cg USING (g) GROUP BY bench_doc, corpus_doc
    )
    SELECT p.doc_id AS bench_doc,
           CAST(COUNT(h.corpus_doc) AS BIGINT) AS n_contaminated_docs,
           CAST(COALESCE(SUM(h.n_shared), 0) AS BIGINT) AS total_shared_grams
    FROM probe p LEFT JOIN hits h ON p.doc_id = h.bench_doc
    GROUP BY p.doc_id ORDER BY p.doc_id
    """,
)
def decontamination_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: for each probe document (a stand-in
    eval set, doc_id % 20 = 0), how many corpus documents share >= 1
    distinct 8-gram and how many gram hits in total — the overlap
    audit run before training on a scraped corpus (8-grams are the
    usual contamination unit: long enough to be specific, short enough
    to survive light edits).

    Scale: probe gram sets are tiny relative to the corpus — broadcast
    them; the corpus side explodes to (gram, doc) pairs and the join
    is a hash join on the 60-bit gram key.  No df-cap needed: 8-grams
    are rare by construction, so gram fan-out is near-linear."""
    (docs,) = _t(spark, sf_dir, "documents")

    def grams8(df, out_id):
        t = F.split("text", " ")
        g = F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), F.size(t) - 7),
                lambda i: _ng.shingle_hash60(F.concat_ws(" ", F.slice(t, i, 8))),
            )
        )
        # explode_outer, NOT explode (r15 opt): a plain explode makes
        # InferFiltersFromGenerate add size(gs)>0 AND isnotnull(gs),
        # which predicate pushdown inlines below the projection — the
        # whole split+md5+conv gram pipeline evaluated 3x per row.
        # The size(t) >= 8 pre-filter already guarantees gs is a
        # non-empty array, so the outer variant emits identical rows.
        return (
            df.filter(F.size(t) >= 8)
            .select(F.col("doc_id").alias(out_id), g.alias("gs"))
            .select(out_id, F.explode_outer("gs").alias("g"))
        )

    probe = docs.filter(F.col("doc_id") % 20 == 0)
    corpus = spread(docs.filter(F.col("doc_id") % 20 != 0))
    pg = grams8(probe, "bench_doc")
    cg = grams8(corpus, "corpus_doc")
    hits = (
        cg.join(F.broadcast(pg), "g")
        .groupBy("bench_doc", "corpus_doc")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    return (
        probe.select(F.col("doc_id").alias("bench_doc"))
        .join(hits, "bench_doc", "left")
        .groupBy("bench_doc")
        .agg(
            F.count("corpus_doc").alias("n_contaminated_docs"),
            F.coalesce(F.sum("n_shared"), F.lit(0)).alias("total_shared_grams"),
        )
        .orderBy("bench_doc")
    )


@query(
    "target_overlap_selection",
    """
    WITH tgt AS (
      SELECT DISTINCT UNNEST(list_distinct(list_transform(
               range(1, len(string_split(text, ' '))),
               i -> ('0x' || substr(md5(string_split(text, ' ')[i] || ' ' ||
                      string_split(text, ' ')[i+1]), 1, 15))::BIGINT))) AS g
      FROM documents WHERE lang = 'en' AND len(string_split(text, ' ')) >= 2
    ), pool AS (
      SELECT doc_id,
             list_distinct(list_transform(
               range(1, len(string_split(text, ' '))),
               i -> ('0x' || substr(md5(string_split(text, ' ')[i] || ' ' ||
                      string_split(text, ' ')[i+1]), 1, 15))::BIGINT)) AS gs
      FROM documents WHERE lang != 'en' AND len(string_split(text, ' ')) >= 2
    ), pb AS (
      SELECT doc_id, UNNEST(gs) AS g FROM pool
    ), matched AS (
      SELECT pb.doc_id, COUNT(*) AS n_matched
      FROM pb JOIN tgt USING (g) GROUP BY pb.doc_id
    )
    SELECT p.doc_id,
           CAST(len(p.gs) AS BIGINT) AS n_bigrams,
           CAST(COALESCE(m.n_matched, 0) AS BIGINT) AS n_matched,
           ROUND(CAST(COALESCE(m.n_matched, 0) AS DOUBLE) / len(p.gs), 6)
             AS target_score
    FROM pool p LEFT JOIN matched m ON p.doc_id = m.doc_id
    ORDER BY target_score DESC, p.doc_id LIMIT 100
    """,
)
def target_overlap_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Targeted data selection à la DSIR (Xie et al. 2023, 'Data
    Selection for Language Models via Importance Resampling'), with the
    log-likelihood ratio replaced by the hashed-feature OVERLAP
    fraction so the score is exact integer arithmetic and
    cross-engine hashable (logs round differently per engine; set
    overlap ranks candidate docs toward the target domain nearly as
    well and is the auditable variant).  Target = the English
    subcorpus; candidates = everything else; feature space = distinct
    60-bit-hashed token bigrams (DSIR's hashed n-gram features); score
    = |doc ∩ target| / |doc| over distinct bigrams; output = top-100
    candidates by score.

    Scale: the target feature set is a DISTINCT aggregate (collapses
    map-side, shuffles O(unique bigrams)); the candidate side explodes
    to (doc, gram) pairs joined on the 8-byte hash key; the final
    top-100 is TakeOrderedAndProject.  At 100 TB the target set is the
    persisted artifact — build once, reuse for every selection run."""
    (docs,) = _t(spark, sf_dir, "documents")

    def bigrams(df):
        t = F.split("text", " ")
        g = F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), F.size(t) - 1),
                lambda i: _ng.shingle_hash60(F.concat_ws(" ", F.slice(t, i, 2))),
            )
        )
        return df.filter(F.size(t) >= 2).select("doc_id", g.alias("gs"))

    # explode_outer, NOT explode (r15 opt): a plain explode makes
    # InferFiltersFromGenerate add size(gs)>0 AND isnotnull(gs), which
    # predicate pushdown inlines below the projection — the whole
    # split+md5+conv bigram pipeline evaluated 3x per row (plan diff
    # in plans/r15/target_overlap_selection_*).  bigrams() pre-filters
    # size(t) >= 2, so gs is always a non-empty array and the outer
    # variant emits identical rows.
    tgt = (
        bigrams(docs.filter(F.col("lang") == "en"))
        .select(F.explode_outer("gs").alias("g"))
        .distinct()
    )
    # stats derive from the EXPLODED side (gs is already distinct, so
    # count(*) per doc == |gs|): the pool is tokenized once, not once
    # for the probe and again for the denominators
    pb = (
        bigrams(spread(docs.filter(F.col("lang") != "en")))
        .select("doc_id", F.explode_outer("gs").alias("g"))
    )
    # ONE pass over the exploded pool (r15 opt, guide §2.4): the old
    # shape fed pb into TWO groupBys (semi-join+count and a plain
    # count) joined at the end — the tokenize+hash+explode pipeline
    # ran twice and the results met in an extra doc_id shuffle.  A
    # left join against the (distinct) target set preserves pb's
    # multiplicity exactly, so count(*) is still |gs| and
    # count(__hit) equals the old semi-join count; unmatched docs get
    # 0 directly (count over all-NULL), no coalesce join needed.
    per = (
        pb.join(tgt.withColumn("__hit", F.lit(1)), "g", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.count("__hit").alias("n_matched"),
        )
    )
    return (
        per.select(
            "doc_id",
            F.col("n_bigrams").cast("long").alias("n_bigrams"),
            F.col("n_matched").alias("n_matched"),
            F.round(
                F.col("n_matched").cast("double") / F.col("n_bigrams"),
                6,
            ).alias("target_score"),
        )
        .orderBy(F.desc("target_score"), "doc_id")
        .limit(100)
    )


# ----------------------------------------------------------------------
# Repetition-based quality filtering (Gopher rules), source mixture
# weighting, and train/val/test splitting — the remaining curation
# steps between "deduped corpus" and "training shards".
# ----------------------------------------------------------------------


@query(
    "repetition_quality_flags",
    """
    WITH tok AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents
      WHERE len(string_split(text, ' ')) >= 3
    ), bg AS (
      SELECT doc_id,
             UNNEST(list_transform(range(1, len(t)),
               i -> array_to_string(t[i:i+1], chr(31)))) AS g
      FROM tok
    ), bgc AS (
      SELECT doc_id, g, COUNT(*) AS c FROM bg GROUP BY doc_id, g
    ), bstat AS (
      SELECT doc_id,
             CAST(MAX(c) AS DOUBLE) / SUM(c) AS top_bigram_frac
      FROM bgc GROUP BY doc_id
    ), tg AS (
      SELECT doc_id,
             UNNEST(list_transform(range(1, len(t) - 1),
               i -> array_to_string(t[i:i+2], chr(31)))) AS g
      FROM tok
    ), tgc AS (
      SELECT doc_id, g, COUNT(*) AS c FROM tg GROUP BY doc_id, g
    ), tstat AS (
      SELECT doc_id,
             CAST(SUM(CASE WHEN c > 1 THEN c ELSE 0 END) AS DOUBLE) / SUM(c)
               AS dup_trigram_frac
      FROM tgc GROUP BY doc_id
    )
    SELECT b.doc_id, b.top_bigram_frac, t.dup_trigram_frac,
           (b.top_bigram_frac > 0.18 OR t.dup_trigram_frac > 0.30) AS flagged
    FROM bstat b JOIN tstat t ON b.doc_id = t.doc_id
    ORDER BY b.doc_id
    """,
)
def repetition_quality_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition filters (Rae et al. 2021, public): per
    document, the fraction of bigram occurrences taken by the single
    most frequent bigram, and the fraction of trigram occurrences that
    belong to trigrams appearing more than once.  Docs over threshold
    (0.18 / 0.30) are flagged as boilerplate/spam — the standard
    repetition gate run after dedup and before mixing.

    Both fractions are exact int/int divisions (hash-stable vs the
    oracle).  Scale: explode to (doc_id, gram), two-level agg keyed on
    doc_id — map-side partial agg collapses each doc's grams before the
    exchange; keys are near-uniform (doc_id), no skew.  No windows, no
    driver state."""
    (docs,) = _t(spark, sf_dir, "documents")
    t = F.split("text", " ")
    base = spread(
        docs.select("doc_id", t.alias("t")).filter(F.size("t") >= 3)
    )

    def gram_counts(width: int):
        g = F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("t") - (width - 1)),
                lambda i: F.concat_ws("\x1f", F.slice("t", i, width)),
            )
        )
        return (
            base.select("doc_id", g.alias("g"))
            .groupBy("doc_id", "g")
            .agg(F.count(F.lit(1)).alias("c"))
        )

    bstat = (
        gram_counts(2)
        .groupBy("doc_id")
        .agg(
            (F.max("c").cast("double") / F.sum("c")).alias("top_bigram_frac")
        )
    )
    tstat = (
        gram_counts(3)
        .groupBy("doc_id")
        .agg(
            (
                F.sum(F.when(F.col("c") > 1, F.col("c")).otherwise(0)).cast(
                    "double"
                )
                / F.sum("c")
            ).alias("dup_trigram_frac")
        )
    )
    return (
        bstat.join(tstat, "doc_id")
        .select(
            "doc_id",
            "top_bigram_frac",
            "dup_trigram_frac",
            (
                (F.col("top_bigram_frac") > 0.18)
                | (F.col("dup_trigram_frac") > 0.30)
            ).alias("flagged"),
        )
        .orderBy("doc_id")
    )


@query(
    "source_mixture_weights",
    """
    WITH s AS (
      SELECT source, COUNT(*) AS n_docs,
             SUM(len(string_split(text, ' '))) AS n_tokens
      FROM documents GROUP BY source
    ), t AS (
      SELECT SUM(n_tokens) AS tot,
             SUM(pow(CAST(n_tokens AS DOUBLE), 0.7)) AS pow_sum
      FROM s
    )
    SELECT s.source, CAST(s.n_docs AS BIGINT) AS n_docs,
           CAST(s.n_tokens AS BIGINT) AS n_tokens,
           round(CAST(s.n_tokens AS DOUBLE) / t.tot, 6) AS token_share,
           round(pow(CAST(s.n_tokens AS DOUBLE), 0.7) / t.pow_sum, 6)
             AS mixture_weight,
           round((pow(CAST(s.n_tokens AS DOUBLE), 0.7) / t.pow_sum)
                 / (CAST(s.n_tokens AS DOUBLE) / t.tot), 6)
             AS oversample_factor
    FROM s CROSS JOIN t ORDER BY s.source
    """,
)
def source_mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled source mixing (alpha=0.7, the multilingual /
    multi-corpus sampling rule from public LM recipes): per source,
    token share p, mixture weight p^a normalized, and the implied
    oversample factor w/p.  This is the table a sharding job consumes
    to draw training batches across heterogeneous sources.

    Scale: one groupBy(source) with map-side combine, then a 1-row
    totals aggregate broadcast-crossJoined back (sources are few by
    definition).  pow() on identical doubles, rounded to 6 — stable vs
    the oracle."""
    (docs,) = _t(spark, sf_dir, "documents")
    s = (
        docs.select("source", F.size(F.split("text", " ")).alias("n"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"), F.sum("n").alias("n_tokens")
        )
    )
    tot = s.agg(
        F.sum("n_tokens").alias("tot"),
        F.sum(F.pow(F.col("n_tokens").cast("double"), 0.7)).alias("pow_sum"),
    )
    p = F.col("n_tokens").cast("double") / F.col("tot")
    w = F.pow(F.col("n_tokens").cast("double"), 0.7) / F.col("pow_sum")
    return (
        s.crossJoin(F.broadcast(tot))
        .select(
            "source",
            "n_docs",
            "n_tokens",
            F.round(p, 6).alias("token_share"),
            F.round(w, 6).alias("mixture_weight"),
            F.round(w / p, 6).alias("oversample_factor"),
        )
        .orderBy("source")
    )


# ----------------------------------------------------------------------
# PII / denylist scrubbing — the scrub end of the curation pipeline.
# ----------------------------------------------------------------------

# The synthetic corpus contains no emails/phones (functions/redact.py's
# PII_PATTERNS are exercised on literal fixtures in tests/test_curation
# .py); the gate scrubs a denylist pattern that actually fires here so
# the regex path is driver-verified end-to-end.
_DENY_PATTERN = r"\b(key|hash)\w*\b"


@query(
    "pii_denylist_redaction",
    r"""
    WITH r AS (
      SELECT lang,
             len(regexp_extract_all(text, '\b(key|hash)\w*\b')) AS n_hits,
             len(regexp_replace(text, '\b(key|hash)\w*\b', '[TERM]', 'g'))
               AS n_res
      FROM documents)
    SELECT lang, COUNT(*) AS n_docs,
           CAST(SUM(CASE WHEN n_hits > 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS docs_touched,
           CAST(SUM(n_hits) AS BIGINT) AS total_redactions,
           CAST(SUM(n_res) AS BIGINT) AS redacted_chars
    FROM r GROUP BY lang ORDER BY lang
    """,
)
def pii_denylist_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Denylist/PII scrub audit: per lang, how many docs were touched,
    how many spans were replaced, and the post-scrub character volume.
    The scrub itself (functions/redact.py) is chained regexp_replace —
    pure codegen expressions, written in the Java-regex ∩ RE2 subset so
    the identical pattern runs in the DuckDB oracle.

    Scale: a narrow projection over the text scan plus one tiny
    aggregate — the scrub is a free rider on any pass that already
    reads the text column; no shuffle beyond the 5-group agg."""
    from automated_etl_pipeline_spark.functions.redact import (
        match_count,
        redact,
    )

    (docs,) = _t(spark, sf_dir, "documents")
    return (
        docs.select(
            "lang",
            match_count(F.col("text"), _DENY_PATTERN).alias("n_hits"),
            F.length(
                redact(F.col("text"), {"deny": _DENY_PATTERN}, "[TERM]")
            ).alias("n_res"),
        )
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum((F.col("n_hits") > 0).cast("long")).alias("docs_touched"),
            F.sum("n_hits").alias("total_redactions"),
            F.sum("n_res").alias("redacted_chars"),
        )
        .orderBy("lang")
    )


@query(
    "weighted_sample_aes",
    """
    WITH scored AS (
      SELECT doc_id,
             CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
               / len(string_split(text, ' ')) AS w,
             ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
               / 4294967296.0 AS u
      FROM documents)
    SELECT doc_id, round(w, 6) AS weight,
           round(pow(u, 1.0 / w), 6) AS sample_key
    FROM scored ORDER BY sample_key DESC, doc_id LIMIT 50
    """,
)
def weighted_sample_aes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling without replacement (Efraimidis-Spirakis
    A-ES, 2006, public): key = u^(1/w) with u uniform from md5(doc_id)
    and w a quality weight (distinct-token ratio) — the top-k keys ARE
    a weighted sample, drawn deterministically (retry/re-run stable,
    no RNG state) and in one distributed pass. This is how a curation
    pipeline draws a quality-weighted training subset at 100 TB: no
    per-source iteration, no rejection loop.

    Scale: embarrassingly parallel scoring + TakeOrderedAndProject
    top-k — no shuffle at all. Keys rounded to 6dp before ranking with
    a doc_id tiebreak (libm pow may differ in the last ulp across
    engines)."""
    (docs,) = _t(spark, sf_dir, "documents")
    tok = F.split("text", " ")
    w_expr = F.size(F.array_distinct(tok)).cast("double") / F.size(tok)
    u = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("double")
        / F.lit(4294967296.0)
    )
    scored = docs.select(
        "doc_id", w_expr.alias("w"), u.alias("u")
    )
    return (
        scored.select(
            "doc_id",
            F.round("w", 6).alias("weight"),
            F.round(F.pow("u", 1.0 / F.col("w")), 6).alias("sample_key"),
        )
        .orderBy(F.desc("sample_key"), "doc_id")
        .limit(50)
    )


@query(
    "fingerprint_pagerank",
    """
    WITH RECURSIVE
    fp AS (
      SELECT doc_id,
             md5(array_to_string(string_split(text, ' ')[1:8], ' ')) AS f
      FROM documents),
    grp AS (SELECT f FROM fp GROUP BY f HAVING COUNT(*) BETWEEN 2 AND 50),
    edges AS (
      SELECT a.doc_id AS src, b.doc_id AS dst
      FROM fp a JOIN grp USING (f) JOIN fp b USING (f)
      WHERE a.doc_id <> b.doc_id),
    deg AS (SELECT src, COUNT(*) AS d FROM edges GROUP BY src),
    n AS (SELECT CAST(COUNT(*) AS DOUBLE) AS cnt FROM documents),
    pr(iter, doc_id, r) AS (
      SELECT 0, doc_id, CAST(1.0 AS DOUBLE) / (SELECT cnt FROM n)
      FROM documents
      UNION ALL
      SELECT p.iter + 1, p.doc_id,
             CAST(0.15 AS DOUBLE) / (SELECT cnt FROM n)
             + CAST(0.85 AS DOUBLE) * CAST(COALESCE(s.m, 0) AS DOUBLE)
      FROM (SELECT * FROM pr WHERE iter < 5) p
      LEFT JOIN (
        SELECT e.dst, SUM(CAST(pr2.r / dg.d AS DECIMAL(20,12))) AS m
        FROM pr pr2
        JOIN edges e ON pr2.doc_id = e.src
        JOIN deg dg ON dg.src = e.src
        GROUP BY e.dst) s ON s.dst = p.doc_id)
    SELECT doc_id, round(r, 9) AS pagerank
    FROM pr WHERE iter = 5 ORDER BY doc_id
    """,
)
def fingerprint_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank (5 fixed power iterations, d=0.85) over the prefix-
    fingerprint co-membership graph — link-centrality as a document
    quality prior, the corpus-level signal web-scale curation uses
    alongside per-document filters. Hub fingerprints (>50 docs) are
    dropped before edge expansion so a boilerplate prefix can't blow
    the edge list up quadratically (same cap idea as MinHash's
    max_bucket).

    Scale: graph/pagerank.py — per-iteration cost is one src-shuffle
    join + one dst-shuffle decimal aggregate, lineage checkpointed
    every 2 rounds; edges/degrees computed once. Decimal contribution
    sums make values bit-stable across partitionings and equal to the
    recursive-CTE oracle."""
    from automated_etl_pipeline_spark.graph.pagerank import pagerank

    (docs,) = _t(spark, sf_dir, "documents")
    fp = docs.select(
        "doc_id",
        F.md5(F.concat_ws(" ", F.slice(F.split("text", " "), 1, 8))).alias(
            "f"
        ),
    )
    grp = (
        fp.groupBy("f")
        .agg(F.count(F.lit(1)).alias("nf"))
        .filter((F.col("nf") >= 2) & (F.col("nf") <= 50))
        .select("f")
    )
    fpk = fp.join(grp, "f")
    a, b = fpk.alias("a"), fpk.alias("b")
    edges = a.join(
        b,
        (F.col("a.f") == F.col("b.f"))
        & (F.col("a.doc_id") != F.col("b.doc_id")),
    ).select(F.col("a.doc_id").alias("src"), F.col("b.doc_id").alias("dst"))
    ranks = pagerank(docs.select("doc_id"), edges, iters=5)
    return ranks.select(
        "doc_id", F.round("pagerank", 9).alias("pagerank")
    ).orderBy("doc_id")


@query(
    "ann_int8_topk",
    """
    WITH q0 AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
    q1 AS (SELECT qe, CAST(list_max(list_transform(qe, x -> abs(x)))
                      AS DOUBLE) AS qmax FROM q0),
    q2 AS (SELECT qmax, list_transform(qe, x ->
             CAST(floor(CAST(x AS DOUBLE) * (CAST(127 AS DOUBLE) / qmax)
                        + 0.5) AS BIGINT)) AS qc FROM q1),
    e1 AS (SELECT vec_id, label, embedding,
             CAST(list_max(list_transform(embedding, x -> abs(x)))
               AS DOUBLE) AS emax
           FROM embeddings),
    e2 AS (SELECT vec_id, label, emax, list_transform(embedding, x ->
             CAST(floor(CAST(x AS DOUBLE) * (CAST(127 AS DOUBLE) / emax)
                        + 0.5) AS BIGINT)) AS ec FROM e1)
    SELECT e2.vec_id, e2.label,
           CAST(list_sum(list_transform(range(1, 65), i -> ec[i] * qc[i]))
             AS BIGINT) AS int_dot,
           round(emax * qmax / 16129.0
                 * list_sum(list_transform(range(1, 65), i -> ec[i] * qc[i])),
                 6) AS approx_dot
    FROM e2 CROSS JOIN q2
    ORDER BY approx_dot DESC, vec_id LIMIT 20
    """,
)
def ann_int8_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 neighbors of vec_id=0 scored on int8-quantized vectors:
    the integer code dot product, dequantized by emax*qmax/127^2 — the
    serving path quantization buys (4x smaller vectors, integer
    multiply-accumulate). The integer dot is EXACT cross-engine; only
    the final dequantized score is float, rounded to 6dp with a vec_id
    tiebreak. Recall vs the float baseline is asserted in
    tests/test_dedup_similarity.py.

    Scale: same shape as brute_force.topk_cosine — broadcast 1-row quantized
    query, narrow per-row scoring, TakeOrderedAndProject top-k; the
    max-abs scan is materialized per vector before the quantize lambda
    (HOFs get no CSE)."""
    from automated_etl_pipeline_spark.similarity.quantize import (
        abs_max,
        quantize_expr,
    )

    (emb,) = _t(spark, sf_dir, "embeddings")
    e1 = emb.select(
        "vec_id", "label", "embedding", abs_max(F.col("embedding")).alias("emax")
    )
    e2 = e1.select(
        "vec_id",
        "label",
        "emax",
        quantize_expr(
            F.col("embedding"), F.lit(127.0) / F.col("emax")
        ).alias("ec"),
    )
    q1 = emb.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("qe"),
        abs_max(F.col("embedding")).alias("qmax"),
    )
    q2 = q1.select(
        "qmax",
        quantize_expr(F.col("qe"), F.lit(127.0) / F.col("qmax")).alias("qc"),
    )
    both = e2.crossJoin(F.broadcast(q2))
    int_dot = F.aggregate(
        F.zip_with("ec", "qc", lambda a, b: a * b),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    scored = both.select(
        "vec_id",
        "label",
        int_dot.alias("int_dot"),
        F.round(
            F.col("emax") * F.col("qmax") / F.lit(16129.0) * int_dot, 6
        ).alias("approx_dot"),
    )
    return scored.orderBy(F.desc("approx_dot"), F.asc("vec_id")).limit(20)


@query(
    "incremental_ingest_dedup",
    """
    WITH tagged AS (
      SELECT *, ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
                  % 100 AS b
      FROM documents),
    corpus AS (SELECT * FROM tagged WHERE b < 80),
    batch AS (SELECT * FROM tagged WHERE b >= 80),
    ch AS (SELECT DISTINCT md5(text) AS h FROM corpus),
    cf AS (SELECT DISTINCT
             md5(array_to_string(string_split(text, ' ')[1:8], ' ')) AS f
           FROM corpus)
    SELECT batch.lang, COUNT(*) AS n_batch,
           CAST(SUM(CASE WHEN ch.h IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS exact_dups,
           CAST(SUM(CASE WHEN ch.h IS NULL AND cf.f IS NOT NULL
                         THEN 1 ELSE 0 END) AS BIGINT) AS near_dups,
           CAST(SUM(CASE WHEN ch.h IS NULL AND cf.f IS NULL
                         THEN 1 ELSE 0 END) AS BIGINT) AS kept
    FROM batch
    LEFT JOIN ch ON md5(batch.text) = ch.h
    LEFT JOIN cf ON md5(array_to_string(string_split(batch.text, ' ')[1:8],
                        ' ')) = cf.f
    GROUP BY batch.lang ORDER BY batch.lang
    """,
)
def incremental_ingest_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental ingestion dedup: a new crawl batch (hash-bucketed
    20% of documents) checked against the existing corpus (the other
    80%) — exact content-hash hits dropped first, then prefix-
    fingerprint near-dup hits, remainder kept. This is the shape of
    every continuous-crawl pipeline: the corpus index is an append-only
    hash set; the batch never rescans corpus text.

    Scale: the corpus side reduces to DISTINCT 128-bit hashes (tiny
    relative to text) before the joins; the batch side is the small,
    new data. Both joins are equi-joins on the hash — shuffle bounded
    by hash-set size, not corpus text size; at 100 TB the hash set is
    the only thing that persists between runs."""
    (docs,) = _t(spark, sf_dir, "documents")
    bucket = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10
    ).cast("long") % 100
    tagged = docs.select("doc_id", "lang", "text", bucket.alias("b"))
    corpus = tagged.filter(F.col("b") < 80)
    batch = tagged.filter(F.col("b") >= 80)
    fp = F.md5(F.concat_ws(" ", F.slice(F.split("text", " "), 1, 8)))
    ch = corpus.select(F.md5("text").alias("h")).distinct()
    cf = corpus.select(fp.alias("f")).distinct()
    flagged = (
        batch.select("lang", F.md5("text").alias("bh"), fp.alias("bf"))
        .join(ch, F.col("bh") == F.col("h"), "left")
        .join(cf, F.col("bf") == F.col("f"), "left")
    )
    return (
        flagged.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_batch"),
            F.sum(F.col("h").isNotNull().cast("long")).alias("exact_dups"),
            F.sum(
                (F.col("h").isNull() & F.col("f").isNotNull()).cast("long")
            ).alias("near_dups"),
            F.sum(
                (F.col("h").isNull() & F.col("f").isNull()).cast("long")
            ).alias("kept"),
        )
        .orderBy("lang")
    )


# ----------------------------------------------------------------------
# End-to-end curation pipeline — the full production cascade as one
# gated job: quality gate -> exact dedup -> fingerprint dedup (one
# fused scan, zero joins) -> survivors materialized -> MinHash-LSH
# near-dedup -> exact-span edit-list accounting -> corpus report.
# ----------------------------------------------------------------------


def curation_survivors(docs: DataFrame) -> DataFrame:
    """Quality gate + exact dedup + fingerprint dedup as ONE lazy plan:
    one corpus scan, zero joins (keep-rank-1 windows, each carrying the
    WindowGroupLimit pre-trim), quality predicates fused into the scan
    stage.  Each window's shuffle volume is the SURVIVORS of the
    previous stage, not the corpus.  Plan shape asserted by
    tests/test_plans.py::test_curation_survivors_single_scan_no_joins."""
    toks = F.split("text", " ")
    scored = docs.select(
        "doc_id",
        "lang",
        "source",
        "n_chars",
        "text",
        F.size(toks).alias("n_tokens"),
        F.size(F.array_distinct(toks)).alias("n_unique"),
        F.size(F.filter(toks, lambda t: t.isin("the", "a"))).alias("n_stop"),
    )
    quality = scored.filter(
        (F.col("n_tokens") >= 20)
        & (F.col("n_unique").cast("double") / F.col("n_tokens") >= 0.4)
        & (F.col("n_stop").cast("double") / F.col("n_tokens") <= 0.12)
    )
    w1 = Window.partitionBy(F.md5("text")).orderBy("doc_id")
    d1 = (
        quality.withColumn("__rn", F.row_number().over(w1))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )
    fp = F.md5(F.concat_ws(" ", F.slice(F.split("text", " "), 1, 8)))
    w2 = Window.partitionBy(fp).orderBy("doc_id")
    return (
        d1.withColumn("__rn", F.row_number().over(w2))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def _curation_oracle() -> str:
    from automated_etl_pipeline_spark.dedup.minhash import pairs_cte_sql

    return f"""
    WITH scored AS (
      SELECT doc_id, lang, source, n_chars, text,
             len(string_split(text, ' ')) AS n_tokens,
             len(list_distinct(string_split(text, ' '))) AS n_unique,
             len(list_filter(string_split(text, ' '),
                 t -> t IN ('the', 'a'))) AS n_stop
      FROM documents
    ), quality AS (
      SELECT * FROM scored
      WHERE n_tokens >= 20
        AND CAST(n_unique AS DOUBLE) / n_tokens >= 0.4
        AND CAST(n_stop AS DOUBLE) / n_tokens <= 0.12
    ), d1 AS (
      SELECT * FROM quality
      QUALIFY row_number() OVER (PARTITION BY md5(text)
                                 ORDER BY doc_id) = 1
    ), d2 AS (
      SELECT * FROM d1
      QUALIFY row_number() OVER (
        PARTITION BY md5(array_to_string(string_split(text, ' ')[1:8], ' '))
        ORDER BY doc_id) = 1
    ), {pairs_cte_sql(source="d2")},
    losers AS (SELECT DISTINCT doc_b AS doc_id FROM mh_pairs),
    d3 AS (
      SELECT * FROM d2 WHERE doc_id NOT IN (SELECT doc_id FROM losers)
    ), stok AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM d3
      WHERE len(string_split(text, ' ')) >= {_SPAN_W}
    ), swin AS (
      SELECT doc_id,
             UNNEST(range(1, len(t) - {_SPAN_W} + 2)) AS pos,
             UNNEST(list_transform(range(1, len(t) - {_SPAN_W} + 2),
               i -> ('0x' || substr(md5(
                      array_to_string(t[i:i+{_SPAN_W}-1], ' ')), 1, 15))::BIGINT
             )) AS h
      FROM stok
    ), sowner AS (
      SELECT h, MIN(doc_id) AS owner_doc FROM swin
      GROUP BY h HAVING COUNT(DISTINCT doc_id) >= 2
    ), sflag AS (
      SELECT doc_id, pos,
             CASE WHEN pos > lag(pos) OVER w + {_SPAN_W} OR
                       lag(pos) OVER w IS NULL
                  THEN 1 ELSE 0 END AS ni
      FROM (SELECT DISTINCT w.doc_id, w.pos
            FROM swin w JOIN sowner o USING (h)
            WHERE w.doc_id > o.owner_doc)
      WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
    ), sisl AS (
      SELECT doc_id, pos,
             SUM(ni) OVER (PARTITION BY doc_id ORDER BY pos
                           ROWS UNBOUNDED PRECEDING) AS island
      FROM sflag
    ), sspan AS (
      SELECT doc_id, island, MIN(pos) AS s, MAX(pos) + {_SPAN_W} - 1 AS e
      FROM sisl GROUP BY doc_id, island
    ), rem AS (
      SELECT doc_id, SUM(e - s + 1) AS tokens_removed
      FROM sspan GROUP BY doc_id
    )
    SELECT lang,
           COUNT(*) AS n_docs,
           COUNT(DISTINCT source) AS n_sources,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           CAST(SUM(n_unique) AS DOUBLE) / SUM(n_tokens)
             AS micro_distinct_ratio,
           CAST(SUM(COALESCE(tokens_removed, 0)) AS BIGINT)
             AS span_tokens_removed,
           CAST(SUM(n_tokens) - SUM(COALESCE(tokens_removed, 0)) AS BIGINT)
             AS clean_tokens
    FROM d3 LEFT JOIN rem USING (doc_id)
    GROUP BY lang ORDER BY lang
    """


@query("corpus_curation_e2e", _curation_oracle())
def corpus_curation_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FULL production curation pipeline in one gated job:
    quality filters (length / type-token ratio / stopword ratio,
    thresholds at the testdata's quartiles so ~half the corpus
    survives) -> exact-hash dedup -> first-8-token fingerprint dedup
    -> MinHash-LSH near-dedup (J >= 0.8, greedy keep-min — the same
    semantics as dedup/minhash.deduplicate) -> exact-span edit-list
    accounting (keep-first-owner W=20 spans, dedup/spans.py) ->
    per-language corpus report with the post-near-dedup token totals
    AND the span-scrub accounting (span_tokens_removed / clean_tokens
    = what a span-scrubbing writer would actually emit).

    Determinism: the report's distinct-ratio is the MICRO average
    (exact BIGINT sums, one double division) — a per-doc-double AVG
    would be partition-order sensitive; the window winners are unique
    (doc_id is a key) so rank ties cannot occur.  The oracle's NOT IN
    loser filter and the Spark left-anti are equivalent because doc_id
    is a non-null key (NOT IN returns UNKNOWN on NULLs; anti-join
    keeps null-key probe rows — divergent only on null keys).

    Scale (the stage layout a 100-TB run wants): the cheap stages
    (quality + exact + fingerprint) run as ONE scan with zero joins —
    see curation_survivors — and the survivors are MATERIALIZED
    (localCheckpoint here; persist/write at cluster scale) before the
    expensive near-dedup, so the LSH banding, the Jaccard
    verification joins, the span-window explode, and the final report
    all read the reduced corpus, never the raw one.  Near-dedup is
    banded LSH + verified pairs (no all-pairs); the span stage's
    owner aggregate collapses map-side and its islands window runs
    over removable positions only.  The loser set and the per-doc
    removal counts are tiny relative to the corpus, so both report
    joins broadcast under AQE."""
    (docs,) = _t(spark, sf_dir, "documents")
    from automated_etl_pipeline_spark.dedup.minhash import near_duplicate_pairs
    from automated_etl_pipeline_spark.dedup.spans import removal_token_counts

    d2 = curation_survivors(spread(docs)).localCheckpoint()
    losers = (
        near_duplicate_pairs(d2, threshold=0.8)
        .select(F.col("doc_b").alias("doc_id"))
        .distinct()
    )
    d3 = d2.join(losers, "doc_id", "left_anti")
    rem = removal_token_counts(d3, w=_SPAN_W).select("doc_id", "tokens_removed")
    return (
        d3.join(rem, "doc_id", "left")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("source").alias("n_sources"),
            F.sum("n_tokens").cast("long").alias("total_tokens"),
            F.sum("n_chars").cast("long").alias("total_chars"),
            (
                F.sum("n_unique").cast("double") / F.sum("n_tokens")
            ).alias("micro_distinct_ratio"),
            F.sum(F.coalesce("tokens_removed", F.lit(0)))
            .cast("long")
            .alias("span_tokens_removed"),
            (
                F.sum("n_tokens") - F.sum(F.coalesce("tokens_removed", F.lit(0)))
            )
            .cast("long")
            .alias("clean_tokens"),
        )
        .orderBy("lang")
    )


# The brute-force k-gram match-length derivation of the curation e2e
# oracle below, kept apart so tests/test_kgram_oracle.py can check it
# against a pure-Python reference.  Expects a prior CTE ``corpus(did, t)``; emits
# ``posn(did, t, dlen, pos, tokn)`` and ``ml(did, pos, match_len)``.
# The digits-cross-join numbers table (LCD rule — no range()+unnest)
# covers pos/k up to 999; gate corpora max out at dlen 100 (measured:
# max filtered-token count is 100 at sf0.1, 99 at sf0.01/sf0.001),
# and the Spark side is unbounded.
def _kgram_coverage_ctes() -> str:
    return """nums AS (
  SELECT d2.n * 100 + d1.n * 10 + d0.n AS n
  FROM (VALUES (0),(1),(2),(3),(4),(5),(6),(7),(8),(9)) d0(n)
  CROSS JOIN (VALUES (0),(1),(2),(3),(4),(5),(6),(7),(8),(9)) d1(n)
  CROSS JOIN (VALUES (0),(1),(2),(3),(4),(5),(6),(7),(8),(9)) d2(n)
), posn AS (
  SELECT did, t, len(t) AS dlen, n AS pos, t[n + 1] AS tokn
  FROM corpus CROSS JOIN nums WHERE n < len(t)
), grams AS (
  SELECT p.did, p.pos, k.n AS k,
         array_to_string(p.t[p.pos + 1 : p.pos + k.n], ' ') AS g
  FROM posn p CROSS JOIN nums k
  WHERE k.n >= 1 AND k.n <= p.dlen - p.pos
), dup AS (
  SELECT k, g FROM grams GROUP BY k, g HAVING COUNT(*) >= 2
), ml AS (
  SELECT gr.did, gr.pos, CAST(COUNT(*) AS BIGINT) AS match_len
  FROM grams gr JOIN dup ON gr.k = dup.k AND gr.g = dup.g
  GROUP BY gr.did, gr.pos
)"""


# Curation survivors -> suffix-array span removal, end to end: the d2
# CTEs replicate curation_survivors, then the brute-force k-gram
# coverage machinery (_kgram_coverage_ctes) recomputes every match
# length over the SURVIVOR subsample and rebuilds each cleaned
# document independently of the islands/removal pipeline.
def _curation_suffix_oracle() -> str:
    return f"""
WITH scored AS (
  SELECT doc_id, lang, source, n_chars, text,
         len(string_split(text, ' ')) AS n_tokens,
         len(list_distinct(string_split(text, ' '))) AS n_unique,
         len(list_filter(string_split(text, ' '),
             t -> t IN ('the', 'a'))) AS n_stop
  FROM documents
), quality AS (
  SELECT * FROM scored
  WHERE n_tokens >= 20
    AND CAST(n_unique AS DOUBLE) / n_tokens >= 0.4
    AND CAST(n_stop AS DOUBLE) / n_tokens <= 0.12
), d1 AS (
  SELECT * FROM quality
  QUALIFY row_number() OVER (PARTITION BY md5(text)
                             ORDER BY doc_id) = 1
), d2 AS (
  SELECT * FROM d1
  QUALIFY row_number() OVER (
    PARTITION BY md5(array_to_string(string_split(text, ' ')[1:8], ' '))
    ORDER BY doc_id) = 1
), sub0 AS (
  SELECT doc_id, lang, text FROM d2 WHERE doc_id % 10 = 0
), sub AS (
  SELECT doc_id, lang,
         list_filter(string_split(coalesce(text, ''), ' '),
                     w -> w != '') AS t
  FROM (
    SELECT doc_id, lang, text FROM sub0
    UNION ALL
    SELECT -(doc_id + 1) AS doc_id, lang, text
    FROM sub0 WHERE doc_id % 30 = 0
  )
), corpus AS (
  SELECT doc_id AS did, t FROM sub
), {_kgram_coverage_ctes()}, covered AS (
  SELECT p.did, p.pos, p.tokn,
         CASE WHEN EXISTS (
           SELECT 1 FROM ml q
           WHERE q.did = p.did AND q.match_len >= 5
             AND q.pos <= p.pos AND q.pos + q.match_len - 1 >= p.pos
         ) THEN 1 ELSE 0 END AS cut
  FROM posn p
), rebuilt AS (
  SELECT did,
         CAST(COUNT(*) AS BIGINT) AS n_tokens,
         CAST(SUM(cut) AS BIGINT) AS n_removed,
         coalesce(string_agg(CASE WHEN cut = 0 THEN tokn END,
                             ' ' ORDER BY pos), '') AS text_clean
  FROM covered GROUP BY did
)
SELECT s.lang,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(r.n_tokens) AS BIGINT) AS tokens_before,
       CAST(SUM(r.n_removed) AS BIGINT) AS tokens_removed,
       CAST(SUM(r.n_tokens - r.n_removed) AS BIGINT) AS clean_tokens,
       CAST(SUM(('0x' || substr(md5(r.text_clean), 1, 15))::BIGINT
                % 1000000000000) % 1000000000000 AS BIGINT)
         AS clean_checksum
FROM sub s JOIN rebuilt r ON s.doc_id = r.did
GROUP BY s.lang ORDER BY s.lang
"""


@query("curation_suffix_e2e", _curation_suffix_oracle())
def curation_suffix_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Suffix-array span removal COMPOSED into the curation cascade
    (VERDICT r11 ask #7): quality gate -> exact dedup -> fingerprint
    dedup (curation_survivors' fused single scan) -> deterministic
    1-in-10 survivor subsample -> Lee et al. variable-length span
    removal (dedup/suffix_array.remove_duplicate_spans, min_len=5) ->
    per-language report with an md5 checksum over every REBUILT
    document — proving the expensive operator consumes real pipeline
    output, not just its standalone gate corpus.  The oracle replays
    the cascade in SQL and re-derives every match length brute-force
    (k-gram coverage), then rebuilds the cleaned texts independently.

    The subsample bounds the suffix-array corpus to ~1/20 of the raw
    pool so the e2e gate stays within the standalone gate's cost
    envelope; corpus_curation_e2e keeps the fixed-width spans.py
    accounting as the full-pool path.

    Scale: survivors materialize before the doubling loop (the
    documented stage layout); everything after inherits the suffix
    array's O(log Lmax)-round shape; the report join broadcasts the
    tiny per-doc removal frame under AQE."""
    from automated_etl_pipeline_spark.dedup.suffix_array import (
        remove_duplicate_spans,
    )

    (docs,) = _t(spark, sf_dir, "documents")
    d2 = curation_survivors(spread(docs)).localCheckpoint(eager=True)
    sub0 = d2.filter(F.col("doc_id") % 10 == 0).select(
        "doc_id", "lang", "text"
    )
    # plant negative-mirror verbatim replicas of a 1-in-30 slice so the
    # REMOVAL path provably fires end-to-end (a deduped survivor pool
    # has few natural >= 5-token duplicated spans; a gate whose cut
    # stage never cuts is the empty-result weakness) — same bijective
    # -(id+1) scheme as the standalone suffix gates
    sub = sub0.unionByName(
        sub0.filter(F.col("doc_id") % 30 == 0).select(
            (-(F.col("doc_id") + F.lit(1))).alias("doc_id"), "lang", "text"
        )
    )
    cleaned = remove_duplicate_spans(sub, min_len=5)
    j = sub.select("doc_id", "lang").join(cleaned, "doc_id")
    ck = (
        F.conv(F.substring(F.md5("text_clean"), 1, 15), 16, 10).cast("long")
        % 1_000_000_000_000
    )
    return (
        j.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("tokens_before"),
            F.sum("n_removed").cast("long").alias("tokens_removed"),
            (F.sum("n_tokens") - F.sum("n_removed"))
            .cast("long")
            .alias("clean_tokens"),
            (
                F.sum(ck.cast("decimal(38,0)"))
                % F.lit(1_000_000_000_000).cast("decimal(38,0)")
            )
            .cast("long")
            .alias("clean_checksum"),
        )
        .orderBy("lang")
    )


# ----------------------------------------------------------------------
# Sign random projection (similarity/rproj.py)
# ----------------------------------------------------------------------


def _rproj_oracle() -> str:
    from automated_etl_pipeline_spark.similarity.rproj import (
        oracle_matrix_sql,
        sign_matrix,
    )

    mat = oracle_matrix_sql(sign_matrix(64, 16, seed=7))
    # scale 1/sqrt(16) = 0.25: exactly representable, no fp wobble
    return f"""
    WITH m AS (SELECT {mat} AS mat),
    p AS (
      SELECT label,
             list_transform(range(1, 17), j ->
               list_sum(list_transform(range(1, 65), i ->
                 CAST(embedding[i] AS DOUBLE) * mat[j][i])) * 0.25) AS proj
      FROM embeddings, m
    )
    SELECT label,
           COUNT(*) AS n_vecs,
           CAST(SUM(CAST(floor(list_sum(list_transform(proj, x -> x * x))
                               * 1000000) AS BIGINT)) AS BIGINT)
             AS sum_norm2_micro
    FROM p GROUP BY label ORDER BY label
    """


@query("emb_random_projection", _rproj_oracle())
def emb_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seeded sign random projection 64-d -> 16-d (similarity/rproj.py:
    JL-style dimension reduction for the ANN stack, bit-reproducible
    because the ±1 matrix is md5-derived from the seed, not sampled).
    The gate aggregates per-label projected-norm checksums: every one
    of the 16x64 mat-vec lanes feeds the value, so a single wrong sign,
    a dropped dimension, or a summation-order change breaks the hash
    against DuckDB running the IDENTICAL literal matrix.  Distortion
    properties are pinned separately (tests/test_rproj.py)."""
    from automated_etl_pipeline_spark.similarity.rproj import project_embeddings

    (emb,) = _t(spark, sf_dir, "embeddings")
    p = project_embeddings(spread(emb), out_dim=16, seed=7)
    norm2 = F.aggregate(
        F.col("proj"), F.lit(0.0), lambda acc, x: acc + x * x
    )
    # floor(norm2 * 1e6): norm2 is the same left-fold of identical
    # IEEE doubles in both engines, so the floored BIGINT micro value
    # is bit-identical — no double->DECIMAL grid rounding in the gate
    return (
        p.select(
            "label",
            F.floor(norm2 * 1_000_000).cast("bigint").alias("n2"),
        )
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.sum("n2").alias("sum_norm2_micro"),
        )
        .orderBy("label")
    )


# ----------------------------------------------------------------------
# Robust (median/MAD) outlier statistics (operators/robust.py)
# ----------------------------------------------------------------------

_MAD_CORE = """
x AS (SELECT source, CAST(n_chars AS BIGINT) AS v FROM documents
      WHERE n_chars IS NOT NULL),
r AS (
  SELECT source, v,
         ROW_NUMBER() OVER (PARTITION BY source ORDER BY v) AS rn,
         COUNT(*) OVER (PARTITION BY source) AS n
  FROM x
),
med AS (
  SELECT source,
         CAST(SUM(CASE WHEN rn = CAST(floor((n + 1) / 2.0) AS BIGINT)
                       THEN v ELSE 0 END)
              + SUM(CASE WHEN rn = CAST(floor(n / 2.0) AS BIGINT) + 1
                         THEN v ELSE 0 END) AS BIGINT) AS med2
  FROM r GROUP BY source
),
dev AS (
  SELECT x.source, x.v, m.med2, abs(2 * x.v - m.med2) AS adev2
  FROM x JOIN med m ON x.source = m.source
),
dr AS (
  SELECT source, adev2,
         ROW_NUMBER() OVER (PARTITION BY source ORDER BY adev2) AS rn,
         COUNT(*) OVER (PARTITION BY source) AS n
  FROM dev
),
mad AS (
  SELECT source,
         CAST(SUM(CASE WHEN rn = CAST(floor((n + 1) / 2.0) AS BIGINT)
                       THEN adev2 ELSE 0 END)
              + SUM(CASE WHEN rn = CAST(floor(n / 2.0) AS BIGINT) + 1
                         THEN adev2 ELSE 0 END) AS BIGINT) AS mad4
  FROM dr GROUP BY source
)
"""

_MAD_ORACLE = (
    "WITH " + _MAD_CORE + """
SELECT d.source,
       COUNT(*) AS n_rows,
       MAX(d.med2) AS med2,
       MAX(t.mad4) AS mad4,
       CAST(SUM(CASE WHEN t.mad4 > 0 AND 20000 * d.adev2 > 44478 * t.mad4
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
       CAST(SUM(CASE WHEN t.mad4 > 0 AND 20000 * d.adev2 > 29652 * t.mad4
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_mild
FROM dev d JOIN mad t ON d.source = t.source
GROUP BY d.source ORDER BY d.source
"""
)


@query("quality_mad_outliers", _MAD_ORACLE)
def quality_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source robust outlier statistics on doc length
    (operators/robust.py): median + MAD + robust-z cuts at 2.0/3.0,
    the 50%-breakdown filter a curation pipeline runs on quality
    scores before mean/stddev stats are trustworthy.  r10 rework
    (VERDICT r9 asks #2/#4): every emitted value is a BIGINT in
    doubled/quadrupled units — med2 = 2*median and mad4 = 4*MAD by
    exact rank-midpoint over the integer n_chars (no quantile_cont /
    percentile in the gate), and the z cuts are the integer
    comparisons 20000*adev2 > {44478,29652}*mad4 (1.4826 = 14826/1e4
    multiplied through), so no double division feeds any gate value.
    This uniform synthetic corpus has no 3-sigma-equivalent tail
    (n_outliers legitimately 0 here); catch-the-planted-tail behavior
    is pinned on a contaminated frame in tests/test_robust.py, where
    mean/stddev provably misses what MAD catches.  Scale: two exact
    per-group sort windows with bounded group frames broadcast back;
    the 100 TB swap is robust_group_stats(approx=True) -> single-pass
    mergeable GK partials (module docstring)."""
    from automated_etl_pipeline_spark.operators.robust import (
        robust_group_stats_int,
    )

    (docs,) = _t(spark, sf_dir, "documents")
    return (
        robust_group_stats_int(spread(docs), "n_chars", ["source"])
        .orderBy("source")
    )


# ----------------------------------------------------------------------
# Nucleus (top-p) vocabulary cutoff per language.  Tokenizer/vocab
# construction at corpus scale: rank the per-language token counts,
# keep the smallest prefix covering p of the token mass (p=0.9 here).
# The heavy work is ONE partial-aggregated shuffle (lang, token) ->
# count; everything after — the cumulative-mass window and the
# keep/cut decision — runs on the REDUCED vocabulary frame (bounded
# by vocab size, ~100k-1M rows per language regardless of corpus
# size), so the plan costs the same at 100 TB as at 100 GB once the
# count shuffle is paid.  Ties at the boundary are deterministic:
# (count DESC, token ASC) in both engines.
# ----------------------------------------------------------------------

_TOP_P_ORACLE = """
WITH tok AS (
  SELECT lang, unnest(string_split(text, ' ')) AS token FROM documents
),
cnt AS (SELECT lang, token, COUNT(*) AS c FROM tok GROUP BY 1, 2),
ranked AS (
  SELECT lang, token, c,
         SUM(c) OVER (PARTITION BY lang ORDER BY c DESC, token
                      ROWS UNBOUNDED PRECEDING) AS cum,
         SUM(c) OVER (PARTITION BY lang) AS total
  FROM cnt
)
SELECT lang,
       COUNT(*) FILTER (WHERE (cum - c) * 10 < 9 * total) AS n_kept,
       COUNT(*) AS vocab_size,
       MIN(c) FILTER (WHERE (cum - c) * 10 < 9 * total) AS cutoff_cnt,
       CAST(SUM(c) FILTER (WHERE (cum - c) * 10 < 9 * total) * 1000000
            // ANY_VALUE(total) AS BIGINT) AS kept_mass_ppm
FROM ranked GROUP BY lang ORDER BY lang
"""


@query("vocab_top_p_cutoff", _TOP_P_ORACLE)
def vocab_top_p_cutoff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language nucleus vocabulary cutoff: the smallest
    count-ranked token prefix covering 90% of the language's token
    mass, with kept-set size, the count at the cutoff, and the mass
    actually covered in exact integer ppm (first prefix to CROSS p,
    so kept_mass_ppm >= 900000 by construction — an in-query-
    checkable guarantee).  The 0.9 cut itself is the integer
    comparison (cum-c)*10 < 9*total, so neither the threshold nor
    the mass ever touches a float.  One (lang, token) count shuffle;
    the ranking window and the aggregate run on the reduced vocab
    frame only (see section comment)."""
    (docs,) = _t(spark, sf_dir, "documents")
    tok = spread(docs).select(
        "lang", F.explode(F.split("text", " ")).alias("token")
    )
    cnt = tok.groupBy("lang", "token").agg(F.count(F.lit(1)).alias("c"))
    w_cum = (
        Window.partitionBy("lang")
        .orderBy(F.desc("c"), "token")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    ranked = cnt.withColumn("cum", F.sum("c").over(w_cum)).withColumn(
        "total", F.sum("c").over(Window.partitionBy("lang"))
    )
    kept = (F.col("cum") - F.col("c")) * 10 < 9 * F.col("total")
    return (
        ranked.groupBy("lang")
        .agg(
            F.count(F.when(kept, 1)).alias("n_kept"),
            F.count(F.lit(1)).alias("vocab_size"),
            F.min(F.when(kept, F.col("c"))).alias("cutoff_cnt"),
            F.sum(F.when(kept, F.col("c"))).alias("__kc"),
            F.first("total").alias("__tot"),
        )
        .select(
            "lang",
            "n_kept",
            "vocab_size",
            "cutoff_cnt",
            F.expr("CAST(__kc * 1000000L DIV __tot AS BIGINT)")
            .alias("kept_mass_ppm"),
        )
        .orderBy("lang")
    )


# ----------------------------------------------------------------------
# Streaming Misra-Gries heavy hitters (streaming/stateful.py) — the
# 9th value-gated streaming execution path, and the streaming twin of
# functions/heavy_hitters.py: the same sketch bound, carried across trigger
# boundaries in applyInPandasWithState state instead of across
# partitions in mapInPandas partials.
# ----------------------------------------------------------------------


@query(
    "streaming_heavy_tokens",
    """
    WITH tok AS (
      SELECT unnest(string_split(text, ' ')) AS token FROM documents
    ),
    cnt AS (SELECT token, COUNT(*) AS n_exact FROM tok GROUP BY token),
    tot AS (SELECT SUM(n_exact) AS n FROM cnt)
    SELECT token, n_exact, TRUE AS captured
    FROM cnt, tot WHERE n_exact > 0.02 * n ORDER BY token
    """,
    executes_stream=True,
)
def streaming_heavy_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy-hitter tokens through a REAL stream: documents drain
    through a file stream (8 drop files, 2 per trigger -> >= 4
    triggers), tokens route to B=4 hash buckets, and per-bucket MG
    sketch state folds each trigger's counts under the k-entry cap
    (streaming/stateful.heavy_hitters_stateful).  The final sketch is
    the max-seq emission per bucket; the gate recounts every
    phi-heavy token exactly in batch and hashes the guarantee: with
    k=32 the capture bound n_bucket/(k+1) sits below phi * n_total
    even for the worst observed bucket imbalance, so every true heavy
    hitter MUST appear in its bucket's final sketch — a lost state
    row, a dropped trigger, or a wrong fold breaks `captured` (or the
    row set) against the batch/DuckDB oracle.  This corpus's 31-token
    vocabulary never trips the eviction path at k=32 (by design — the
    bound must HOLD here); eviction-under-slicing correctness is
    pinned separately against brute force in tests/test_streaming.py
    property tests over planted zipf streams."""
    from automated_etl_pipeline_spark.io.sources import load_testdata
    from automated_etl_pipeline_spark.schemas import DOCUMENTS
    from automated_etl_pipeline_spark.streaming.stateful import (
        heavy_hitters_stateful,
    )
    from automated_etl_pipeline_spark.streaming.windows import drain_stream

    docs = load_testdata(spark, sf_dir, ["documents"])["documents"]
    with scratch() as drop:
        docs.repartition(8).write.mode("overwrite").parquet(drop)
        stream_toks = (
            spark.readStream.schema(DOCUMENTS)
            .option("maxFilesPerTrigger", 2)
            .parquet(drop)
            .select(F.explode(F.split("text", " ")).alias("item"))
            .withColumn("bucket", F.pmod(F.xxhash64("item"), F.lit(4)))
        )
        # 4 partitions: state is keyed by the B=4 hash buckets —
        # partitions past the key count only add empty state-store
        # instances per trigger (4 triggers here); sized per the
        # _stream_parts contract
        emitted = drain_stream(
            heavy_hitters_stateful(stream_toks, k=32),
            output_mode="append",
            shuffle_partitions=4,
        )
    # final sketch = max-seq emission per bucket (bounded frame:
    # B * k * n_triggers rows total)
    last = emitted.groupBy("bucket").agg(F.max("seq").alias("seq"))
    candidates = emitted.join(last, ["bucket", "seq"]).select("item")
    toks = spread(docs).select(
        F.explode(F.split("text", " ")).alias("token")
    )
    cnt = toks.groupBy("token").agg(F.count(F.lit(1)).alias("n_exact"))
    total = cnt.agg(F.sum("n_exact").alias("n"))
    heavy = cnt.crossJoin(F.broadcast(total)).where(
        F.col("n_exact") > F.lit(0.02) * F.col("n")
    )
    return (
        heavy.join(
            F.broadcast(candidates.distinct()),
            heavy.token == F.col("item"),
            "left",
        )
        .select(
            "token", "n_exact", F.col("item").isNotNull().alias("captured")
        )
        .orderBy("token")
    )


# ----------------------------------------------------------------------
# Reciprocal-rank fusion of a lexical and a vector ranker — the
# standard hybrid-retrieval combiner (RRF: score = sum 1/(c + rank),
# c=60).  Scale shape: each ranker yields only its top-M candidate
# list via TakeOrderedAndProject (per-partition heaps, no global
# sort); ranks and the fusion run on the bounded M-row frames.
# Absent-from-one-list candidates contribute 0 from that ranker —
# the standard fusion-over-retrieved-lists semantics; an item outside
# a top-M list could add at most 1/(60+M), which bounds the error of
# truncation and is why M need not grow with the corpus.
# ----------------------------------------------------------------------

_RRF_ORACLE = """
WITH text_rank AS (
  SELECT doc_id AS id,
         ROW_NUMBER() OVER (
           ORDER BY len(list_filter(string_split(text, ' '),
                                    x -> x = 'data')) DESC, doc_id) AS r
  FROM documents
),
vec_rank AS (
  SELECT vec_id AS id,
         ROW_NUMBER() OVER (ORDER BY cos DESC, vec_id) AS r
  FROM (
    SELECT vec_id,
           ROUND(
             list_sum(list_transform(range(1, 65),
               i -> CAST(e.embedding[i] AS DOUBLE) * CAST(q.q_emb[i] AS DOUBLE)))
             / (sqrt(list_sum(list_transform(range(1, 65),
                  i -> CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE))))
              * sqrt(list_sum(list_transform(range(1, 65),
                  i -> CAST(q.q_emb[i] AS DOUBLE) * CAST(q.q_emb[i] AS DOUBLE))))),
             6) AS cos
    FROM embeddings e
    CROSS JOIN (SELECT embedding AS q_emb FROM embeddings WHERE vec_id = 0) q
  )
),
t AS (SELECT * FROM text_rank WHERE r <= 100),
v AS (SELECT * FROM vec_rank WHERE r <= 100)
SELECT COALESCE(t.id, v.id) AS id,
       t.r AS text_rank, v.r AS vec_rank,
       COALESCE(1.0 / (60 + t.r), 0) + COALESCE(1.0 / (60 + v.r), 0)
         AS rrf_score
FROM t FULL OUTER JOIN v ON t.id = v.id
ORDER BY rrf_score DESC, id LIMIT 20
"""


@query("rrf_hybrid_fusion", _RRF_ORACLE)
def rrf_hybrid_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval: a lexical ranker (exact-token tf of 'data')
    and a vector ranker (cosine to the vec_id=0 embedding, the
    brute_force.topk_cosine recipe) each emit a top-100 candidate list; RRF
    fuses them and the gate hashes the fused top-20 with both
    component ranks.  Each ranker's candidate cut is
    TakeOrderedAndProject; ranking and fusion then touch only the two
    bounded 100-row frames (single-partition windows over M rows — by
    construction, not by accident).  See section comment for the
    truncation-error bound that keeps M corpus-independent."""
    docs, emb = _t(spark, sf_dir, "documents", "embeddings")
    tf = F.size(F.filter(F.split("text", " "), lambda x: x == "data"))
    t_cand = (
        spread(docs)
        .select(F.col("doc_id").alias("id"), tf.alias("tf"))
        .orderBy(F.desc("tf"), "id")
        .limit(100)
    )
    t_rank = t_cand.withColumn(
        "r", F.row_number().over(Window.orderBy(F.desc("tf"), "id"))
    ).select("id", "r")
    v_cand = (
        _cosine_to_query(spread(emb), 0)
        .select(F.col("vec_id").alias("id"), "cosine_sim")
        .orderBy(F.desc("cosine_sim"), "id")
        .limit(100)
    )
    v_rank = v_cand.withColumn(
        "r", F.row_number().over(Window.orderBy(F.desc("cosine_sim"), "id"))
    ).select("id", "r")
    t, v = t_rank.alias("t"), v_rank.alias("v")
    fused = t.join(v, F.col("t.id") == F.col("v.id"), "full_outer").select(
        F.coalesce(F.col("t.id"), F.col("v.id")).alias("id"),
        F.col("t.r").alias("text_rank"),
        F.col("v.r").alias("vec_rank"),
        (
            F.coalesce(1.0 / (60 + F.col("t.r")), F.lit(0.0))
            + F.coalesce(1.0 / (60 + F.col("v.r")), F.lit(0.0))
        ).alias("rrf_score"),
    )
    return fused.orderBy(F.desc("rrf_score"), "id").limit(20)


# ----------------------------------------------------------------------
# Exact-quota stratified sampling (operators/apportion.py): Hamilton /
# largest-remainder apportionment of a fixed doc budget across
# sources, then a deterministic md5-ordered take of EXACTLY quota_g
# docs per source.  See the module docstring for the scale shape
# (apportionment on the reduced group frame; WindowGroupLimit
# pre-trim on the take).
# ----------------------------------------------------------------------

_QUOTA_ORACLE = """
WITH g AS (
  SELECT source, CAST(SUM(n_chars) AS DOUBLE) AS w, COUNT(*) AS n_group
  FROM documents GROUP BY source
),
tot AS (SELECT SUM(w) AS tw, SUM(n_group) AS n FROM g),
q AS (
  SELECT source, n_group,
         CAST(FLOOR(100.0 * w / tw) AS BIGINT) AS base,
         100.0 * w / tw - FLOOR(100.0 * w / tw) AS rem
  FROM g, tot
),
alloc AS (
  SELECT source, n_group,
         LEAST(base + CASE WHEN ROW_NUMBER() OVER (ORDER BY rem DESC, source)
                      <= 100 - (SELECT SUM(base) FROM q) THEN 1 ELSE 0 END,
               n_group) AS quota
  FROM q
),
ranked AS (
  SELECT d.source, d.doc_id,
         ROW_NUMBER() OVER (PARTITION BY d.source
                            ORDER BY md5(CAST(d.doc_id AS VARCHAR)), d.doc_id)
           AS rk
  FROM documents d
),
sampled AS (
  SELECT r.source, r.doc_id
  FROM ranked r JOIN alloc a ON r.source = a.source
  WHERE r.rk <= a.quota
)
SELECT a.source, a.quota,
       CAST(COUNT(s.doc_id) AS BIGINT) AS n_sampled,
       CAST(COALESCE(SUM(s.doc_id), 0) AS BIGINT) AS id_checksum
FROM alloc a LEFT JOIN sampled s ON a.source = s.source
GROUP BY a.source, a.quota ORDER BY a.source
"""


@query("quota_stratified_sample", _QUOTA_ORACLE)
def quota_stratified_sample_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly 100 docs allocated across sources proportional to
    their total n_chars: per source the gate hashes the quota, the
    sampled count (== quota by construction), and the doc_id checksum
    of the md5-ordered take — a wrong remainder rank, an
    off-by-one base, or a nondeterministic take order all break the
    hash.  sum(quota) == 100 exactly (largest-remainder invariant;
    also pinned with property tests in tests/test_apportion.py)."""
    from automated_etl_pipeline_spark.operators.apportion import (
        largest_remainder_quotas,
        quota_stratified_sample,
    )

    (docs,) = _t(spark, sf_dir, "documents")
    quotas = largest_remainder_quotas(
        spread(docs), ["source"], "n_chars", total=100
    )
    sampled = quota_stratified_sample(
        spread(docs), quotas, ["source"], "doc_id", pretrim_cap=100
    )
    per_src = sampled.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_sampled"),
        F.sum("doc_id").alias("id_checksum"),
    )
    return (
        quotas.join(per_src, "source", "left")
        .select(
            "source",
            "quota",
            F.coalesce("n_sampled", F.lit(0)).alias("n_sampled"),
            F.coalesce("id_checksum", F.lit(0)).alias("id_checksum"),
        )
        .orderBy("source")
    )


# ----------------------------------------------------------------------
# Char-diversity quality signal (Simpson index 1 - sum p_i^2 over the
# 27-char alphabet): the log-free concentration measure — boilerplate
# floods and repeated-char spam collapse it toward 0 while natural
# text sits near 1 - 1/|alphabet|.  Chosen over Shannon entropy
# DELIBERATELY: entropy needs log2, which neither engine computes
# correctly-rounded (libm vs JVM intrinsics CAN differ in final
# bits), while Simpson is pure rational arithmetic — add/multiply/
# divide of identical doubles is IEEE-exact in both engines, so the
# 6-dp values hash without a tolerance.  Plan: 27 translate/length
# expression pairs, all codegen'd in the scan projection — zero
# shuffle until the per-lang rollup; per-doc cost is constant.
# ----------------------------------------------------------------------

_SIMPSON_ORACLE = """
WITH s AS (
  SELECT lang, CAST(floor((1.0 - (((CAST(len(text) - len(replace(text, 'a', '')) AS DOUBLE) / len(text)) * (CAST(len(text) - len(replace(text, 'a', '')) AS DOUBLE) / len(text))) + ((CAST(len(text) - len(replace(text, 'b', '')) AS DOUBLE) / len(text)) * (CAST(len(text) - len(replace(text, 'b', '')) AS DOUBLE) / len(text))) + ((CAST(len(text) - len(replace(text, 'c', '')) AS DOUBLE) / len(text)) * (CAST(len(text) - len(replace(text, 'c', '')) AS DOUBLE) / len(text))) + ((CAST(len(text) - len(replace(text, 'd', '')) AS DOUBLE) / len(text)) * (CAST(len(text) - len(replace(text, 'd', '')) AS DOUBLE) / len(text))) + ((CAST(len(text) - len(replace(text, 'e', '')) AS DOUBLE) / len(text)) * (CAST(len(text) - len(replace(text, 'e', '')) AS DOUBLE) / len(text))) + ((CAST(len(text) - len(replace(text, 'f', '')) AS DOUBLE) / len(text)) * (CAST(len(text) - len(replace(text, 'f', '')) AS DOUBLE) / len(text))) + ((CAST(len(text) - len(replace(text, 'g', '')) AS DOUBLE) / len(text)) * (CAST(len(text) - len(replace(text, 'g', '')) AS DOUBLE) / len(text))) + ((CAST(len(text) - len(replace(text, 'h', '')) AS DOUBLE) / len(text)) * (CAST(len(text) - len(replace(text, 'h', '')) AS DOUBLE) / len(text))) + ((CAST(len(text) - len(replace(text, 'i', '')) AS DOUBLE) / len(text)) * (CAST(len(text) - len(replace(text, 'i', '')) AS DOUBLE) / len(text))) + ((CAST(len(text) - len(replace(text, 'j', '')) AS DOUBLE) / len(text)) * (CAST(len(text) - len(replace(text, 'j', '')) AS DOUBLE) / len(text))) + ((CAST(len(text) - len(replace(text, 'k', '')) AS DOUBLE) / len(text)) * (CAST(len(text) - len(replace(text, 'k', '')) AS DOUBLE) / len(text))) + ((CAST(len(text) - len(replace(text, 'l', '')) AS DOUBLE) / len(text)) * (CAST(len(text) - len(replace(text, 'l', '')) AS DOUBLE) / len(text))) + ((CAST(len(text) - len(replace(text, 'm', '')) AS DOUBLE) / len(text)) * (CAST(len(text) - len(replace(text, 'm', '')) AS DOUBLE) / len(text))) + ((CAST(len(text) - len(replace(text, 'n', '')) AS DOUBLE) / len(text)) * (CAST(len(text) - len(replace(text, 'n', '')) AS DOUBLE) / len(text))) + ((CAST(len(text) - len(replace(text, 'o', '')) AS DOUBLE) / len(text)) * (CAST(len(text) - len(replace(text, 'o', '')) AS DOUBLE) / len(text))) + ((CAST(len(text) - len(replace(text, 'p', '')) AS DOUBLE) / len(text)) * (CAST(len(text) - len(replace(text, 'p', '')) AS DOUBLE) / len(text))) + ((CAST(len(text) - len(replace(text, 'q', '')) AS DOUBLE) / len(text)) * (CAST(len(text) - len(replace(text, 'q', '')) AS DOUBLE) / len(text))) + ((CAST(len(text) - len(replace(text, 'r', '')) AS DOUBLE) / len(text)) * (CAST(len(text) - len(replace(text, 'r', '')) AS DOUBLE) / len(text))) + ((CAST(len(text) - len(replace(text, 's', '')) AS DOUBLE) / len(text)) * (CAST(len(text) - len(replace(text, 's', '')) AS DOUBLE) / len(text))) + ((CAST(len(text) - len(replace(text, 't', '')) AS DOUBLE) / len(text)) * (CAST(len(text) - len(replace(text, 't', '')) AS DOUBLE) / len(text))) + ((CAST(len(text) - len(replace(text, 'u', '')) AS DOUBLE) / len(text)) * (CAST(len(text) - len(replace(text, 'u', '')) AS DOUBLE) / len(text))) + ((CAST(len(text) - len(replace(text, 'v', '')) AS DOUBLE) / len(text)) * (CAST(len(text) - len(replace(text, 'v', '')) AS DOUBLE) / len(text))) + ((CAST(len(text) - len(replace(text, 'w', '')) AS DOUBLE) / len(text)) * (CAST(len(text) - len(replace(text, 'w', '')) AS DOUBLE) / len(text))) + ((CAST(len(text) - len(replace(text, 'x', '')) AS DOUBLE) / len(text)) * (CAST(len(text) - len(replace(text, 'x', '')) AS DOUBLE) / len(text))) + ((CAST(len(text) - len(replace(text, 'y', '')) AS DOUBLE) / len(text)) * (CAST(len(text) - len(replace(text, 'y', '')) AS DOUBLE) / len(text))) + ((CAST(len(text) - len(replace(text, 'z', '')) AS DOUBLE) / len(text)) * (CAST(len(text) - len(replace(text, 'z', '')) AS DOUBLE) / len(text))) + ((CAST(len(text) - len(replace(text, ' ', '')) AS DOUBLE) / len(text)) * (CAST(len(text) - len(replace(text, ' ', '')) AS DOUBLE) / len(text))))) * 1000000) AS BIGINT) AS simpson_micro FROM documents
)
SELECT lang, COUNT(*) AS n_docs,
       CAST(SUM(simpson_micro) AS BIGINT) AS sum_simpson_micro,
       MIN(simpson_micro) AS min_simpson_micro,
       MAX(simpson_micro) AS max_simpson_micro
FROM s GROUP BY lang ORDER BY lang
"""


@query("char_diversity_quality", _SIMPSON_ORACLE)
def char_diversity_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language Simpson char-diversity stats (doc count, exact
    BIGINT sum/min/max of per-doc floor(simpson*1e6) micro-units) —
    see section comment for why Simpson and not Shannon; the per-doc
    ratios are identical IEEE doubles in both engines, so the floored
    micro value is bit-identical with no decimal-grid rounding."""
    (docs,) = _t(spark, sf_dir, "documents")
    n = F.length("text").cast("double")
    sq_sum = F.lit(0.0)
    for ch in "abcdefghijklmnopqrstuvwxyz ":
        cnt = F.length("text") - F.length(F.translate("text", ch, ""))
        ratio = cnt.cast("double") / n
        sq_sum = sq_sum + ratio * ratio
    simpson_micro = F.floor(
        (F.lit(1.0) - sq_sum) * 1_000_000
    ).cast("bigint")
    s = spread(docs).select("lang", simpson_micro.alias("simpson_micro"))
    return (
        s.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("simpson_micro").alias("sum_simpson_micro"),
            F.min("simpson_micro").alias("min_simpson_micro"),
            F.max("simpson_micro").alias("max_simpson_micro"),
        )
        .orderBy("lang")
    )


# ----------------------------------------------------------------------
# Collocation mining by lift: which adjacent word pairs co-occur more
# than their unigram frequencies predict — the vocabulary-building
# signal behind multi-word tokens and phrase detection (word2vec's
# phrase pass, BPE seeding).  Lift = c_xy * N / (c_x * c_y) is the
# exponential of PMI; used RAW, not logged, DELIBERATELY: log is not
# correctly-rounded in either engine (the char_diversity_quality
# argument), while lift is pure integer-ratio arithmetic — IEEE-exact
# both sides, and rank order is identical to PMI's.  Plan: one bigram
# count shuffle + one unigram count shuffle (both partial-aggregated,
# output vocab-bounded); the support floor (c_xy >= 5, the standard
# sparse-PMI guard) cuts the bigram frame before the joins; the
# unigram side joins broadcast (vocab-sized).
# ----------------------------------------------------------------------

_COLLOCATION_ORACLE = """
WITH toks AS (
  SELECT string_split(text, ' ') AS t FROM documents
),
big AS (
  SELECT unnest(list_transform(range(1, len(t)),
                               i -> t[i] || ' ' || t[i+1])) AS bg
  FROM toks WHERE len(t) >= 2
),
bc AS (SELECT bg, COUNT(*) AS c_xy FROM big GROUP BY bg),
uni AS (SELECT unnest(t) AS w FROM toks),
uc AS (SELECT w, COUNT(*) AS c FROM uni GROUP BY w),
tot AS (SELECT SUM(c) AS n FROM uc),
scored AS (
  SELECT bg, c_xy,
         string_split(bg, ' ')[1] AS x, string_split(bg, ' ')[2] AS y
  FROM bc WHERE c_xy >= 5
)
SELECT s.bg AS bigram, s.c_xy AS n_pair,
       CAST(s.c_xy * t.n * 1000000 // (ux.c * uy.c) AS BIGINT) AS lift_ppm
FROM scored s JOIN uc ux ON s.x = ux.w JOIN uc uy ON s.y = uy.w, tot t
ORDER BY lift_ppm DESC, bigram LIMIT 25
"""


@query("collocation_lift_topk", _COLLOCATION_ORACLE)
def collocation_lift_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-25 adjacent-pair collocations by lift with a c_xy >= 5
    support floor — see section comment for the log-free determinism
    argument and the two-shuffle, vocab-bounded plan."""
    (docs,) = _t(spark, sf_dir, "documents")
    t = F.split("text", " ")
    toks = spread(docs).select(t.alias("t")).filter(F.size("t") >= 2)
    bigrams = toks.select(
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("t") - 1),
                lambda i: F.concat_ws(
                    " ", F.element_at("t", i), F.element_at("t", i + 1)
                ),
            )
        ).alias("bg")
    )
    bc = (
        bigrams.groupBy("bg")
        .agg(F.count(F.lit(1)).alias("c_xy"))
        .filter(F.col("c_xy") >= 5)
    )
    uc = (
        toks.select(F.explode("t").alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    tot = uc.agg(F.sum("c").alias("n"))
    parts = F.split("bg", " ")
    scored = bc.withColumn("x", parts.getItem(0)).withColumn(
        "y", parts.getItem(1)
    )
    ux = uc.select(F.col("w").alias("x"), F.col("c").alias("c_x"))
    uy = uc.select(F.col("w").alias("y"), F.col("c").alias("c_y"))
    # exact integer ppm lift (positive BIGINT floor division): no
    # double ratio, no decimal-grid rounding in the gate value
    lift_ppm = F.expr(
        "CAST(c_xy * n * 1000000L DIV (c_x * c_y) AS BIGINT)"
    )
    return (
        scored.join(F.broadcast(ux), "x")
        .join(F.broadcast(uy), "y")
        .crossJoin(F.broadcast(tot))
        .select(
            F.col("bg").alias("bigram"),
            F.col("c_xy").alias("n_pair"),
            lift_ppm.alias("lift_ppm"),
        )
        .orderBy(F.desc("lift_ppm"), "bigram")
        .limit(25)
    )


# ----------------------------------------------------------------------
# Train/test leakage audit: the ML-pipeline failure the split gate
# alone cannot see — a deterministic hash split is LEAK-FREE only at
# the exact-doc-id grain; near/exact duplicate CONTENT still lands on
# both sides and inflates eval.  The audit joins the split assignment
# (an md5-bucket 90/5/5 split) with content
# fingerprints (first-8-token md5, the fingerprint-dedup grain) and
# counts, per split, the docs whose fingerprint group spans more than
# one split.  Plan: one (fp, split) reduce + a fingerprint-grain
# rollup joined back at fp grain — fingerprint groups are the reduced
# frame; the 100 TB mitigation the audit motivates is split-by-
# FINGERPRINT-hash instead of doc-id-hash (one expression swap).
# ----------------------------------------------------------------------

_LEAKAGE_ORACLE = """
WITH tagged AS (
  SELECT doc_id,
         md5(array_to_string(string_split(text, ' ')[1:8], ' ')) AS fp,
         CASE WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
                   % 100 < 90 THEN 'train'
              WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
                   % 100 < 95 THEN 'val' ELSE 'test' END AS split
  FROM documents
),
groups AS (
  SELECT fp, COUNT(DISTINCT split) AS n_splits FROM tagged GROUP BY fp
)
SELECT t.split, COUNT(*) AS n_docs,
       CAST(SUM(CASE WHEN g.n_splits > 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_leaked_docs
FROM tagged t JOIN groups g ON t.fp = g.fp
GROUP BY t.split ORDER BY t.split
"""


@query("split_leakage_audit", _LEAKAGE_ORACLE)
def split_leakage_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per split: total docs and docs whose content fingerprint also
    appears in another split (leaked eval rows).  Non-zero on this
    corpus — the audit catches real cross-split duplicates that the
    doc-id-hash split necessarily admits (see section comment)."""
    (docs,) = _t(spark, sf_dir, "documents")
    t = F.split("text", " ")
    fp = F.md5(F.concat_ws(" ", F.slice(t, 1, 8)))
    bucket = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10
    ).cast("long") % 100
    split = (
        F.when(bucket < 90, "train").when(bucket < 95, "val").otherwise("test")
    )
    tagged = spread(docs).select(split.alias("split"), fp.alias("fp"))
    groups = tagged.groupBy("fp").agg(
        F.countDistinct("split").alias("n_splits")
    )
    return (
        tagged.join(groups, "fp")
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(
                F.when(F.col("n_splits") > 1, 1).otherwise(0)
            ).alias("n_leaked_docs"),
        )
        .orderBy("split")
    )


# ----------------------------------------------------------------------
# Diversity-constrained top-k: the best k documents overall subject to
# "at most m per source" — the selection rule that stops one hot
# source from filling a curated slice.  Two bounded stages: a
# per-source rank filter (rank <= m literal -> WindowGroupLimit,
# map-side pre-trim) feeding a global top-k (TakeOrderedAndProject,
# per-partition heaps) — no global sort, no unbounded window
# anywhere.  Quality = the text_quality_scores signal recipe reduced
# to its deterministic core (word-length + stopword-free ratio blend
# at 6 dp).
# ----------------------------------------------------------------------

_DIVERSE_TOPK_ORACLE = """
WITH scored AS (
  SELECT doc_id, source,
         ROUND(
           CAST(len(string_split(text, ' ')) AS DOUBLE)
             / (1 + len(text))
           + 0.001 * (len(text) % 97), 6) AS q
  FROM documents
),
capped AS (
  SELECT doc_id, source, q,
         ROW_NUMBER() OVER (PARTITION BY source
                            ORDER BY q DESC, doc_id) AS rk
  FROM scored
)
SELECT doc_id, source, q FROM capped
WHERE rk <= 3 ORDER BY q DESC, doc_id LIMIT 20
"""


@query("diverse_topk_selection", _DIVERSE_TOPK_ORACLE)
def diverse_topk_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-20 by the 6-dp quality blend with at most 3 docs per
    source — WindowGroupLimit pre-trim then TakeOrderedAndProject
    (see section comment)."""
    (docs,) = _t(spark, sf_dir, "documents")
    q = F.round(
        F.size(F.split("text", " ")).cast("double")
        / (1 + F.length("text"))
        + 0.001 * (F.length("text") % 97),
        6,
    )
    scored = spread(docs).select("doc_id", "source", q.alias("q"))
    w = Window.partitionBy("source").orderBy(F.desc("q"), "doc_id")
    capped = (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .drop("rk")
    )
    return capped.orderBy(F.desc("q"), "doc_id").limit(20)


# ----------------------------------------------------------------------
# Cross-source quantile-mapping calibration (quantile normalization,
# the batch-effect correction recipe): replace each doc's raw length
# with the GLOBAL value at its within-source rank, so every source's
# calibrated distribution matches the corpus distribution.  The
# global quantile cuts are built ALL-INTEGER — cumulative counts over
# the reduced distinct-value frame, cut_b = min value with
# cum * 20 >= b * n — no percentile interpolation anywhere, so there
# is literally no floating arithmetic to disagree across engines
# (values here are bounded-cardinality ints; continuous columns bin
# first).  Within-source ranks are NTILE(20) per-key windows.  The
# per-source delta (raw sum - calibrated sum) is the calibration
# effect the gate pins alongside the construction itself.
# ----------------------------------------------------------------------

_QMAP_ORACLE = """
WITH vc AS (
  SELECT n_chars AS v, COUNT(*) AS c FROM documents GROUP BY v
),
cd AS (
  SELECT v, SUM(c) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS cum,
         SUM(c) OVER () AS n
  FROM vc
),
cuts AS (
  SELECT b.b, MIN(cd.v) AS cut
  FROM (SELECT unnest(range(1, 21)) AS b) b
  JOIN cd ON cd.cum * 20 >= b.b * cd.n
  GROUP BY b.b
),
ranked AS (
  SELECT source, doc_id, n_chars,
         NTILE(20) OVER (PARTITION BY source ORDER BY n_chars, doc_id) AS b
  FROM documents
)
SELECT r.source, COUNT(*) AS n_docs,
       CAST(SUM(r.n_chars) AS BIGINT) AS raw_sum,
       CAST(SUM(c.cut) AS BIGINT) AS calibrated_sum,
       CAST(SUM(r.n_chars) - SUM(c.cut) AS BIGINT) AS delta
FROM ranked r JOIN cuts c ON r.b = c.b
GROUP BY r.source ORDER BY r.source
"""


@query("quantile_map_calibration", _QMAP_ORACLE)
def quantile_map_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile-normalize doc length across sources: per source the
    gate pins raw sums, calibrated sums (global-quantile-mapped), and
    the calibration delta — all-integer construction, see section
    comment."""
    (docs,) = _t(spark, sf_dir, "documents")
    vc = docs.groupBy(F.col("n_chars").alias("v")).agg(
        F.count(F.lit(1)).alias("c")
    )
    cd = vc.select(
        "v",
        F.sum("c")
        .over(
            Window.orderBy("v").rowsBetween(
                Window.unboundedPreceding, Window.currentRow
            )
        )
        .alias("cum"),
        F.sum("c").over(Window.partitionBy()).alias("n"),
    )
    buckets = spark.range(1, 21).select(F.col("id").alias("b"))
    cuts = (
        F.broadcast(buckets)
        .join(cd, cd["cum"] * 20 >= F.col("b") * cd["n"])
        .groupBy("b")
        .agg(F.min("v").alias("cut"))
    )
    ranked = spread(docs).select(
        "source",
        "n_chars",
        F.ntile(20)
        .over(Window.partitionBy("source").orderBy("n_chars", "doc_id"))
        .alias("b"),
    )
    return (
        ranked.join(F.broadcast(cuts), "b")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("raw_sum"),
            F.sum("cut").alias("calibrated_sum"),
            (F.sum("n_chars") - F.sum("cut")).alias("delta"),
        )
        .orderBy("source")
    )


# ----------------------------------------------------------------------
# Deterministic negative sampling (contrastive-training pairs): k
# pseudo-random negatives per anchor via md5-derived offsets,
# neg = (id + 1 + h % (n-1)) % n — the offset lands in [1, n-1], so
# a self-pair is IMPOSSIBLE by construction (the gate counts them
# anyway: the column must hash as all-zero), re-runs and late shards
# get identical pairs (no RNG state), and every negative is a valid
# id when ids are contiguous — pinned by the join-coverage count
# (matched == n_pairs).  Expression-only pair generation: no
# cartesian, no shuffle until the (bounded) per-k rollup; the join
# back to documents is a plain equi hash join at pair grain.
# ----------------------------------------------------------------------

_NEG_SAMPLE_ORACLE = """
WITH n AS (SELECT COUNT(*) AS n FROM documents),
pairs AS (
  SELECT d.doc_id AS anchor, k.k,
         (d.doc_id + 1
          + ('0x' || substr(md5(CAST(d.doc_id AS VARCHAR) || '#' || k.k),
                            1, 8))::BIGINT % (n.n - 1)) % n.n AS neg
  FROM documents d, (SELECT unnest(range(1, 4)) AS k) k, n
)
SELECT p.k AS k,
       COUNT(*) AS n_pairs,
       CAST(SUM(CASE WHEN p.anchor = p.neg THEN 1 ELSE 0 END) AS BIGINT)
         AS self_pairs,
       CAST(COUNT(d2.doc_id) AS BIGINT) AS matched,
       CAST(SUM(p.neg) AS BIGINT) AS neg_id_sum
FROM pairs p LEFT JOIN documents d2 ON p.neg = d2.doc_id
GROUP BY p.k ORDER BY p.k
"""


@query("negative_pair_sampling", _NEG_SAMPLE_ORACLE)
def negative_pair_sampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k=3 deterministic negatives per anchor doc — per-k pair counts,
    the (necessarily zero) self-pair count, join coverage against the
    real id space, and the negative-id checksum.  See section comment
    for the no-RNG / no-self-pair construction."""
    (docs,) = _t(spark, sf_dir, "documents")
    n = docs.count()  # bounded: one scalar for the modulus literal
    h = F.conv(
        F.substring(
            F.md5(
                F.concat(
                    F.col("anchor").cast("string"),
                    F.lit("#"),
                    F.col("k").cast("string"),
                )
            ),
            1,
            8,
        ),
        16,
        10,
    ).cast("long")
    ks = spark.range(1, 4).select(F.col("id").alias("k"))
    pairs = (
        spread(docs)
        .select(F.col("doc_id").alias("anchor"))
        .crossJoin(F.broadcast(ks))
        .select(
            "anchor",
            "k",
            (
                (F.col("anchor") + 1 + h % F.lit(n - 1)) % F.lit(n)
            ).alias("neg"),
        )
    )
    d2 = docs.select(F.col("doc_id").alias("neg"), F.lit(1).alias("hit"))
    return (
        pairs.join(d2, "neg", "left")
        .groupBy("k")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.sum(
                F.when(F.col("anchor") == F.col("neg"), 1).otherwise(0)
            ).alias("self_pairs"),
            F.sum(F.coalesce("hit", F.lit(0)))
            .cast("long")
            .alias("matched"),
            F.sum("neg").alias("neg_id_sum"),
        )
        .orderBy("k")
    )


# ----------------------------------------------------------------------
# r11 gates for the four r10 operators (COVERAGE.md r11 gating plan).
# Where the plan promised rows+schema contracts, the structural columns
# turned out oracle-expressible after all (counts asserted equal to
# corpus-derived expectations), so three of the four are full hash
# gates; only the suffix-array statistics (whose values ARE the
# algorithm's output) stay under the rows+schema+invariant contract.
# Score VALUES (DSIR weights, CCNet cross-entropies, BPE merge
# identities) never enter a hash gate — ln() is not identically
# rounded across engines (the r9 ADVICE class); they stay pinned by
# the pure-Python differential tests.
# ----------------------------------------------------------------------

_BPE_FIDELITY_ORACLE = """
SELECT CAST(doc_id % 8 AS BIGINT) AS bucket,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(len(list_filter(string_split(text, ' '), w -> w != '')))
            AS BIGINT) AS n_words,
       CAST(COUNT(*) AS BIGINT) AS n_roundtrip_ok,
       CAST(COUNT(*) AS BIGINT) AS n_token_bound_ok
FROM documents WHERE text IS NOT NULL
GROUP BY 1 ORDER BY 1
"""


@query("bpe_fidelity_roundtrip", _BPE_FIDELITY_ORACLE)
def bpe_fidelity_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE encode/decode fidelity as per-bucket BIGINTs: train merges
    on the corpus word-frequency table (functions/tokenize.py — the
    bounded-collect training path), Arrow-batched encode every
    document, decode by pure column algebra, and count per doc-id
    bucket: documents, whitespace words, exact round-trips, and
    token-count lower bounds (n_tokens >= n_words — merges never cross
    word boundaries).  BPE is lossless by construction on its training
    alphabet, so the ORACLE asserts n_roundtrip_ok == n_docs ==
    n_token_bound_ok from the corpus alone — a real cross-check of the
    encode/decode pair (any dropped token, wrong merge order, or
    marker collision breaks a bucket's count), with no merge identity
    or token value in the gate.

    Scale: training collects only the Heaps-law-bounded word-frequency
    table (cap-guarded); encoding is a stateless pandas UDF that
    pipelines with the scan; the gate aggregation is one 8-bucket
    shuffle."""
    from automated_etl_pipeline_spark.functions.tokenize import (
        detokenize_expr,
        learn_bpe_merges,
        tokenize_documents,
        word_freq,
    )

    (docs,) = _t(spark, sf_dir, "documents")
    docs = docs.filter(F.col("text").isNotNull())
    merges = learn_bpe_merges(word_freq(docs), n_merges=40)
    words = F.filter(F.split("text", " "), lambda w: w != "")
    enc = tokenize_documents(spread(docs), merges).select(
        (F.col("doc_id") % 8).cast("long").alias("bucket"),
        F.size(words).alias("__nw"),
        (detokenize_expr("tokens") == F.array_join(words, " ")).alias("__rt"),
        (F.size("tokens") >= F.size(words)).alias("__bound"),
    )
    return (
        enc.groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("__nw").cast("long").alias("n_words"),
            F.sum(F.when(F.col("__rt"), 1).otherwise(0))
            .cast("long")
            .alias("n_roundtrip_ok"),
            F.sum(F.when(F.col("__bound"), 1).otherwise(0))
            .cast("long")
            .alias("n_token_bound_ok"),
        )
        .orderBy("bucket")
    )


_DSIR_STRUCTURAL_ORACLE = """
WITH tok AS (
  SELECT doc_id,
         len(list_filter(string_split(coalesce(text, ''), ' '),
             w -> w != '')) AS n_tok
  FROM documents
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_pool,
       CAST(SUM(CASE WHEN n_tok >= 2 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_scored,
       CAST(SUM(CASE WHEN n_tok >= 2 THEN n_tok - 1 ELSE 0 END) AS BIGINT)
         AS total_ngrams,
       CAST(LEAST(50, COUNT(*)) AS BIGINT) AS n_selected,
       CAST(LEAST(50, COUNT(*)) AS BIGINT) AS n_selected_distinct,
       CAST(LEAST(50, COUNT(*)) AS BIGINT) AS n_selected_in_pool
FROM tok
"""


@query("dsir_select_structural", _DSIR_STRUCTURAL_ORACLE)
def dsir_select_structural(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance-resampling selection (functions/dsir.py, Xie et
    al. arXiv:2302.03169) gated on its STRUCTURAL outputs only: pool
    size, scored-document count, the exact bigram total carried by the
    weight aggregation, and the Gumbel-top-k selection's size /
    distinctness / pool-membership — each a BIGINT the oracle derives
    independently from the corpus (bigram count of a doc is
    max(len-1, 0); a k-selection from a >=k pool has exactly k
    distinct in-pool ids).  The log-likelihood weight VALUES are
    transcendental and stay out (pinned in tests/test_dsir.py against
    a pure-Python replica).

    Scale: both LMs are fixed-8192-row broadcast tables; scoring is
    one doc-keyed aggregation; selection is one
    TakeOrderedAndProject."""
    from automated_etl_pipeline_spark.functions.dsir import (
        dsir_select,
        importance_weights,
    )

    (docs,) = _t(spark, sf_dir, "documents")
    target = docs.filter(F.col("lang") == "en")
    # one two-LM scoring pass: the weights frame is 3 narrow columns
    # per doc — materialize it and feed both consumers.  (r15 opt
    # note: a semi-join-derived target-counts variant was measured and
    # rejected — no exchange reuse across branches, so the pool pass
    # ran twice; see the kn_perplexity_partition note.)
    w = importance_weights(docs, target).localCheckpoint(eager=True)
    sel = dsir_select(docs, target, k=50, seed=7, weights=w)
    pool_stats = w.agg(
        F.count(F.lit(1)).cast("long").alias("n_pool"),
        F.sum(F.when(F.col("n_ngrams") > 0, 1).otherwise(0))
        .cast("long")
        .alias("n_scored"),
        F.sum("n_ngrams").cast("long").alias("total_ngrams"),
    )
    ids = docs.select(F.col("doc_id").cast("long").alias("doc_id"))
    sel_stats = sel.join(ids, "doc_id", "left_semi").agg(
        F.count(F.lit(1)).cast("long").alias("n_selected_in_pool")
    )
    sel_counts = sel.agg(
        F.count(F.lit(1)).cast("long").alias("n_selected"),
        F.countDistinct("doc_id").cast("long").alias("n_selected_distinct"),
    )
    return (
        pool_stats.crossJoin(sel_counts)
        .crossJoin(sel_stats)
        .select(
            "n_pool",
            "n_scored",
            "total_ngrams",
            "n_selected",
            "n_selected_distinct",
            "n_selected_in_pool",
        )
    )


_LINE_DEDUP_ORACLE = """
WITH tok AS (
  SELECT doc_id, string_split(coalesce(text, ''), ' ') AS t FROM documents
), lines AS (
  SELECT doc_id,
         UNNEST(list_transform(range(1, greatest(len(t), 1) + 1, 10),
           s -> {'idx': CAST((s - 1) // 10 AS BIGINT),
                 'line': array_to_string(t[s : s + 9], ' ')})) AS c
  FROM tok
), l AS (
  SELECT doc_id, c.idx AS idx, c.line AS line, md5(c.line) AS h FROM lines
), first AS (
  SELECT h, MIN(doc_id * 1000000 + idx) AS keyval FROM l GROUP BY h
), kept AS (
  SELECT l.doc_id, l.idx, l.line
  FROM l JOIN first ON l.h = first.h
     AND l.doc_id * 1000000 + l.idx = first.keyval
), rebuilt AS (
  SELECT doc_id, COUNT(*) AS n_kept,
         string_agg(line, ' ' ORDER BY idx) AS text2
  FROM kept GROUP BY doc_id
), per_doc AS (
  SELECT t.doc_id,
         (SELECT COUNT(*) FROM l WHERE l.doc_id = t.doc_id) AS n_lines,
         coalesce(r.n_kept, 0) AS n_kept,
         coalesce(r.text2, '') AS text2
  FROM tok t LEFT JOIN rebuilt r ON t.doc_id = r.doc_id
)
SELECT CAST(doc_id % 8 AS BIGINT) AS bucket,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_lines) AS BIGINT) AS n_lines,
       CAST(SUM(n_kept) AS BIGINT) AS n_kept,
       CAST(SUM(n_lines - n_kept) AS BIGINT) AS n_removed,
       CAST(SUM(('0x' || substr(md5(text2), 1, 15))::BIGINT
                % 1000000000000) % 1000000000000 AS BIGINT)
         AS rebuilt_checksum
FROM per_doc GROUP BY 1 ORDER BY 1
"""


@query("line_dedup_rebuild", _LINE_DEDUP_ORACLE)
def line_dedup_rebuild(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style line-level corpus dedup (dedup/lines.py, Wenzek et
    al. arXiv:1911.00359 §3.1): every distinct 10-token line survives
    only at its first (doc_id, idx) occurrence; documents are rebuilt
    from their surviving lines.  The gate hashes per-bucket line /
    survivor / removal counts AND a checksum of every rebuilt
    document's md5: per-doc values mod 1e12, summed exactly in
    decimal(38,0)/HUGEINT, and re-reduced mod 1e12 — scale-proof at
    any bucket size (a bare int64 sum wraps past ~9.2M docs/bucket,
    r11 ADVICE).  A wrong keep decision, a dropped tail chunk, or an
    out-of-order rebuild moves the checksum.

    Scale: the keep rule is one skew-safe min aggregation (no per-hash
    window — a billion-fold boilerplate line is one combiner cell per
    task); rebuild arrays are doc-length bounded."""
    from automated_etl_pipeline_spark.dedup.lines import rebuild_documents

    (docs,) = _t(spark, sf_dir, "documents")
    rb = rebuild_documents(spread(docs), width=10)
    checksum = (
        F.conv(F.substring(F.md5("rebuilt"), 1, 15), 16, 10).cast("long")
        % 1_000_000_000_000
    )
    return (
        rb.select(
            (F.col("doc_id") % 8).cast("long").alias("bucket"),
            "n_lines",
            "n_kept",
            checksum.alias("__ck"),
        )
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_lines").cast("long").alias("n_lines"),
            F.sum("n_kept").cast("long").alias("n_kept"),
            (F.sum("n_lines") - F.sum("n_kept")).cast("long").alias("n_removed"),
            # sum per-doc checksums in decimal(38,0) and re-reduce mod
            # 1e12: a bare long sum wraps silently past ~9.2M docs per
            # bucket while the DuckDB HUGEINT sum doesn't — the gate
            # would diverge at scale for a non-bug reason (r11 ADVICE;
            # the cluster.py label_sum pattern)
            (
                F.sum(F.col("__ck").cast("decimal(38,0)"))
                % F.lit(1_000_000_000_000).cast("decimal(38,0)")
            )
            .cast("long")
            .alias("rebuilt_checksum"),
        )
        .orderBy("bucket")
    )


# The pinned model's decision, recomputed from scratch: same integer
# features, same 1e-6 coefficient literals, same multiplied-through
# logit threshold.  Coefficient values here MUST mirror
# ml/quality_filter.PINNED_COEF_E6 / PINNED_TAU_LOGIT_E6
# (tests/test_quality_filter.py pins the two against each other).
_QUALITY_FILTER_ORACLE = """
WITH f AS (
  SELECT doc_id, lang,
         list_filter(string_split(coalesce(text, ''), ' '),
                     w -> w != '') AS t,
         CAST(length(coalesce(text, '')) AS BIGINT) AS n_chars
  FROM documents
), z AS (
  SELECT CAST(doc_id % 4 AS BIGINT) AS bucket,
         CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS pos_label,
         CAST(len(t) AS BIGINT) AS n_tok,
         CAST(502370 * len(t)
              + 46773 * len(t) * len(t)
              - 8218 * n_chars * len(t)
              + 419748 * len(list_distinct(t))
              - 156685 * n_chars AS BIGINT) AS zs
  FROM f
)
SELECT bucket,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(pos_label) AS BIGINT) AS n_pos_label,
       CAST(SUM(CASE WHEN n_tok > 0 AND zs >= 0 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_kept,
       CAST(SUM(zs) % 1000000000000000 AS BIGINT) AS z_sum_e6
FROM z GROUP BY 1 ORDER BY 1
"""


@query("quality_classifier_filter", _QUALITY_FILTER_ORACLE)
def quality_classifier_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-based quality filtering (ml/quality_filter.py) in the
    production shape: the logit-link GLM is trained ONCE by distributed
    IRLS (fit_quality_classifier — float fit invariants live in
    tests/test_quality_filter.py, the m2/m5 contract), its coefficients
    frozen as 1e-6 integer literals (PINNED_COEF_E6), and the whole
    pool scored with pure column arithmetic.  The selection decision
    p >= 0.45 is the logit inequality multiplied through by n_tok, so
    every term is exact int64 — the DuckDB oracle recomputes features,
    scores, decisions, and the per-bucket z-sum independently from the
    same pinned literals (VERDICT r11 ask #3: gate the DECISION on a
    deterministic surrogate, keep the float fit in pytest).

    Scale: scoring is one map-side projection — no model object, no
    UDF, no shuffle before the 4-row bucket agg; exactly how a frozen
    quality classifier scores a 100 TB pool.  z_scaled stays int64 for
    docs up to ~10^6 tokens; z_sum_e6 is an exact decimal(38,0)/
    HUGEINT sum re-reduced mod 1e15, wrap-proof at any bucket size."""
    from automated_etl_pipeline_spark.ml.quality_filter import (
        pinned_logit_columns,
        raw_text_counts,
    )

    (docs,) = _t(spark, sf_dir, "documents")
    z, keep = pinned_logit_columns()
    # label passes through the SAME scan (extra_cols) — a doc_id
    # self-join to fetch lang back would shuffle two corpus-sized
    # frames and contradict the map-side claim below (r12 review)
    scored = raw_text_counts(docs, extra_cols=("lang",)).select(
        (F.col("doc_id") % 4).cast("long").alias("bucket"),
        (F.col("lang") == "en").cast("long").alias("__pos"),
        z.alias("__z"),
        keep.alias("__keep"),
    )
    return (
        scored.groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("__pos").cast("long").alias("n_pos_label"),
            F.sum(F.when(F.col("__keep"), 1).otherwise(0))
            .cast("long")
            .alias("n_kept"),
            # exact decimal sum re-reduced mod 1e15: per-doc z is
            # quadratic in n_tok, so a bare long sum wraps silently on
            # huge buckets while the oracle's HUGEINT doesn't (the r11
            # line_dedup_rebuild ADVICE class; r12 review).  Both
            # engines use dividend-sign truncated %, so negative sums
            # agree.
            (
                F.sum(F.col("__z").cast("decimal(38,0)"))
                % F.lit(1_000_000_000_000_000).cast("decimal(38,0)")
            )
            .cast("long")
            .alias("z_sum_e6"),
        )
        .orderBy("bucket")
    )


_KN_CONTINUATION_ORACLE = """
WITH tok AS (
  SELECT string_split(text, ' ') AS t FROM documents WHERE text IS NOT NULL
), bigrams AS (
  SELECT UNNEST(list_transform(range(1, len(t)),
           i -> {'l': t[i], 'r': t[i+1]})) AS b
  FROM tok WHERE len(t) >= 2
)
SELECT b.r AS word,
       CAST(COUNT(*) AS BIGINT) AS n_bigrams,
       CAST(COUNT(DISTINCT b.l) AS BIGINT) AS n_left_contexts
FROM bigrams
GROUP BY b.r
ORDER BY n_left_contexts DESC, word
LIMIT 20
"""


@query("kn_continuation_counts", _KN_CONTINUATION_ORACLE)
def kn_continuation_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kneser-Ney continuation counts — the statistic that
    distinguishes KN smoothing from raw frequency (Kneser & Ney 1995;
    Chen & Goodman 1999): a word's lower-order probability is
    proportional to how many DISTINCT left contexts it follows, not
    how often it occurs ('Francisco' is frequent but follows only
    'San').  Emits the top-20 words by continuation count with their
    raw bigram counts — the corpus-scale table an n-gram LM build
    materializes.

    Scale: one bigram explode (map-side), one (word, left) distinct
    aggregation then a word-keyed count — both partial-aggregated,
    shuffle O(distinct bigrams); top-20 is TakeOrderedAndProject."""
    (docs,) = _t(spark, sf_dir, "documents")
    toks = (
        spread(docs)
        .filter(F.col("text").isNotNull())
        .select(F.split("text", " ").alias("t"))
        .filter(F.size("t") >= 2)
    )
    bigrams = toks.select(
        F.explode(
            F.zip_with(
                F.slice("t", 1, F.size("t") - 1),
                F.slice("t", 2, F.size("t") - 1),
                lambda a, b: F.struct(a.alias("l"), b.alias("r")),
            )
        ).alias("b")
    ).select(F.col("b.l").alias("l"), F.col("b.r").alias("word"))
    return (
        bigrams.groupBy("word")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.countDistinct("l").alias("n_left_contexts"),
        )
        .orderBy(F.desc("n_left_contexts"), F.asc("word"))
        .limit(20)
    )


# Planted-structural oracle (the dsir_select_structural pattern): the
# Spark side wraps each document in a deterministic HTML page —
# comment with embedded tags, title, style and script blocks (the
# script contains a literal "</p>" to prove non-greedy block removal),
# entity samples including a double-encoded &amp;lt; — and runs the
# REAL regex extractor; the oracle never extracts anything, it derives
# the expected visible text analytically from the raw text column and
# checksums it.  Any tag leak, entity mis-decode, greedy block eat, or
# whitespace slip moves the md5 checksum.
_HTML_EXTRACT_ORACLE = """
WITH tok AS (
  SELECT doc_id,
         coalesce(array_to_string(
           list_filter(string_split(
             regexp_replace(coalesce(text, ''),
                            '[ \t\n\x0B\f\r]+', ' ', 'g'), ' '),
                       w -> w != ''), ' '), '') AS txt
  FROM documents
), exp AS (
  SELECT doc_id,
         'Doc ' || doc_id || ' Doc ' || doc_id
         || CASE WHEN txt = '' THEN '' ELSE ' ' || txt END
         || ' 5 < 6 && 7 > 4 "q''s" end footer & nav' AS extracted
  FROM tok
)
SELECT CAST(doc_id % 8 AS BIGINT) AS bucket,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CAST(length(extracted) AS BIGINT)) AS BIGINT)
         AS total_chars,
       CAST(SUM(('0x' || substr(md5(extracted), 1, 15))::BIGINT
                % 1000000000000) % 1000000000000 AS BIGINT)
         AS extract_checksum
FROM exp GROUP BY 1 ORDER BY 1
"""


@query("html_extract_text", _HTML_EXTRACT_ORACLE)
def html_extract_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HTML/boilerplate text extraction (functions/html.py) — the
    curation stage before every text gate in a web-crawl pipeline
    (VERDICT r11 ask #5).  The testdata has no HTML column, so the
    gate synthesizes a deterministic page around each document's text
    (comments, title, style/script blocks with an embedded "</p>",
    entity samples) and runs the real chained-regex extractor over it;
    the DuckDB oracle computes the EXPECTED visible text directly from
    the raw text — structurally independent of the extractor — and
    hash-gates per-bucket doc counts, total extracted characters, and
    an md5 checksum (decimal-summed mod 1e12, the line_dedup pattern).

    Scale: wrapper + extraction is one projection of JVM regex/replace
    expressions — no UDF, no shuffle before the 8-row bucket agg; on a
    real crawl the wrapper step disappears and extract_text rides the
    payload scan."""
    from automated_etl_pipeline_spark.functions.html import extract_text

    (docs,) = _t(spark, sf_dir, "documents")
    # same whitespace pre-normalization as the oracle's txt, so tabs/
    # newlines inside tokens cannot diverge the two sides (r12 review)
    txt = F.array_join(
        F.filter(
            F.split(
                F.regexp_replace(
                    F.coalesce(F.col("text"), F.lit("")),
                    # explicit ASCII class == Java \s; RE2 \s lacks
                    # \x0B (r12 review) — mirrors the oracle's pattern
                    r"[ \t\n\x0B\f\r]+",
                    " ",
                ),
                " ",
            ),
            lambda t: t != "",
        ),
        " ",
    )
    # HTML-escape the embedded text (& first) — the extractor decodes
    # it back, so the oracle's expected text stays the RAW text even
    # if future testdata carries <, >, & or entity literals
    esc = F.replace(
        F.replace(
            F.replace(txt, F.lit("&"), F.lit("&amp;")),
            F.lit("<"),
            F.lit("&lt;"),
        ),
        F.lit(">"),
        F.lit("&gt;"),
    )
    wrapper = F.concat(
        F.lit('<html><!-- boilerplate <nav> --><head><title>Doc '),
        F.col("doc_id").cast("string"),
        F.lit(
            '</title><style type="text/css">p{color:red}</style>'
            '<script>var x = 1 < 2 && "</p>";</script></head>'
            "<body><h1>Doc "
        ),
        F.col("doc_id").cast("string"),
        F.lit("</h1><p>"),
        esc,
        F.lit(
            "</p><p>5 &lt; 6 &amp;&amp; 7 &gt; 4 &quot;q&#39;s&quot;"
            "&nbsp;end</p><div>footer &amp; nav</div></body></html>"
        ),
    )
    extracted = spread(docs).select(
        (F.col("doc_id") % 8).cast("long").alias("bucket"),
        extract_text(wrapper).alias("__x"),
    )
    return (
        extracted.groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.length("__x")).cast("long").alias("total_chars"),
            (
                F.sum(
                    (
                        F.conv(F.substring(F.md5("__x"), 1, 15), 16, 10).cast(
                            "long"
                        )
                        % 1_000_000_000_000
                    ).cast("decimal(38,0)")
                )
                % F.lit(1_000_000_000_000).cast("decimal(38,0)")
            )
            .cast("long")
            .alias("extract_checksum"),
        )
        .orderBy("bucket")
    )


# Full KN pipeline recomputed in SQL: same tokenization, same LM
# statistics, and — critically — the SAME arithmetic expression tree
# for every probability (IEEE add/mul/div round identically, so the
# doubles agree bitwise and floor(ln(p)*1e4) is engine-stable, the
# log_sum_e4 recipe).  Mirrors functions/kneser_ney.py — edit both.
# The four-part anchor keeps the 'empty' row when no doc is empty
# (the r11 explode-drops-empty-groups lesson).
_KN_PARTITION_ORACLE = """
WITH tok AS (
  SELECT doc_id, lang,
         list_filter(string_split(coalesce(text, ''), ' '),
                     w -> w != '') AS t
  FROM documents
), dbg AS (
  SELECT doc_id, b.l AS l, b.r AS r, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM (
    SELECT doc_id,
           UNNEST(list_transform(range(1, len(t)),
             i -> {'l': t[i], 'r': t[i+1]})) AS b
    FROM tok WHERE len(t) >= 2
  ) GROUP BY 1, 2, 3
), tbg AS (
  SELECT d.l, d.r, CAST(SUM(d.cnt) AS BIGINT) AS c_lr
  FROM dbg d JOIN tok k ON d.doc_id = k.doc_id AND k.lang = 'en'
  GROUP BY 1, 2
), left_t AS (
  SELECT l, CAST(SUM(c_lr) AS BIGINT) AS c_l,
         CAST(COUNT(*) AS BIGINT) AS n1_fwd
  FROM tbg GROUP BY 1
), cont AS (
  SELECT r, CAST(COUNT(*) AS BIGINT) AS n1_back FROM tbg GROUP BY 1
), scal AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS tt,
         CAST(COUNT(DISTINCT r) AS BIGINT) AS vv
  FROM tbg
), scored AS (
  -- zero-guard mirrors kneser_ney.py: empty target LM (tt + vv = 0)
  -- NULLs every p explicitly on both engines (Spark ANSI would raise
  -- DIVIDE_BY_ZERO; some DuckDB builds too) -> all docs 'empty'
  SELECT d.doc_id, d.cnt,
         CASE WHEN coalesce(lt.c_l, 0) > 0
           THEN (greatest(coalesce(b.c_lr, 0) - 0.75, 0.0)
                 + 0.75 * coalesce(lt.n1_fwd, 0)
                   * (CASE WHEN (s.tt + s.vv) > 0
                      THEN (coalesce(ct.n1_back, 0) + 1.0) / (s.tt + s.vv)
                      ELSE NULL END))
                / lt.c_l
           ELSE CASE WHEN (s.tt + s.vv) > 0
                THEN (coalesce(ct.n1_back, 0) + 1.0) / (s.tt + s.vv)
                ELSE NULL END
         END AS p
  FROM dbg d
  LEFT JOIN tbg b ON d.l = b.l AND d.r = b.r
  LEFT JOIN left_t lt ON d.l = lt.l
  LEFT JOIN cont ct ON d.r = ct.r
  CROSS JOIN scal s
), per_doc AS (
  SELECT doc_id, CAST(SUM(cnt) AS BIGINT) AS n_bigrams,
         CAST(-SUM(cnt * CAST(floor(ln(p) * 10000.0) AS BIGINT))
              AS BIGINT) AS nll_e4
  FROM scored GROUP BY 1
), pool AS (
  -- NULL-scored docs (possible only when the target LM is empty:
  -- T+V = 0 NULLs every p on BOTH engines) rank nowhere — Spark's
  -- kn_partition routes them to 'empty', so the oracle must too
  -- (r12 review)
  SELECT CAST(COUNT(*) AS BIGINT) AS n FROM per_doc
  WHERE nll_e4 IS NOT NULL
), ranked AS (
  SELECT p.n_bigrams, p.nll_e4,
         ROW_NUMBER() OVER (ORDER BY p.nll_e4 / p.n_bigrams, p.doc_id)
           - 1 AS rk
  FROM per_doc p WHERE p.nll_e4 IS NOT NULL
), parted AS (
  SELECT r.n_bigrams, r.nll_e4,
         CASE WHEN r.rk < ceil(n.n * 0.25) THEN 'head'
              WHEN r.rk < ceil(n.n * 0.75) THEN 'middle'
              ELSE 'tail' END AS part
  FROM ranked r CROSS JOIN pool n
  UNION ALL
  SELECT p.n_bigrams, CAST(NULL AS BIGINT), 'empty'
  FROM per_doc p WHERE p.nll_e4 IS NULL
  UNION ALL
  SELECT CAST(0 AS BIGINT), CAST(NULL AS BIGINT), 'empty'
  FROM tok t LEFT JOIN per_doc p ON t.doc_id = p.doc_id
  WHERE p.doc_id IS NULL
), agg AS (
  SELECT part, CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(n_bigrams) AS BIGINT) AS n_bigrams,
         CAST(SUM(nll_e4) % 1000000000000000 AS BIGINT) AS nll_e4_sum
  FROM parted GROUP BY 1
)
SELECT a.part,
       CAST(coalesce(g.n_docs, 0) AS BIGINT) AS n_docs,
       CAST(coalesce(g.n_bigrams, 0) AS BIGINT) AS n_bigrams,
       CAST(coalesce(g.nll_e4_sum, 0) AS BIGINT) AS nll_e4_sum
FROM (VALUES ('empty'), ('head'), ('middle'), ('tail')) a(part)
LEFT JOIN agg g ON a.part = g.part
ORDER BY a.part
"""


@query("kn_perplexity_partition", _KN_PARTITION_ORACLE)
def kn_perplexity_partition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet head/middle/tail partitioning by INTERPOLATED KNESER-NEY
    bigram perplexity (functions/kneser_ney.py) — the LM stage CCNet
    actually runs (Wenzek et al. arXiv:1911.00359 §4.3), consuming the
    continuation-count statistic kn_continuation_counts materializes
    (VERDICT r11 ask #4).  The target LM trains on the lang='en' slice;
    the whole pool is scored and split head/middle/tail at exact
    ceil(N*0.25)/ceil(N*0.75) ranks of average NLL (ties on doc_id),
    'empty' for bigram-free docs.  Gate values are per-part BIGINTs:
    doc counts, bigram totals, and the summed 1e-4-nat integer NLLs —
    the oracle recomputes LM, scores, ranking, and cuts from scratch.
    Part SIZES are cross-checked against perplexity.ccnet_partition (same
    pool predicate, same cut arithmetic) in tests/test_perplexity.py.

    Scale: three partial-aggregated equi-shuffles for the LM stats,
    natural-key joins + one broadcast scalar frame for scoring, the
    two-phase exact global rank for the cut — no window over the pool,
    no UDF, no all-pairs."""
    from automated_etl_pipeline_spark.functions.kneser_ney import kn_partition

    (docs,) = _t(spark, sf_dir, "documents")
    target = docs.filter(F.col("lang") == "en")
    # NOTE (r15 opt, measured and REJECTED): deriving the target LM's
    # bigrams from the pool pass via semi-join (target ⊆ pool) looked
    # like a saved tokenize pass, but Spark does not reuse the pool
    # bigram Exchange across the two branches — the pool explode ran
    # TWICE (1,328k vs 705k Generate rows, executed-plan SQLMetrics),
    # while the en-slice second pass it replaced is only ~6% of the
    # pool's bigrams.  The two-pass shape below is the cheaper plan.
    parts = kn_partition(spread(docs), target)
    counts = parts.groupBy("part").agg(
        F.count(F.lit(1)).cast("long").alias("__n"),
        F.sum("n_bigrams").cast("long").alias("__nb"),
        # exact decimal sum mod 1e15 — wrap-proof at any part size
        # (the z_sum_e6 note; all-NULL 'empty' sums stay NULL and
        # coalesce to 0 at the anchor join)
        (
            F.sum(F.col("nll_e4").cast("decimal(38,0)"))
            % F.lit(1_000_000_000_000_000).cast("decimal(38,0)")
        )
        .cast("long")
        .alias("__s"),
    )
    all_parts = spark.createDataFrame(
        [("empty",), ("head",), ("middle",), ("tail",)], "part string"
    )
    return (
        all_parts.join(counts, "part", "left")
        .select(
            "part",
            F.coalesce("__n", F.lit(0)).cast("long").alias("n_docs"),
            F.coalesce("__nb", F.lit(0)).cast("long").alias("n_bigrams"),
            F.coalesce("__s", F.lit(0)).cast("long").alias("nll_e4_sum"),
        )
        .orderBy("part")
    )


_TOKEN_BUDGET = 1_000_000

_TOKEN_BUDGET_ORACLE = f"""
WITH avail AS (
  SELECT source,
         CAST(SUM(len(list_filter(string_split(coalesce(text, ''), ' '),
             w -> w != ''))) AS BIGINT) AS available_tokens
  FROM documents GROUP BY source
), tot AS (SELECT CAST(SUM(available_tokens) AS BIGINT) AS t FROM avail)
SELECT source,
       available_tokens,
       CAST(CASE WHEN t > 0 THEN available_tokens * 1000000 // t
            ELSE 0 END AS BIGINT) AS weight_ppm,
       CAST(CASE WHEN t > 0
            THEN ({_TOKEN_BUDGET} * (available_tokens * 1000000 // t)) // 1000000
            ELSE 0 END AS BIGINT) AS alloc_tokens,
       CAST(CASE WHEN t > 0 AND available_tokens > 0
            THEN (({_TOKEN_BUDGET} * (available_tokens * 1000000 // t))
                  // 1000000) * 1000 // available_tokens
            ELSE 0 END AS BIGINT) AS epochs_x1000
FROM avail CROSS JOIN tot
ORDER BY source
"""


@query("token_budget_plan", _TOKEN_BUDGET_ORACLE)
def token_budget_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget epoch planning for mixture training: given a
    1M-token budget and proportional source weights, compute each
    source's available tokens, ppm weight, token allocation, and
    implied epoch count x1000 (how many times the source repeats —
    the bookkeeping a data-mixing run derives before sampling; cf.
    source_mixture_weights for the temperature-scaled weighting and
    quota_stratified_sample for the enforcement).  All integer floor
    arithmetic on positive values, so Spark DIV == DuckDB // exactly.

    Scale: one partial-aggregated groupBy(source) over token counts;
    the totals join is a broadcast of one row."""
    (docs,) = _t(spark, sf_dir, "documents")
    toks = F.size(
        F.filter(
            F.split(F.coalesce(F.col("text"), F.lit("")), " "),
            lambda w: w != "",
        )
    )
    avail = docs.groupBy("source").agg(
        F.sum(toks).cast("long").alias("available_tokens")
    )
    tot = avail.agg(F.sum("available_tokens").cast("long").alias("__t"))
    # zero guards (r11 review): a zero-token source (all-NULL/empty
    # text) or an empty corpus must plan 0, not NULL (Spark DIV) vs
    # error (DuckDB //) — both sides use the same CASE guards
    weight_ppm = F.expr(
        "CASE WHEN __t > 0 THEN available_tokens * 1000000 DIV __t"
        " ELSE 0 END"
    )
    alloc = F.expr(
        f"CASE WHEN __t > 0 THEN ({_TOKEN_BUDGET} *"
        " (available_tokens * 1000000 DIV __t)) DIV 1000000 ELSE 0 END"
    )
    epochs = F.expr(
        f"CASE WHEN __t > 0 AND available_tokens > 0 THEN"
        f" (({_TOKEN_BUDGET} * (available_tokens * 1000000 DIV __t))"
        " DIV 1000000) * 1000 DIV available_tokens ELSE 0 END"
    )
    return (
        avail.crossJoin(F.broadcast(tot))
        .select(
            "source",
            "available_tokens",
            weight_ppm.cast("long").alias("weight_ppm"),
            alloc.cast("long").alias("alloc_tokens"),
            epochs.cast("long").alias("epochs_x1000"),
        )
        .orderBy("source")
    )


@query("cc_stars_clusters", _clusters_oracle())
def cc_stars_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash near-duplicate clusters computed by the ALTERNATING-STAR
    connected-components algorithm (dedup/cluster.py
    connected_components_stars, Kiveris et al. SoCC'14) instead of
    min-label propagation — O(log n) rounds for any component shape vs
    O(diameter), the right engine for deep graphs (citation/link
    chains) at 100 TB.  The recursive-CTE oracle is the labeling both
    implementations must reach: the identical min-reachable-id
    labeling."""
    from automated_etl_pipeline_spark.dedup.cluster import (
        connected_components_stars,
    )
    from automated_etl_pipeline_spark.dedup.minhash import near_duplicate_pairs

    (docs,) = _t(spark, sf_dir, "documents")
    edges = near_duplicate_pairs(spread(docs), threshold=0.8).select(
        "doc_a", "doc_b"
    )
    return connected_components_stars(
        docs.select("doc_id"),
        edges,
        id_col="doc_id",
        src_col="doc_a",
        dst_col="doc_b",
    ).orderBy("doc_id")


_SCHEMA_EVOLUTION_ORACLE = """
SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CASE WHEN o_orderkey % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_evolved_null,
       CAST(SUM(CASE WHEN o_orderkey % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_evolved_set,
       CAST(SUM(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT)
         AS sum_cents,
       CAST(COUNT(DISTINCT CASE WHEN o_orderkey % 2 = 1
                   THEN o_orderpriority END) AS BIGINT) AS n_priorities
FROM orders
"""


@query("schema_evolution_scan", _SCHEMA_EVOLUTION_ORACLE)
def schema_evolution_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-evolution parquet scan: two batches of orders are written
    with DIFFERENT schemas (the second adds o_orderpriority — the
    classic additive column evolution of an append-only lake), then
    read back in one mergeSchema scan.  The gate proves the merged
    scan null-fills the evolved column for pre-evolution files and
    loses no rows/values: the oracle derives every count from the
    source table alone, so a dropped batch, a mis-merged footer, or a
    wrongly-filled column moves a number.

    Scale: schema merge is a footer-metadata operation (mergeSchema
    reads footers, not data); the scan itself stays columnar with
    pushdown intact.  The temp batches are removed before returning
    (r11 review: a lazily-scanned temp dir leaks two orders copies per
    bench leg), so the 1-row aggregate is materialized first."""
    from automated_etl_pipeline_spark.plans.materialize import materialize

    (orders,) = _t(spark, sf_dir, "orders")
    with scratch() as base:
        orders.filter(F.col("o_orderkey") % 2 == 0).select(
            "o_orderkey", "o_custkey", "o_totalprice"
        ).write.mode("overwrite").parquet(f"{base}/b=1")
        orders.filter(F.col("o_orderkey") % 2 == 1).select(
            "o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority"
        ).write.mode("overwrite").parquet(f"{base}/b=2")
        merged = spark.read.option("mergeSchema", "true").parquet(
            f"{base}/b=1", f"{base}/b=2"
        )
        out = merged.agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.when(F.col("o_orderpriority").isNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_evolved_null"),
            F.sum(
                F.when(F.col("o_orderpriority").isNotNull(), 1).otherwise(0)
            )
            .cast("long")
            .alias("n_evolved_set"),
            F.sum(F.floor(F.col("o_totalprice") * 100).cast("long"))
            .cast("long")
            .alias("sum_cents"),
            F.countDistinct("o_orderpriority")
            .cast("long")
            .alias("n_priorities"),
        )
        return materialize(out)


_MIXTURE_MATERIALIZE_ORACLE = f"""
WITH tok AS (
  SELECT doc_id, source,
         len(list_filter(string_split(coalesce(text, ''), ' '),
             w -> w != '')) AS n_tok
  FROM documents
), avail AS (
  SELECT source, CAST(SUM(n_tok) AS BIGINT) AS avail FROM tok GROUP BY source
), tot AS (SELECT CAST(SUM(avail) AS BIGINT) AS t FROM avail),
plan AS (
  SELECT source,
         CASE WHEN t > 0 AND avail > 0
         THEN (({_TOKEN_BUDGET} * (avail * 1000000 // t)) // 1000000) * 1000
              // avail
         ELSE 0 END AS e3
  FROM avail CROSS JOIN tot
), rep AS (
  SELECT d.doc_id, d.source, d.n_tok,
         p.e3 // 1000
         + CASE WHEN ('0x' || substr(md5(d.doc_id::VARCHAR), 1, 8))::BIGINT
                     % 1000 < p.e3 % 1000
                THEN 1 ELSE 0 END AS reps
  FROM tok d JOIN plan p USING (source)
)
SELECT source,
       CAST(SUM(reps) AS BIGINT) AS n_docs_out,
       CAST(SUM(reps * n_tok) AS BIGINT) AS n_tokens_out
FROM rep GROUP BY source ORDER BY source
"""


@query("mixture_epoch_materialize", _MIXTURE_MATERIALIZE_ORACLE)
def mixture_epoch_materialize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialize the token_budget_plan: every document is repeated
    floor(epochs) times plus one fractional epoch for a deterministic
    md5-selected share of docs (bucket < frac_x1000 — the A-ES-style
    derived randomness, reproducible across runs and engines).  The
    gate counts materialized doc-instances and tokens per source; the
    oracle replays the whole plan-and-repeat pipeline in SQL.

    Scale: the plan is a broadcast of one row per source; the repeat
    is a map-side sequence-explode (max a few epochs per doc); no
    shuffle until the final per-source aggregation."""
    (docs,) = _t(spark, sf_dir, "documents")
    n_tok = F.size(
        F.filter(
            F.split(F.coalesce(F.col("text"), F.lit("")), " "),
            lambda w: w != "",
        )
    )
    tok = docs.select("doc_id", "source", n_tok.alias("n_tok"))
    avail = tok.groupBy("source").agg(F.sum("n_tok").cast("long").alias("avail"))
    tot = avail.agg(F.sum("avail").cast("long").alias("__t"))
    plan = avail.crossJoin(F.broadcast(tot)).select(
        "source",
        F.expr(
            f"CASE WHEN __t > 0 AND avail > 0 THEN"
            f" (({_TOKEN_BUDGET} * (avail * 1000000 DIV __t)) DIV 1000000)"
            " * 1000 DIV avail ELSE 0 END"
        ).alias("e3"),
    )
    bucket = (
        F.conv(
            F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10
        ).cast("long")
        % 1000
    )
    reps = F.expr("e3 DIV 1000") + F.when(
        bucket < F.col("e3") % 1000, 1
    ).otherwise(0)
    mat = (
        tok.join(F.broadcast(plan), "source")
        .withColumn("__reps", reps)
        .select(
            "source",
            "n_tok",
            F.explode(
                F.when(
                    F.col("__reps") >= 1,
                    F.sequence(F.lit(1), F.col("__reps")),
                ).otherwise(F.array().cast("array<long>"))
            ).alias("__epoch"),
        )
    )
    counts = mat.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("__nd"),
        F.sum("n_tok").cast("long").alias("__nt"),
    )
    # a source whose every doc got reps=0 (e3 under 1000 at large
    # corpus scale) vanishes from the explode output, but the oracle's
    # SUM(reps) GROUP BY source keeps it with zeros (r11 review) —
    # re-anchor on the full source list with zero fills
    return (
        avail.select("source")
        .join(counts, "source", "left")
        .select(
            "source",
            F.coalesce("__nd", F.lit(0)).cast("long").alias("n_docs_out"),
            F.coalesce("__nt", F.lit(0)).cast("long").alias("n_tokens_out"),
        )
        .orderBy("source")
    )


# ----------------------------------------------------------------------
# r12 additions: triangle counting (graph/triangles.py) and the
# integer Gram-matrix reduction (similarity/gram.py).
# ----------------------------------------------------------------------

_TRIANGLE_ORACLE = """
WITH li AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
  WHERE l_orderkey IS NOT NULL AND l_partkey IS NOT NULL
), edges AS (
  SELECT a.l_partkey AS u, b.l_partkey AS v
  FROM li a JOIN li b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2 HAVING COUNT(*) >= 2
), deg AS (
  SELECT node, COUNT(*) AS d FROM (
    SELECT u AS node FROM edges UNION ALL SELECT v FROM edges
  ) GROUP BY 1
), oriented AS (
  SELECT CASE WHEN du.d < dv.d OR (du.d = dv.d AND e.u < e.v)
              THEN e.u ELSE e.v END AS s,
         CASE WHEN du.d < dv.d OR (du.d = dv.d AND e.u < e.v)
              THEN e.v ELSE e.u END AS t
  FROM edges e JOIN deg du ON e.u = du.node JOIN deg dv ON e.v = dv.node
), wedges AS (
  SELECT a.t AS wv, b.t AS ww
  FROM oriented a JOIN oriented b ON a.s = b.s AND a.t < b.t
), tri AS (
  SELECT COUNT(*) AS n FROM wedges w
  JOIN edges e ON w.wv = e.u AND w.ww = e.v
)
SELECT CAST((SELECT COUNT(*) FROM deg) AS BIGINT) AS n_nodes,
       CAST((SELECT COUNT(*) FROM edges) AS BIGINT) AS n_edges,
       CAST((SELECT SUM(d * (d - 1)) // 2 FROM deg) AS BIGINT)
         AS n_wedges_total,
       CAST((SELECT COUNT(*) FROM wedges) AS BIGINT) AS n_wedges_oriented,
       CAST((SELECT n FROM tri) AS BIGINT) AS n_triangles,
       CASE WHEN (SELECT SUM(d * (d - 1)) FROM deg) = 0 THEN 0.0
            ELSE ROUND(3.0 * (SELECT n FROM tri)
                       / ((SELECT SUM(d * (d - 1)) FROM deg) // 2), 6)
       END AS clustering_coeff
"""


@query("triangle_count_copurchase", _TRIANGLE_ORACLE)
def triangle_count_copurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact triangle count + global clustering coefficient of the
    part co-purchase graph (parts co-occurring in >= 2 orders), via
    degree-ordered wedge joins (graph/triangles.py) — each node's
    out-degree is bounded by O(sqrt|E|) after orientation, so the
    wedge join stays O(|E|^1.5) under ANY degree skew, and every
    triangle is counted exactly once from its minimum-degree corner.

    Scale: edge building is within-order pair expansion — ONE
    groupBy(order).collect_set(part) shuffle plus a per-basket
    higher-order-function pair explode (the minhash candidate_pairs
    shape), replacing the distinct + within-order self-join that
    shuffled the (order, part) table twice more for the same bounded
    fan-out (r15 opt, guide §2.4: 3 Exchanges + SortMergeJoin -> 1
    Exchange; pairs per basket stay bounded by basket size either
    way).  collect_set IS the old distinct, sort_array makes u < v.
    The reduced edge list is materialize()d once so the degree pass,
    orientation joins, wedge self-join, and closing join all reuse it
    instead of re-running the O(rows) pair generation four times."""
    from automated_etl_pipeline_spark.graph.triangles import triangle_stats
    from automated_etl_pipeline_spark.plans.materialize import materialize

    (li,) = _t(spark, sf_dir, "lineitem")
    baskets = (
        li.filter(F.col("l_orderkey").isNotNull() & F.col("l_partkey").isNotNull())
        .groupBy("l_orderkey")
        .agg(F.sort_array(F.collect_set("l_partkey")).alias("ps"))
        .filter(F.size("ps") >= 2)
    )
    pair_arr = F.flatten(
        F.transform(
            F.col("ps"),
            lambda x, i: F.transform(
                F.slice(F.col("ps"), i + 2, F.size(F.col("ps"))),
                lambda y: F.struct(x.alias("u"), y.alias("v")),
            ),
        )
    )
    # explode_outer: pair_arr is provably non-empty (size(ps) >= 2), so
    # rows are identical to explode but InferFiltersFromGenerate adds no
    # size()>0 guard re-evaluating the HOF pipeline (the de304a0 lesson)
    edges = (
        baskets.select(F.explode_outer(pair_arr).alias("p"))
        .select("p.u", "p.v")
        .groupBy("u", "v")
        .agg(F.count(F.lit(1)).alias("supp"))
        .filter(F.col("supp") >= 2)
        .select("u", "v")
    )
    return triangle_stats(materialize(edges))


_GRAM_ORACLE = """
WITH q AS (
  SELECT embedding,
         127.0 / CAST(list_max(list_transform(embedding,
           x -> abs(x))) AS DOUBLE) AS scale
  FROM embeddings
), c AS (
  SELECT list_transform(embedding, x ->
           CAST(floor(CAST(x AS DOUBLE) * scale + 0.5) AS BIGINT)) AS codes
  FROM q
), cells AS (
  SELECT i, j, codes[i + 1] * codes[j + 1] AS p
  FROM c,
       (SELECT UNNEST(range(64)) AS i) t1,
       (SELECT UNNEST(range(64)) AS j) t2
  WHERE i <= j
)
SELECT CAST(i AS INT) AS i, CAST(j AS INT) AS j,
       CAST(SUM(p) AS BIGINT) AS gram
FROM cells GROUP BY i, j ORDER BY i, j
"""


@query("emb_int8_gram_matrix", _GRAM_ORACLE)
def emb_int8_gram_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed integer Gram matrix G = Q^T Q over the int8-
    quantized embeddings (similarity/gram.py) — the exact reduction
    behind corpus-scale PCA/covariance/whitening: d x d integers from
    n x d data, eigendecomposed driver-side, projected back as a
    per-row expression (tests/test_gram.py runs that full PCA loop).
    Integer products make the reduction order-independent, hence
    hash-gateable where a float covariance could not be.

    Scale: nested-transform expansion to 2,080 upper-triangle products
    per vector, exploded and partial-aggregated MAP-SIDE — every task
    emits at most 2,080 partial rows regardless of input size, so the
    shuffle is O(partitions x d^2), not O(n x d^2)."""
    from automated_etl_pipeline_spark.similarity.gram import gram_upper_triangle

    (emb,) = _t(spark, sf_dir, "embeddings")
    return gram_upper_triangle(spread(emb))


# ----------------------------------------------------------------------
# r12 additions: count-min sketch frequency estimation and the
# cross-source shingle-overlap matrix.
# ----------------------------------------------------------------------

_CM_SKETCH_ORACLE = """
WITH tok AS (
  SELECT string_split(text, ' ') AS t FROM documents WHERE text IS NOT NULL
), occ AS (
  SELECT UNNEST(list_transform(range(1, len(t) - 1),
           i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS g
  FROM tok WHERE len(t) >= 3
), h AS (
  SELECT g,
         ('0x' || substr(md5(g), 1, 8))::BIGINT AS h1,
         ('0x' || substr(md5(g), 9, 8))::BIGINT AS h2
  FROM occ
), cells AS (
  SELECT r, (h1 + r * h2) % 256 AS pos, COUNT(*) AS cnt
  FROM h, (SELECT UNNEST(range(4)) AS r)
  GROUP BY 1, 2
), truth AS (
  SELECT g, COUNT(*) AS true_count FROM occ
  GROUP BY g ORDER BY true_count DESC, g LIMIT 20
), th AS (
  SELECT g, true_count,
         ('0x' || substr(md5(g), 1, 8))::BIGINT AS h1,
         ('0x' || substr(md5(g), 9, 8))::BIGINT AS h2
  FROM truth
), probe AS (
  SELECT g, true_count, r, (h1 + r * h2) % 256 AS pos
  FROM th, (SELECT UNNEST(range(4)) AS r)
), est AS (
  SELECT p.g, p.true_count, MIN(COALESCE(c.cnt, 0)) AS cm_estimate
  FROM probe p LEFT JOIN cells c ON p.r = c.r AND p.pos = c.pos
  GROUP BY 1, 2
)
SELECT g AS shingle,
       CAST(true_count AS BIGINT) AS true_count,
       CAST(cm_estimate AS BIGINT) AS cm_estimate,
       CAST(cm_estimate - true_count AS BIGINT) AS overestimate
FROM est ORDER BY true_count DESC, shingle
"""


@query("cm_sketch_shingle_freq", _CM_SKETCH_ORACLE)
def cm_sketch_shingle_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch (functions/countmin.py) over every 3-gram
    shingle OCCURRENCE in the corpus, probed at the 20 most frequent
    shingles: the gate hash-compares each probe's exact count, its
    sketch estimate, and the one-sided overestimate (never negative —
    count-min cannot undercount).  The pinned d=4 x w=256 grid is
    small against ~16k distinct shingles, so collisions are real and
    the error column is non-trivial, while the min-over-rows still
    tracks the heavy keys closely — the sketch's whole point.

    Scale: the grid is fixed d*w state with cell-wise-additive merge,
    so the build is one explode + map-side-combined groupBy emitting
    at most 1,024 partial rows per task; probes ride a broadcast
    join.  Same bounded-shuffle shape as the Gram reduction."""
    from automated_etl_pipeline_spark.functions.countmin import (
        cm_build,
        cm_estimate,
    )
    from automated_etl_pipeline_spark.plans.materialize import materialize

    (docs,) = _t(spark, sf_dir, "documents")
    toks = (
        spread(docs)
        .filter(F.col("text").isNotNull())
        .select(F.split("text", " ").alias("t"))
        .filter(F.size("t") >= 3)
    )
    occ = toks.select(
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("t") - 2),
                lambda i: F.concat_ws(
                    " ",
                    F.element_at("t", i),
                    F.element_at("t", i + 1),
                    F.element_at("t", i + 2),
                ),
            )
        ).alias("g")
    )
    occ = materialize(occ)
    sketch = cm_build(occ, "g")
    truth = (
        occ.groupBy("g")
        .agg(F.count(F.lit(1)).alias("true_count"))
        .orderBy(F.desc("true_count"), F.asc("g"))
        .limit(20)
    )
    est = cm_estimate(truth.select("g"), "g", sketch)
    return (
        truth.join(est, "g")
        .select(
            F.col("g").alias("shingle"),
            F.col("true_count").cast("bigint").alias("true_count"),
            F.col("cm_estimate").cast("bigint").alias("cm_estimate"),
            (F.col("cm_estimate") - F.col("true_count"))
            .cast("bigint")
            .alias("overestimate"),
        )
        .orderBy(F.desc("true_count"), "shingle")
    )


_SOURCE_OVERLAP_ORACLE = """
WITH tok AS (
  SELECT source, string_split(text, ' ') AS t FROM documents
  WHERE text IS NOT NULL
), sh AS (
  SELECT DISTINCT source, ('0x' || substr(md5(g), 1, 15))::BIGINT AS h
  FROM (
    SELECT source,
           UNNEST(list_distinct(list_transform(range(1, len(t) - 1),
             i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))) AS g
    FROM tok WHERE len(t) >= 3
  )
), tot AS (
  SELECT source, COUNT(*) AS n FROM sh GROUP BY 1
), pairs AS (
  SELECT a.source AS source_a, b.source AS source_b, COUNT(*) AS shared
  FROM sh a JOIN sh b ON a.h = b.h AND a.source < b.source
  GROUP BY 1, 2
)
SELECT source_a, source_b,
       CAST(shared AS BIGINT) AS shared_shingles,
       ROUND(shared / (ta.n + tb.n - shared), 6) AS jaccard
FROM pairs
JOIN tot ta ON source_a = ta.source
JOIN tot tb ON source_b = tb.source
ORDER BY source_a, source_b
"""


@query("source_shingle_overlap", _SOURCE_OVERLAP_ORACLE)
def source_shingle_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source contamination matrix: per source pair, how many
    distinct 3-gram shingles they share and the vocabulary Jaccard —
    the corpus diagnostic every multi-source training-data report
    publishes (which crawls/dumps duplicate each other) and the input
    to mixture de-weighting decisions.  Shingles are the shared
    60-bit-hashed definition of the dedup cascade (dedup/minhash.py's
    shingle_set + shingle_hash60), so this gate and the near-dup gates
    agree on what 'shared content' means.

    Scale: the (source, shingle) table is reduced to DISTINCT rows
    first, the self-join is shingle-keyed (a shingle appearing in s
    sources contributes C(s,2) pair rows — bounded by the SOURCE
    count squared, not the corpus), and per-source totals ride
    broadcast joins.  With thousands of sources, cap per-shingle
    fanout like the PPJoin df-cap; with tens, this is exact and
    cheap."""
    from automated_etl_pipeline_spark.dedup.minhash import shingle_set
    from automated_etl_pipeline_spark.dedup.ngram_jaccard import shingle_hash60
    from automated_etl_pipeline_spark.plans.materialize import materialize

    (docs,) = _t(spark, sf_dir, "documents")
    sh = (
        spread(docs)
        .filter(F.col("text").isNotNull())
        .select(
            "source", F.explode(shingle_set(F.col("text"), 3)).alias("g")
        )
        .select("source", shingle_hash60(F.col("g")).alias("h"))
        .distinct()
    )
    sh = materialize(sh)
    tot = sh.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
    a, b = sh.alias("a"), sh.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.h") == F.col("b.h"))
            & (F.col("a.source") < F.col("b.source")),
        )
        .groupBy(
            F.col("a.source").alias("source_a"),
            F.col("b.source").alias("source_b"),
        )
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    return (
        pairs.join(
            F.broadcast(
                tot.select(F.col("source").alias("source_a"), F.col("n").alias("na"))
            ),
            "source_a",
        )
        .join(
            F.broadcast(
                tot.select(F.col("source").alias("source_b"), F.col("n").alias("nb"))
            ),
            "source_b",
        )
        .select(
            "source_a",
            "source_b",
            F.col("shared").cast("bigint").alias("shared_shingles"),
            F.round(
                F.col("shared") / (F.col("na") + F.col("nb") - F.col("shared")), 6
            ).alias("jaccard"),
        )
        .orderBy("source_a", "source_b")
    )


# Planted-structural oracle (the html_extract_text pattern): the Spark
# side perturbs each document deterministically by doc_id%4 — accent
# injection, SHOUTING + punctuation + padding, comma-riddled spacing —
# runs the REAL normalizer (functions/normalize.py), and checksums the
# recovered keys; the oracle never normalizes anything — it derives
# the expected keys (the raw text) and the perturbed lengths
# analytically, so any fold/casefold/collapse slip moves a hash.
_NORMALIZE_KEY_ORACLE = """
WITH base AS (
  SELECT doc_id, coalesce(text, '') AS t FROM documents
), exp AS (
  SELECT doc_id, t,
         CASE CAST(doc_id % 4 AS INT)
           WHEN 2 THEN length(t) + 5
           WHEN 3 THEN length(t)
                       + 2 * greatest(len(string_split(t, ' ')) - 1, 0)
           ELSE length(t)
         END AS variant_len
  FROM base
)
SELECT CAST(doc_id % 8 AS BIGINT) AS bucket,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(variant_len) AS BIGINT) AS total_variant_chars,
       CAST(SUM(length(t)) AS BIGINT) AS total_key_chars,
       CAST(SUM(('0x' || substr(md5(t), 1, 15))::BIGINT
                % 1000000000000) % 1000000000000 AS BIGINT)
         AS key_checksum
FROM exp GROUP BY 1 ORDER BY 1
"""


@query("normalize_fold_dedup_key", _NORMALIZE_KEY_ORACLE)
def normalize_fold_dedup_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Accent/case/punctuation normalization for dedup keys
    (functions/normalize.py).  Each document is deterministically
    perturbed by doc_id%4 — 1: vowels accented (a->á ... u->ú);
    2: uppercased with leading '  ' and trailing ' !!'; 3: every space
    becomes ' , ' — and the real normalizer must recover EXACTLY the
    raw text as the key (this corpus is already [a-z0-9 ]-canonical),
    proven per bucket by doc counts, perturbed-vs-recovered character
    totals, and an md5 key checksum the oracle derives from the raw
    text alone.

    Scale: perturbation + normalization is one projection of
    translate/lower/regexp expressions ahead of the 8-row bucket agg;
    in production the perturbation disappears and normalize_text_key
    feeds the exact-dedup groupBy directly."""
    from automated_etl_pipeline_spark.functions.normalize import (
        normalize_text_key,
    )

    (docs,) = _t(spark, sf_dir, "documents")
    t = F.coalesce(F.col("text"), F.lit(""))
    mode = (F.col("doc_id") % 4).cast("int")
    variant = (
        F.when(mode == 1, F.translate(t, "aeiou", "áèîöú"))
        .when(mode == 2, F.concat(F.lit("  "), F.upper(t), F.lit(" !!")))
        .when(mode == 3, F.replace(t, F.lit(" "), F.lit(" , ")))
        .otherwise(t)
    )
    staged = spread(docs).select(
        (F.col("doc_id") % 8).cast("bigint").alias("bucket"),
        F.length(variant).cast("bigint").alias("variant_len"),
        normalize_text_key(variant).alias("key"),
    )
    return (
        staged.groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("variant_len").cast("bigint").alias("total_variant_chars"),
            F.sum(F.length("key")).cast("bigint").alias("total_key_chars"),
            (
                F.sum(
                    F.conv(F.substring(F.md5("key"), 1, 15), 16, 10).cast(
                        "long"
                    )
                    % 1000000000000
                )
                % 1000000000000
            )
            .cast("bigint")
            .alias("key_checksum"),
        )
        .orderBy("bucket")
    )


_CONTAINMENT_ORACLE = """
WITH aug AS (
  SELECT doc_id, text FROM documents WHERE text IS NOT NULL
  UNION ALL
  SELECT doc_id + 10000000 AS doc_id,
         array_to_string(t[1:greatest(3, CAST(floor(0.4 * len(t)) AS INT))],
                         ' ') AS text
  FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents
        WHERE text IS NOT NULL AND doc_id % 7 = 0)
), inv AS (
  SELECT doc_id, len(s) AS sz, UNNEST(s) AS g
  FROM (
    SELECT doc_id,
           list_distinct(list_transform(
             list_distinct(list_transform(range(1, len(t) - 1),
               i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])),
             g -> ('0x' || substr(md5(g), 1, 15))::BIGINT)) AS s
    FROM (SELECT doc_id, string_split(text, ' ') AS t FROM aug)
    WHERE len(t) >= 3
  ) WHERE len(s) > 0
), pairs AS (
  SELECT a.doc_id AS doc_sub, a.sz AS sub_sz, b.doc_id AS doc_super,
         COUNT(*) AS shared
  FROM inv a JOIN inv b ON a.g = b.g AND a.doc_id != b.doc_id
  GROUP BY 1, 2, 3
)
SELECT doc_sub, doc_super,
       ROUND(shared / sub_sz, 6) AS containment
FROM pairs
WHERE shared >= CEIL(0.8 * sub_sz - 1e-9)
ORDER BY doc_sub, doc_super
"""


@query("containment_superset_pairs", _CONTAINMENT_ORACLE)
def containment_superset_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric containment dedup (dedup/containment.py): directed
    pairs with |sub∩super|/|sub| >= 0.8 over 3-gram shingle sets —
    the partial-duplication class symmetric Jaccard misses.  The gate
    plants it: every 7th document contributes a 40%-length prefix
    excerpt (id + 10,000,000) whose containment in its parent is ~1.0
    while its Jaccard is ~0.4.  Spark finds pairs with the directional
    prefix filter (complete by the PPJoin bound specialized to
    containment — only the SUB side truncates); the DuckDB oracle
    brute-forces ALL shared-shingle pairs and counts intersections, so
    any prefix-filter miss fails the hash.

    Scale: shingle-keyed equi-joins only; rare-first canonical order
    keeps prefix df low; the superset side stays fully indexed (the
    asymmetry of the operator).  Exact dedup runs first in the
    cascade, as for Jaccard."""
    from automated_etl_pipeline_spark.dedup.containment import containment_pairs

    (docs,) = _t(spark, sf_dir, "documents")
    base = docs.filter(F.col("text").isNotNull()).select("doc_id", "text")
    t = F.split("text", " ")
    frags = (
        base.filter(F.col("doc_id") % 7 == 0)
        .select(
            (F.col("doc_id") + 10000000).alias("doc_id"),
            F.concat_ws(
                " ",
                F.slice(
                    t,
                    1,
                    F.greatest(
                        F.lit(3), F.floor(0.4 * F.size(t)).cast("int")
                    ),
                ),
            ).alias("text"),
        )
    )
    aug = base.unionByName(frags)
    return containment_pairs(spread(aug), threshold=0.8).orderBy(
        "doc_sub", "doc_super"
    )


_NOVELTY_ORACLE = """
WITH tok AS (
  SELECT doc_id, source, string_split(text, ' ') AS t FROM documents
  WHERE text IS NOT NULL
), sh AS (
  SELECT doc_id, source,
         list_distinct(list_transform(
           list_distinct(list_transform(range(1, len(t) - 1),
             i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])),
           g -> ('0x' || substr(md5(g), 1, 15))::BIGINT)) AS s
  FROM tok WHERE len(t) >= 3
), inv AS (
  SELECT doc_id, source, UNNEST(s) AS h FROM sh WHERE len(s) > 0
), first_seen AS (
  SELECT h, MIN(doc_id) AS fd FROM inv GROUP BY h
), per_doc AS (
  SELECT i.doc_id, i.source,
         COUNT(*) AS sz,
         SUM(CASE WHEN f.fd = i.doc_id THEN 1 ELSE 0 END) AS nnew
  FROM inv i JOIN first_seen f ON i.h = f.h
  GROUP BY 1, 2
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(nnew) AS BIGINT) AS novel_shingles,
       CAST(SUM(sz) AS BIGINT) AS total_shingles,
       ROUND(SUM(nnew) / SUM(sz), 6) AS novelty_rate,
       CAST(SUM(CASE WHEN nnew = sz THEN 1 ELSE 0 END) AS BIGINT)
         AS n_fully_novel
FROM per_doc GROUP BY source ORDER BY source
"""


@query("doc_novelty_fraction", _NOVELTY_ORACLE)
def doc_novelty_fraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus novelty accounting: a shingle is 'novel' in the document
    where it FIRST appears (minimum doc_id); per source, the fraction
    of shingle instances that are first occurrences and the count of
    fully-novel documents.  This is the marginal-contribution view of
    dedup — documents with novelty ~0 add nothing the corpus does not
    already contain (ExactSubstr/Lee et al. report exactly this
    statistic when sizing dedup gains), and per-source novelty ranks
    which feeds to keep in a mixture.

    Scale: one explode, one shingle-keyed MIN aggregation (partial),
    one equi-join back, one doc-keyed count — the exact-dedup shuffle
    pattern; ratios are micro-averaged from integer sums (no float
    fold-order)."""
    from automated_etl_pipeline_spark.dedup.minhash import shingle_set
    from automated_etl_pipeline_spark.dedup.ngram_jaccard import shingle_hash60

    (docs,) = _t(spark, sf_dir, "documents")
    # (r15 opt note: unlike the aliased-array explodes in
    # target_overlap_selection / decontamination_overlap, this inline
    # explode does NOT get an InferFiltersFromGenerate guard inlined
    # below it — plan shows one shingle pipeline per consumer subtree
    # — so the explode_outer + pre-filter rewrite was measured here
    # and rejected: 2.10 vs 2.02 s, noise.)
    inv = (
        spread(docs)
        .filter(F.col("text").isNotNull())
        .select(
            "doc_id",
            "source",
            F.explode(
                F.array_distinct(
                    F.transform(
                        shingle_set(F.col("text"), 3), shingle_hash60
                    )
                )
            ).alias("h"),
        )
    )
    first_seen = inv.groupBy("h").agg(F.min("doc_id").alias("fd"))
    per_doc = (
        inv.join(first_seen, "h")
        .groupBy("doc_id", "source")
        .agg(
            F.count(F.lit(1)).alias("sz"),
            F.sum(
                F.when(F.col("fd") == F.col("doc_id"), 1).otherwise(0)
            ).alias("nnew"),
        )
    )
    return (
        per_doc.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("nnew").cast("bigint").alias("novel_shingles"),
            F.sum("sz").cast("bigint").alias("total_shingles"),
            F.round(F.sum("nnew") / F.sum("sz"), 6).alias("novelty_rate"),
            F.sum(F.when(F.col("nnew") == F.col("sz"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_fully_novel"),
        )
        .orderBy("source")
    )


_JOURNEY_ORACLE = """
WITH ranked AS (
  SELECT user_id, event_type,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY ts, event_id) AS rn
  FROM events WHERE user_id IS NOT NULL
), paths AS (
  SELECT user_id,
         concat_ws('>',
           MAX(CASE WHEN rn = 1 THEN event_type END),
           MAX(CASE WHEN rn = 2 THEN event_type END),
           MAX(CASE WHEN rn = 3 THEN event_type END)) AS path
  FROM ranked WHERE rn <= 3 GROUP BY user_id
)
SELECT path, CAST(COUNT(*) AS BIGINT) AS n_users
FROM paths GROUP BY path
ORDER BY n_users DESC, path LIMIT 15
"""


@query("user_journey_top_paths", _JOURNEY_ORACLE)
def user_journey_top_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top opening user journeys: each user's first three events (by
    time, event_id tiebreak) joined into an ordered path string, top
    15 paths by user count — the product-analytics query behind every
    onboarding funnel review.  concat_ws drops the NULL slots, so
    users with fewer than three events contribute their shorter
    genuine path rather than a padded artifact.

    Scale: the rank is a per-user window (one key shuffle), the path
    assembly is a conditional-aggregation groupBy on the same key —
    Catalyst reuses the exchange — and the top-15 is
    TakeOrderedAndProject."""
    (events,) = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ranked = (
        events.filter(F.col("user_id").isNotNull())
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
    )
    paths = ranked.groupBy("user_id").agg(
        F.concat_ws(
            ">",
            F.max(F.when(F.col("rn") == 1, F.col("event_type"))),
            F.max(F.when(F.col("rn") == 2, F.col("event_type"))),
            F.max(F.when(F.col("rn") == 3, F.col("event_type"))),
        ).alias("path")
    )
    return (
        paths.groupBy("path")
        .agg(F.count(F.lit(1)).alias("n_users"))
        .orderBy(F.desc("n_users"), F.asc("path"))
        .limit(15)
    )
