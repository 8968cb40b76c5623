"""BM25 text ranking over a document table (Robertson/Sparck Jones).

The retrieval scorer every corpus-curation stack eventually needs —
finding documents relevant to a probe query (contamination checks,
topic filtering, eval-set mining). Classic formula with k1/b defaults:

    score(d, q) = sum over query terms t of
      idf(t) * tf(t, d) * (k1 + 1) / (tf + k1 * (1 - b + b * |d|/avgdl))
    idf(t) = ln((N - df + 0.5) / (df + 0.5) + 1)

Spark-first dataflow (three aggregates, no UDFs):
1. per-doc stats: token count |d| (expression over the token array);
   corpus N and avgdl (one global aggregate, broadcast);
2. per-term document frequency df over the query's terms only —
   filter the posting explode to query terms FIRST, so the shuffle
   carries O(docs x |q|) rows, not the whole inverted index;
3. per-(doc, term) tf for query terms (same filtered explode), then
   the score sum groups by doc — one shuffle on doc_id.

Determinism: ln/division are libm-identical across engines in
practice, but scores are rounded to 6 dp with doc-id tiebreaks before
ranking, same policy as the cosine operators.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

K1 = 1.2
B = 0.75


def bm25_topk(
    docs: DataFrame,
    query_terms: list[str],
    k: int = 20,
) -> DataFrame:
    """(id, score) — top-k documents by BM25 for the given terms."""
    toks = docs.select(F.col("doc_id"), F.split("text", " ").alias("t"))
    stats = F.broadcast(
        toks.agg(
            F.count(F.lit(1)).alias("n_docs"),
            (F.sum(F.size("t")) / F.count(F.lit(1))).alias("avgdl"),
        )
    )
    terms = F.array(*[F.lit(t) for t in query_terms])
    # dl rides the explode and aggregates with first() — joining a
    # per-document lengths table back would mean broadcasting (or
    # shuffling) one row per corpus document for nothing
    posting = (
        toks.select("doc_id", F.size("t").alias("dl"), F.explode("t").alias("term"))
        .filter(F.array_contains(terms, F.col("term")))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"), F.first("dl").alias("dl"))
    )
    df_t = F.broadcast(
        posting.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    )
    scored = posting.join(df_t, "term").crossJoin(stats)
    idf = F.log(
        (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0
    )
    denom = F.col("tf") + K1 * (1 - B + B * F.col("dl") / F.col("avgdl"))
    contrib = idf * F.col("tf") * (K1 + 1) / denom
    return (
        scored.groupBy("doc_id")
        .agg(F.round(F.sum(contrib), 6).alias("score"))
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(k)
    )


def duckdb_oracle_sql(query_terms: list[str]) -> str:
    """Same scoring in DuckDB SQL over the ``documents`` view, top 20."""
    terms = ", ".join("'" + t.replace("'", "''") + "'" for t in query_terms)
    return f"""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ), lens AS (
      SELECT doc_id, len(t) AS dl FROM toks
    ), stats AS (
      SELECT COUNT(*) AS n_docs, SUM(dl) / COUNT(*) AS avgdl FROM lens
    ), posting AS (
      SELECT doc_id, term, COUNT(*) AS tf FROM (
        SELECT doc_id, UNNEST(t) AS term FROM toks
      ) WHERE term IN ({terms})
      GROUP BY doc_id, term
    ), df_t AS (
      SELECT term, COUNT(*) AS df FROM posting GROUP BY term
    )
    SELECT p.doc_id,
           ROUND(SUM(
             ln((s.n_docs - d.df + 0.5) / (d.df + 0.5) + 1.0)
             * p.tf * ({K1} + 1)
             / (p.tf + {K1} * (1 - {B} + {B} * l.dl / s.avgdl))
           ), 6) AS score
    FROM posting p
    JOIN df_t d USING (term)
    JOIN lens l USING (doc_id)
    CROSS JOIN stats s
    GROUP BY p.doc_id
    ORDER BY score DESC, p.doc_id LIMIT 20
    """
