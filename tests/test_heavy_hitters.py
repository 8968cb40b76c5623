"""Misra-Gries heavy-hitters sketch (functions/heavy_hitters.py,
VERDICT r7 ask #5) — the guarantees the registry gate can't exercise.

The testdata's token distribution is near-uniform over ~31 tokens, so
a sketch over it never evicts.  Here a planted Zipf stream with
k << vocabulary forces heavy eviction, and a planted hot-shingle
corpus drives the measured df-cap through ``jaccard_pairs(
stop_hot_share=...)`` against a DuckDB mirror — the partsupp
precedent: seeded fixture in tmp, both engines read the same parquet.
"""

from __future__ import annotations

import duckdb
import numpy as np
import pytest
from pyspark.sql import functions as F

from automated_etl_pipeline_spark.functions.heavy_hitters import (
    heavy_hitters,
    mg_partials,
)


def _zipf_rows(n: int, vocab: int, seed: int) -> list[tuple[str]]:
    rng = np.random.default_rng(seed)
    # Zipf-ish: item i drawn with weight 1/(i+1)
    w = 1.0 / np.arange(1, vocab + 1)
    items = rng.choice(vocab, size=n, p=w / w.sum())
    return [(f"t{i}",) for i in items]


@pytest.mark.parametrize("parts", [1, 7, 32])
def test_heavy_hitters_exact_under_eviction(spark, parts):
    """k=50 over a 500-item vocabulary (the smallest k the phi=0.02
    no-miss precondition allows): the sketch evicts constantly, yet
    the confirmed output must equal the exact phi-heavy set with
    exact counts, for every partition layout (the layout shifts which
    EXTRA candidates get recounted, never the result)."""
    rows = _zipf_rows(20_000, 500, seed=11)
    df = spark.createDataFrame(rows, "x string").repartition(parts)
    phi = 0.02
    got = {
        (r["x"], r["cnt"])
        for r in heavy_hitters(df, "x", phi, k=50).collect()
    }
    exact = {
        (r["x"], r["cnt"])
        for r in df.groupBy("x")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .filter(F.col("cnt") >= phi * len(rows))
        .collect()
    }
    assert exact, "planted stream must contain heavy hitters"
    assert got == exact


def test_mg_partial_weight_bound(spark):
    """The mergeable-summaries contract the no-miss filter relies on:
    for every item, count(x) - n/(k+1) <= sum of partial weights <=
    count(x)."""
    rows = _zipf_rows(8_000, 200, seed=3)
    df = spark.createDataFrame(rows, "x string").repartition(8)
    k = 20
    merged = {
        r["x"]: r["w"]
        for r in mg_partials(df, "x", k)
        .groupBy("x")
        .agg(F.sum("__w").alias("w"))
        .collect()
    }
    exact = {
        r["x"]: r["cnt"]
        for r in df.groupBy("x").agg(F.count(F.lit(1)).alias("cnt")).collect()
    }
    n = len(rows)
    for x, cnt in exact.items():
        w = merged.get(x, 0)
        assert w <= cnt, (x, w, cnt)
        assert w >= cnt - n / (k + 1), (x, w, cnt, n / (k + 1))


def test_phi_below_guarantee_raises(spark):
    df = spark.createDataFrame([("a",)], "x string")
    with pytest.raises(ValueError, match="no-miss"):
        heavy_hitters(df, "x", phi=0.001, k=10)


# ---------------------------------------------------------------------------
# Measured df-cap: jaccard_pairs(stop_hot_share=...) on a planted
# hot-shingle corpus, mirrored in DuckDB.
# ---------------------------------------------------------------------------

_BOILER = " ".join(f"b{i}" for i in range(20))  # 18 hot 3-gram shingles


def _corpus(seed: int = 5) -> list[tuple[int, str]]:
    """300 docs: 40% start with the same 20-token boilerplate (its
    shingles hold ~1% of all instances — genuinely hot), the rest are
    unique filler; docs 0/1 are near-dups through NON-hot content
    (found with or without the cap), docs 2/3 overlap ONLY through the
    boilerplate (found uncapped, missed capped — the intended trade)."""
    rng = np.random.default_rng(seed)
    docs: list[tuple[int, str]] = [
        # near-dup pair via unique content (no boilerplate)
        (0, " ".join(f"p{i}" for i in range(30))),
        (1, " ".join(f"p{i}" for i in range(28)) + " q28 q29"),
        # pair whose entire overlap is the hot boilerplate
        (2, _BOILER + " u2x"),
        (3, _BOILER + " u3y"),
    ]
    for d in range(4, 300):
        filler = " ".join(f"u{d}_{i}" for i in range(rng.integers(20, 40)))
        docs.append((d, (_BOILER + " " + filler) if d % 5 < 2 else filler))
    return docs


_CAPPED_ORACLE = """
WITH tok AS (
  SELECT doc_id, string_split(text, ' ') AS t FROM docs
), sh AS (
  SELECT doc_id,
         list_distinct(list_transform(
           list_distinct(list_transform(range(1, greatest(len(t) - 1, 1)),
             i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])),
           g -> ('0x' || substr(md5(g), 1, 15))::BIGINT)) AS s
  FROM tok WHERE len(t) >= 3
), inv AS (
  SELECT doc_id, len(s) AS sz, UNNEST(s) AS g FROM sh
), ninst AS (SELECT COUNT(*) AS n FROM inv
), dft AS (
  -- the measured stop-shingle cap: shingles holding >= {phi} of all
  -- instances leave the index (mirrors heavy_hitters + left_anti)
  SELECT g, COUNT(*) AS df FROM inv GROUP BY g
  HAVING COUNT(*) < {phi} * (SELECT n FROM ninst)
), ranked AS (
  SELECT i.doc_id, i.g, i.sz,
         row_number() OVER (PARTITION BY i.doc_id ORDER BY d.df, i.g) AS rn,
         COUNT(*) OVER (PARTITION BY i.doc_id) AS ksz
  FROM inv i JOIN dft d USING (g)
), pref AS (
  SELECT doc_id, g, sz, rn FROM ranked
  WHERE rn <= ksz - CEIL({t} * ksz - 1e-9) + 1
), cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM pref a JOIN pref b
    ON a.g = b.g AND a.doc_id < b.doc_id
   AND least(a.sz, b.sz) >= {t} * greatest(a.sz, b.sz) - 1e-9
   AND 1 + least(a.sz - a.rn, b.sz - b.rn)
       >= ({t} / (1.0 + {t})) * (a.sz + b.sz) - 1e-9
)
SELECT doc_a, doc_b,
       ROUND(len(list_filter(sa.s, v -> list_contains(sb.s, v)))::DOUBLE
             / (len(sa.s) + len(sb.s)
                - len(list_filter(sa.s, v -> list_contains(sb.s, v)))), 6) AS jaccard
FROM cand JOIN sh sa ON cand.doc_a = sa.doc_id
          JOIN sh sb ON cand.doc_b = sb.doc_id
WHERE ROUND(len(list_filter(sa.s, v -> list_contains(sb.s, v)))::DOUBLE
             / (len(sa.s) + len(sb.s)
                - len(list_filter(sa.s, v -> list_contains(sb.s, v)))), 6) >= {t}
ORDER BY doc_a, doc_b
"""


def test_capped_jaccard_matches_duckdb_and_caps_bite(spark, tmp_path):
    from automated_etl_pipeline_spark.dedup.ngram_jaccard import jaccard_pairs

    phi, t = 0.005, 0.6
    pq = str(tmp_path / "docs.parquet")
    docs = spark.createDataFrame(_corpus(), "doc_id long, text string")
    docs.write.mode("overwrite").parquet(pq)
    both = spark.read.parquet(pq)

    capped = {
        (r["doc_a"], r["doc_b"], r["jaccard"])
        for r in jaccard_pairs(both, stop_hot_share=phi).collect()
    }
    uncapped = {
        (r["doc_a"], r["doc_b"], r["jaccard"])
        for r in jaccard_pairs(both).collect()
    }

    con = duckdb.connect()
    # Spark writes a parquet DIRECTORY; DuckDB needs the part glob
    con.execute(f"CREATE VIEW docs AS SELECT * FROM '{pq}/*.parquet'")
    oracle = {
        (a, b, j)
        for a, b, j in con.execute(
            _CAPPED_ORACLE.format(phi=phi, t=t)
        ).fetchall()
    }
    con.close()

    # the stoplist actually bit: the boilerplate-only pair is found
    # uncapped, missed capped — and the oracle mirror agrees exactly
    assert (0, 1) in {(a, b) for a, b, _ in capped}
    assert (2, 3) in {(a, b) for a, b, _ in uncapped}
    assert (2, 3) not in {(a, b) for a, b, _ in capped}
    assert capped < uncapped
    assert capped == oracle
