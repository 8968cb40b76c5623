"""Differential tests for the CCNet perplexity partitioner
(functions/perplexity.py).

Same protocol as test_dsir.py: the hashing (xxhash64 -> bucket) is
taken as ground truth from the Spark side; the smoothing, the
cross-entropy, and the rank-third cuts are recomputed in pure Python
and compared exactly.
"""

from __future__ import annotations

import math

from automated_etl_pipeline_spark.functions.dsir import hashed_ngram_counts
from automated_etl_pipeline_spark.functions.perplexity import (
    ccnet_partition,
    doc_cross_entropy,
)

B = 64
N = 2

TARGET = {
    100: "the cat sat on the mat",
    101: "the cat ate the fish",
    102: "a cat and the mat",
}
RAW = {
    0: "the cat sat on the mat again",   # in-domain
    1: "the cat sat quietly",            # in-domain-ish
    2: "quantum flux capacitor array",   # off-domain
    3: "flux array of quantum fields",   # off-domain
    4: "x",                              # too short for a bigram
    5: "",                               # empty
    6: "the mat and the cat sat",        # in-domain
}


def _df(spark, docs):
    return spark.createDataFrame(list(docs.items()), "doc_id long, text string")


def _counts(spark, docs):
    rows = hashed_ngram_counts(_df(spark, docs), n=N, buckets=B).collect()
    out: dict[int, dict[int, int]] = {}
    for r in rows:
        out.setdefault(r["doc_id"], {})[r["bucket"]] = r["cnt"]
    return out


def _py_h(spark):
    """Pure-python per-doc cross-entropy from the Spark-side bags."""
    tgt_bags = _counts(spark, TARGET)
    totals: dict[int, int] = {}
    for bags in tgt_bags.values():
        for b, c in bags.items():
            totals[b] = totals.get(b, 0) + c
    tot = sum(totals.values())
    logp = {b: math.log((totals.get(b, 0) + 1) / (tot + B)) for b in range(B)}
    raw_bags = _counts(spark, RAW)
    out: dict[int, float | None] = {}
    for d in RAW:
        bag = raw_bags.get(d, {})
        m = sum(bag.values())
        out[d] = None if m == 0 else -sum(c * logp[b] for b, c in bag.items()) / m
    return out


def test_cross_entropy_differential(spark):
    got = {
        r["doc_id"]: (r["n_ngrams"], r["h"])
        for r in doc_cross_entropy(
            _df(spark, RAW), _df(spark, TARGET), n=N, buckets=B
        ).collect()
    }
    expect = _py_h(spark)
    assert set(got) == set(RAW)
    for d, eh in expect.items():
        if eh is None:
            assert got[d] == (0, None), d
        else:
            assert abs(got[d][1] - eh) < 1e-12, d
    # directional: in-domain docs score lower cross-entropy than
    # off-domain docs
    assert max(got[0][1], got[1][1], got[6][1]) < min(got[2][1], got[3][1])


def test_ccnet_partition_matches_python_cuts(spark):
    rows = ccnet_partition(
        _df(spark, RAW), _df(spark, TARGET), n=N, buckets=B
    ).collect()
    got = {r["doc_id"]: r["part"] for r in rows}
    expect_h = _py_h(spark)
    scored = sorted(
        (h, d) for d, h in expect_h.items() if h is not None
    )
    total = len(scored)
    cut_head = math.ceil(total / 3)
    cut_mid = math.ceil(total * 2 / 3)
    for rank, (_, d) in enumerate(scored):
        part = "head" if rank < cut_head else "middle" if rank < cut_mid else "tail"
        assert got[d] == part, d
    for d, h in expect_h.items():
        if h is None:
            assert got[d] == "empty", d
    assert len(rows) == len(RAW)


def test_ccnet_partition_is_ordered_and_deterministic(spark):
    run = lambda: ccnet_partition(  # noqa: E731
        _df(spark, RAW), _df(spark, TARGET), n=N, buckets=B
    ).collect()
    rows = run()
    by_part: dict[str, list[float]] = {}
    for r in rows:
        if r["h"] is not None:
            by_part.setdefault(r["part"], []).append(r["h"])
    # every head score <= every middle score <= every tail score
    if "head" in by_part and "middle" in by_part:
        assert max(by_part["head"]) <= min(by_part["middle"])
    if "middle" in by_part and "tail" in by_part:
        assert max(by_part["middle"]) <= min(by_part["tail"])
    again = run()
    assert sorted((r["doc_id"], r["part"]) for r in rows) == sorted(
        (r["doc_id"], r["part"]) for r in again
    )


def test_custom_fracs(spark):
    rows = ccnet_partition(
        _df(spark, RAW),
        _df(spark, TARGET),
        head_frac=0.2,
        middle_frac=0.4,
        n=N,
        buckets=B,
    ).collect()
    counts: dict[str, int] = {}
    for r in rows:
        counts[r["part"]] = counts.get(r["part"], 0) + 1
    total = sum(v for k, v in counts.items() if k != "empty")
    assert counts.get("head", 0) == math.ceil(total * 0.2)
    # mirror the documented cut formula exactly: ceil(N * (hf + mf))
    # evaluates on the FLOAT SUM (0.2 + 0.4 = 0.6000000000000001 ->
    # ceil(5 * that) = 4), not on a re-derived 0.6 literal
    assert counts.get("head", 0) + counts.get("middle", 0) == math.ceil(
        total * (0.2 + 0.4)
    )


def test_perplexity_plan_shape(spark):
    """Scale contract: the target-LM join is an explicit broadcast and
    the scoring pipeline is JVM-only (no row-wise Python)."""
    from automated_etl_pipeline_spark.plans.explain import (
        executed_plan,
        uses_python_udf,
    )

    df = doc_cross_entropy(_df(spark, RAW), _df(spark, TARGET), n=N, buckets=B)
    plan = executed_plan(df)
    assert not uses_python_udf(plan)
    assert "BroadcastHashJoin" in plan


# ---------------------------------------------------------------------------
# Kneser-Ney scorer (functions/kneser_ney.py, r12)
# ---------------------------------------------------------------------------


def _kn_python_replica(raw: dict, target: dict) -> dict:
    """Pure-Python interpolated-KN bigram NLL in 1e-4-nat integers,
    mirroring kneser_ney.kn_doc_scores' documented formula."""
    def bigrams(text):
        t = [w for w in text.split(" ") if w]
        return list(zip(t, t[1:]))

    from collections import Counter

    tbg = Counter()
    for txt in target.values():
        tbg.update(bigrams(txt))
    c_l, n1_fwd, n1_back = Counter(), Counter(), Counter()
    for (l, r), c in tbg.items():
        c_l[l] += c
        n1_fwd[l] += 1
        n1_back[r] += 1
    T = len(tbg)
    V = len({r for (_, r) in tbg})
    out = {}
    for did, txt in raw.items():
        bgs = bigrams(txt)
        if not bgs:
            out[did] = (0, None)
            continue
        if T + V == 0:
            # empty target LM: every probability is NULL (the
            # zero-guard), so the doc is unscoreable
            out[did] = (len(bgs), None)
            continue
        nll = 0
        for (l, r), cnt in Counter(bgs).items():
            pc = (n1_back.get(r, 0) + 1.0) / (T + V)
            if c_l.get(l, 0) > 0:
                p = (
                    max(tbg.get((l, r), 0) - 0.75, 0.0)
                    + 0.75 * n1_fwd.get(l, 0) * pc
                ) / c_l[l]
            else:
                p = pc
            nll -= cnt * math.floor(math.log(p) * 10000.0)
        out[did] = (len(bgs), nll)
    return out


def test_kn_doc_scores_match_python_replica(spark):
    from automated_etl_pipeline_spark.functions.kneser_ney import kn_doc_scores

    got = {
        r["doc_id"]: (r["n_bigrams"], r["nll_e4"])
        for r in kn_doc_scores(_df(spark, RAW), _df(spark, TARGET)).collect()
    }
    assert got == _kn_python_replica(RAW, TARGET)


def test_kn_partition_cuts_and_empty(spark):
    from automated_etl_pipeline_spark.functions.kneser_ney import kn_partition

    rows = kn_partition(_df(spark, RAW), _df(spark, TARGET)).collect()
    parts = {r["doc_id"]: r["part"] for r in rows}
    # 5 scored docs: head=ceil(5*.25)=2, middle=ceil(5*.75)-2=2, tail=1
    from collections import Counter

    sizes = Counter(parts.values())
    assert sizes == {"head": 2, "middle": 2, "tail": 1, "empty": 2}
    assert parts[4] == "empty" and parts[5] == "empty"
    # in-domain docs outrank off-domain ones under the en-ish target LM
    assert parts[2] == "tail" or parts[3] == "tail"


def test_kn_gate_sizes_cross_check_ccnet_gate(spark):
    """The KN partition gate and the unigram-surrogate CCNet partition
    (functions/perplexity.ccnet_partition at the gate's quarter cuts)
    share the pool predicate (>= 2 tokens = >= 1 bigram) and the cut
    arithmetic, so at the same quarter cuts their part SIZES must be
    identical even though the scores (and thus the membership) differ."""
    from pyspark.sql import functions as F

    import automated_etl_pipeline_spark.queries_llm  # noqa: F401  (registers)
    from automated_etl_pipeline_spark.io.sources import load_testdata
    from automated_etl_pipeline_spark.queries import QUERIES

    sf = "/root/testdata/sf0.001"
    kn = {
        r["part"]: r["n_docs"]
        for r in QUERIES["kn_perplexity_partition"](spark, sf).collect()
    }
    docs = load_testdata(spark, sf, ["documents"])["documents"]
    parts = ccnet_partition(
        docs, docs.filter(F.col("lang") == "en"),
        head_frac=0.25, middle_frac=0.5,
    )
    ccnet = dict.fromkeys(("empty", "head", "middle", "tail"), 0)
    ccnet.update(
        (r["part"], r["count"]) for r in parts.groupBy("part").count().collect()
    )
    assert kn == ccnet


from hypothesis import given, settings
from hypothesis import strategies as st

_kn_words = st.sampled_from(["the", "cat", "sat", "a", "flux", "q"])


@settings(max_examples=15, deadline=None)
@given(
    raw_texts=st.lists(
        st.lists(_kn_words, min_size=0, max_size=8).map(" ".join),
        min_size=1, max_size=5,
    ),
    tgt_texts=st.lists(
        # min_size 0: single-token and empty target docs — and thereby
        # whole-LM-empty corpora — are in scope (the zero-guard path)
        st.lists(_kn_words, min_size=0, max_size=8).map(" ".join),
        min_size=1, max_size=4,
    ),
)
def test_kn_scores_property_random_corpora(spark, raw_texts, tgt_texts):
    """Random raw/target corpora: the distributed scorer must equal the
    pure-Python replica exactly (integer 1e-4-nat space) — including
    out-of-target tokens, unseen left contexts, and bigram-free docs."""
    from automated_etl_pipeline_spark.functions.kneser_ney import kn_doc_scores

    raw = dict(enumerate(raw_texts))
    tgt = {100 + i: t for i, t in enumerate(tgt_texts)}
    got = {
        r["doc_id"]: (r["n_bigrams"], r["nll_e4"])
        for r in kn_doc_scores(_df(spark, raw), _df(spark, tgt)).collect()
    }
    assert got == _kn_python_replica(raw, tgt)


def test_kn_empty_target_routes_all_empty(spark):
    """Empty target LM (no target doc with >= 2 tokens): T + V = 0
    NULLs every probability via the explicit zero-guard — Spark ANSI
    would otherwise raise DIVIDE_BY_ZERO mid-gate — and every raw doc
    lands in the 'empty' part with its real bigram count (r12
    review)."""
    from automated_etl_pipeline_spark.functions.kneser_ney import (
        kn_doc_scores,
        kn_partition,
    )

    raw = {0: "a b c", 1: "x", 2: ""}
    tgt = {9: "solo"}  # one token -> zero bigrams -> empty LM
    scores = {
        r["doc_id"]: (r["n_bigrams"], r["nll_e4"])
        for r in kn_doc_scores(_df(spark, raw), _df(spark, tgt)).collect()
    }
    assert scores == {0: (2, None), 1: (0, None), 2: (0, None)}
    assert scores == _kn_python_replica(raw, tgt)
    parts = {
        r["doc_id"]: r["part"]
        for r in kn_partition(_df(spark, raw), _df(spark, tgt)).collect()
    }
    assert parts == {0: "empty", 1: "empty", 2: "empty"}


def test_kn_oracle_empty_target_matches_gate(spark, tmp_path):
    """Gate-level degenerate check: a corpus with NO usable en-target
    bigrams must produce IDENTICAL rows from the Spark gate and the
    DuckDB oracle (everything in 'empty', head/middle/tail at zero)."""
    import duckdb

    import automated_etl_pipeline_spark.queries_llm as qllm
    from automated_etl_pipeline_spark.queries import ORACLES, QUERIES
    from tools.check_correctness import fetch_oracle, normalize

    rows = [
        (0, "a b c d", "de", "web", 7),
        (1, "c d e", "fr", "web", 5),
        (2, "hi", "en", "web", 2),  # en but only one token: no bigrams
        (3, None, "en", "web", 0),
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    sf_dir = str(tmp_path)
    docs.coalesce(1).write.mode("overwrite").parquet(f"{sf_dir}/documents.parquet")
    sdf = QUERIES["kn_perplexity_partition"](spark, sf_dir)
    spark_cols = sorted(sdf.columns)
    spark_rows = [tuple(r[c] for c in spark_cols) for r in sdf.collect()]
    con = duckdb.connect()
    try:
        con.execute(
            "CREATE VIEW documents AS SELECT * FROM "
            f"parquet_scan('{sf_dir}/documents.parquet/*.parquet')"
        )
        oracle_cols, oracle_rows = fetch_oracle(
            con, ORACLES["kn_perplexity_partition"]
        )
    finally:
        con.close()
    assert spark_cols == oracle_cols
    assert normalize(spark_rows) == normalize(oracle_rows)
    parts = {r["part"]: r["n_docs"] for r in sdf.collect()}
    assert parts == {"empty": 4, "head": 0, "middle": 0, "tail": 0}
