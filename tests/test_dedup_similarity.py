"""Tests for dedup/ (MinHash-LSH) and similarity/ (brute force + LSH)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from automated_etl_pipeline_spark.dedup.minhash import (
    deduplicate,
    near_duplicate_pairs,
)
from automated_etl_pipeline_spark.io.sources import load_testdata
from automated_etl_pipeline_spark.similarity.brute_force import topk_cosine
from automated_etl_pipeline_spark.similarity.lsh import (
    make_hyperplanes,
    topk_cosine_lsh,
    with_lsh_code,
)

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return load_testdata(spark, SF, ["documents"])["documents"].cache()


@pytest.fixture(scope="module")
def emb(spark):
    return load_testdata(spark, SF, ["embeddings"])["embeddings"].cache()


def test_minhash_detects_planted_near_dup(spark):
    base = "the quick brown fox jumps over the lazy dog again and again today"
    near = base.replace("today", "tomorrow")  # 1-token edit → high jaccard
    far = "completely different content about spark query engines at scale"
    df = spark.createDataFrame(
        [(1, base), (2, near), (3, far)], "doc_id long, text string"
    )
    pairs = near_duplicate_pairs(df, threshold=0.5).collect()
    assert [(p.doc_a, p.doc_b) for p in pairs] == [(1, 2)]
    assert pairs[0].jaccard > 0.5


def test_minhash_on_corpus_finds_pairs(docs):
    pairs = near_duplicate_pairs(docs, threshold=0.8)
    rows = pairs.collect()
    assert len(rows) > 0  # generator plants near-dups
    assert all(0.8 <= r.jaccard <= 1.0 for r in rows)
    assert all(r.doc_a < r.doc_b for r in rows)


def test_deduplicate_removes_only_losers(docs):
    pairs = near_duplicate_pairs(docs, threshold=0.8)
    n_losers = pairs.select("doc_b").distinct().count()
    kept = deduplicate(docs, threshold=0.8)
    assert kept.count() == docs.count() - n_losers


def test_brute_force_self_similarity(emb):
    qv = emb.filter(F.col("vec_id") == 7).first().embedding
    top = topk_cosine(emb, qv, k=5).collect()
    assert top[0].vec_id == 7
    assert top[0].cosine_sim == pytest.approx(1.0, abs=1e-6)
    sims = [r.cosine_sim for r in top]
    assert sims == sorted(sims, reverse=True)


def test_lsh_recall_vs_brute_force(emb):
    """LSH top-10 must recover most of the exact top-10 (multi-probe h≤2)."""
    qv = emb.filter(F.col("vec_id") == 3).first().embedding
    planes = make_hyperplanes(dim=len(qv), n_planes=12, seed=7)
    exact = {r.vec_id for r in topk_cosine(emb, qv, k=10).collect()}
    approx = {r.vec_id for r in topk_cosine_lsh(emb, qv, planes, k=10, probe_hamming=3).collect()}
    recall = len(exact & approx) / 10
    assert recall >= 0.5, f"recall {recall} too low"


def test_lsh_code_shape(emb):
    planes = make_hyperplanes(64, n_planes=8)
    coded = with_lsh_code(emb, planes)
    row = coded.first()
    assert len(row.lsh_code) == 8
    assert set(row.lsh_code) <= {0, 1}


# ---------------- simhash ----------------


def test_simhash_properties(spark):
    from automated_etl_pipeline_spark.dedup.simhash import simhash_pairs, with_simhash

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    near = base.replace("kappa", "lambda")
    far = "one two three four five six seven eight nine ten"
    df = spark.createDataFrame(
        [(1, base), (2, base), (3, near), (4, far)], "doc_id long, text string"
    )
    sh = {r.doc_id: r.simhash for r in with_simhash(df).collect()}
    assert sh[1] == sh[2]  # identical text -> identical fingerprint
    assert len(sh[1]) == 16 and all(c in "0123456789abcdef" for c in sh[1])
    pairs = {(r.doc_a, r.doc_b): r.hamming for r in simhash_pairs(df, max_hamming=64).collect()}
    # identical fingerprints collapse to one representative (doc 1), so
    # (1, 2) is exact-dedup's output, not a near-dup pair here
    assert (1, 2) not in pairs
    # one-word-changed text is a candidate (shares a quarter) and close
    assert pairs[(1, 3)] <= 10
    # unrelated text shares no 16-bit quarter -> not even a candidate
    assert (1, 4) not in pairs and (3, 4) not in pairs


# ---------------- n-gram jaccard ----------------


def test_ngram_jaccard_exact_values(spark):
    from automated_etl_pipeline_spark.dedup.ngram_jaccard import jaccard_pairs

    a = "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10"
    b = "w1 w2 w3 w4 w5 w6 w7 w8 w9 zz"   # 7 of 8+8 trigram-shingles shared
    c = "x1 x2 x3 x4 x5 x6 x7 x8 x9 x10"
    df = spark.createDataFrame(
        [(1, a), (2, a), (3, b), (4, c)], "doc_id long, text string"
    )
    pairs = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in jaccard_pairs(df, threshold=0.5).collect()
    }
    assert pairs[(1, 2)] == 1.0
    # |A∩B| = 7, |A∪B| = 9  (8 shingles each, 7 shared)
    assert abs(pairs[(1, 3)] - 7 / 9) < 1e-6  # values rounded to 6 dp
    assert not any({x, y} & {4} for x, y in pairs)


def test_ngram_jaccard_hot_cap_drops_universal_shingle(spark):
    from automated_etl_pipeline_spark.dedup.ngram_jaccard import jaccard_pairs

    # every doc shares the same 3 tokens -> that shingle is "hot";
    # with the opt-in cap at 50% it cannot create candidates on its own
    rows = [(i, f"common shingle here u{i} v{i} w{i}") for i in range(10)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = jaccard_pairs(df, threshold=0.1, max_df_frac=0.5).collect()
    assert got == []
    # without the cap (the default), the prefix index is COMPLETE:
    # all 45 pairs share the hot shingle and have J = 1/7 >= 0.1
    full = jaccard_pairs(df, threshold=0.1).collect()
    assert len(full) == 45 and all(abs(r.jaccard - 1 / 7) < 1e-6 for r in full)


def test_ngram_jaccard_prefix_filter_is_complete(spark):
    """The PPJoin completeness theorem, pinned empirically: the prefix
    index must report EXACTLY the pairs a brute-force all-pairs Jaccard
    finds — no false negatives at any set-size mix (the v1 hot-cap +
    min-common index failed this)."""
    import itertools

    rng_rows = []
    # deterministic mixed corpus: clusters of near-dupes + singletons,
    # varied lengths so prefix lengths differ per doc
    for i in range(12):
        base = [f"t{i}_{j}" for j in range(4 + (i % 5))]
        rng_rows.append((2 * i, " ".join(base)))
        mutated = list(base)
        mutated[-1] = f"mut{i}"
        rng_rows.append((2 * i + 1, " ".join(mutated)))
    df = spark.createDataFrame(rng_rows, "doc_id long, text string")

    from automated_etl_pipeline_spark.dedup.minhash import shingle_set
    from automated_etl_pipeline_spark.dedup.ngram_jaccard import (
        jaccard_pairs,
        shingle_hash60,
    )
    from pyspark.sql import functions as F

    t = 0.3
    got = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in jaccard_pairs(df, threshold=t).collect()
    }
    sets = {
        r.doc_id: set(r.s)
        for r in df.select(
            "doc_id",
            F.array_distinct(
                F.transform(shingle_set(F.col("text"), 3), shingle_hash60)
            ).alias("s"),
        ).collect()
        if r.s
    }
    want = {}
    for a, b in itertools.combinations(sorted(sets), 2):
        inter = len(sets[a] & sets[b])
        j = round(inter / (len(sets[a]) + len(sets[b]) - inter), 6)
        if j >= t:
            want[(a, b)] = j
    assert got == want and len(want) > 0


# ---------------- ivf ----------------


def test_ivf_topk_matches_brute_force_within_probed_cells(spark, emb):
    from automated_etl_pipeline_spark.similarity.ivf import ivf_topk

    got = ivf_topk(emb, query_vec_id=0, k=5, nprobe=10)  # all cells probed
    from automated_etl_pipeline_spark.similarity.brute_force import topk_cosine

    qv = emb.filter(emb.vec_id == 0).first().embedding
    want = topk_cosine(emb, qv, k=5)
    assert [r.vec_id for r in got.collect()] == [r.vec_id for r in want.collect()]


# ---------------- lang id ----------------


def test_lang_id_on_real_snippets(spark):
    from automated_etl_pipeline_spark.functions.text import with_predicted_lang

    rows = [
        (1, "the quick brown fox jumps over the lazy dog and runs into the woods", "en"),
        (2, "der schnelle braune fuchs springt über den faulen hund und rennt", "de"),
        (3, "el rápido zorro marrón salta sobre el perro perezoso que está", "es"),
        (4, "le renard brun rapide saute par dessus le chien paresseux dans les bois", "fr"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    got = {r.doc_id: r.predicted_lang for r in with_predicted_lang(df).collect()}
    want = {r[0]: r[2] for r in rows}
    assert got == want


# ---------------- connected components ----------------


def test_connected_components_chain_and_singletons(spark):
    from automated_etl_pipeline_spark.dedup.cluster import (
        connected_components,
        dedup_keep_set,
    )

    vs = spark.createDataFrame([(i,) for i in range(1, 8)], "id long")
    es = spark.createDataFrame(
        [(1, 2), (2, 3), (5, 6)], "src long, dst long"  # chain 1-2-3; pair 5-6
    )
    comp = {r.id: r.component for r in connected_components(vs, es).collect()}
    assert comp == {1: 1, 2: 1, 3: 1, 4: 4, 5: 5, 6: 5, 7: 7}
    keep = {r.id for r in dedup_keep_set(vs, es).collect()}
    assert keep == {1, 4, 5, 7}  # one survivor per component


def test_connected_components_diameter_equals_max_iter(spark):
    """A chain whose diameter exactly equals max_iter must converge
    (the confirmation round is extra), not raise."""
    from automated_etl_pipeline_spark.dedup.cluster import connected_components

    n = 7  # path 0-1-2-...-6, diameter 6
    vs = spark.createDataFrame([(i,) for i in range(n)], "id long")
    es = spark.createDataFrame([(i, i + 1) for i in range(n - 1)], "src long, dst long")
    comp = {r.id: r.component for r in connected_components(vs, es, max_iter=6).collect()}
    assert comp == {i: 0 for i in range(n)}


def test_sign_code_vectorized_matches_hof(spark):
    """The Arrow matmul coding path must produce bit-identical codes to
    the sequential-fold HOF reference on the real testdata."""
    from pyspark.sql import functions as F

    from automated_etl_pipeline_spark.similarity.cosine_dedup import (
        sign_code,
        sign_code_vectorized,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    a = emb.select("vec_id", sign_code(F.col("embedding")).alias("c1"))
    b = emb.select("vec_id", sign_code_vectorized()(F.col("embedding")).alias("c2"))
    assert a.join(b, "vec_id").filter(F.col("c1") != F.col("c2")).count() == 0


def test_pagerank_matches_hand_computed_power_iteration(spark):
    """Triangle 1-2-3 (symmetric) plus isolated node 4, checked against
    an independent numpy power iteration with the same fixed-iteration,
    no-dangling-redistribution semantics."""
    import numpy as np

    from automated_etl_pipeline_spark.graph.pagerank import pagerank

    nodes = spark.createDataFrame([(1,), (2,), (3,), (4,)], ["doc_id"])
    und = [(1, 2), (2, 3), (1, 3)]
    edges = spark.createDataFrame(
        und + [(b, a) for a, b in und], ["src", "dst"]
    )
    got = {
        r.doc_id: r.pagerank
        for r in pagerank(nodes, edges, iters=5).collect()
    }

    n, d = 4, 0.85
    ids = [1, 2, 3, 4]
    adj = {1: [2, 3], 2: [1, 3], 3: [1, 2], 4: []}
    pr = {i: 1.0 / n for i in ids}
    for _ in range(5):
        nxt = {}
        for v in ids:
            s = sum(pr[u] / len(adj[u]) for u in ids if v in adj[u])
            nxt[v] = (1 - d) / n + d * s
        pr = nxt
    for i in ids:
        assert abs(got[i] - pr[i]) < 1e-9, (i, got[i], pr[i])
    # triangle nodes equal by symmetry; isolated node settles at (1-d)/N
    assert abs(got[4] - 0.15 / 4) < 1e-12
    assert abs(got[1] - got[2]) < 1e-12 and abs(got[2] - got[3]) < 1e-12


def test_int8_ann_recall_vs_float_baseline(spark):
    """Int8 scoring is an approximation of the float dot product — its
    top-20 must overlap the exact cosine top-20 heavily (the corpus
    vectors are near-unit-norm, so dot and cosine rank alike)."""
    import __spark_entry__ as entry_mod

    from tests.conftest import SF_SMOKE

    qs = entry_mod.queries()
    int8 = {r.vec_id for r in qs["ann_int8_topk"](spark, SF_SMOKE).collect()}
    emb = load_testdata(spark, SF_SMOKE, ["embeddings"])["embeddings"]
    qv = emb.filter(F.col("vec_id") == 0).first().embedding
    exact = {r.vec_id for r in topk_cosine(emb, qv, k=20).collect()}
    assert len(int8) == 20 and len(exact) == 20
    assert len(int8 & exact) >= 15, sorted(int8 & exact)


def test_incremental_ingest_dedup_conserves_batch(spark):
    import __spark_entry__ as entry_mod

    from tests.conftest import SF_SMOKE

    rows = entry_mod.queries()["incremental_ingest_dedup"](
        spark, SF_SMOKE
    ).collect()
    assert rows
    for r in rows:
        assert r.n_batch == r.exact_dups + r.near_dups + r.kept
        assert r.kept >= 0 and r.exact_dups >= 0 and r.near_dups >= 0
    # the hash split puts ~20% of docs in the batch
    assert 0.05 <= sum(r.n_batch for r in rows) / 500 <= 0.40


# ---------------- k-means ----------------


def test_kmeans_inertia_nonincreasing_and_deterministic(spark, emb):
    """Lloyd's invariants: total inertia never increases with more
    iterations, every vector is assigned exactly once, cluster ids
    stay in [0, k), and two runs are bit-identical (the determinism
    the oracle gate rests on)."""
    from automated_etl_pipeline_spark.similarity.kmeans import kmeans_assign

    from pyspark.sql import functions as F

    n = emb.count()
    inertias = []
    for iters in (1, 2, 3):
        a = kmeans_assign(emb, k=4, iters=iters)
        rows = a.collect()
        assert len(rows) == n
        assert all(0 <= r.cluster < 4 for r in rows)
        inertias.append(sum(r.d2 for r in rows))
    assert inertias[0] >= inertias[1] >= inertias[2]
    again = {(r.vec_id, r.cluster) for r in kmeans_assign(emb, k=4, iters=3).collect()}
    first = {(r.vec_id, r.cluster) for r in kmeans_assign(emb, k=4, iters=3).collect()}
    assert again == first


def test_kmeans_stats_match_assignment(spark, emb):
    """The stats rollup is a pure aggregate of the assignment — sizes
    sum to n and every reported cluster is non-empty."""
    from automated_etl_pipeline_spark.similarity.kmeans import (
        kmeans_cluster_stats,
    )

    stats = kmeans_cluster_stats(emb, k=4, iters=2).collect()
    assert sum(r.n_vecs for r in stats) == emb.count()
    assert all(r.n_vecs > 0 and r.avg_dist >= 0 for r in stats)


@pytest.mark.parametrize("sf", ["sf0.001", "sf0.01"])
def test_kmeans_balanced_sample_matches_duckdb_oracle(spark, sf):
    """The cluster-balanced sample against its DuckDB mirror, with the
    three-axis compare of tools/check_correctness.py (sorted columns,
    row count, normalized values): the Lloyd passes, the md5-of-id
    sample order and the per-cluster cap of 10 must all agree."""
    import duckdb

    from automated_etl_pipeline_spark.similarity.kmeans import (
        duckdb_balanced_sample_sql,
        kmeans_balanced_sample,
    )
    from tools.check_correctness import fetch_oracle, normalize, register_views

    sf_dir = f"/root/testdata/{sf}"
    emb = load_testdata(spark, sf_dir, ["embeddings"])["embeddings"]
    sdf = kmeans_balanced_sample(emb)
    cols = sorted(sdf.columns)
    got = [tuple(r[c] for c in cols) for r in sdf.collect()]
    con = duckdb.connect()
    try:
        register_views(con, sf_dir)
        want_cols, want = fetch_oracle(con, duckdb_balanced_sample_sql())
    finally:
        con.close()
    assert cols == want_cols
    assert len(got) == len(want)
    assert normalize(got) == normalize(want)
    # the cap binds: some cluster has more than 10 members
    assert max(r[cols.index("samp_rank")] for r in got) == 10


def test_jaccard_pairs_complete_vs_bruteforce(spark):
    """The PPJoin completeness theorem, verified INDEPENDENTLY of the
    DuckDB oracle (which mirrors the same prefix-filter algorithm and
    so could share an algorithmic blind spot): brute-force every
    (a, b) pair's exact trigram-set Jaccard in Python over the real
    sf0.001 corpus and require jaccard_pairs to report EXACTLY the
    pairs >= threshold with matching values."""
    from itertools import combinations

    from automated_etl_pipeline_spark.dedup.ngram_jaccard import jaccard_pairs
    from automated_etl_pipeline_spark.io.sources import load_testdata

    from tests.conftest import SF_SMOKE

    docs = load_testdata(spark, SF_SMOKE, ["documents"])["documents"].select(
        "doc_id", "text"
    )
    sets = {}
    for r in docs.collect():
        toks = r.text.split(" ")
        sh = {tuple(toks[i : i + 3]) for i in range(len(toks) - 2)}
        if sh:
            sets[r.doc_id] = sh
    expected = {}
    for a, b in combinations(sorted(sets), 2):
        inter = len(sets[a] & sets[b])
        if not inter:
            continue
        j = round(inter / (len(sets[a]) + len(sets[b]) - inter), 6)
        if j >= 0.6:
            expected[(a, b)] = j
    got = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in jaccard_pairs(docs, n=3, threshold=0.6).collect()
    }
    assert got == expected


def test_simhash_pairs_complete_vs_bruteforce(spark):
    """The 4-quarter pigeonhole completeness claim (hamming <= 3 on a
    64-bit fingerprint forces one identical 16-bit quarter), verified
    against brute-force hamming over the engine's own fingerprints on
    the real sf0.001 corpus — independent of the oracle, which mirrors
    the banding."""
    from itertools import combinations

    from automated_etl_pipeline_spark.dedup.simhash import (
        simhash_fp,
        simhash_pairs,
    )
    from automated_etl_pipeline_spark.io.sources import load_testdata

    from tests.conftest import SF_SMOKE

    docs = load_testdata(spark, SF_SMOKE, ["documents"])["documents"].select(
        "doc_id", "text"
    )
    # representatives: min doc_id per distinct fingerprint (the
    # documented pair domain — identical fps are exact-dedup's job)
    fps = {}
    for r in simhash_fp(docs).collect():
        key = (r.fp_hi, r.fp_lo)
        fps[key] = min(fps.get(key, r.doc_id), r.doc_id)
    reps = {doc: key for key, doc in fps.items()}
    expected = {}
    for a, b in combinations(sorted(reps), 2):
        (ha, la), (hb, lb) = reps[a], reps[b]
        ham = bin((ha ^ hb) & 0xFFFFFFFF).count("1") + bin(
            (la ^ lb) & 0xFFFFFFFF
        ).count("1")
        if ham <= 3:
            expected[(a, b)] = ham
    got = {
        (r.doc_a, r.doc_b): r.hamming
        for r in simhash_pairs(docs, max_hamming=3).collect()
    }
    assert got == expected


def test_winnowing_guarantee_vs_bruteforce(spark):
    """The winnowing guarantee (Schleimer et al.): any shared token run
    of length >= k + w - 1 between two documents MUST yield at least
    one shared fingerprint.  Brute-force the longest shared run for
    every pair on the real sf0.001 corpus and require every pair at or
    above the guarantee length to appear in fingerprint_pairs with
    min_shared=1 and no hot-cap (the uncapped library contract; the
    gate's min_shared=2 + df-cap are documented recall trade-offs)."""
    from itertools import combinations

    from automated_etl_pipeline_spark.dedup.winnow import fingerprint_pairs
    from automated_etl_pipeline_spark.io.sources import load_testdata

    from tests.conftest import SF_SMOKE

    K, W = 4, 5
    docs = load_testdata(spark, SF_SMOKE, ["documents"])["documents"].select(
        "doc_id", "text"
    )
    toks = {r.doc_id: r.text.split(" ") for r in docs.collect()}

    def longest_shared_run(a, b):
        # k-gram set intersection gives candidate starts; extend runs
        grams_b = {}
        for i in range(len(b) - K + 1):
            grams_b.setdefault(tuple(b[i : i + K]), []).append(i)
        best = 0
        for i in range(len(a) - K + 1):
            for j in grams_b.get(tuple(a[i : i + K]), ()):
                run = K
                while (
                    i + run < len(a)
                    and j + run < len(b)
                    and a[i + run] == b[j + run]
                ):
                    run += 1
                best = max(best, run)
        return best

    must_pair = set()
    ids = sorted(toks)
    for a, b in combinations(ids, 2):
        if longest_shared_run(toks[a], toks[b]) >= K + W - 1:
            must_pair.add((a, b))

    got = {
        (r.doc_a, r.doc_b)
        for r in fingerprint_pairs(
            docs, k=K, w=W, min_shared=1, max_df_frac=None
        ).collect()
    }
    missing = must_pair - got
    assert not missing, f"winnowing guarantee violated for: {sorted(missing)[:5]}"


# ---------------------------------------------------------------------------
# MinHash S-curve: MEASURED recall of the LSH candidate stage on a
# planted-pair corpus (VERDICT r6 ask #5 — the last probabilistic claim
# without an empirical pin; PPJoin/SimHash/winnowing have brute-force ones).
# ---------------------------------------------------------------------------


def _planted_pairs(n_shingles: int, pairs_per_j: int, targets):
    """Disjoint-token doc pairs with controlled shingle-set Jaccard.

    Each doc is a run of UNIQUE tokens, so its k=3 shingles are all
    distinct: a shared c-token prefix contributes exactly c-2 shared
    shingles, distinct suffixes contribute the rest, giving
    J = x / (2*n_shingles - x) with x = c-2.  Tokens are disjoint
    across pairs, so each pair's catch event is independent."""
    rows, meta = [], []
    n = n_shingles + 2
    did = 0
    for target in targets:
        x = round(2 * target * n_shingles / (1 + target))
        realized = x / (2 * n_shingles - x)
        c = x + 2
        for _ in range(pairs_per_j):
            shared = [f"s{did}_{j}" for j in range(c)]
            a = shared + [f"a{did}_{j}" for j in range(n - c)]
            b = shared + [f"b{did}_{j}" for j in range(n - c)]
            rows.append((did, " ".join(a)))
            rows.append((did + 1, " ".join(b)))
            meta.append((did, did + 1, realized))
            did += 2
    return rows, meta


def _measured_recall(spark, rows, meta, num_perm, bands):
    from automated_etl_pipeline_spark.dedup.minhash import candidate_pairs

    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r["id_a"], r["id_b"])
        for r in candidate_pairs(df, num_perm=num_perm, bands=bands).collect()
    }
    by_j: dict[float, list[bool]] = {}
    for id_a, id_b, j in meta:
        by_j.setdefault(j, []).append((id_a, id_b) in got)
    return {j: sum(hits) / len(hits) for j, hits in by_j.items()}


def test_planted_pair_construction_hits_target_jaccard(spark):
    """The construction's realized Jaccard must equal the EXACT
    shingle-set Jaccard the pipeline computes — else the recall curve
    would be measured against the wrong x-axis."""
    from automated_etl_pipeline_spark.dedup.minhash import shingle_set

    rows, meta = _planted_pairs(200, 1, targets=(0.5, 0.8, 0.95))
    df = spark.createDataFrame(rows, "doc_id long, text string").select(
        "doc_id", shingle_set("text").alias("sh")
    )
    sh = {r["doc_id"]: set(r["sh"]) for r in df.collect()}
    for id_a, id_b, realized in meta:
        a, b = sh[id_a], sh[id_b]
        exact = len(a & b) / len(a | b)
        assert abs(exact - realized) < 1e-12


@pytest.mark.parametrize(
    "num_perm,bands",
    [(12, 4), (64, 16)],  # default P=12/B=4/r=3; scale-out P=64/B=16/r=4
)
def test_minhash_s_curve_recall(spark, num_perm, bands):
    """Measured catch-rate of the LSH candidate stage vs the analytic
    S-curve 1-(1-J^r)^B, on 120 independent planted pairs per Jaccard
    level.  Upper AND lower 3-sigma envelopes: the lower bound pins the
    recall guarantee; the upper bound (low J) pins DISCRIMINATION — the
    degenerate-permutation failure mode described in minhash.py's MOD
    comment showed up exactly as low-J catch rates collapsing upward."""
    r = num_perm // bands
    rows, meta = _planted_pairs(
        200, 120, targets=(0.5, 0.7, 0.8, 0.85, 0.9, 0.95)
    )
    recall = _measured_recall(spark, rows, meta, num_perm, bands)
    for j, measured in sorted(recall.items()):
        analytic = 1 - (1 - j**r) ** bands
        sigma = (analytic * (1 - analytic) / 120) ** 0.5
        assert measured >= analytic - 3 * sigma - 0.01, (
            f"P={num_perm} B={bands}: recall at J={j:.3f} is {measured:.3f}, "
            f"analytic {analytic:.3f}"
        )
        assert measured <= analytic + 3 * sigma + 0.01, (
            f"P={num_perm} B={bands}: catch rate at J={j:.3f} is "
            f"{measured:.3f} vs analytic {analytic:.3f} — candidates "
            "explode; permutation family degenerate?"
        )
    # the headline numbers the module docstring states
    if (num_perm, bands) == (12, 4):
        j85 = min(j for j in recall if j >= 0.84)
        assert recall[j85] >= 0.93  # analytic 0.978 at J=0.85, -3 sigma
    else:
        j80 = min(j for j in recall if j >= 0.79)
        assert recall[j80] >= 0.985  # analytic 0.9998 at J=0.8


def test_semdedup_prunes_planted_semantic_dup(spark):
    """SemDeDup keep-min semantics on a planted pair: two near-identical
    vectors must land in one cluster and the higher id must be pruned;
    orthogonal fillers survive.  Also checks the accounting identity
    n_kept = n_vecs - n_pruned and conservation of n_vecs."""
    import random

    from automated_etl_pipeline_spark.similarity.semdedup import semdedup_report

    rng = random.Random(7)
    dim = 64

    def vec(seed_shift=0.0):
        return [rng.gauss(0, 1) + seed_shift for _ in range(dim)]

    base = vec()
    near = [x + 0.001 for x in base]  # cosine ~ 1.0
    rows = [(0, base), (1, near)] + [(i, vec()) for i in range(2, 40)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    rep = semdedup_report(emb, k=4, iters=2, threshold=0.95)
    r = {row["cluster"]: row for row in rep.collect()}
    assert sum(v["n_vecs"] for v in r.values()) == 40
    assert all(v["n_kept"] == v["n_vecs"] - v["n_pruned"] for v in r.values())
    assert sum(v["n_pruned"] for v in r.values()) == 1  # exactly the planted dup
    # id 1 (the higher of the planted pair) is the pruned one: re-run at a
    # threshold nothing else reaches and check pair direction via report
    assert sum(v["n_dup_pairs"] for v in r.values()) == 1


def test_semdedup_max_cluster_cap_skips_degenerate_cluster(spark):
    """A cluster over the cap must be skipped from pairing (all kept),
    mirroring the LSH max_bucket design."""
    from automated_etl_pipeline_spark.similarity.semdedup import semdedup_report

    # all vectors identical -> one giant cluster of pairwise cosine 1
    rows = [(i, [1.0] * 64) for i in range(30)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    capped = semdedup_report(emb, k=2, iters=2, threshold=0.9, max_cluster=10)
    for row in capped.collect():
        assert row["n_pruned"] == 0 and row["n_kept"] == row["n_vecs"]
    uncapped = semdedup_report(emb, k=2, iters=2, threshold=0.9, max_cluster=1000)
    tot = {"v": 0, "p": 0}
    for row in uncapped.collect():
        tot["v"] += row["n_vecs"]
        tot["p"] += row["n_pruned"]
    assert tot["v"] == 30 and tot["p"] == 29  # keep-min leaves exactly one


# ---------------- alternating-star connected components (r11) ----------------


def _py_components(n_vertices, edges):
    """Union-find oracle: id -> min reachable id."""
    parent = list(range(n_vertices))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {i: find(i) for i in range(n_vertices)}


def test_stars_matches_union_find_and_propagation(spark):
    import random

    from automated_etl_pipeline_spark.dedup.cluster import (
        connected_components,
        connected_components_stars,
    )

    rng = random.Random(1711)
    n = 60
    edges = [(rng.randrange(n), rng.randrange(n)) for _ in range(45)]
    vs = spark.createDataFrame([(i,) for i in range(n)], "id long")
    es = spark.createDataFrame(edges, "src long, dst long")
    want = _py_components(n, edges)
    got_stars = {
        r.id: r.component
        for r in connected_components_stars(vs, es).collect()
    }
    got_prop = {
        r.id: r.component for r in connected_components(vs, es).collect()
    }
    assert got_stars == want
    assert got_prop == want


def test_stars_converges_on_deep_chain_where_propagation_cannot(spark):
    """A 40-chain has diameter 39: min-label propagation at the default
    max_iter=25 must fail LOUDLY, while the alternating-star algorithm
    converges in O(log n) rounds — the 100 TB-shape difference."""
    import pytest

    from automated_etl_pipeline_spark.dedup.cluster import (
        connected_components,
        connected_components_stars,
    )

    n = 40
    vs = spark.createDataFrame([(i,) for i in range(n)], "id long")
    es = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "src long, dst long"
    )
    stats = {}
    got = {
        r.id: r.component
        for r in connected_components_stars(
            vs, es, max_iter=15, stats_out=stats
        ).collect()
    }
    assert got == {i: 0 for i in range(n)}
    # O(log n) shape: a diameter-39 chain must need far fewer than 39
    # alternating rounds (measured: ~7; assert a loose log-scale bound)
    assert 1 <= stats["rounds"] <= 12
    with pytest.raises(ValueError, match="did not converge"):
        connected_components(vs, es).collect()


def test_stars_empty_and_self_loop_edges(spark):
    from automated_etl_pipeline_spark.dedup.cluster import (
        connected_components_stars,
    )

    vs = spark.createDataFrame([(i,) for i in range(4)], "id long")
    # self-loops only => all singletons
    es = spark.createDataFrame([(2, 2)], "src long, dst long")
    got = {
        r.id: r.component
        for r in connected_components_stars(vs, es).collect()
    }
    assert got == {0: 0, 1: 1, 2: 2, 3: 3}
    empty = spark.createDataFrame([], "src long, dst long")
    got = {
        r.id: r.component
        for r in connected_components_stars(vs, empty).collect()
    }
    assert got == {0: 0, 1: 1, 2: 2, 3: 3}


from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

_CC_SETTINGS = dict(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


@given(
    n=st.integers(min_value=1, max_value=25),
    edges=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=24),
            st.integers(min_value=0, max_value=24),
        ),
        max_size=30,
    ),
)
@settings(**_CC_SETTINGS)
def test_stars_union_find_property(spark, n, edges):
    """Differential: alternating-star CC against union-find on random
    graphs including self-loops, duplicates, and out-of-range-clamped
    endpoints."""
    from automated_etl_pipeline_spark.dedup.cluster import (
        connected_components_stars,
    )

    edges = [(a % n, b % n) for a, b in edges]
    vs = spark.createDataFrame([(i,) for i in range(n)], "id long")
    es = (
        spark.createDataFrame(edges, "src long, dst long")
        if edges
        else spark.createDataFrame([], "src long, dst long")
    )
    got = {
        r.id: r.component
        for r in connected_components_stars(vs, es).collect()
    }
    assert got == _py_components(n, edges)
