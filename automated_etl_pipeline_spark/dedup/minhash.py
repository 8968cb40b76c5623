"""MinHash + LSH near-duplicate detection (LLM-pipeline extension).

Pipeline: tokenize → k-shingle → MinHash signature → LSH banding →
candidate pairs → exact-Jaccard verification. The standard near-dedup
cascade for LLM training corpora (Broder 1997's resemblance sketch;
banding analysis as in Mining of Massive Datasets ch.3).

Engine-portability design: each shingle is md5-hashed ONCE, its first
8 hex chars parsed to a 32-bit integer h, and the P permutations are
the universal family ``h_p = (A_p * (h mod M) + B_p) mod M`` with
M = 2^31 - 1 (A/B fixed literals; see the MOD comment for why M must
be small) — identical arithmetic in Spark (`conv`) and DuckDB
(`('0x'||..)::BIGINT`), so the whole pipeline is oracle-checkable
(unlike engine-native hash(): xxhash64 vs murmur). One md5 per shingle
instead of P: hashing dominates signature cost, so this is ~P times
cheaper than the md5-per-(perm,shingle) formulation it replaced.

Scale analysis (100 TB corpus):
- Signatures are pure higher-order-function column expressions — zero
  shuffles, zero Python; O(|shingles|) md5 + O(P·|shingles|) integer
  ops per row inside codegen.
- The only shuffles are (a) groupBy(band_idx, band_hash) whose input is
  docs × B rows of ~50 bytes, (b) the pair self-join on doc ids.
- Bucket skew (a boilerplate shingle-set shared by millions of docs)
  is the classic hazard: a fixed 1000-id cap bounds pair blowup per bucket and
  AQE skew-join handles the joins.

With P=12 permutations in B=4 bands × r=3 rows, the S-curve threshold
is (1/B)^(1/r) ≈ 0.63 and the catch probability is 1-(1-J³)⁴ — 94% at
J = 0.8, ≥ 98% at J ≥ 0.85 (an earlier revision overstated this as
"≥ 97% at J ≥ 0.8").  MEASURED, not just derived: a 120-pairs-per-
level planted-pair sweep pins the empirical catch rate to the analytic
curve within 3σ at both P=12/B=4 and P=64/B=16, upper AND lower bounds
(tests/test_dedup_similarity.py::test_minhash_s_curve_recall; e.g.
measured 0.933 at J=0.80, 0.983 at J=0.85, 1.000 at J≥0.90 for the
default parameters).  Recall-critical runs should use P=64/B=16/r=4,
measured at 1.000 for every level J ≥ 0.70.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

DEFAULT_NUM_PERM = 12
DEFAULT_BANDS = 4
DEFAULT_SHINGLE_K = 3

# Fixed literal permutation tables, shared by the Spark expressions
# and the generated oracle SQL.
# The family is h_p = (A_p * (h mod M) + B_p) mod M with M = 2^31 - 1
# (Mersenne prime). M MUST be small relative to A*h: with a large M
# (an earlier revision used 2^61 - 1) the product wraps only ~3 times,
# leaving each "permutation" piecewise-monotone in h — the 12 minima
# then correlate, LSH bands collide together, and candidate counts
# explode ~20x while the S-curve guarantee silently degrades. With
# M = 2^31 - 1 the product wraps ~A times (proper universal mixing)
# and A*(h mod M) + B < 2^62 + 2^31 never overflows BIGINT in either
# engine.
# A and B come from INDEPENDENT seeded streams, each drawn once at
# MAX_NUM_PERM: the first k entries are a pure function of the seed
# regardless of k, so raising num_perm (<= MAX) never re-keys existing
# signatures.
MOD = (1 << 31) - 1
MAX_NUM_PERM = 64
import numpy as _np  # noqa: E402

PERM_A: list[int] = [
    int(a) for a in _np.random.default_rng(17).integers(1, MOD, MAX_NUM_PERM)
]
PERM_B: list[int] = [
    int(b) for b in _np.random.default_rng(170).integers(0, MOD, MAX_NUM_PERM)
]


def _check_num_perm(num_perm: int) -> None:
    if not 1 <= num_perm <= MAX_NUM_PERM:
        raise ValueError(
            f"num_perm must be in [1, {MAX_NUM_PERM}] (got {num_perm}); "
            "raise MAX_NUM_PERM to extend the shared permutation table"
        )


def shingle_set(text: Column | str, k: int = DEFAULT_SHINGLE_K) -> Column:
    """Distinct k-token shingles of a whitespace-tokenized text; empty
    array for texts shorter than k tokens (the single shared shingle
    definition — ngram_jaccard verifies against it too)."""
    t = F.split(F.col(text) if isinstance(text, str) else text, " ")
    idx = F.sequence(F.lit(1), F.size(t) - (k - 1))
    gram = lambda i: F.concat_ws(  # noqa: E731
        " ", *[F.element_at(t, i + j) for j in range(k)]
    )
    return F.when(
        F.size(t) >= k, F.array_distinct(F.transform(idx, gram))
    ).otherwise(F.array().cast("array<string>"))


def shingle_hashes(shingles: Column) -> Column:
    """One 32-bit integer hash per shingle (single md5 each)."""
    return F.transform(
        shingles, lambda s: F.conv(F.substring(F.md5(s), 1, 8), 16, 10).cast("long")
    )


def signature_from_hashes(hv: Column, num_perm: int = DEFAULT_NUM_PERM) -> Column:
    """P-element bigint signature from precomputed shingle hashes: per
    permutation p, min over shingles of (A_p * h + B_p) mod M.

    IMPORTANT: pass ``hv`` as an already-materialized column (its own
    projection step). Higher-order functions sit outside whole-stage
    codegen, so Spark does no common-subexpression elimination across
    the P array_min expressions — inlining the md5 pass here would
    recompute it P times.
    """
    _check_num_perm(num_perm)
    return F.array(
        *[
            F.array_min(
                F.transform(
                    hv,
                    lambda v: (F.lit(PERM_A[p]) * (v % F.lit(MOD)) + F.lit(PERM_B[p]))
                    % F.lit(MOD),
                )
            )
            for p in range(num_perm)
        ]
    )


def lsh_bands(sig: Column, bands: int, rows_per_band: int) -> Column:
    """Array of (band_idx, band_hash): md5 over each signature slice."""
    return F.transform(
        F.sequence(F.lit(0), F.lit(bands - 1)),
        lambda b: F.struct(
            b.alias("band_idx"),
            F.md5(
                F.concat_ws(
                    "|",
                    F.transform(
                        F.slice(sig, b * rows_per_band + 1, rows_per_band),
                        lambda v: v.cast("string"),
                    ),
                )
            ).alias("band_hash"),
        ),
    )


def shingle_table(docs: DataFrame) -> DataFrame:
    """(doc_id, shingles) localCheckpoint-ed: the LSH banding and the two
    verification joins all consume it, and each would otherwise
    re-execute the tokenize+shingle pass (persist(MEMORY_AND_DISK) at
    cluster scale)."""
    return (
        docs.filter(F.size(F.split("text", " ")) >= DEFAULT_SHINGLE_K)
        .select(F.col("doc_id"), shingle_set("text").alias("shingles"))
        .localCheckpoint()
    )


def candidate_pairs(
    docs: DataFrame,
    num_perm: int = DEFAULT_NUM_PERM,
    bands: int = DEFAULT_BANDS,
    _sh: DataFrame | None = None,
) -> DataFrame:
    """Distinct LSH candidate pairs (id_a < id_b).

    Buckets of more than 1000 ids are dropped: such degenerate buckets
    (near-identical boilerplate shared by huge doc sets) have a
    quadratic pair count, and those docs are better handled by exact
    dedup upstream.
    """
    rows_per_band = num_perm // bands
    sh = _sh if _sh is not None else shingle_table(docs)
    hv = sh.select("doc_id", shingle_hashes(F.col("shingles")).alias("hv"))
    sig = hv.select("doc_id", signature_from_hashes(F.col("hv"), num_perm).alias("sig"))
    banded = sig.select(
        "doc_id", F.explode(lsh_bands(F.col("sig"), bands, rows_per_band)).alias("band")
    ).select("doc_id", "band.band_idx", "band.band_hash")
    buckets = (
        banded.groupBy("band_idx", "band_hash")
        .agg(F.sort_array(F.collect_set("doc_id")).alias("ids"))
        .filter((F.size("ids") > 1) & (F.size("ids") <= 1000))
    )
    # pairs within each bucket via nested HOFs (no UDF):
    pairs = F.flatten(
        F.transform(
            F.col("ids"),
            lambda x, i: F.transform(
                F.slice(F.col("ids"), i + 2, F.size(F.col("ids"))),
                lambda y: F.struct(x.alias("id_a"), y.alias("id_b")),
            ),
        )
    )
    return (
        buckets.select(F.explode(pairs).alias("p"))
        .select(F.col("p.id_a"), F.col("p.id_b"))
        .distinct()
    )


def near_duplicate_pairs(
    docs: DataFrame,
    threshold: float = 0.8,
) -> DataFrame:
    """Verified near-dup pairs: LSH candidates with exact shingle-set
    Jaccard ≥ threshold → (doc_a, doc_b, jaccard)."""
    sh = shingle_table(docs)
    cands = candidate_pairs(docs, _sh=sh)
    a = sh.select(F.col("doc_id").alias("id_a"), F.col("shingles").alias("sh_a"))
    b = sh.select(F.col("doc_id").alias("id_b"), F.col("shingles").alias("sh_b"))
    jac = F.size(F.array_intersect("sh_a", "sh_b")).cast("double") / F.size(
        F.array_union("sh_a", "sh_b")
    )
    return (
        cands.join(a, "id_a")
        .join(b, "id_b")
        .select(
            F.col("id_a").alias("doc_a"),
            F.col("id_b").alias("doc_b"),
            F.round(jac, 6).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def deduplicate(
    docs: DataFrame,
    threshold: float = 0.8,
) -> DataFrame:
    """Drop the higher-id member of every near-dup pair (greedy keep-min;
    one-hop, not transitive closure — iterate for full clustering)."""
    pairs = near_duplicate_pairs(docs, threshold)
    losers = pairs.select(F.col("doc_b").alias("doc_id")).distinct()
    return docs.join(losers, "doc_id", "left_anti")


# ---------------------------------------------------------------------------
# DuckDB oracle builder (same shingles, same affine permutations)
# ---------------------------------------------------------------------------


def pairs_cte_sql(source: str = "documents") -> str:
    """CTE chain (no leading WITH) ending in ``mh_pairs`` (Jaccard >= 0.8)
    — spliceable into larger oracle queries (e.g. the dedup cascade)."""
    rows_per_band = DEFAULT_NUM_PERM // DEFAULT_BANDS
    mins = ", ".join(
        f"list_min(list_transform(h, v -> "
        f"({PERM_A[p]} * (v % {MOD}) + {PERM_B[p]}) % {MOD}))"
        for p in range(DEFAULT_NUM_PERM)
    )
    return f"""tok AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM {source}
      WHERE len(string_split(text, ' ')) >= 3
    ), sh AS (
      SELECT doc_id,
             list_distinct(list_transform(range(1, len(t) - 1),
               i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS s
      FROM tok
    ), hv AS (
      SELECT doc_id, s,
             list_transform(s, x -> ('0x' || substr(md5(x), 1, 8))::BIGINT) AS h
      FROM sh
    ), sig AS (
      SELECT doc_id, [{mins}] AS sg FROM hv
    ), bands AS (
      SELECT doc_id, b.b AS band_idx,
             md5(array_to_string(sg[b.b*{rows_per_band} + 1 : b.b*{rows_per_band} + {rows_per_band}], '|')) AS band_hash
      FROM sig CROSS JOIN (SELECT UNNEST(range(0, {DEFAULT_BANDS})) AS b) b
    ), cand AS (
      SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
      FROM bands x JOIN bands y
        ON x.band_idx = y.band_idx AND x.band_hash = y.band_hash
       AND x.doc_id < y.doc_id
    ), mh_pairs AS (
      SELECT doc_a, doc_b,
             ROUND(len(list_filter(a.s, v -> list_contains(b.s, v)))::DOUBLE
                   / len(list_distinct(a.s || b.s)), 6) AS jaccard
      FROM cand JOIN sh a ON cand.doc_a = a.doc_id
                JOIN sh b ON cand.doc_b = b.doc_id
      WHERE len(list_filter(a.s, v -> list_contains(b.s, v)))::DOUBLE
            / len(list_distinct(a.s || b.s)) >= 0.8
    )"""


def build_oracle_sql() -> str:
    """Oracle for near_duplicate_pairs(threshold=0.8) over the
    ``documents`` view.

    Note: the 1000-id bucket cap is not replicated — equivalence holds
    whenever no bucket exceeds the cap (true at oracle scale).
    """
    return (
        "WITH "
        + pairs_cte_sql()
        + "\n    SELECT doc_a, doc_b, jaccard FROM mh_pairs ORDER BY doc_a, doc_b"
    )
