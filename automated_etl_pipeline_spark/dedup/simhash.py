"""SimHash near-duplicate detection (Charikar 2002, as used in
Manku et al. 2007 for web-scale dedup).

64-bit content fingerprint: each distinct token votes ±1 on every bit
position (from its md5), the sign of the vote sum sets the bit; texts
with small Hamming distance between fingerprints are near-duplicates.

Portability design (mirrors dedup/minhash.py): token bits come from
md5 hex, parsed ONCE per token into two 32-bit integers (chars 1-8 →
bits 0-31, chars 9-16 → bits 32-63); ``bit_j(t) = (half >> (31 - j%32))
& 1``. The parse (`conv` in Spark, `('0x'||h)::BIGINT` in DuckDB) and
all downstream arithmetic are expressible identically in both engines,
so fingerprints (and pair results) are oracle-checkable.

Scale:
- Fingerprinting is a shuffle-free expression pass: one md5 + two
  hex-parses per distinct token, then ONE ``aggregate`` traversal per
  32-bit half with a 32-field struct accumulator (64 bit-counters
  total). Higher-order functions run outside whole-stage codegen, so
  the previous formulation — 64 separate ``filter``+``size`` scans of
  the token-hash array — paid 64 interpreted array traversals plus 64
  array allocations per row; the fused accumulator pays 2 traversals
  and no allocations (measured 2.5x at sf0.1).
- Pair generation first collapses identical fingerprints to one
  representative (min id) — exact-dup clusters otherwise contribute
  O(k^2) candidate pairs that belong to exact dedup, not near-dedup.
- Candidates band the 64-bit code into 4x16-bit quarters (pigeonhole:
  hamming <= 3 => at least one identical quarter), turning the O(n^2)
  scan into 4 hash joins — the standard Manku trick. Hot quarters
  (correlated bits) are the skew hazard; AQE skew-join splits them.
- Verification is two ``bit_count(xor())`` integer ops per candidate —
  no string work in the hot path.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

HEX = "0123456789abcdef"


def _bit_counters(arr: str) -> Column:
    """Fold a 32-bit-halves array into a struct of 32 per-bit set-counts
    in a single traversal (one interpreted HOF pass instead of 32)."""
    zero = F.struct(*[F.lit(0).cast("long").alias(f"c{j}") for j in range(32)])
    return F.aggregate(
        F.col(arr),
        zero,
        lambda acc, v: F.struct(
            *[
                (acc[f"c{j}"] + F.shiftright(v, 31 - j).bitwiseAND(F.lit(1))).alias(
                    f"c{j}"
                )
                for j in range(32)
            ]
        ),
    )


def simhash_bits(docs: DataFrame) -> DataFrame:
    """(id, bs) — the 64 fingerprint bits as an array<int> of 0/1."""
    toks = F.array_distinct(F.split(F.col("text"), " "))
    hashed = docs.select(
        F.col("doc_id"),
        F.transform(toks, lambda t: F.substring(F.md5(t), 1, 16)).alias("hm"),
    )
    parsed = hashed.select(
        "doc_id",
        F.transform(
            "hm", lambda m: F.conv(F.substring(m, 1, 8), 16, 10).cast("long")
        ).alias("h1"),
        F.transform(
            "hm", lambda m: F.conv(F.substring(m, 9, 8), 16, 10).cast("long")
        ).alias("h2"),
        F.size("hm").alias("n"),
    )
    counted = parsed.select(
        "doc_id",
        "n",
        _bit_counters("h1").alias("k1"),
        _bit_counters("h2").alias("k2"),
    )
    bit = lambda h, j: (  # noqa: E731
        F.when(2 * F.col(h)[f"c{j}"] > F.col("n"), F.lit(1)).otherwise(F.lit(0))
    )
    return counted.select(
        "doc_id",
        F.array(
            *[bit("k1", j) for j in range(32)],
            *[bit("k2", j) for j in range(32)],
        ).alias("bs"),
    )


def _half(lo: int) -> Column:
    return F.aggregate(
        F.slice("bs", lo, 32), F.lit(0).cast("long"), lambda acc, v: acc * 2 + v
    )


def simhash_fp(docs: DataFrame) -> DataFrame:
    """(id, fp_hi, fp_lo) — the fingerprint as two 32-bit ints (the
    pair pipeline's representation: no string work)."""
    return simhash_bits(docs).select(
        "doc_id", _half(1).alias("fp_hi"), _half(33).alias("fp_lo")
    )


def simhash_columns(docs: DataFrame) -> DataFrame:
    """(id, simhash hex, fp_hi, fp_lo) — the 64-bit fingerprint as a
    16-hex-char string plus its two 32-bit integer halves."""
    nibble = lambda nb: F.substring(  # noqa: E731
        F.lit(HEX),
        (
            1
            + 8 * F.element_at("bs", 4 * nb + 1)
            + 4 * F.element_at("bs", 4 * nb + 2)
            + 2 * F.element_at("bs", 4 * nb + 3)
            + F.element_at("bs", 4 * nb + 4)
        ),
        1,
    )
    return simhash_bits(docs).select(
        "doc_id",
        F.concat(*[nibble(nb) for nb in range(16)]).alias("simhash"),
        _half(1).alias("fp_hi"),
        _half(33).alias("fp_lo"),
    )


def with_simhash(docs: DataFrame) -> DataFrame:
    """(id, simhash) — distinct whitespace tokens, 64-bit hex code."""
    return simhash_columns(docs).select("doc_id", "simhash")


def simhash_pairs(
    docs: DataFrame,
    max_hamming: int = 3,
) -> DataFrame:
    """(doc_a, doc_b, hamming) with hamming(simhash) <= max_hamming,
    between *representatives of distinct fingerprints* (min id per
    fingerprint; identical-fingerprint members are exact-dedup's job —
    attach them via exact dedup / with_simhash). Candidate generation
    is 4-quarter banding, complete for max_hamming <= 3 by pigeonhole;
    larger max_hamming trades recall (documented, like any LSH).

    The rep table (one row per distinct fingerprint, 3 numeric cols)
    is localCheckpoint-ed: the banded self-join would otherwise
    re-execute the whole fingerprint pass for each side (broadcast
    build + probe are separate executions of the same subtree). At
    cluster scale use persist(MEMORY_AND_DISK) on the equivalent
    intermediate."""
    reps = (
        simhash_fp(docs)
        .groupBy("fp_hi", "fp_lo")
        .agg(F.min("doc_id").alias("doc_id"))
        .localCheckpoint()
    )
    quarter = lambda c, hi: (  # noqa: E731
        F.shiftright(F.col(c), 16).bitwiseAND(F.lit(0xFFFF))
        if hi
        else F.col(c).bitwiseAND(F.lit(0xFFFF))
    )
    banded = reps.select(
        "doc_id",
        "fp_hi",
        "fp_lo",
        F.explode(
            F.array(
                F.struct(F.lit(0).alias("q"), quarter("fp_hi", True).alias("qk")),
                F.struct(F.lit(1).alias("q"), quarter("fp_hi", False).alias("qk")),
                F.struct(F.lit(2).alias("q"), quarter("fp_lo", True).alias("qk")),
                F.struct(F.lit(3).alias("q"), quarter("fp_lo", False).alias("qk")),
            )
        ).alias("band"),
    ).select("doc_id", "fp_hi", "fp_lo", "band.q", "band.qk")
    a, b = banded.alias("a"), banded.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.q") == F.col("b.q"))
            & (F.col("a.qk") == F.col("b.qk"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.fp_hi").alias("ha"),
            F.col("a.fp_lo").alias("la"),
            F.col("b.fp_hi").alias("hb"),
            F.col("b.fp_lo").alias("lb"),
        )
        .distinct()
    )
    hamming = F.bit_count(F.col("ha").bitwiseXOR(F.col("hb"))) + F.bit_count(
        F.col("la").bitwiseXOR(F.col("lb"))
    )
    return (
        cand.withColumn("hamming", hamming)
        .filter(F.col("hamming") <= max_hamming)
        .select("doc_a", "doc_b", "hamming")
    )


# ---------------------------------------------------------------------------
# DuckDB oracle builders (same arithmetic, same literals)
# ---------------------------------------------------------------------------

_ORACLE_FP_CTE = """
    WITH tok AS (
      SELECT doc_id, list_distinct(string_split(text, ' ')) AS toks FROM documents
    ), hashed AS (
      SELECT doc_id,
        list_transform(toks, t -> ('0x' || substr(md5(t), 1, 8))::BIGINT) AS h1,
        list_transform(toks, t -> ('0x' || substr(md5(t), 9, 8))::BIGINT) AS h2,
        len(toks) AS n
      FROM tok
    ), bitsv AS (
      SELECT doc_id,
        list_transform(range(0, 32), j ->
          CASE WHEN 2 * len(list_filter(h1, v -> ((v >> (31 - j)) & 1) = 1)) > n
               THEN 1 ELSE 0 END)
        || list_transform(range(0, 32), j ->
          CASE WHEN 2 * len(list_filter(h2, v -> ((v >> (31 - j)) & 1) = 1)) > n
               THEN 1 ELSE 0 END) AS bs
      FROM hashed
    ), sh AS (
      SELECT doc_id,
        array_to_string(list_transform(range(0, 16), nb ->
          substr('0123456789abcdef',
            1 + 8*bs[4*nb+1] + 4*bs[4*nb+2] + 2*bs[4*nb+3] + bs[4*nb+4], 1)), '') AS simhash,
        list_reduce(list_transform(bs[1:32], x -> x::BIGINT), (a, b) -> a * 2 + b) AS fp_hi,
        list_reduce(list_transform(bs[33:64], x -> x::BIGINT), (a, b) -> a * 2 + b) AS fp_lo
      FROM bitsv
    )
"""


def fingerprint_oracle_sql() -> str:
    """Oracle for with_simhash over the ``documents`` view."""
    return _ORACLE_FP_CTE + "SELECT doc_id, simhash FROM sh ORDER BY doc_id"
