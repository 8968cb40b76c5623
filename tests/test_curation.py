"""Invariants for the corpus-curation gates (repetition flags, mixture
weights, train/val/test split) beyond the DuckDB value gate: bounds,
conservation, and the temperature-flattening property."""

from __future__ import annotations

import __spark_entry__ as entry_mod

from tests.conftest import SF_SMOKE


def test_repetition_fractions_bounded_and_flag_consistent(spark):
    rows = entry_mod.queries()["repetition_quality_flags"](
        spark, SF_SMOKE
    ).collect()
    assert rows
    for r in rows:
        assert 0.0 < r.top_bigram_frac <= 1.0
        assert 0.0 <= r.dup_trigram_frac <= 1.0
        assert r.flagged == (
            r.top_bigram_frac > 0.18 or r.dup_trigram_frac > 0.30
        )


def test_mixture_weights_flatten_toward_uniform(spark):
    rows = entry_mod.queries()["source_mixture_weights"](
        spark, SF_SMOKE
    ).collect()
    assert len(rows) >= 2
    assert abs(sum(r.mixture_weight for r in rows) - 1.0) < 1e-4
    assert abs(sum(r.token_share for r in rows) - 1.0) < 1e-4
    # w/p = p^(alpha-1)/S is strictly decreasing in p for alpha < 1:
    # smaller sources always get the larger oversample factor
    ordered = sorted(rows, key=lambda r: r.token_share)
    factors = [r.oversample_factor for r in ordered]
    assert factors == sorted(factors, reverse=True)
    # and any source below uniform share is strictly upweighted
    # (p < 1/n <= crossover, by the power-mean bound on S)
    for r in rows:
        if r.token_share < 1.0 / len(rows) - 1e-9:
            assert r.oversample_factor > 1.0, r


def test_split_conserves_docs_and_tokens(spark):
    """split_leakage_audit's md5 90/5/5 split: every document lands in
    exactly one split (the fingerprint-grain join back must not fan
    out), the three splits are all present, and the md5 buckets are
    near-uniform.  The audit reports no token column, so token
    conservation is checked on the same split expression the audit
    and its oracle use."""
    from pyspark.sql import functions as F

    from automated_etl_pipeline_spark.io.sources import load_testdata

    rows = entry_mod.queries()["split_leakage_audit"](
        spark, SF_SMOKE
    ).collect()
    docs = load_testdata(spark, SF_SMOKE, ["documents"])["documents"]
    tot = docs.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.size(F.split("text", " "))).alias("tok"),
    ).first()
    assert sum(r.n_docs for r in rows) == tot.n
    by_split = {r.split: r for r in rows}
    assert set(by_split) == {"train", "val", "test"}
    for r in rows:
        assert 0 <= r.n_leaked_docs <= r.n_docs
    # md5 buckets are near-uniform: 90/5/5 within wide tolerance at 500 docs
    assert 0.80 <= by_split["train"].n_docs / tot.n <= 0.97
    bucket = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10
    ).cast("long") % 100
    split = (
        F.when(bucket < 90, "train").when(bucket < 95, "val").otherwise("test")
    )
    per_split = {
        r.split: (r.n, r.tok)
        for r in docs.groupBy(split.alias("split"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.size(F.split("text", " "))).alias("tok"),
        )
        .collect()
    }
    assert {k: n for k, (n, _) in per_split.items()} == {
        k: r.n_docs for k, r in by_split.items()
    }
    assert sum(t for _, t in per_split.values()) == tot.tok


def test_pii_patterns_redact_fixtures(spark):
    """functions/redact.py built-in PII patterns on literal fixtures
    (the synthetic corpus has no PII; the gate exercises the denylist
    path — this exercises the shipped email/phone/ip/ssn patterns)."""
    from pyspark.sql import functions as F

    from automated_etl_pipeline_spark.functions.redact import (
        PII_PATTERNS,
        match_count,
        redact,
        total_match_count,
    )

    rows = [
        ("contact alice.smith+x@example.co.uk or bob@sub.domain.org now", 2),
        ("call +1 (555) 123-4567 today", 1),
        # dotted-quads match BOTH ipv4 and the phone pattern (digit +
        # 6+ separator-or-digit + digit) — scrub-volume double-counts
        # overlapping patterns by design; the text is still scrubbed once
        ("server at 10.0.255.7 and 192.168.1.1", 4),
        ("ssn 123-45-6789 on file", 2),  # ssn + phone overlap, as above
        ("nothing sensitive here", 0),
    ]
    df = spark.createDataFrame(rows, ["text", "expected"])
    got = df.select(
        "expected",
        total_match_count(F.col("text")).alias("n"),
        redact(F.col("text")).alias("clean"),
    ).collect()
    for r in got:
        assert r.n == r.expected, r
    # every sensitive span is gone from the redacted text
    joined = " ".join(r.clean for r in got)
    for frag in ("@", "555", "10.0.255.7", "123-45-6789"):
        assert frag not in joined
    # per-pattern counts are individually correct on a mixed row
    mixed = spark.createDataFrame(
        [("a@b.io and 1.2.3.4 and 123-45-6789",)], ["text"]
    ).select(
        *[
            match_count(F.col("text"), p).alias(k)
            for k, p in PII_PATTERNS.items()
        ]
    ).first()
    assert (mixed.email, mixed.ipv4, mixed.ssn) == (1, 1, 1)


def test_source_cap_respects_cap_and_is_deterministic(spark):
    """quota_stratified_sample caps each source at its quota by an
    md5(doc_id)-ordered take: the kept count never exceeds the quota,
    the quotas sum to the 100-doc budget, and a re-run keeps the same
    survivors (same id checksum) — no RNG."""
    q = entry_mod.queries()["quota_stratified_sample"]
    a = {r.source: r for r in q(spark, SF_SMOKE).collect()}
    b = {r.source: r for r in q(spark, SF_SMOKE).collect()}
    assert a and set(a) == set(b)
    assert sum(r.quota for r in a.values()) == 100
    for src, r in a.items():
        assert 0 <= r.n_sampled <= r.quota
        assert r.n_sampled == b[src].n_sampled
        assert r.id_checksum == b[src].id_checksum  # same survivors


def test_int8_quantization_bounds_and_roundtrip(spark):
    """Codes in [-127,127], worst dequant error <= 0.5/scale, and the
    all-zero vector degenerates safely (scale 0, codes 0, err 0)."""
    from pyspark.sql import functions as F

    from automated_etl_pipeline_spark.similarity.quantize import with_int8

    rows = [
        (1, [0.5, -1.0, 0.25, 0.0]),
        (2, [1e-3, -1e-3, 5e-4, 2e-4]),
        (3, [0.0, 0.0, 0.0, 0.0]),
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"]).select(
        "vec_id", F.col("embedding").cast("array<float>").alias("embedding")
    )
    out = {r.vec_id: r for r in with_int8(df).collect()}
    for r in out.values():
        assert all(-127 <= c <= 127 for c in r.q_codes)
        if r.q_scale > 0:
            assert max(abs(c) for c in r.q_codes) == 127
            assert r.q_max_err <= 0.5 / r.q_scale + 1e-12
    z = out[3]
    assert z.q_scale == 0.0 and set(z.q_codes) == {0} and z.q_max_err == 0.0


def test_weighted_sample_aes_keys_and_determinism(spark):
    q = entry_mod.queries()["weighted_sample_aes"]
    a = q(spark, SF_SMOKE).collect()
    b = q(spark, SF_SMOKE).collect()
    assert [r.doc_id for r in a] == [r.doc_id for r in b]
    assert len(a) == min(50, len(a)) and len(a) > 0
    for r in a:
        assert 0.0 < r.weight <= 1.0
        assert 0.0 <= r.sample_key <= 1.0
    keys = [r.sample_key for r in a]
    assert keys == sorted(keys, reverse=True)


def test_span_ops_empty_when_no_duplicates(spark):
    """A corpus with zero repeated windows must yield EMPTY reports
    from both span gates (not errors, not all-zero rows)."""
    from automated_etl_pipeline_spark.dedup.spans import (
        removal_spans,
        span_report,
    )

    docs = spark.createDataFrame(
        [(i, " ".join(f"w{i}_{j}" for j in range(8))) for i in range(4)],
        "doc_id long, text string",
    )
    assert span_report(docs, w=3).count() == 0
    assert removal_spans(docs, w=3).count() == 0


def test_span_removal_identical_docs_keep_owner_whole(spark):
    """Two identical docs: the lower doc_id is the owner (untouched);
    the higher one's ENTIRE text becomes one removal span."""
    from automated_etl_pipeline_spark.dedup.spans import removal_spans

    text = " ".join(f"t{j}" for j in range(10))
    docs = spark.createDataFrame(
        [(1, text), (2, text)], "doc_id long, text string"
    )
    rows = removal_spans(docs, w=3).collect()
    assert len(rows) == 1
    r = rows[0]
    assert r.doc_id == 2
    assert (r.n_spans, r.tokens_removed, r.n_tokens, r.tokens_kept) == (
        1,
        10,
        10,
        0,
    )


def test_curation_e2e_all_filtered_is_empty_not_error(spark):
    """corpus_curation_e2e-style pipeline over docs that all fail the
    quality gate (too short) returns an empty report cleanly."""
    import __spark_entry__ as entry_mod

    # drive the registered callable against a temp dir with a tiny
    # documents table of all-too-short docs
    import tempfile

    with tempfile.TemporaryDirectory() as d:
        docs = spark.createDataFrame(
            [(i, "a b", "en", "src0", 3) for i in range(5)],
            "doc_id long, text string, lang string, source string, n_chars int",
        )
        docs.write.mode("overwrite").parquet(f"{d}/documents.parquet")
        out = entry_mod.queries()["corpus_curation_e2e"](spark, d)
        assert out.count() == 0
