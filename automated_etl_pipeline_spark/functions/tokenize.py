"""Byte-pair-encoding tokenizer — train, encode, decode, fidelity.

The tokenizer-construction primitive of a training-data pipeline
(Sennrich et al. 2016 BPE, the scheme under GPT-2/RoBERTa-class
vocabularies), structured the way it actually scales:

- **The only corpus-scale pass is a word count.**  Classic BPE
  training never touches the raw corpus: it operates on the WORD
  FREQUENCY table (distinct whitespace words + counts), whose size is
  bounded by vocabulary growth (Heaps' law — ~1e6-1e7 distinct words
  for a 100 TB web corpus), not corpus size.  ``word_freq`` is one
  partial-aggregated ``groupBy(word).count()`` shuffle; training then
  runs driver-side on the reduced table (a bounded collect with an
  explicit cap guard, the ``pack_sequences`` precedent), and the
  learned merge list broadcasts back for encoding.  At 100 TB you
  additionally train on a hash-stratified sample
  (``operators/apportion`` / ``sample_stratified_hash``) exactly as
  production tokenizers do — the merge table converges long before
  the full corpus is counted.
- **Encoding is a stateless Arrow-batched map.**  ``encode_udf``
  applies the broadcast merge ranks per word inside a pandas UDF
  (the legitimate Python path: BPE's while-loop merge resolution is
  not expressible as column algebra), with a per-batch word cache —
  Zipf's law makes the hit rate ~95%+ so the amortized cost per
  token is a dict lookup.  No state, no shuffle: the encode stage
  pipelines with whatever scan feeds it.
- **Fidelity is a checkable invariant, not a hope.**  Pure BPE is
  lossless by construction on its training alphabet: merges only ever
  concatenate, so ``detokenize(tokenize(x))`` reproduces ``x`` up to
  the declared whitespace normalization (single-space word joins —
  the same normalization every whitespace tokenizer in this repo
  applies).  Characters never seen in training remain single-char
  tokens (open-vocabulary: nothing is ever OOV).  The round-trip
  equality and the token-count consistency checks in
  tests/test_tokenize.py pin this on real testdata documents plus
  unicode/emoji edge frames.

Reference behavior parity: the reference repo has no tokenizer
(its text handling stops at pandas column cleaning,
spark_etl_job.py:47-61); this module is part of the LLM-pipeline
superset the build brief requires.  Determinism contract: merge
selection breaks count ties lexicographically on the pair, so the
learned vocabulary is a pure function of the word-frequency table —
two runs (or two clusters) over the same corpus learn identical
merges.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

# End-of-word sentinel appended to each word's final symbol so merges
# can distinguish word-final from word-internal contexts (word-final
# "est" in "lowest" vs word-internal "est" in "estimate") — the
# standard Sennrich construction.  The marker must be OUT OF BAND or
# decoding is ambiguous: a corpus word containing the literal marker
# string would round-trip corrupted (the textbook "</w>" has exactly
# this flaw for text that mentions "</w>").  A private-use-area
# codepoint keeps the marker out of any natural corpus; input that
# nevertheless contains it is rejected loudly (ValueError) rather
# than silently corrupted — the same reject-don't-corrupt contract as
# the cent-moment UDAFs.  Because the marker can only ever be
# APPENDED to a word-final symbol, and a word-final symbol is never
# the left element of a merge (it has no right neighbor), every
# token contains the marker at most once, token-final — so decoding
# by replace(marker, " ") is unambiguous.
EOW = "\ue000"

# Driver-side training operates on the REDUCED word-frequency table;
# this cap turns "the reduce didn't reduce" into a loud error instead
# of a driver OOM (same contract as pack_sequences' bounded collect).
MAX_TRAIN_WORDS = 2_000_000


def word_freq(docs: DataFrame) -> DataFrame:
    """(word, freq) over whitespace-split ``text`` — the single
    corpus-scale pass of BPE training (module docstring).  Empty
    strings from repeated spaces are dropped."""
    return (
        docs.select(F.explode(F.split(F.col("text"), " ")).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
    )


def _word_symbols(word: str) -> tuple[str, ...]:
    """Initial symbol sequence: characters, last one carrying EOW.
    Rejects words containing the reserved marker (module comment)."""
    if EOW in word:
        raise ValueError(
            "tokenize: input contains the reserved end-of-word marker"
            " U+E000 (private use area); strip or remap it upstream"
        )
    chars = list(word)
    chars[-1] = chars[-1] + EOW
    return tuple(chars)


def learn_bpe_merges(
    freq: DataFrame, n_merges: int, max_words: int = MAX_TRAIN_WORDS
) -> list[tuple[str, str]]:
    """Learn ``n_merges`` BPE merges from a ``word_freq`` frame.

    Collects the reduced (word, freq) table (cap-guarded) and runs the
    classic algorithm: repeatedly merge the most frequent adjacent
    symbol pair, ties broken lexicographically on the pair so the
    result is deterministic.  Stops early if no pair occurs twice.
    Returns the ordered merge list — order IS the merge priority.
    """
    rows = freq.limit(max_words + 1).collect()
    if len(rows) > max_words:
        raise ValueError(
            f"learn_bpe_merges: word-frequency table exceeds the"
            f" {max_words}-row driver budget — train on a sample"
            " (sample_stratified_hash) or raise max_words deliberately"
        )
    vocab: dict[tuple[str, ...], int] = {}
    for r in rows:
        k = _word_symbols(r["word"])
        vocab[k] = vocab.get(k, 0) + r["freq"]
    merges: list[tuple[str, str]] = []
    for _ in range(n_merges):
        pair_counts: dict[tuple[str, str], int] = {}
        for syms, f in vocab.items():
            for a, b in zip(syms, syms[1:]):
                pair_counts[(a, b)] = pair_counts.get((a, b), 0) + f
        if not pair_counts:
            break
        # max by (count, reversed-lexicographic) => highest count,
        # lexicographically SMALLEST pair on ties — deterministic.
        best, best_n = min(
            pair_counts.items(), key=lambda kv: (-kv[1], kv[0])
        )
        if best_n < 2:
            break
        merges.append(best)
        merged = best[0] + best[1]
        new_vocab: dict[tuple[str, ...], int] = {}
        for syms, f in vocab.items():
            out: list[str] = []
            i = 0
            while i < len(syms):
                if (
                    i + 1 < len(syms)
                    and syms[i] == best[0]
                    and syms[i + 1] == best[1]
                ):
                    out.append(merged)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            new_vocab[tuple(out)] = new_vocab.get(tuple(out), 0) + f
        vocab = new_vocab
    return merges


def _encode_word(word: str, ranks: dict[tuple[str, str], int]) -> list[str]:
    """Apply merges to one word by priority until none applies."""
    syms = list(_word_symbols(word))
    while len(syms) > 1:
        best_i, best_rank = -1, None
        for i, pair in enumerate(zip(syms, syms[1:])):
            r = ranks.get(pair)
            if r is not None and (best_rank is None or r < best_rank):
                best_i, best_rank = i, r
        if best_rank is None:
            break
        syms[best_i : best_i + 2] = [syms[best_i] + syms[best_i + 1]]
    return syms


def make_encode_udf(merges: list[tuple[str, str]]):
    """Pandas UDF ``text -> array<string>`` tokenizing whitespace words
    through the merge table.  The merge list rides the closure (Spark
    broadcasts the serialized function once per executor); a per-batch
    word cache exploits Zipf repetition (module docstring)."""
    ranks = {tuple(p): i for i, p in enumerate(merges)}

    @pandas_udf(T.ArrayType(T.StringType()))
    def encode(texts: pd.Series) -> pd.Series:
        cache: dict[str, list[str]] = {}
        out = []
        for t in texts:
            if t is None:
                out.append(None)
                continue
            toks: list[str] = []
            for w in t.split(" "):
                if not w:
                    continue
                got = cache.get(w)
                if got is None:
                    got = _encode_word(w, ranks)
                    cache[w] = got
                toks.extend(got)
            out.append(toks)
        return pd.Series(out)

    return encode


def tokenize_documents(
    docs: DataFrame,
    merges: list[tuple[str, str]],
) -> DataFrame:
    """Append ``tokens: array<string>`` of BPE tokens (stateless
    Arrow-batched map — pipelines with the scan, no shuffle)."""
    return docs.withColumn("tokens", make_encode_udf(merges)(F.col("text")))


def detokenize_expr(tokens_col: str) -> F.Column:
    """Column expression inverting ``tokenize_documents`` — pure
    column algebra (no UDF): concatenate all tokens, then turn each
    end-of-word marker into a single space and trim the trailing one.
    Exact inverse up to the declared single-space normalization."""
    return F.rtrim(
        F.replace(
            F.array_join(F.col(tokens_col), ""), F.lit(EOW), F.lit(" ")
        )
    )


def fidelity_report(
    docs: DataFrame,
    merges: list[tuple[str, str]],
) -> DataFrame:
    """One row: n_docs (non-null texts), n_null_docs, n_roundtrip_ok
    (docs whose decode(encode(x)) equals whitespace-normalized x),
    n_tokens, n_words — the in-query fidelity invariant
    (n_roundtrip_ok must equal n_docs; n_tokens >= n_words since
    merges never cross word boundaries).  NULL texts are counted
    separately, NOT as round-trip failures: NULL == NULL is NULL in
    SQL, so folding them into n_docs would make the invariant
    unachievable on any corpus with a missing document while nothing
    was actually corrupted (r10 review).  This is the shape an r11
    oracle gate would hash."""
    n_null = F.sum(
        F.when(F.col("text").isNull(), 1).otherwise(0)
    ).alias("n_null_docs")
    norm = F.array_join(
        F.filter(F.split(F.col("text"), " "), lambda w: w != ""), " "
    )
    t = tokenize_documents(docs, merges).select(
        F.col("text"),
        norm.alias("norm"),
        detokenize_expr("tokens").alias("back"),
        F.size("tokens").alias("n_tok"),
        F.size(
            F.filter(F.split(F.col("text"), " "), lambda w: w != "")
        ).alias("n_words"),
    )
    return t.agg(
        F.sum(
            F.when(F.col("text").isNotNull(), 1).otherwise(0)
        ).alias("n_docs"),
        n_null,
        F.sum(
            F.when(F.col("back") == F.col("norm"), 1).otherwise(0)
        ).alias("n_roundtrip_ok"),
        F.sum("n_tok").alias("n_tokens"),
        F.sum("n_words").alias("n_words"),
    )
