"""PII / denylist redaction as pure regexp column expressions.

Training-data curation scrubs personally identifiable information
(emails, phone numbers, IP addresses, SSN-shaped ids) and
content-policy denylist terms from text before packing. Both are
expressed here as chained ``regexp_replace`` / ``regexp_extract_all``
column expressions — no Python in the row path, so at 100 TB the
scrub is a free rider on whatever scan already reads ``text`` and
stays inside whole-stage codegen.

Pattern portability: every built-in pattern is written in the common
subset of Java regex (Spark) and RE2 (DuckDB oracle, Go, Rust):
character classes, bounded repetition, alternation and ``\\b`` word
boundaries only — no lookarounds, no backreferences. That keeps the
DuckDB oracle byte-identical and means the same pattern set can be
shipped to a non-JVM scrubber unchanged.

Reference parity: the reference pipeline has no scrub stage; this is
part of the LLM-curation extension surface (SURVEY.md §6 / round-3
additions), same tier as quality scoring and decontamination.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Built-in PII patterns (Java-regex ∩ RE2 safe). Precision-tuned for
# scrubbing, i.e. prefer over-matching inside an already-matched span
# to under-matching: a scrubber that misses is worse than one that
# eats a trailing dot.
PII_PATTERNS: dict[str, str] = {
    # local@domain.tld — unicode locals deliberately out of scope
    "email": r"\b[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}\b",
    # +1 (555) 123-4567 / 555-123-4567 / 5551234567 — 8+ digits total
    # with optional separators; anchored on digit boundaries
    "phone": r"\b\+?[0-9][0-9() .-]{6,}[0-9]\b",
    # dotted-quad IPv4 (no octet range check — scrub precision)
    "ipv4": r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b",
    # 123-45-6789
    "ssn": r"\b[0-9]{3}-[0-9]{2}-[0-9]{4}\b",
}

DEFAULT_TOKEN = "[PII]"


def redact(
    text: Column,
    patterns: dict[str, str] | None = None,
    token: str = DEFAULT_TOKEN,
) -> Column:
    """Replace every match of every pattern with ``token``.

    Chained ``regexp_replace`` (one per pattern, applied in dict
    order — order matters only when patterns overlap, so put the most
    specific first, as PII_PATTERNS does with email before phone).
    """
    out = text
    for pat in (patterns or PII_PATTERNS).values():
        out = F.regexp_replace(out, pat, token)
    return out


def match_count(text: Column, pattern: str) -> Column:
    """Number of non-overlapping matches of ``pattern`` in ``text``.

    ``size(regexp_extract_all(...))`` rather than ``regexp_count`` so
    the same shape exists verbatim in the DuckDB oracle
    (``len(regexp_extract_all(...))``).
    """
    return F.size(F.regexp_extract_all(text, F.lit(pattern), F.lit(0)))


def total_match_count(text: Column) -> Column:
    """Total match count across all ``PII_PATTERNS`` (sum of per-pattern
    counts; overlapping patterns double-count by design — this is a
    scrub-volume metric, not a span count)."""
    cols = [match_count(text, p) for p in PII_PATTERNS.values()]
    out = cols[0]
    for c in cols[1:]:
        out = out + c
    return out
