"""Text-analysis column functions: character-n-gram language ID.

Language identification by character-trigram profile matching (the
textcat / Cavnar-Trenkle heuristic, trimmed to a fixed profile per
language): score(lang) = how many of the document's character
trigrams appear in that language's profile; predicted language is the
argmax with an alphabetical tiebreak, or 'und' (undetermined) when no
profile matches at all.

Everything is a single per-row expression — trigram extraction, five
set-membership counts, and a CASE-chain argmax all run inside codegen
with no shuffle and no Python. At 100 TB this is a free rider on any
scan that already reads the text column.

The profiles are deliberately tiny (top function-word trigrams); on
real text they resolve en/de/es/fr well (see tests/test_text.py). The
synthetic testdata's text is language-independent by construction, so
the oracle query exercises determinism, not accuracy.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# top function-word character trigrams per language (public textcat-style
# profiles, hand-trimmed; ' ' shown as underscore in comments for clarity)
LANG_PROFILES: dict[str, tuple[str, ...]] = {
    "de": ("der", "ie ", "ein", "sch", "ich", "nde", "und", "cht"),
    "en": ("the", " th", "he ", "ing", "and", " of", "ion", " to"),
    "es": ("de ", " de", "os ", "la ", " la", "ión", "que", " qu"),
    "fr": ("es ", " de", "de ", "le ", " le", "ent", "que", "les"),
    "zh": (),  # CJK text has no latin trigrams; falls through to 'und'
}


def char_trigrams(text_col: str | Column) -> Column:
    """All character trigrams of lower(text) (with repeats — profile
    hits are counted per occurrence, as in Cavnar-Trenkle rank counts)."""
    t = F.lower(text_col)
    return F.when(
        F.length(t) >= 3,
        F.transform(
            F.sequence(F.lit(1), F.length(t) - 2), lambda i: F.substring(t, i, 3)
        ),
    ).otherwise(F.array().cast("array<string>"))


def lang_scores(text_col: str | Column) -> dict[str, Column]:
    grams = char_trigrams(text_col)
    return {
        lang: F.size(F.filter(grams, lambda g: g.isin(*prof)))
        if prof
        else F.lit(0)
        for lang, prof in LANG_PROFILES.items()
    }


def _argmax_case(scores: dict[str, Column]) -> Column:
    """Argmax language with alphabetical tiebreak; 'und' if all zero."""
    langs = sorted(scores)  # alphabetical order makes the tiebreak deterministic
    best = None
    for lang in langs:
        s = scores[lang]
        cond = s > 0
        for other in langs:
            if other == lang:
                continue
            # strictly greater than earlier-alphabet langs would lose the
            # tie to them; >= later ones wins it (matches CASE order)
            cond = cond & (
                (s >= scores[other]) if other > lang else (s > scores[other])
            )
        # first (alphabetical) lang reaching the max wins
        best = F.when(cond, F.lit(lang)) if best is None else best.when(cond, F.lit(lang))
    return best.otherwise(F.lit("und"))


def predicted_lang(text_col: str | Column) -> Column:
    """Single-expression form — fine for one-off use, but it inlines
    the trigram extraction into every score comparison (no CSE outside
    codegen); use with_predicted_lang for DataFrame-scale work."""
    return _argmax_case(lang_scores(text_col))


def with_predicted_lang(df):
    """Adds ``predicted_lang`` via staged projections: trigrams and per-lang
    scores are materialized once each (multi-referenced non-cheap
    aliases are not collapsed, so nothing is recomputed per branch of
    the argmax CASE)."""
    grams = df.withColumn("__grams", char_trigrams(F.col("text")))
    score_col = {
        lang: (
            F.size(F.filter(F.col("__grams"), lambda g: g.isin(*prof)))
            if prof
            else F.lit(0)
        )
        for lang, prof in LANG_PROFILES.items()
    }
    scored = grams.select(
        "*", *[c.alias(f"__s_{lang}") for lang, c in score_col.items()]
    )
    case = _argmax_case({lang: F.col(f"__s_{lang}") for lang in LANG_PROFILES})
    return scored.withColumn("predicted_lang", case).drop(
        "__grams", *[f"__s_{lang}" for lang in LANG_PROFILES]
    )


def duckdb_predicted_lang_sql() -> str:
    """DuckDB expression computing the identical prediction from the
    ``text`` column."""
    grams = (
        "list_transform(range(1, greatest(len(lower(text)) - 2, 0) + 1), "
        "i -> substr(lower(text), i, 3))"
    )
    score = {
        lang: (
            "len(list_filter({g}, g -> g IN ({vals})))".format(
                g=grams, vals=", ".join(f"'{v}'" for v in prof)
            )
            if prof
            else "0"
        )
        for lang, prof in LANG_PROFILES.items()
    }
    langs = sorted(score)
    cases = []
    for lang in langs:
        conds = [f"{score[lang]} > 0"]
        for other in langs:
            if other == lang:
                continue
            op = ">=" if other > lang else ">"
            conds.append(f"{score[lang]} {op} {score[other]}")
        cases.append(f"WHEN {' AND '.join(conds)} THEN '{lang}'")
    return "CASE " + " ".join(cases) + " ELSE 'und' END"
