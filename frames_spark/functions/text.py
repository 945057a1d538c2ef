"""Text-analysis column functions (all JVM-side `F.*` expressions —
no Python UDFs in these hot paths).

These are the scale extensions of SURVEY.md §2b: quality scoring,
token counting, language-ID scoring, fingerprinting. Every function
is expressible in portable SQL so the DuckDB oracle can replicate it
exactly (the queries in frames_spark/queries/ carry the SQL twins).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F

# Tiny per-language stopword marker lists (public common stopwords).
# Real deployments would swap in larger lists or a fastText-style
# model via a Pandas UDF; the scoring pipeline stays identical.
LANG_STOPWORDS: dict[str, list[str]] = {
    "en": ["the", "a", "of", "and", "to"],
    "de": ["der", "die", "das", "und", "ein"],
    "fr": ["le", "la", "les", "et", "un"],
    "es": ["el", "la", "los", "y", "una"],
    "zh": ["de", "le", "shi", "he", "zai"],
}

TOKEN_REGEX = r"[a-z]+|[A-Z]+|[0-9]+|[^a-zA-Z0-9\s]"


# Zero-width / invisible / control characters that make visually
# identical text fingerprint differently on web corpora: ZWSP, ZWNJ,
# ZWJ, word-joiner, BOM/ZWNBSP, soft hyphen, plus C0 controls (except
# \t \n \r, which are whitespace) and DEL. Stripping is a pure JVM
# regex (portable to RE2 for the oracle).
_INVISIBLE_PAT = (
    "[\u200b\u200c\u200d\u2060\ufeff\u00ad"
    "\x00-\x08\x0b\x0c\x0e-\x1f\x7f]"
)


def strip_invisible(text: Column) -> Column:
    """Drop zero-width/control characters (scan expression)."""
    return F.regexp_replace(text, _INVISIBLE_PAT, "")


def unicode_normalize(text: Column, form: str = "NFC") -> Column:
    """Unicode normalization (NFC/NFD/NFKC/NFKD) so dedup keys agree
    on visually identical text (precomposed é vs e + combining
    acute). Spark has no built-in normalizer, so this is the repo's
    documented Arrow-batched pandas-UDF exception (vectorized, never
    row-at-a-time); DuckDB's nfc_normalize() models the NFC form
    exactly for oracles. Off the default normalize() path — opt in
    where the corpus needs it."""
    if form not in ("NFC", "NFD", "NFKC", "NFKD"):
        raise ValueError(f"unknown normalization form {form!r}")
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("string")
    def _norm(s: pd.Series) -> pd.Series:
        import unicodedata

        return s.map(
            lambda x: None if x is None else unicodedata.normalize(form, x)
        )

    return _norm(text)


def normalize(
    text: Column,
    *,
    unicode_form: str | None = None,
    strip_invisibles: bool = False,
) -> Column:
    """Lowercase + collapse whitespace — the canonical form used by
    fingerprinting and dedup shingling.

    Opt-in Unicode tier (web corpora): ``strip_invisibles`` removes
    zero-width/control chars, ``unicode_form`` applies NFC/NFKC/...
    first, so visually identical variants produce one key. Defaults
    keep the original cheap all-JVM form."""
    if strip_invisibles:
        text = strip_invisible(text)
    if unicode_form is not None:
        text = unicode_normalize(text, unicode_form)
    return F.trim(F.regexp_replace(F.lower(text), r"\s+", " "))


def tokens(text: Column) -> Column:
    """Whitespace tokens of the normalized text."""
    return F.split(normalize(text), " ")


def regex_tokens(text: Column) -> Column:
    """BPE-ish token classes: letter runs, digit runs, single
    punctuation — the standard cheap token-count estimator."""
    return F.regexp_extract_all(text, F.lit(TOKEN_REGEX), 0)


def n_tokens(text: Column) -> Column:
    return F.size(tokens(text))


def punct_ratio(text: Column) -> Column:
    """Non-alphanumeric-non-space chars / total chars."""
    stripped = F.regexp_replace(F.lower(text), r"[a-z0-9 ]", "")
    return F.length(stripped) / F.greatest(F.length(text), F.lit(1))


def fingerprint(text: Column) -> Column:
    """Deterministic document fingerprint: md5 of the normalized text.
    md5 (not xxhash64) so the fingerprint is identical across engines
    and stable across releases. SURVEY.md §4."""
    return F.md5(normalize(text))
