"""Portable hashing for dedup/sketching.

Everything that feeds a cross-engine comparison (or must be stable
across releases/cluster versions) hashes with md5 — identical output
in Spark, DuckDB, and any other engine.

Scheme: hash64(s, seed) = int(md5(seed || '#' || s)[:15], 16) — 60
bits, always positive, fits BIGINT in every engine.
SQL twin: ('0x' || substr(md5(concat(seed, '#', s)), 1, 15))::BIGINT
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def hash60(col: Column, seed: int | str = 0) -> Column:
    """Seeded 60-bit positive hash of a string column."""
    hexpart = F.substring(F.md5(F.concat(F.lit(f"{seed}#"), col)), 1, 15)
    return F.conv(hexpart, 16, 10).cast("long")


def hash60_sql(expr: str, seed: int | str = 0) -> str:
    """DuckDB twin of ``hash60``."""
    return f"CAST('0x' || substr(md5(concat('{seed}#', {expr})), 1, 15) AS BIGINT)"


def shingles(tokens_col: Column, n: int = 3) -> Column:
    """Distinct word n-gram shingles from a token array.

    Built-in-only: slide over the token array with transform+slice,
    join each window with spaces, drop ragged tails, dedupe.

    ``tokens_col`` is LET-BOUND internally (r15, functions/binding.py):
    callers pass the tokenize EXPRESSION and the window lambda
    captures it — interpreted HOF eval would otherwise re-tokenize
    the document once per window (plus once per size() reference).
    """
    from frames_spark.functions.binding import let

    def with_toks(t: Column) -> Column:
        windows = F.transform(
            F.sequence(F.lit(1), F.size(t) - (n - 1)),
            lambda i: F.array_join(F.slice(t, i, n), " "),
        )
        # sequence(1, k) DESCENDS for k < 1 — guard short docs
        # explicitly.
        return F.when(F.size(t) >= n, F.array_distinct(windows)).otherwise(
            F.array().cast("array<string>")
        )

    return let(tokens_col, with_toks)
