"""Gopher repetition battery (Rae et al. 2021, "Scaling Language
Models: ... Gopher", Table A1): the standard repetition signals a
pretraining quality gate computes per document —

- duplicate line fraction, duplicate paragraph fraction;
- fraction of characters in the single most frequent {2,3,4}-gram;
- fraction of characters in duplicated {5..10}-grams (all
  occurrences of any n-gram appearing more than once; overlapping
  windows may count a character more than once, as in the published
  formulation);
- symbol-to-word ratio (hash and ellipsis symbols per word) and the
  bullet-start / ellipsis-end line fractions from the same table.

Everything here is a PURE SCAN EXPRESSION over the token array: no
explode, no shuffle, embarrassingly parallel at any corpus size.
The most-frequent-n-gram count uses sort_array + a run-boundary scan
(r15: an int filter finds run starts, one struct per DISTINCT run —
2.2x the per-element fold it replaced) — O(d log d) per doc instead
of the O(d²) distinct×filter formulation, with ties kept at the
lexically SMALLEST gram via min(struct(-cnt, gram)) (mirrored in
oracles as ORDER BY cnt DESC, gram ASC).

The synthetic corpus carries no newlines, so "lines" are fixed
windows of LINE_WIDTH tokens and "paragraphs" PARA_WIDTH tokens —
the fraction algebra is identical to newline-split text and the
definition is mirrored exactly in the SQL oracle. All fractions are
micros-quantized integers (engine-exact).

Complements q_gopher_quality (length/ratio gates) and q_repetition
(distinct/total ratio); q_boilerplate detects the spans themselves.

Frames ref: no equivalent (LLM-pipeline extension, SURVEY.md §2b).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from frames_spark.functions.binding import let as _bind

LINE_WIDTH = 8
PARA_WIDTH = 32


def _idiv(a: Column, b: Column) -> Column:
    """Exact integer floor-division for non-negative longs: (a - a%b)
    is exactly divisible by b, and IEEE division of in-range integers
    with an integral quotient is exact — no Column DIV operator
    exists, and bare ``/`` rounds through double."""
    a = a.cast("long")
    b = b.cast("long")
    return ((a - F.pmod(a, b)) / b).cast("long")


def _round_div_micros(num: Column, den: Column) -> Column:
    """(num * 1e6 + den/2) DIV den as an exact long."""
    num = num.cast("long")
    den = den.cast("long")
    return _idiv(num * 1_000_000 + _idiv(den, F.lit(2)), den)

# Gopher Table A1 removal thresholds (document is DROPPED above).
GOPHER_THRESHOLDS = {
    "dup_line_frac": 0.30,
    "dup_para_frac": 0.30,
    "top2_char_frac": 0.20,
    "top3_char_frac": 0.18,
    "top4_char_frac": 0.16,
    "dup_5gram_char_frac": 0.15,
    "dup_6gram_char_frac": 0.14,
    "dup_7gram_char_frac": 0.13,
    "dup_8gram_char_frac": 0.12,
    "dup_9gram_char_frac": 0.11,
    "dup_10gram_char_frac": 0.10,
    "symbol_word_ratio": 0.10,
    "bullet_line_frac": 0.90,
    "ellipsis_line_frac": 0.30,
}

# Bullet characters a "line" may start with (Table A1's bullet rule).
BULLET_CHARS = ("•", "‣", "▪", "◦", "-", "*")


def token_windows(toks: Column, width: int) -> Column:
    """Fixed-width token windows (the 'lines'/'paragraphs' of a
    newline-free corpus): ceil(n/width) strings; empty input yields
    ZERO windows (F.sequence(0, -1) would otherwise produce the
    descending [0, -1] and two phantom empty windows).

    ``toks`` is LET-BOUND (r15, functions/binding.py): gate callers
    pass the raw tokenize expression, and the window lambda's capture
    of it would re-tokenize per window under interpreted HOF eval."""
    from frames_spark.functions.binding import let

    def with_toks(t: Column) -> Column:
        n = F.size(t)
        return F.when(
            n > 0,
            F.transform(
                F.sequence(
                    F.lit(0), F.floor((n + width - 1) / width).cast("int") - 1
                ),
                lambda i: F.concat_ws(" ", F.slice(t, i * width + 1, width)),
            ),
        ).otherwise(F.array().cast("array<string>"))

    return let(toks, with_toks)


def ngrams(toks: Column, n: int) -> Column:
    """Sliding word n-grams as space-joined strings (empty array for
    docs shorter than n). ``toks`` let-bound — see token_windows."""
    from frames_spark.functions.binding import let

    def with_toks(t: Column) -> Column:
        size = F.size(t)
        return F.when(
            size >= n,
            F.transform(
                F.sequence(F.lit(1), size - n + 1),
                lambda i: F.concat_ws(" ", F.slice(t, i, n)),
            ),
        ).otherwise(F.array().cast("array<string>"))

    return let(toks, with_toks)


def dup_fraction_micros(arr: Column) -> Column:
    """(len - distinct) / len as a micros-quantized integer (0 for
    empty arrays). ``arr`` (typically a token_windows build) is
    let-bound so it evaluates once per row — an unbound window build
    referenced from size + array_distinct + the division re-ran the
    concat_ws windowing once per reference (r15, see
    top_gram_char_frac_micros)."""

    def with_arr(a: Column) -> Column:
        n = F.size(a)
        return F.when(n <= 0, F.lit(0).cast("long")).otherwise(
            _bind(
                F.struct(
                    (n - F.size(F.array_distinct(a))).alias("dup"),
                    n.alias("n"),
                ),
                lambda p: _round_div_micros(p["dup"], p["n"]),
            )
        )

    return _bind(arr, with_arr)


def _run_starts(s: Column) -> Column:
    """1-based start positions of each run of equal neighbors in the
    SORTED array ``s`` (callers guard size > 0: ANSI element_at
    rejects index 0, and i==1 short-circuits the look-back)."""
    return F.filter(
        F.sequence(F.lit(1), F.size(s)),
        lambda i: (i == 1) | (F.element_at(s, i) != F.element_at(s, i - 1)),
    )


def _run_ends(starts: Column, n: Column) -> Column:
    """Exclusive end positions paired with ``_run_starts``: the next
    run's start, and n+1 for the last run."""
    return F.concat(
        F.slice(starts, 2, F.size(starts) - 1), F.array(n + 1)
    )


def top_gram(grams: Column) -> Column:
    """struct(cnt, gram) of the most frequent element — run-boundary
    scan over the SORTED array; ties keep the lexically smallest gram
    (min over struct(-cnt, gram)).

    r15 rewrite (guide §1.2 per-task work): the previous form folded
    a 4-field struct accumulator across EVERY element (interpreted
    HOF eval allocates the struct per element); this form finds run
    boundaries with a cheap int filter and allocates one small struct
    per DISTINCT run — measured 0.90 → 0.40 s on the top-2 leg at
    sf0.1, byte-identical output (equivalence tested per n and
    pinned by the oracle's ORDER BY cnt DESC, gram ASC)."""

    def with_sorted(s: Column) -> Column:
        n = F.size(s)

        def with_starts(st: Column) -> Column:
            best = F.array_min(
                F.zip_with(
                    st,
                    _run_ends(st, n),
                    lambda b, e: F.struct(
                        (b - e).alias("negcnt"),
                        F.element_at(s, b).alias("gram"),
                    ),
                )
            )
            return F.struct(
                (-best["negcnt"]).cast("long").alias("cnt"),
                best["gram"].alias("gram"),
            )

        return F.when(n > 0, _bind(_run_starts(s), with_starts)).otherwise(
            F.struct(
                F.lit(0).cast("long").alias("cnt"),
                F.lit(None).cast("string").alias("gram"),
            )
        )

    return _bind(F.sort_array(grams), with_sorted)


def top_gram_char_frac_micros(
    toks: Column, n: int, total_chars: Column
) -> Column:
    """Characters covered by the most frequent n-gram / total chars,
    micros-quantized. 0 when the doc has no n-grams, and 0 (not NULL)
    when ``total_chars`` is NULL or <= 0: the guard
    ``(size > 0) & (total_chars > 0)`` is NULL there, so ``when`` takes
    the ``otherwise`` branch (tests/test_gopher.py pins this).

    The ENTIRE computation lives inside one binding chain (r15):
    a column expression referenced k times is COPIED k times into the
    projection and interpreted HOF eval re-runs each copy, so
    ``top["cnt"]``/``top["gram"]`` referenced from separate
    sub-expressions re-sorted the gram array once per reference.
    Here sort, run starts, and the winning run are each let-bound
    (``_bind``) and every value is referenced only through its bound
    variable — one sort per row, full stop."""

    def with_sorted(s: Column) -> Column:
        nsz = F.size(s)

        def with_starts(st: Column) -> Column:
            best = F.array_min(
                F.zip_with(
                    st,
                    _run_ends(st, nsz),
                    lambda b, e: F.struct(
                        (b - e).alias("negcnt"),
                        F.element_at(s, b).alias("gram"),
                    ),
                )
            )

            def with_best(top: Column) -> Column:
                covered = (-top["negcnt"]).cast("long") * F.length(
                    top["gram"]
                ).cast("long")
                return _round_div_micros(covered, total_chars)

            return _bind(best, with_best)

        return F.when(
            (nsz > 0) & (total_chars > 0), _bind(_run_starts(s), with_starts)
        ).otherwise(F.lit(0).cast("long"))

    return _bind(F.sort_array(ngrams(toks, n)), with_sorted)


def dup_gram_chars(grams: Column) -> Column:
    """Characters covered by ALL occurrences of grams appearing >= 2
    times: sum over duplicated grams of cnt * length(gram) — the same
    run-boundary scan as :func:`top_gram` (r15; previously a per-
    element struct-accumulator fold), summing (e-b) * length(s[b])
    over runs of length >= 2."""

    def with_sorted(s: Column) -> Column:
        n = F.size(s)

        def with_starts(st: Column) -> Column:
            return F.aggregate(
                F.zip_with(
                    st,
                    _run_ends(st, n),
                    lambda b, e: F.when(
                        e - b >= 2,
                        (e - b).cast("long")
                        * F.length(F.element_at(s, b)).cast("long"),
                    ).otherwise(F.lit(0).cast("long")),
                ),
                F.lit(0).cast("long"),
                lambda acc, x: acc + x,
            )

        return F.when(n > 0, _bind(_run_starts(s), with_starts)).otherwise(
            F.lit(0).cast("long")
        )

    return _bind(F.sort_array(grams), with_sorted)


def dup_gram_char_frac_micros(
    toks: Column, n: int, total_chars: Column
) -> Column:
    """Duplicated-n-gram character fraction, micros-quantized (may
    exceed 1e6 on heavily repeated text — overlapping windows count a
    character once per window, as in the published formulation).
    The dup-chars scan is let-bound: the rounding division references
    its numerator twice (r15)."""
    d = dup_gram_chars(ngrams(toks, n))
    return F.when(total_chars <= 0, F.lit(0).cast("long")).otherwise(
        _bind(d, lambda dv: _round_div_micros(dv, total_chars))
    )


def symbol_word_ratio_micros(toks: Column) -> Column:
    """(count of '#' chars + '…' chars + non-overlapping '...' runs)
    per word, micros-quantized — Table A1's symbol-to-word rule."""

    def per_tok(t: Column) -> Column:
        hashes = F.length(t) - F.length(F.replace(t, F.lit("#"), F.lit("")))
        uni = F.length(t) - F.length(F.replace(t, F.lit("…"), F.lit("")))
        dots = _idiv(
            F.length(t) - F.length(F.replace(t, F.lit("..."), F.lit(""))),
            F.lit(3),
        )
        return (hashes + uni + dots).cast("long")

    total = F.aggregate(
        toks,
        F.lit(0).cast("long"),
        lambda acc, t: acc + per_tok(t),
    )
    n = F.size(toks)
    # total (a per-token scan) is let-bound: the rounding division
    # references its numerator twice (r15).
    return F.when(n <= 0, F.lit(0).cast("long")).otherwise(
        _bind(total, lambda t: _round_div_micros(t, n))
    )


def _line_frac_micros(toks: Column, pred) -> Column:
    """Fraction of LINE_WIDTH-token windows satisfying ``pred``,
    micros-quantized — the window build is let-bound so the concat_ws
    windowing runs once per row instead of once per reference (r15)."""

    def with_ws(ws: Column) -> Column:
        n = F.size(ws)
        return F.when(n <= 0, F.lit(0).cast("long")).otherwise(
            _bind(
                F.struct(F.size(F.filter(ws, pred)).alias("k"), n.alias("n")),
                lambda p: _round_div_micros(p["k"], p["n"]),
            )
        )

    return _bind(token_windows(toks, LINE_WIDTH), with_ws)


def bullet_line_frac_micros(toks: Column) -> Column:
    """Fraction of 'lines' (LINE_WIDTH-token windows) starting with a
    bullet character, micros-quantized."""
    return _line_frac_micros(
        toks, lambda w: F.substring(w, 1, 1).isin(*BULLET_CHARS)
    )


def ellipsis_line_frac_micros(toks: Column) -> Column:
    """Fraction of 'lines' ending with an ellipsis ('...' or '…'),
    micros-quantized."""
    return _line_frac_micros(
        toks, lambda w: w.endswith("...") | w.endswith("…")
    )


def repetition_signals(
    toks: Column, total_chars: Column, extended: bool = False
) -> dict[str, Column]:
    """The battery as named micros columns. ``extended=True`` adds the
    rest of Table A1: duplicated-{5..10}-gram char fractions, the
    symbol-to-word ratio, and the bullet/ellipsis line fractions.

    The battery is ~10k py4j round-trips to assemble (≈2 s of driver
    time per query build, measured r14) and is a pure function of two
    Column fragments — memoized via exprcache.memo_col."""
    from frames_spark.functions.exprcache import memo_col

    return memo_col(
        "gopher.repetition_signals",
        (toks, total_chars, extended),
        lambda: _repetition_signals(toks, total_chars, extended),
    )


def _repetition_signals(
    toks: Column, total_chars: Column, extended: bool
) -> dict[str, Column]:
    out = {
        "dup_line_frac_micros": dup_fraction_micros(
            token_windows(toks, LINE_WIDTH)
        ),
        "dup_para_frac_micros": dup_fraction_micros(
            token_windows(toks, PARA_WIDTH)
        ),
        "top2_char_frac_micros": top_gram_char_frac_micros(toks, 2, total_chars),
        "top3_char_frac_micros": top_gram_char_frac_micros(toks, 3, total_chars),
        "top4_char_frac_micros": top_gram_char_frac_micros(toks, 4, total_chars),
    }
    if extended:
        for n in range(5, 11):
            out[f"dup_{n}gram_char_frac_micros"] = dup_gram_char_frac_micros(
                toks, n, total_chars
            )
        out["symbol_word_ratio_micros"] = symbol_word_ratio_micros(toks)
        out["bullet_line_frac_micros"] = bullet_line_frac_micros(toks)
        out["ellipsis_line_frac_micros"] = ellipsis_line_frac_micros(toks)
    return out


def passes_repetition_gates(toks: Column, total_chars: Column) -> Column:
    """Boolean: document survives every Gopher Table A1 threshold —
    the FULL battery, repetition + symbol/bullet/ellipsis rules
    (micros-integer comparisons — engine-exact)."""
    s = repetition_signals(toks, total_chars, extended=True)
    gate = F.lit(True)
    for key, thr in GOPHER_THRESHOLDS.items():
        gate = gate & (s[f"{key}_micros"] <= int(thr * 1_000_000))
    return gate
