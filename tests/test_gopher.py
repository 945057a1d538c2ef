"""Gopher repetition battery (functions/gopher.py): signal values on
constructed docs, the sorted-run top-gram fold vs a Python Counter
reference, and the optional clean_corpus gate."""

from __future__ import annotations

from collections import Counter

from pyspark.sql import functions as F

from frames_spark.functions.gopher import (
    GOPHER_THRESHOLDS,
    bullet_line_frac_micros,
    dup_gram_chars,
    ellipsis_line_frac_micros,
    ngrams,
    passes_repetition_gates,
    repetition_signals,
    symbol_word_ratio_micros,
    token_windows,
    top_gram,
    top_gram_char_frac_micros,
)
from frames_spark.functions.text import normalize, tokens


def _signals(spark, text):
    df = spark.createDataFrame([(text,)], "text string")
    pre = df.select(
        tokens(F.col("text")).alias("t"),
        F.length(normalize(F.col("text"))).cast("long").alias("tc"),
    )
    sig = repetition_signals(F.col("t"), F.col("tc"))
    (row,) = pre.select(
        *[c.alias(k) for k, c in sig.items()]
    ).collect()
    return row.asDict()

def test_unique_doc_scores_zero(spark):
    s = _signals(spark, " ".join(f"w{i}" for i in range(40)))
    assert s["dup_line_frac_micros"] == 0
    assert s["dup_para_frac_micros"] == 0
    # 40 distinct tokens: every 2-gram unique -> one occurrence covers
    # its own chars only (small fraction, well under the gate)
    assert s["top2_char_frac_micros"] < 100_000


def test_repeated_line_detected(spark):
    line = "a b c d e f g h"          # exactly LINE_WIDTH tokens
    text = " ".join([line] * 4)       # 4 identical 8-token lines
    s = _signals(spark, text)
    assert s["dup_line_frac_micros"] == 750_000  # 3 of 4 duplicate
    # top 2-gram "a b" occurs 4x, covering 12 of 63 chars
    assert s["top2_char_frac_micros"] == 190_476


def test_top_gram_matches_counter_reference(spark):
    texts = [
        "a b a b a c",
        "x y z x y z x y",
        "solo",
        "t t t t",
        " ".join(f"w{i % 7}" for i in range(50)),
    ]
    df = spark.createDataFrame([(t,) for t in texts], "text string")
    for n in (2, 3):
        got = df.select(
            F.col("text"), top_gram(ngrams(tokens(F.col("text")), n)).alias("g")
        ).collect()
        for r in got:
            toks = r.text.split()
            grams = [
                " ".join(toks[i : i + n])
                for i in range(len(toks) - n + 1)
            ]
            if not grams:
                assert r.g.cnt == 0
                continue
            c = Counter(grams)
            best = max(c.values())
            # tie-break: lexically smallest among max-count grams
            want = min(g for g, v in c.items() if v == best)
            assert (r.g.cnt, r.g.gram) == (best, want), (r.text, n)


def test_windows_cover_all_tokens(spark):
    df = spark.createDataFrame([(" ".join(f"w{i}" for i in range(20)),)], "text string")
    (r,) = df.select(token_windows(tokens(F.col("text")), 8).alias("w")).collect()
    assert len(r.w) == 3
    assert r.w[2] == "w16 w17 w18 w19"  # trailing partial window


def test_gate_drops_repetitive_keeps_clean(spark):
    clean = " ".join(f"w{i}" for i in range(40))
    spammy = " ".join(["buy now"] * 20)
    df = spark.createDataFrame(
        [(1, clean), (2, spammy)], "doc_id long, text string"
    )
    kept = df.filter(
        passes_repetition_gates(
            tokens(F.col("text")), F.length(normalize(F.col("text")))
        )
    )
    assert [r.doc_id for r in kept.collect()] == [1]


def test_clean_corpus_repetition_gate(spark, sf_dir):
    from frames_spark.pipelines.pretrain import clean_corpus
    from frames_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents").limit(40).cache()
    spam = spark.createDataFrame(
        [(999_999, " ".join(["the spam line is here again now ok"] * 10))],
        "doc_id long, text string",
    )
    corpus = docs.select("doc_id", "text").unionByName(spam)
    base = {r.doc_id for r in clean_corpus(corpus).collect()}
    gated = {r.doc_id for r in clean_corpus(corpus, repetition_gates=True).collect()}
    assert 999_999 in base       # survives the plain quality gate
    assert 999_999 not in gated  # killed by the repetition battery
    # the battery only ever narrows the corpus, and most ordinary
    # docs survive (some synthetic docs are legitimately repetitive)
    assert gated < base
    assert len(gated) >= len(base - {999_999}) * 0.5


def test_thresholds_are_gopher_table_a1():
    assert GOPHER_THRESHOLDS["dup_line_frac"] == 0.30
    assert GOPHER_THRESHOLDS["top2_char_frac"] == 0.20
    assert GOPHER_THRESHOLDS["top3_char_frac"] == 0.18
    assert GOPHER_THRESHOLDS["top4_char_frac"] == 0.16
    # extended battery (duplicate n-gram char fractions decrease with n)
    for n, thr in zip(range(5, 11), (0.15, 0.14, 0.13, 0.12, 0.11, 0.10)):
        assert GOPHER_THRESHOLDS[f"dup_{n}gram_char_frac"] == thr
    assert GOPHER_THRESHOLDS["symbol_word_ratio"] == 0.10
    assert GOPHER_THRESHOLDS["bullet_line_frac"] == 0.90
    assert GOPHER_THRESHOLDS["ellipsis_line_frac"] == 0.30


def test_token_windows_empty_input_yields_zero_windows(spark):
    # the F.sequence(0, -1) trap: start > stop defaults to step -1 and
    # yields [0, -1] -> two phantom empty windows and a fake dup_frac
    df = spark.createDataFrame([([],)], "t array<string>")
    (r,) = df.select(token_windows(F.col("t"), 8).alias("w")).collect()
    assert r.w == []


def test_dup_gram_chars_matches_counter_reference(spark):
    texts = [
        "a b c a b c a b c x",      # "a b c" repeated
        " ".join(f"w{i}" for i in range(30)),  # all unique
        "t t t t t t t",            # everything duplicated
        "one two three four five",  # single occurrence each
    ]
    df = spark.createDataFrame([(t,) for t in texts], "text string")
    for n in (2, 3, 5):
        got = df.select(
            F.col("text"),
            dup_gram_chars(ngrams(tokens(F.col("text")), n)).alias("d"),
        ).collect()
        for r in got:
            toks = r.text.split()
            grams = [
                " ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)
            ]
            c = Counter(grams)
            want = sum(v * len(g) for g, v in c.items() if v >= 2)
            assert r.d == want, (r.text, n)


def test_symbol_bullet_ellipsis_signals(spark):
    df = spark.createDataFrame(
        [
            # 10 words, one '#', one '…', one '...' -> 3 symbols
            ("w1 #tag w3 w4 w5… w6 w7 w8 w9 wait...",),
            # 8-token "lines": first line starts with '-', second with a word
            ("- item one two three four five six "
             "plain seven eight nine ten eleven twelve thirteen",),
        ],
        "text string",
    )
    rows = df.select(
        symbol_word_ratio_micros(tokens(F.col("text"))).alias("sym"),
        bullet_line_frac_micros(tokens(F.col("text"))).alias("bul"),
        ellipsis_line_frac_micros(tokens(F.col("text"))).alias("ell"),
    ).collect()
    assert rows[0].sym == 300_000      # 3 symbols / 10 words
    assert rows[0].ell == 500_000      # 2 windows, second ends '...'
    assert rows[1].bul == 500_000      # 2 windows, first starts '-'
    assert rows[1].ell == 0


def test_extended_gate_drops_symbol_spam(spark):
    clean = " ".join(f"w{i}" for i in range(40))
    hashy = " ".join(f"#t{i}" for i in range(40))   # symbol ratio 1.0
    bullets = " ".join(["- a b c d e f g"] * 5)     # every line bullet...
    df = spark.createDataFrame(
        [(1, clean), (2, hashy), (3, bullets)], "doc_id long, text string"
    )
    kept = df.filter(
        passes_repetition_gates(
            tokens(F.col("text")), F.length(normalize(F.col("text")))
        )
    )
    assert [r.doc_id for r in kept.collect()] == [1]


def test_run_starts_single_run_under_ansi(spark):
    """``_run_starts`` reads element i-1 only when i > 1: ANSI
    element_at raises on index 0, so the ``i == 1`` disjunct must
    short-circuit on a one-gram array and on an all-equal one."""
    from frames_spark.functions.gopher import _run_starts

    prev = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "true")
    try:
        df = spark.createDataFrame(
            [(1, ["a"]), (2, ["x", "x", "x", "x"])], "id int, s array<string>"
        )
        rows = df.select(
            "id",
            _run_starts(F.col("s")).alias("starts"),
            top_gram(F.col("s")).alias("top"),
        ).orderBy("id").collect()
    finally:
        spark.conf.set("spark.sql.ansi.enabled", prev)
    assert [r.starts for r in rows] == [[1], [1]]
    assert [(r.top.cnt, r.top.gram) for r in rows] == [(1, "a"), (4, "x")]


def test_top_gram_char_frac_null_total_chars_is_zero(spark):
    """NULL ``total_chars`` gives 0, not NULL, like 0 total chars and
    a doc with no n-grams; a normal doc gives the exact micros."""
    df = spark.createDataFrame(
        [
            (1, ["a", "b", "a", "b"], None),
            (2, ["a", "b", "a", "b"], 0),
            (3, ["a"], 10),
            (4, ["a", "b", "a", "b"], 8),
        ],
        "id int, t array<string>, tc long",
    )
    rows = df.select(
        "id", top_gram_char_frac_micros(F.col("t"), 2, F.col("tc")).alias("f")
    ).orderBy("id").collect()
    # doc 4: 2-grams [a b, b a, a b]; "a b" twice covers 2 * 3 chars of 8
    assert [r.f for r in rows] == [0, 0, 0, 750_000]
