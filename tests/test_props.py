"""Property-based tests (hypothesis): CSV inference lattice, melt/
pivot roundtrip, salted-aggregate equivalence.

Example counts are deliberately small — every example pays a Spark
action — but each property sweeps a space no single fixture covers.
"""

from __future__ import annotations

import math

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from frames_spark.operators.melt import melt, pivot
from frames_spark.operators.skew import salted_sum_count
from frames_spark.sources.csv import infer_schema, read_csv, write_csv

SETTINGS = dict(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

# cells that never need quoting — quoting is covered by test_csv
_plain_text = st.text(
    alphabet=st.characters(whitelist_categories=("Ll", "Lu", "Nd")),
    min_size=1,
    max_size=8,
)


@given(
    ints=st.lists(st.integers(-(2**31), 2**31), min_size=1, max_size=5),
    floats=st.lists(
        st.floats(allow_nan=False, allow_infinity=False, width=32),
        min_size=1,
        max_size=5,
    ),
    texts=st.lists(_plain_text, min_size=1, max_size=5),
)
@settings(**SETTINGS)
def test_csv_inference_lattice(spark, tmp_path_factory, ints, floats, texts):
    """An all-int column infers integral, all-float infers double,
    text infers string; values survive the write->infer->read trip."""
    n = min(len(ints), len(floats), len(texts))
    rows = list(zip(ints[:n], floats[:n], texts[:n]))
    p = str(tmp_path_factory.mktemp("csv") / "t.csv")
    with open(p, "w") as f:
        f.write("i,x,s\n")
        for i, x, s in rows:
            f.write(f"{i},{x!r},{s}\n")
    schema = infer_schema(spark, p)
    kinds = {f.name: f.dataType.simpleString() for f in schema.fields}
    assert kinds["i"] in ("int", "bigint")
    assert kinds["x"] in ("double", "int", "bigint")  # 1.0 may print as 1.0 -> double
    assert kinds["s"] in ("string", "boolean", "int", "bigint", "double")
    back = read_csv(spark, p).collect()
    assert len(back) == n
    got_i = sorted(r["i"] for r in back)
    assert got_i == sorted(ints[:n])


@given(
    data=st.lists(
        st.tuples(
            st.integers(0, 5),
            st.floats(-1e6, 1e6, allow_nan=False),
            st.floats(-1e6, 1e6, allow_nan=False),
        ),
        min_size=1,
        max_size=8,
        unique_by=lambda t: t[0],
    )
)
@settings(**SETTINGS)
def test_melt_pivot_roundtrip(spark, data):
    df = spark.createDataFrame(data, "id int, a double, b double")
    long = melt(df, ["id"], ["a", "b"])
    wide = pivot(long, ["id"], "variable", ["a", "b"], F.first("value"))
    got = {r["id"]: (r["a"], r["b"]) for r in wide.collect()}
    want = {i: (a, b) for i, a, b in data}
    assert set(got) == set(want)
    for k in want:
        assert math.isclose(got[k][0], want[k][0], rel_tol=1e-12)
        assert math.isclose(got[k][1], want[k][1], rel_tol=1e-12)


@given(
    data=st.lists(
        st.tuples(st.sampled_from("abc"), st.integers(-1000, 1000)),
        min_size=1,
        max_size=20,
    ),
    salt=st.integers(2, 8),
)
@settings(**SETTINGS)
def test_salted_aggregate_equivalence(spark, data, salt):
    df = spark.createDataFrame(data, "k string, v long")
    got = {
        r["k"]: (r["sum_v"], r["n"])
        for r in salted_sum_count(df, ["k"], ["v"], salt=salt).collect()
    }
    want = {
        r["k"]: (r["s"], r["n"])
        for r in df.groupBy("k")
        .agg(F.sum("v").alias("s"), F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert got == want


@given(
    lrows=st.lists(
        st.tuples(st.integers(0, 3), st.integers(0, 1000), st.integers(0, 99)),
        min_size=1, max_size=12, unique_by=lambda t: (t[0], t[1], t[2]),
    ),
    rrows=st.lists(
        st.tuples(st.integers(0, 3), st.integers(0, 1000), st.integers(0, 99)),
        min_size=0, max_size=12, unique_by=lambda t: (t[0], t[1]),
    ),
    direction=st.sampled_from(["backward", "forward", "nearest"]),
)
@settings(**SETTINGS)
def test_asof_matches_pandas_prop(spark, lrows, rrows, direction):
    """asof_join == pandas.merge_asof on arbitrary key/ts layouts —
    empty right sides, single-key groups, left rows before/after all
    right rows. Right (key, ts) kept unique: among equal-ts ties the
    two systems use different (both documented) tiebreaks."""
    import pandas as pd

    from frames_spark.operators.asof import asof_join

    lpdf = pd.DataFrame(
        {
            "k": [r[0] for r in lrows],
            "ts": pd.to_datetime([r[1] for r in lrows], unit="s"),
            "lv": [r[2] for r in lrows],
        }
    ).sort_values("ts")
    rpdf = (
        pd.DataFrame(
            {
                "k": [r[0] for r in rrows],
                "ts": pd.to_datetime([r[1] for r in rrows], unit="s"),
                "rid": list(range(len(rrows))),
                "price": [float(r[2]) for r in rrows],
            }
        )
        # an EMPTY frame infers float64 keys, which pandas merge_asof
        # rejects against the left's int64 — pin dtypes explicitly
        .astype({"k": "int64", "rid": "int64", "price": "float64"})
        .sort_values("ts")
    )
    sl = spark.createDataFrame(lpdf)
    sr = (
        spark.createDataFrame(rpdf)
        if len(rpdf)
        else spark.createDataFrame([], "k bigint, ts timestamp, rid bigint, price double")
    )
    got = {
        (r.k, r.lv): r.price
        for r in asof_join(
            sl, sr, key="k", ts="ts", value_cols=["price"],
            right_tiebreak="rid", direction=direction,
        ).collect()
    }
    want_df = pd.merge_asof(lpdf, rpdf, on="ts", by="k", direction=direction)
    want = {
        (r.k, r.lv): (None if pd.isna(r.price) else r.price)
        for r in want_df.itertuples()
    }
    assert got == want


@given(
    rows=st.lists(
        st.tuples(st.integers(0, 2), st.integers(-50, 50)),
        min_size=1, max_size=30,
    ),
    nparts=st.sampled_from([2, 7, 32]),
)
@settings(**SETTINGS)
def test_grouped_rank_matches_window_prop(spark, rows, nparts):
    """Two-phase distributed rank == the naive window on arbitrary
    group layouts and partition counts (incl. partitions >> rows).
    Values may repeat; a synthetic unique id breaks ties."""
    from pyspark.sql import Window

    from frames_spark.operators.ranking import grouped_rank

    data = [(g, v, i) for i, (g, v) in enumerate(rows)]
    df = spark.createDataFrame(data, "g long, v long, uid long")
    got = {
        r.uid: (r.rn, r.group_cnt)
        for r in grouped_rank(
            df, ["g"], ["v", "uid"], num_partitions=nparts
        ).collect()
    }
    w = Window.partitionBy("g").orderBy("v", "uid")
    wc = Window.partitionBy("g")
    want = {
        r.uid: (r.rn, r.cnt)
        for r in df.select(
            "uid",
            F.row_number().over(w).cast("long").alias("rn"),
            F.count(F.lit(1)).over(wc).alias("cnt"),
        ).collect()
    }
    assert got == want


@given(
    tokens=st.lists(
        st.sampled_from([f"t{i}" for i in range(12)]),
        min_size=20,
        max_size=200,
    ),
    parts=st.integers(1, 4),
)
@settings(**SETTINGS)
def test_heavy_hitters_exact_on_random_streams(spark, tokens, parts):
    """Misra-Gries + recount returns EXACTLY the phi-heavy set for
    arbitrary token streams and partitionings (m intentionally tiny
    so the sketch actually evicts)."""
    from collections import Counter

    from frames_spark.operators.sketches import heavy_hitters

    phi, m = 0.15, 8
    df = spark.createDataFrame(
        [(t,) for t in tokens], ["tok"]
    ).repartition(parts)
    got = {
        (r["tok"], r["cnt"])
        for r in heavy_hitters(df, "tok", phi=phi, m=m).collect()
    }
    n = len(tokens)
    exact = {
        (t, c)
        for t, c in Counter(tokens).items()
        if c >= math.ceil(phi * n)
    }
    assert got == exact


# --- Gopher extended battery vs a Python reference ---------------------

_tok = st.text(alphabet="abc#.…", min_size=1, max_size=4)


@given(toks=st.lists(_tok, min_size=0, max_size=24), n=st.integers(2, 5))
@settings(**SETTINGS)
def test_dup_gram_chars_property(spark, toks, n):
    from collections import Counter

    from frames_spark.functions.gopher import dup_gram_chars, ngrams

    df = spark.createDataFrame([(toks,)], "t array<string>")
    (r,) = df.select(dup_gram_chars(ngrams(F.col("t"), n)).alias("d")).collect()
    grams = [" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)]
    c = Counter(grams)
    want = sum(v * len(g) for g, v in c.items() if v >= 2)
    assert r.d == want


@given(toks=st.lists(_tok, min_size=0, max_size=24))
@settings(**SETTINGS)
def test_symbol_word_ratio_property(spark, toks):
    from frames_spark.functions.gopher import symbol_word_ratio_micros

    df = spark.createDataFrame([(toks,)], "t array<string>")
    (r,) = df.select(symbol_word_ratio_micros(F.col("t")).alias("s")).collect()

    def count_syms(t: str) -> int:
        dots = 0
        rest = t
        while "..." in rest:
            rest = rest.replace("...", "", 1)
            dots += 1
        return t.count("#") + t.count("…") + dots

    total = sum(count_syms(t) for t in toks)
    if not toks:
        assert r.s == 0
    else:
        assert r.s == (total * 1_000_000 + len(toks) // 2) // len(toks)


# --- incremental dedup index: partition invariance ---------------------


@given(split=st.integers(0, 3), seed=st.integers(0, 5))
@settings(max_examples=4, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_incremental_probe_partition_invariance(
    spark, sf_dir, tmp_path_factory, split, seed
):
    """However the corpus is split into two ingest batches, the union
    of per-batch probe pairs equals the one-shot recompute."""
    from frames_spark.dedup.index import probe_increment
    from frames_spark.dedup.minhash import (
        lsh_candidate_pairs,
        minhash_signatures,
    )
    from frames_spark.queries.q01_core_ops import _with_near_copies
    from frames_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents").limit(24)
    corpus = _with_near_copies(docs).cache()
    cond = F.pmod(F.col("doc_id") + seed, F.lit(4)) <= split
    b1, b2 = corpus.filter(cond), corpus.filter(~cond)
    idx = str(tmp_path_factory.mktemp("incidx"))
    got = {
        (r.doc_a, r.doc_b)
        for r in probe_increment(spark, idx, b1, "day-001")
        .unionByName(probe_increment(spark, idx, b2, "day-002"))
        .distinct()
        .collect()
    }
    want = {
        (r.doc_a, r.doc_b)
        for r in lsh_candidate_pairs(
            minhash_signatures(corpus, "doc_id", "text", n=3, num_hashes=8),
            bands=4,
            rows_per_band=2,
        ).collect()
    }
    assert got == want
