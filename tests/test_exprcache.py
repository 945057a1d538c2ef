"""memo_col contract tests (r14 ADVICE): purity/keying, container
copy-on-return, and gateway-generation invalidation — plus direct
equivalence tests for the r14-optimized fragment builders that are
otherwise covered only through query/oracle tests (table_buckets vs
the legacy slice form, triangle_probe vs brute force,
simhash_from_index vs the corpus path)."""

from __future__ import annotations

import pytest
from pyspark.sql import Column
from pyspark.sql import functions as F

from frames_spark.functions import exprcache
from frames_spark.functions.exprcache import memo_col


@pytest.fixture(autouse=True)
def _fresh_cache():
    exprcache._CACHE.clear()
    yield
    exprcache._CACHE.clear()


def test_memo_col_builds_once(spark):
    calls = []

    def build():
        calls.append(1)
        return F.col("x") + 1

    a = memo_col("t.once", (F.col("x"), 1), build)
    b = memo_col("t.once", (F.col("x"), 1), build)
    assert len(calls) == 1
    # same underlying fragment (possibly the same object)
    assert str(a) == str(b)


def test_memo_col_distinct_keys_distinct_builds(spark):
    calls = []
    build = lambda: calls.append(1) or F.lit(1)  # noqa: E731
    memo_col("t.keys", (F.col("x"), 1), build)
    memo_col("t.keys", (F.col("y"), 1), build)
    memo_col("t.keys", (F.col("x"), 2), build)
    memo_col("t.other", (F.col("x"), 1), build)
    assert len(calls) == 4


def test_memo_col_container_results_are_copies(spark):
    """A caller mutating a returned dict/list must not poison the
    cache for later callers (r14 ADVICE)."""
    d1 = memo_col("t.dict", (), lambda: {"a": F.lit(1), "b": F.lit(2)})
    d1["a"] = "poisoned"
    del d1["b"]
    d2 = memo_col("t.dict", (), lambda: {"never": "called"})
    assert sorted(d2) == ["a", "b"] and isinstance(d2["a"], Column)

    l1 = memo_col("t.list", (), lambda: [F.lit(1), F.lit(2)])
    l1.append("junk")
    l2 = memo_col("t.list", (), lambda: ["never"])
    assert len(l2) == 2


def test_memo_col_new_gateway_clears_cache(spark, monkeypatch):
    """A new py4j gateway (restarted JVM) must invalidate every
    cached Column handle — they are bound to the old JVM."""
    memo_col("t.gw", (), lambda: F.lit(1))
    assert len(exprcache._CACHE) == 1
    sentinel = object()
    monkeypatch.setattr(exprcache, "_gateway", lambda: sentinel)
    calls = []
    memo_col("t.gw", (), lambda: calls.append(1) or F.lit(1))
    assert calls == [1]
    assert exprcache._CACHE_GATEWAY is sentinel


def test_memo_col_same_name_different_frame_collides_by_design(spark):
    """str(F.col('c')) == str(df['c']) for same-named columns: the
    documented contract is F.col-rooted fragments ONLY, where the
    collision is exactly the sharing we want. This test pins the
    behavior so a future keying change is a conscious one."""
    df1 = spark.range(3).select(F.col("id").alias("c"))
    df2 = spark.range(5).select(F.col("id").alias("c"))
    assert str(F.col("c")) == str(df1["c"]) == str(df2["c"])


# --- direct equivalence tests for the r14 fragment builders ---------


def test_table_buckets_matches_legacy_slice_form(spark):
    """table_buckets (one sign evaluation + substrings) must be
    byte-identical to the legacy per-table array_join(slice) form."""
    from frames_spark.dedup.embedding import _fixed, _sign_array, table_buckets

    num_tables, num_planes, dim = 4, 4, 8
    df = spark.range(50).select(
        F.col("id").alias("vec_id"),
        F.transform(
            F.sequence(F.lit(1), F.lit(dim)),
            lambda i: (F.pmod(F.xxhash64(F.col("id") * 31 + i), F.lit(997))
                       - 498).cast("double") / 100.0,
        ).alias("embedding"),
    )
    fixed = _fixed(df, "vec_id", "embedding")
    new = fixed.select(
        "vid", F.explode(table_buckets(num_tables, num_planes, dim)).alias("tb")
    ).select("vid", F.col("tb.tbl").alias("tbl"), F.col("tb.bucket").alias("bucket"))
    signs = _sign_array(num_tables * num_planes, dim)
    legacy = fixed.select(
        "vid",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(num_tables - 1)),
                lambda t: F.struct(
                    t.alias("tbl"),
                    F.array_join(
                        F.slice(signs, t * num_planes + 1, num_planes), ""
                    ).alias("bucket"),
                ),
            )
        ).alias("tb"),
    ).select("vid", F.col("tb.tbl").alias("tbl"), F.col("tb.bucket").alias("bucket"))
    assert new.exceptAll(legacy).count() == 0
    assert legacy.exceptAll(new).count() == 0


def test_triangle_corners_matches_bruteforce(spark):
    """triangle_probe over degree-oriented neighbour lists must
    enumerate exactly the brute-force triangle set, once each — also
    with a star hub whose degree exceeds every other node's (its id
    is the smallest, so only the degree orientation keeps it last)."""
    from frames_spark.operators.graph import neighbour_lists, triangle_probe

    # deterministic pseudo-random graph on 30 nodes + a planted clique
    # (also listed reversed) + a hub joined to every node; pairs repeat
    n = 30
    hub = -1
    edges = (
        spark.range(200)
        .select(
            F.pmod(F.xxhash64(F.col("id"), F.lit("u")), F.lit(n)).alias("u"),
            F.pmod(F.xxhash64(F.col("id"), F.lit("v")), F.lit(n)).alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .select(F.least("u", "v").alias("u"), F.greatest("u", "v").alias("v"))
        .union(
            spark.createDataFrame(
                [(a, b) for a in range(5) for b in range(a + 1, 5)]
                + [(b, a) for a in range(5) for b in range(a + 1, 5)]
                + [(hub, b) for b in range(n)],
                "u long, v long",
            )
        )
    )
    adj = neighbour_lists(edges)
    degs = {r["n"]: r["deg"] for r in adj.collect()}
    assert all(d < degs[hub] for node, d in degs.items() if node != hub)
    tri = triangle_probe(adj).select(
        F.col("lo").alias("p"), F.col("hi").alias("a"), F.explode("common").alias("b")
    )
    got_list = [
        tuple(sorted((r["a"], r["b"], r["p"]))) for r in tri.collect()
    ]
    got = set(got_list)
    assert len(got_list) == len(got), "triangle emitted twice"
    es = {(min(r["u"], r["v"]), max(r["u"], r["v"])) for r in edges.collect()}
    adj_sets: dict[int, set[int]] = {}
    for u, v in es:
        adj_sets.setdefault(u, set()).add(v)
        adj_sets.setdefault(v, set()).add(u)
    assert degs == {node: len(ns) for node, ns in adj_sets.items()}
    want = {
        (a, b, c)
        for a in adj_sets
        for b in adj_sets[a] if b > a
        for c in adj_sets[b] if c > b and c in adj_sets[a]
    }
    assert got == want and len(want) >= 10


def test_simhash_from_index_matches_corpus_path(spark):
    """simhash_from_index over shingle_index == simhash_fingerprints
    over the corpus."""
    from frames_spark.dedup import simhash as sh
    from frames_spark.dedup.jaccard import shingle_index

    docs = spark.range(40).select(
        F.col("id").alias("doc_id"),
        F.concat_ws(
            " ",
            F.transform(
                F.sequence(F.lit(1), F.lit(12)),
                lambda i: F.concat(
                    F.lit("w"),
                    F.pmod(F.xxhash64(F.col("id") * 7 + i), F.lit(9)).cast("string"),
                ),
            ),
        ).alias("text"),
    )
    via_index = sh.simhash_from_index(shingle_index(docs, "doc_id", "text", n=3))
    direct = sh.simhash(docs, "doc_id", "text", n=3)
    assert via_index.exceptAll(direct).count() == 0
    assert direct.exceptAll(via_index).count() == 0
