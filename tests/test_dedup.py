"""Dedup family: planted-duplicate recovery + LSH recall floors."""

from __future__ import annotations

from pyspark.sql import functions as F

from frames_spark.dedup import embedding, exact, jaccard, minhash, simhash
from frames_spark.queries.q01_core_ops import (
    _with_exact_copies,
    _with_near_copies,
    _with_perturbed_copies,
)
from frames_spark.sources.tables import load_table


def test_exact_dedup_collapses_planted_copies(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    n = docs.count()
    corpus = _with_exact_copies(docs)
    deduped = exact.exact_dedup(corpus, "doc_id", "text")
    assert deduped.count() == n
    # canonical keep-rule: min id -> all originals survive
    assert deduped.filter(F.col("doc_id") >= 1_000_000).count() == 0


def test_jaccard_finds_planted_near_dups(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents").limit(60).cache()
    corpus = _with_near_copies(docs)
    pairs = jaccard.jaccard_pairs(
        corpus, "doc_id", "text", n=3, threshold=0.6
    ).collect()
    planted = {(r.doc_a, r.doc_b) for r in pairs if r.doc_b == r.doc_a + 1_000_000}
    # dropping one word keeps >0.6 trigram jaccard for almost all docs
    assert len(planted) >= docs.count() * 0.9
    assert all(0 < r.jaccard <= 1 for r in pairs)


def test_minhash_candidates_cover_planted_pairs(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents").limit(60).cache()
    corpus = _with_near_copies(docs)
    sigs = minhash.minhash_signatures(corpus, "doc_id", "text", num_hashes=8)
    cands = minhash.lsh_candidate_pairs(sigs, bands=4, rows_per_band=2)
    got = {(r.doc_a, r.doc_b) for r in cands.collect()}
    planted = {
        (r.doc_id, r.doc_id + 1_000_000) for r in docs.select("doc_id").collect()
    }
    recall = len(got & planted) / len(planted)
    assert recall >= 0.8  # banded MinHash recall floor for ~0.9 jaccard


def test_simhash_near_dups_have_close_fingerprints(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents").limit(40).cache()
    corpus = _with_near_copies(docs)
    fp = simhash.simhash(corpus, "doc_id", "text")
    a = fp.filter(F.col("doc") < 1_000_000).select(
        F.col("doc").alias("d"), F.col("simhash").alias("ha")
    )
    b = fp.filter(F.col("doc") >= 1_000_000).select(
        (F.col("doc") - 1_000_000).alias("d"), F.col("simhash").alias("hb")
    )
    joined = a.join(b, "d").withColumn(
        "hamming", F.bit_count(F.expr("ha ^ hb"))
    )
    avg_ham = joined.agg(F.avg("hamming")).first()[0]
    assert avg_ham < 10  # near-identical docs -> close fingerprints


def test_embedding_lsh_recall_vs_exact(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings").limit(150).cache()
    corpus = _with_perturbed_copies(emb)
    exact_pairs = {
        (r.id_a, r.id_b)
        for r in embedding.cosine_pairs(
            corpus, "vec_id", "embedding", threshold=0.9
        ).collect()
    }
    lsh_pairs = {
        (r.id_a, r.id_b)
        for r in embedding.near_dup_pairs_lsh(
            corpus, "vec_id", "embedding", threshold=0.9, num_planes=4
        ).collect()
    }
    assert lsh_pairs <= exact_pairs  # no false positives (exact verify)
    assert len(lsh_pairs) >= 0.5 * max(len(exact_pairs), 1)


def test_containment_pairs_match_reference_self_join(spark, sf_dir):
    # the posting-list + post-agg mirror formulation must produce the
    # exact pair set of the naive two-sided index self-join it replaces
    docs = load_table(spark, sf_dir, "documents").limit(40).cache()
    corpus = _with_near_copies(docs)
    got = {
        (r.doc_a, r.doc_b, r.n_common, r.n_shingles_a)
        for r in jaccard.containment_pairs(
            corpus, "doc_id", "text", 3, max_df=None
        ).collect()
    }
    sh = jaccard.shingle_index(corpus, "doc_id", "text", 3)
    sizes = sh.groupBy("doc").agg(F.count(F.lit(1)).alias("n"))
    ref = (
        sh.select(F.col("doc").alias("doc_a"), "shingle")
        .join(sh.select(F.col("doc").alias("doc_b"), "shingle"), "shingle")
        .filter(F.col("doc_a") != F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("nc"))
        .join(sizes.select(F.col("doc").alias("doc_a"), "n"), "doc_a")
    )
    want = {(r.doc_a, r.doc_b, r.nc, r.n) for r in ref.collect()}
    assert got == want and len(got) > 0


def test_containment_max_df_drops_hot_shingle_pairs(spark):
    hot = "x y z"  # one shingle shared by every doc
    docs = spark.createDataFrame(
        [(i, f"{hot} u{i} v{i} w{i}") for i in range(10)],
        "doc_id long, text string",
    )
    unguarded = jaccard.containment_pairs(docs, "doc_id", "text", 3)
    assert unguarded.count() == 10 * 9  # ordered pairs via the hot shingle
    guarded = jaccard.containment_pairs(docs, "doc_id", "text", 3, max_df=5)
    assert guarded.count() == 0


def test_jaccard_default_max_df_guards_hot_shingles(spark):
    # The default guard is "auto" (suggest_max_df), which sits at the
    # DEFAULT_MAX_DF floor for small corpora: a boilerplate shingle
    # shared by more docs than the floor generates ZERO candidate
    # pairs instead of D²/2 — for jaccard_pairs and containment_pairs.
    hot = "x y z"
    n = jaccard.DEFAULT_MAX_DF + 6
    docs = spark.createDataFrame(
        [(i, f"{hot} u{i} v{i} w{i}") for i in range(n)],
        "doc_id long, text string",
    )
    assert jaccard.jaccard_pairs(docs, "doc_id", "text", 3, threshold=0.0).count() == 0
    assert jaccard.containment_pairs(docs, "doc_id", "text", 3).count() == 0
    # and with the guard explicitly off the hot shingle pairs everyone
    assert (
        jaccard.containment_pairs(docs, "doc_id", "text", 3, max_df=None).count()
        == n * (n - 1)
    )


def test_containment_has_no_inner_join_on_shingle(spark, sf_dir):
    # the quadratic trap: an INNER self-join of the index on the raw
    # shingle key expands a hot shingle shared by D docs to D² rows.
    # The posting-list form generates pairs from ONE groupBy; the only
    # shingle-keyed join allowed is the linear LeftSemi max_df guard.
    docs = load_table(spark, sf_dir, "documents")
    plan = jaccard.containment_pairs(
        _with_near_copies(docs), "doc_id", "text", 3, max_df=64
    )._jdf.queryExecution().optimizedPlan().toString()
    bad = [
        line
        for line in plan.splitlines()
        if "Join Inner" in line and "shingle#" in line
    ]
    assert not bad, bad


def test_near_dup_default_guard_warns_on_dense_corpus(spark):
    """The library default is now guard="warn" (r11 verdict #4 — the
    miners' eager posture): a corpus whose max_bucket filter would
    drop most candidate mass warns instead of silently returning an
    empty pair set. Registered queries pin guard="off" explicitly."""
    import warnings

    from frames_spark.dedup import embedding

    rows = [(i, [1.0] + [0.0] * 63) for i in range(12)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        out = embedding.near_dup_pairs_lsh(
            df, "vec_id", "embedding", threshold=0.9,
            num_planes=2, num_tables=2, max_bucket=4,
        )
        assert out.count() == 0  # dropped everything — but loudly
    assert any("ppm" in str(w.message) for w in caught)


def test_suggest_max_df_scales_with_corpus(spark):
    """The stop-shingle governor (r12: the sf1 sweep showed a fixed
    df<=64 stops EVERY shingle at 10x the bench corpus — dedup
    silently returns zero pairs). Boilerplate is a rate: >1% of docs
    at any corpus size; small corpora keep the proven fixed floor."""
    from frames_spark.dedup import jaccard

    assert jaccard.suggest_max_df(5_000) == 64       # floor
    assert jaccard.suggest_max_df(50_000) == 500     # 1% of corpus
    assert jaccard.suggest_max_df(10_000_000) == 100_000
    # max_df="auto" resolves through a one-aggregate pre-flight
    docs = spark.createDataFrame(
        [(i, "alpha beta gamma delta " + ("x" if i % 2 else "y"))
         for i in range(10)],
        "doc_id long, text string",
    )
    auto = jaccard.jaccard_pairs(
        docs, "doc_id", "text", n=3, threshold=0.3, max_df="auto"
    )
    pinned = jaccard.jaccard_pairs(
        docs, "doc_id", "text", n=3, threshold=0.3, max_df=64
    )
    assert sorted(map(tuple, auto.collect())) == sorted(
        map(tuple, pinned.collect())
    )


def test_default_max_df_derives_rate_cap_at_scale(spark):
    """The library DEFAULT (no max_df argument) is the governor, at
    both corpus sizes (r12 verdict #4): below the floor threshold it
    behaves as the proven fixed cap (previous test); above it the cap
    scales with the corpus, so shingles a fixed df<=64 would wrongly
    stop (df between the floor and 1% of docs) still generate pairs.
    This is the exact sf1 zero-recall failure mode, reproduced small:
    8000 docs -> auto cap 80; a df=70 shingle family is content under
    the governor, boilerplate under the stale fixed cap."""
    n_docs, n_warm = 8_000, 70
    assert jaccard.suggest_max_df(n_docs) == 80
    rows = [
        (
            i,
            "h1 h2 h3 "  # hot shingle in EVERY doc: df=8000, dropped by both
            + ("w1 w2 w3 " if i < n_warm else "")
            + f"u{i} v{i}",
        )
        for i in range(n_docs)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    # default (auto): the warm docs pair up through their df=70 shingles
    got = jaccard.jaccard_pairs(docs, "doc_id", "text", n=3, threshold=0.0)
    assert got.count() == n_warm * (n_warm - 1) // 2
    # the stale fixed cap stops the warm shingles too -> zero recall
    stale = jaccard.jaccard_pairs(
        docs, "doc_id", "text", n=3, threshold=0.0,
        max_df=jaccard.DEFAULT_MAX_DF,
    )
    assert stale.count() == 0


def test_auto_cap_is_lazy_and_equals_eager_governor(spark, monkeypatch):
    """r13 ADVICE: max_df="auto" used to run an eager count() job at
    plan-construction time. Since r14 the cap resolves LAZILY — a
    broadcast one-row count aggregate inside the dedup plan — so
    constructors are action-free again. Certify (a) construction
    never calls DataFrame.count, and (b) the lazy cap equals
    suggest_max_df bit-for-bit across the floor/rate breakpoints."""
    from pyspark.sql import DataFrame

    docs = spark.createDataFrame(
        [(i, f"alpha beta gamma u{i} v{i}") for i in range(12)],
        "doc_id long, text string",
    )

    def boom(self):  # any eager action during construction fails loudly
        raise AssertionError("construction triggered an eager action")

    # guard="off" (what every registered query pins) must be fully
    # action-free; the default guard="warn" deliberately runs ONE
    # light id-only action (the candidate-mass backstop, r14 sf10
    # find) and is exercised by test_candidate_mass_guard below.
    monkeypatch.setattr(DataFrame, "count", boom)
    monkeypatch.setattr(DataFrame, "first", boom)
    auto_pairs = jaccard.jaccard_pairs(
        docs, "doc_id", "text", n=3, threshold=0.0, max_df="auto",
        guard="off",
    )
    auto_contain = jaccard.containment_pairs(
        docs, "doc_id", "text", 3, max_df="auto", guard="off"
    )
    auto_from_index = jaccard.containment_pairs_from_index(
        jaccard.shingle_index(docs, "doc_id", "text", 3), max_df="auto",
        guard="off",
    )
    monkeypatch.undo()

    pinned = jaccard.jaccard_pairs(
        docs, "doc_id", "text", n=3, threshold=0.0,
        max_df=jaccard.suggest_max_df(12),
    )
    assert sorted(map(tuple, auto_pairs.collect())) == sorted(
        map(tuple, pinned.collect())
    )
    # both containment entry points execute and agree
    assert sorted(map(tuple, auto_contain.collect())) == sorted(
        map(tuple, auto_from_index.collect())
    )
    # the SQL aggregate replays suggest_max_df exactly at the
    # floor boundary and in the rate regime
    for n in (0, 1, 6_400, 6_401, 50_000, 10_000_000):
        counted = spark.range(n)
        got = jaccard._auto_cap_df(counted).collect()[0][0]
        assert got == jaccard.suggest_max_df(n), n


def test_candidate_mass_guard(spark):
    """r14 sf10 find: when the shingle space saturates (bounded
    vocabulary over a growing corpus) every df slides UNDER the 1%
    rate cap and max_df stops bounding total work — measured 46.2e9
    candidate pairs at 10x the certified density with a cap of
    10,000 and max df 2,006. The eager candidate-mass guard is the
    backstop: pairs/doc over budget warns (default) or raises, and
    points at the MinHash-LSH banded tier. Reproduced small: 40 docs
    sharing one vocabulary of shingles, budget 10 pairs/doc."""
    import warnings

    import pytest

    # every doc shares the same three shingles: candidate mass =
    # 3 * C(40,2) = 2340, i.e. 58 pairs/doc >> budget 10, while every
    # df (40) stays under the max_df cap (64 floor)
    docs = spark.createDataFrame(
        [(i, "a b c d e") for i in range(40)],
        "doc_id long, text string",
    )
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        out = jaccard.jaccard_pairs(
            docs, "doc_id", "text", n=3, threshold=0.0,
            max_pairs_per_doc=10,
        )
        assert out.count() == 40 * 39 // 2  # warn, not drop
    assert any("MinHash" in str(w.message) for w in caught)
    with pytest.raises(ValueError, match="pairs/doc"):
        jaccard.containment_pairs(
            docs, "doc_id", "text", 3, guard="raise", max_pairs_per_doc=10
        )
    # under budget: silent
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        jaccard.jaccard_pairs(
            docs, "doc_id", "text", n=3, threshold=0.0,
            max_pairs_per_doc=100,
        ).count()
    assert not [w for w in caught if "pairs/doc" in str(w.message)]
