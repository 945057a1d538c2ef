"""SemDeDup (dedup/semdedup.py): deterministic codebook assignment,
planted-duplicate recovery, guard behavior, summary consistency."""

from __future__ import annotations

from pyspark.sql import functions as F

from frames_spark.dedup import semdedup
from frames_spark.queries.q01_core_ops import _with_perturbed_copies
from frames_spark.sources.tables import load_table


def _corpus(spark, sf_dir, n=200):
    emb = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < n)
    return _with_perturbed_copies(emb)


def test_codebook_is_deterministic_and_pm1():
    a = semdedup.centroid_components(3, 64)
    b = semdedup.centroid_components(3, 64)
    assert a == b
    assert set(a) <= {-1, 1}
    # distinct centroids differ
    assert a != semdedup.centroid_components(4, 64)


def test_assignment_is_total_and_stable(spark, sf_dir):
    corpus = _corpus(spark, sf_dir)
    assigned = semdedup.assign_clusters(corpus, "vec_id", "embedding", 16)
    rows = assigned.select("vid", "cluster").collect()
    assert len(rows) == corpus.count()
    assert all(0 <= r.cluster < 16 for r in rows)
    again = dict(
        semdedup.assign_clusters(corpus, "vec_id", "embedding", 16)
        .select("vid", "cluster")
        .collect()
    )
    assert dict(rows) == again


def test_planted_copies_drop(spark, sf_dir):
    corpus = _corpus(spark, sf_dir)
    n = corpus.count() // 2
    drops = semdedup.semdedup_drops(
        corpus, "vec_id", "embedding", n_centroids=16, threshold=0.9
    )
    dropped = {r.vec_id for r in drops.collect()}
    # a perturbed copy is near-identical to its original; whenever the
    # pair lands in one codebook cell the copy (larger id) must drop.
    # The ±1 codebook splits some boundary pairs across cells — accept
    # a 60% floor, which a broken pair stage cannot reach.
    planted_hits = sum(1 for d in dropped if d >= 1_000_000)
    assert planted_hits >= n * 0.6
    # keep rule: an id drops only if some smaller same-cluster id is
    # similar — originals with no smaller near-dup survive
    assert len(dropped) < corpus.count()


def test_pairs_are_within_cluster_and_ordered(spark, sf_dir):
    corpus = _corpus(spark, sf_dir, n=100)
    pairs = semdedup.semdedup_pairs(
        corpus, "vec_id", "embedding", n_centroids=8, threshold=0.9
    )
    assigned = dict(
        semdedup.assign_clusters(corpus, "vec_id", "embedding", 8)
        .select("vid", "cluster")
        .collect()
    )
    for r in pairs.collect():
        assert r.id_a < r.id_b
        assert assigned[r.id_a] == r.cluster
        assert assigned[r.id_b] == r.cluster
        assert r.cosine >= 0.9


def test_max_cluster_guard_drops_degenerate_cells(spark, sf_dir):
    corpus = _corpus(spark, sf_dir, n=100)
    # with ONE centroid everything lands in one cell; a guard below
    # the corpus size must suppress every pair
    guarded = semdedup.semdedup_pairs(
        corpus, "vec_id", "embedding", n_centroids=1, threshold=0.9,
        max_cluster=10,
    )
    assert guarded.count() == 0
    unguarded = semdedup.semdedup_pairs(
        corpus, "vec_id", "embedding", n_centroids=1, threshold=0.9,
        max_cluster=None,
    )
    assert unguarded.count() > 0


def test_summary_surfaces_guard_skipped_clusters(spark, sf_dir):
    # r9 advice #4: the max_cluster guard must never be a silent cap —
    # a skipped cluster reads (over_cap=True, n_dropped=0) in the
    # summary so "no duplicates found" and "pairs never expanded" are
    # distinguishable.
    corpus = _corpus(spark, sf_dir, n=100)
    rows = semdedup.semdedup_summary(
        corpus, "vec_id", "embedding", n_centroids=1, threshold=0.9,
        max_cluster=10,
    ).collect()
    assert len(rows) == 1  # one centroid -> one degenerate cell
    assert rows[0].over_cap is True
    assert rows[0].n_dropped == 0
    assert rows[0].n_members > 10
    # with the guard above the cluster size nothing is flagged
    ok = semdedup.semdedup_summary(
        corpus, "vec_id", "embedding", n_centroids=1, threshold=0.9,
        max_cluster=100000,
    ).collect()
    assert ok[0].over_cap is False and ok[0].n_dropped > 0


def test_summary_is_consistent_with_drops(spark, sf_dir):
    corpus = _corpus(spark, sf_dir)
    summary = semdedup.semdedup_summary(
        corpus, "vec_id", "embedding", n_centroids=16, threshold=0.9
    ).collect()
    drops = semdedup.semdedup_drops(
        corpus, "vec_id", "embedding", n_centroids=16, threshold=0.9
    )
    by_cluster = {
        r.cluster: r.cnt
        for r in drops.groupBy("cluster")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .collect()
    }
    assert sum(r.n_members for r in summary) == corpus.count()
    for r in summary:
        assert r.n_dropped == by_cluster.get(r.cluster, 0)
        assert 0 <= r.n_dropped < r.n_members or (
            r.n_dropped == 0 and r.n_members == 0
        )


def test_library_default_max_cluster_is_the_guarded_one():
    # r7 verdict: the registered queries passed max_cluster=4000 but the
    # library default (100_000) permitted a ~5e9-pair single-row explode.
    # The guarded value is now the default — pin it so a future "relax
    # the default" edit is a conscious diff here.
    import inspect

    assert semdedup.DEFAULT_MAX_CLUSTER == 4000
    for fn in (
        semdedup.semdedup_pairs,
        semdedup.semdedup_drops,
        semdedup.semdedup_summary,
    ):
        sig = inspect.signature(fn)
        assert sig.parameters["max_cluster"].default == 4000, fn.__name__


def test_cluster_stats_preflight(spark, sf_dir):
    corpus = _corpus(spark, sf_dir, n=100)
    stats = semdedup.semdedup_cluster_stats(
        corpus, "vec_id", "embedding", n_centroids=16
    ).collect()
    # histogram covers the whole corpus exactly once
    assert sum(r.cluster_size * r.n_clusters for r in stats) == 200
    # sorted by size descending; pair counts are n*(n-1)/2
    sizes = [r.cluster_size for r in stats]
    assert sizes == sorted(sizes, reverse=True)
    for r in stats:
        assert r.pairs_per_cluster == r.cluster_size * (r.cluster_size - 1) // 2
    # degenerate corpus shows up as ONE giant cell
    one = semdedup.semdedup_cluster_stats(
        corpus, "vec_id", "embedding", n_centroids=1
    ).collect()
    assert len(one) == 1 and one[0].cluster_size == 200
