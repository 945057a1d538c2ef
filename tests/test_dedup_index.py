"""Persisted cross-run dedup index (dedup/index.py): batch-increment
probe+append over a versioned band-bucket table equals the full
recompute, replays are idempotent, hot buckets respect max_bucket."""

from __future__ import annotations

from pyspark.sql import functions as F

from frames_spark.dedup.index import probe_and_append, read_index
from frames_spark.dedup.minhash import lsh_candidate_pairs, minhash_signatures
from frames_spark.queries.q01_core_ops import _with_near_copies
from frames_spark.sources.tables import load_table


def _pairs(df):
    return {(r.doc_a, r.doc_b) for r in df.collect()}


def test_incremental_probe_equals_full_recompute(spark, sf_dir, tmp_path):
    docs = load_table(spark, sf_dir, "documents").limit(50).cache()
    corpus = _with_near_copies(docs)
    b1 = corpus.filter(F.col("doc_id") < 1_000_000)   # day 1: originals
    b2 = corpus.filter(F.col("doc_id") >= 1_000_000)  # day 2: near copies
    idx = str(tmp_path / "bandidx")
    p1, v1 = probe_and_append(spark, idx, b1)
    pairs1 = _pairs(p1)
    p2, v2 = probe_and_append(spark, idx, b2)
    pairs2 = _pairs(p2)
    assert (v1, v2) == (1, 2)
    full = lsh_candidate_pairs(
        minhash_signatures(corpus, "doc_id", "text", n=3, num_hashes=8),
        bands=4,
        rows_per_band=2,
    )
    want = _pairs(full)
    assert pairs1 | pairs2 == want
    assert want, "planted near-copies must produce candidate pairs"
    # the cross-batch pairs specifically came from the PERSISTED index
    assert any(a < 1_000_000 <= b for a, b in pairs2)


def test_replayed_batch_is_idempotent(spark, sf_dir, tmp_path):
    docs = load_table(spark, sf_dir, "documents").limit(30).cache()
    corpus = _with_near_copies(docs)
    b1 = corpus.filter(F.col("doc_id") < 1_000_000)
    b2 = corpus.filter(F.col("doc_id") >= 1_000_000)
    idx = str(tmp_path / "bandidx")
    probe_and_append(spark, idx, b1)[0].collect()
    p2, _ = probe_and_append(spark, idx, b2)
    pairs2 = _pairs(p2)
    # replay of batch 2 (a re-crawl / retried job)
    p3, v3 = probe_and_append(spark, idx, b2)
    assert _pairs(p3) == pairs2  # same candidates, nothing doubled
    assert v3 == 3
    # upsert semantics: one signature set per doc in the live snapshot
    idx_df = read_index(spark, idx)
    dup_rows = (
        idx_df.groupBy("doc", "band")
        .agg(F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") > 1)
        .count()
    )
    assert dup_rows == 0


def test_max_bucket_guards_hot_buckets_at_probe_time(spark, tmp_path):
    same = "alpha beta gamma delta epsilon zeta"
    hot = spark.createDataFrame(
        [(i, same) for i in range(6)], "doc_id long, text string"
    )
    idx = str(tmp_path / "bandidx")
    p, _ = probe_and_append(spark, idx, hot, max_bucket=2)
    assert p.count() == 0  # 6-doc bucket exceeds the cap: no expansion
    p2, _ = probe_and_append(spark, idx, hot.limit(0), max_bucket=2)
    assert p2.count() == 0


def test_index_plus_update_components_equals_full_reclustering(
    spark, sf_dir, tmp_path
):
    # the complete daily-increment composition: probe_and_append gives
    # each batch's candidate pairs, update_components folds them into
    # the running labels — and after two days the labels must equal a
    # full one-shot recompute (pairs + connected_components) over the
    # whole corpus
    from frames_spark.dedup.cluster import connected_components, update_components

    docs = load_table(spark, sf_dir, "documents").limit(40).cache()
    corpus = _with_near_copies(docs)
    b1 = corpus.filter(F.col("doc_id") < 1_000_000)
    b2 = corpus.filter(F.col("doc_id") >= 1_000_000)
    idx = str(tmp_path / "bandidx")
    p1, _ = probe_and_append(spark, idx, b1)
    edges1 = p1.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
    labels = connected_components(edges1)  # day 1 (possibly empty)
    p2, _ = probe_and_append(spark, idx, b2)
    edges2 = p2.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
    labels = update_components(labels, edges2)
    got = {(r.node, r.component) for r in labels.collect()}
    full_pairs = lsh_candidate_pairs(
        minhash_signatures(corpus, "doc_id", "text", n=3, num_hashes=8),
        bands=4,
        rows_per_band=2,
    )
    want = {
        (r.node, r.component)
        for r in connected_components(
            full_pairs.select(
                F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
            )
        ).collect()
    }
    assert got == want
    assert want, "planted copies must cluster"


def test_streaming_probe_matches_batch_probes(spark, sf_dir, tmp_path):
    # a 2-microbatch doc stream through foreach_batch_probe must
    # accumulate exactly the pairs the full one-shot recompute finds,
    # with pairs landed replay-safe under batch_id partitions
    from frames_spark.dedup.index import foreach_batch_probe, read_pair_log

    docs = load_table(spark, sf_dir, "documents").limit(40).cache()
    corpus = _with_near_copies(docs)
    src = tmp_path / "doc_stream"
    src.mkdir()
    # the file stream lists FILES: stage each day's write, then move
    # its single part file into the stream dir (atomic placement)
    import glob as _glob
    import shutil

    for day, cond in (
        ("day1", F.col("doc_id") < 1_000_000),
        ("day2", F.col("doc_id") >= 1_000_000),
    ):
        stage = str(tmp_path / f"stage_{day}")
        corpus.filter(cond).coalesce(1).write.parquet(stage)
        (part,) = _glob.glob(f"{stage}/part-*.parquet")
        shutil.move(part, str(src / f"{day}.parquet"))
    schema = spark.read.parquet(str(src / "day1.parquet")).schema
    stream = (
        spark.readStream.schema(schema)
        .format("parquet")
        .option("maxFilesPerTrigger", "1")
        .load(str(src))
    )
    idx = str(tmp_path / "bandidx")
    pairs_dir = str(tmp_path / "pairs")
    q = (
        stream.writeStream.foreachBatch(foreach_batch_probe(idx, pairs_dir))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    got = _pairs(read_pair_log(spark, pairs_dir))
    want = _pairs(
        lsh_candidate_pairs(
            minhash_signatures(corpus, "doc_id", "text", n=3, num_hashes=8),
            bands=4,
            rows_per_band=2,
        )
    )
    assert got == want and want
    # replay bookkeeping: pairs are partitioned by epoch
    import glob

    assert glob.glob(f"{pairs_dir}/batch_id=*")


def test_probe_plan_is_equi_join_on_band_key(spark, sf_dir, tmp_path):
    # the probe must stay a hash equi-join keyed on (band, band_key) —
    # never a cartesian / nested-loop — and the filter doc != doc must
    # ride the join, not a post-join stage
    docs = load_table(spark, sf_dir, "documents").limit(30).cache()
    corpus = _with_near_copies(docs)
    idx = str(tmp_path / "bandidx")
    b1 = corpus.filter(F.col("doc_id") < 1_000_000)
    b2 = corpus.filter(F.col("doc_id") >= 1_000_000)
    probe_and_append(spark, idx, b1)[0].count()
    pairs, _ = probe_and_append(spark, idx, b2)
    plan = pairs._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoop" not in plan
    join_lines = [
        line for line in plan.splitlines() if "HashJoin" in line
    ]
    assert any("band_key" in line for line in join_lines), plan


def test_increment_mode_matches_full_recompute_and_replays(spark, sf_dir, tmp_path):
    # the O(batch) append-only layout: per-increment probes must
    # accumulate the full recompute's pairs, and replaying a key
    # replaces its rows instead of doubling them
    from frames_spark.dedup.index import probe_increment

    docs = load_table(spark, sf_dir, "documents").limit(40).cache()
    corpus = _with_near_copies(docs)
    b1 = corpus.filter(F.col("doc_id") < 1_000_000)
    b2 = corpus.filter(F.col("doc_id") >= 1_000_000)
    idx = str(tmp_path / "incidx")
    pairs1 = _pairs(probe_increment(spark, idx, b1, "day-001"))
    pairs2 = _pairs(probe_increment(spark, idx, b2, "day-002"))
    want = _pairs(
        lsh_candidate_pairs(
            minhash_signatures(corpus, "doc_id", "text", n=3, num_hashes=8),
            bands=4,
            rows_per_band=2,
        )
    )
    assert pairs1 | pairs2 == want and want
    # replay day-002: same pairs, rows replaced not appended
    n_before = spark.read.parquet(idx).count()
    assert _pairs(probe_increment(spark, idx, b2, "day-002")) == pairs2
    assert spark.read.parquet(idx).count() == n_before


def test_increment_compaction_keeps_latest_signatures(spark, tmp_path):
    # a re-crawled doc carries BOTH signature sets between
    # compactions; compact_index converges it to the latest increment
    from frames_spark.dedup.index import compact_index, probe_increment

    idx = str(tmp_path / "incidx")
    v1 = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta")], "doc_id long, text string"
    )
    v2 = spark.createDataFrame(
        [(1, "totally different words appear here now")], "doc_id long, text string"
    )
    probe_increment(spark, idx, v1, "day-001").count()
    probe_increment(spark, idx, v2, "day-002").count()
    both = spark.read.parquet(idx)
    assert both.select("band_key").distinct().count() == 8  # 4 bands x 2 texts
    kept = compact_index(spark, idx)
    assert kept == 4  # one signature set (4 bands) survives
    after = spark.read.parquet(idx).drop("inc", "inc0")
    # surviving band keys are exactly v2's
    from frames_spark.dedup.index import band_rows

    want = {
        (r.band, r.band_key)
        for r in band_rows(v2, "doc_id", "text").collect()
    }
    assert {(r.band, r.band_key) for r in after.collect()} == want
    # probes keep working against the compacted layout
    v3 = spark.createDataFrame(
        [(2, "totally different words appear here now")], "doc_id long, text string"
    )
    # the sidestep the r7 advice flagged — a post-compaction key that
    # sorts BELOW the compacted dir name — now works: latest-wins
    # compares original inc0 keys, not directory names
    p = probe_increment(spark, idx, v3, "day-003")
    assert _pairs(p) == {(1, 2)}


def test_recompaction_does_not_resurrect_stale_signatures(spark, tmp_path):
    # r7 advice: with the old 'zz-compacted' key, a doc re-crawled in a
    # later increment ('day-003' < 'zz-compacted') had its NEW rows
    # discarded at the next compaction and the stale rows won forever.
    # inc0 carries original keys through compaction, so compact ->
    # re-crawl -> compact must keep the NEWEST signature set.
    from frames_spark.dedup.index import band_rows, compact_index, probe_increment

    idx = str(tmp_path / "incidx2")
    v1 = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta")], "doc_id long, text string"
    )
    v2 = spark.createDataFrame(
        [(1, "totally different words appear here now")], "doc_id long, text string"
    )
    probe_increment(spark, idx, v1, "day-001").count()
    assert compact_index(spark, idx) == 4
    probe_increment(spark, idx, v2, "day-002").count()
    assert compact_index(spark, idx) == 4
    after = spark.read.parquet(idx)
    want = {
        (r.band, r.band_key) for r in band_rows(v2, "doc_id", "text").collect()
    }
    assert {(r.band, r.band_key) for r in after.collect()} == want
    # and the surviving rows remember their true increment
    assert {r.inc0 for r in after.collect()} == {"day-002"}


def test_reserved_compaction_key_rejected(spark, tmp_path):
    import pytest as _pytest

    from frames_spark.dedup.index import probe_increment

    v = spark.createDataFrame([(1, "a b c d e f")], "doc_id long, text string")
    with _pytest.raises(ValueError, match="reserved"):
        probe_increment(spark, str(tmp_path / "x"), v, "compacted")


def test_empty_increment_key_rejected(spark, tmp_path):
    # r9 advice #5: '' wrote a literal `inc=` partition that
    # round-trips as NULL inc and breaks every latest-wins comparison
    import pytest as _pytest

    from frames_spark.dedup.index import probe_increment

    v = spark.createDataFrame([(1, "a b c d e f")], "doc_id long, text string")
    with _pytest.raises(ValueError, match="invalid increment key"):
        probe_increment(spark, str(tmp_path / "x"), v, "")


def test_changed_content_replay_after_compaction(spark, tmp_path):
    # r9 advice #1: replay an ALREADY-COMPACTED key with CHANGED
    # content. The stale compacted rows tie on inc0 with the fresh
    # replay rows; the next compaction must keep ONLY the replay's
    # signature set (fresh increment dirs beat the compacted dir at
    # the same original key), not the union.
    from frames_spark.dedup.index import band_rows, compact_index, probe_increment

    idx = str(tmp_path / "incidx3")
    v1 = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta")], "doc_id long, text string"
    )
    v1b = spark.createDataFrame(
        [(1, "totally different words appear here now")], "doc_id long, text string"
    )
    probe_increment(spark, idx, v1, "day-001").count()
    assert compact_index(spark, idx) == 4
    # replay the SAME key with different content (a corrected crawl)
    probe_increment(spark, idx, v1b, "day-001").count()
    assert compact_index(spark, idx) == 4  # not 8: stale set dropped
    after = spark.read.parquet(idx)
    want = {
        (r.band, r.band_key) for r in band_rows(v1b, "doc_id", "text").collect()
    }
    assert {(r.band, r.band_key) for r in after.collect()} == want
    assert {r.inc0 for r in after.collect()} == {"day-001"}


def test_changed_content_replay_after_custom_key_compaction(spark, tmp_path):
    # r10 advice #2: the old `inc.isin(key, COMPACTED_KEY)` literal
    # test ranked rows from a PRIOR custom-key compaction
    # (compact_index(key='snap1')) as FRESH when a LATER compaction
    # used the default key — so a changed-content replay of an
    # already-compacted key tied with the stale set and unioned both.
    # Priority is now structural (inc == inc0 means fresh), so any
    # compaction-key sequence keeps only the replay's signatures.
    from frames_spark.dedup.index import band_rows, compact_index, probe_increment

    idx = str(tmp_path / "incidx4")
    v1 = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta")], "doc_id long, text string"
    )
    v1b = spark.createDataFrame(
        [(1, "totally different words appear here now")], "doc_id long, text string"
    )
    probe_increment(spark, idx, v1, "day-001").count()
    assert compact_index(spark, idx, key="snap1") == 4
    probe_increment(spark, idx, v1b, "day-001").count()
    assert compact_index(spark, idx) == 4  # not 8: stale set dropped
    after = spark.read.parquet(idx)
    want = {
        (r.band, r.band_key) for r in band_rows(v1b, "doc_id", "text").collect()
    }
    assert {(r.band, r.band_key) for r in after.collect()} == want
    assert {r.inc0 for r in after.collect()} == {"day-001"}


def test_compaction_key_collision_rejected(spark, tmp_path):
    # a compaction key equal to a live original increment key would
    # make that compaction's rows look fresh (inc == inc0) at the
    # next compaction — refuse it up front
    import pytest as _pytest

    from frames_spark.dedup.index import compact_index, probe_increment

    idx = str(tmp_path / "incidx5")
    v = spark.createDataFrame([(1, "a b c d e f")], "doc_id long, text string")
    probe_increment(spark, idx, v, "day-001").count()
    with _pytest.raises(ValueError, match="collides"):
        compact_index(spark, idx, key="day-001")
    with _pytest.raises(ValueError, match="invalid compaction key"):
        compact_index(spark, idx, key="")


def test_probe_cache_released_when_result_dropped(spark, tmp_path):
    # r7 advice: persisted intermediates accumulated across calls in a
    # long-lived session. tie_cache unpersists when the caller drops
    # the returned pairs DataFrame.
    import gc

    from frames_spark.dedup.index import probe_increment

    idx = str(tmp_path / "cacheidx")
    v = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta")], "doc_id long, text string"
    )
    def n_cached():
        return spark.sparkContext._jsc.sc().getPersistentRDDs().size()

    # drain finalizers from EARLIER tests' dropped probe results, so
    # `before` doesn't count caches the in-test gc.collect() would free
    gc.collect()
    before = n_cached()
    pairs = probe_increment(spark, idx, v, "day-001")
    pairs.count()
    during = n_cached()
    assert during > before
    del pairs
    gc.collect()
    after = n_cached()
    assert after == before
