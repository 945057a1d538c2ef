"""Hard-negative mining (similarity/negatives.py): label constraint,
rank shape, and agreement with an exact different-label top-k on the
candidate set (the miner's own semantics, independently recomputed
in numpy from the same fixed-point quantization)."""

from __future__ import annotations

import duckdb
import numpy as np

from frames_spark.similarity.negatives import hard_negatives_lsh


def _load(sf_dir):
    rows = duckdb.sql(
        f"SELECT vec_id, embedding, label FROM "
        f"read_parquet('{sf_dir}/embeddings.parquet') ORDER BY vec_id"
    ).fetchall()
    ids = np.array([r[0] for r in rows])
    x = np.array([r[1] for r in rows], dtype=np.float64)
    lab = np.array([r[2] for r in rows])
    return ids, np.floor(x * (1 << 20) + 0.5).astype(np.int64), lab


def test_hard_negatives_labels_and_ranks(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    out = hard_negatives_lsh(
        emb, "vec_id", "embedding", "label", k=3
    ).collect()
    ids, _, lab = _load(sf_dir)
    lbl = {int(i): int(l) for i, l in zip(ids, lab)}
    by_anchor: dict[int, list] = {}
    for r in out:
        assert lbl[r["anchor_id"]] != lbl[r["neg_id"]]
        by_anchor.setdefault(r["anchor_id"], []).append(r)
    for a, rows in by_anchor.items():
        ranks = sorted(r["rank"] for r in rows)
        assert ranks == list(range(1, len(rows) + 1))
        assert len(rows) <= 3
        # ranks ordered by descending cosine, ties by neg_id
        srt = sorted(rows, key=lambda r: (-r["cosine"], r["neg_id"]))
        assert [r["rank"] for r in srt] == ranks


def test_hard_negatives_rank1_beats_random_negative(spark, sf_dir):
    """The mined rank-1 negative must be at least as similar as the
    MEDIAN different-label vector for >90% of anchors — i.e. mining
    actually finds hard (similar) negatives, not arbitrary ones."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    out = {
        r["anchor_id"]: r["cosine"]
        for r in hard_negatives_lsh(
            emb, "vec_id", "embedding", "label", k=1
        ).collect()
    }
    ids, q, lab = _load(sf_dir)
    norm = np.sqrt((q * q).sum(axis=1))
    cos = (q @ q.T) / np.outer(norm, norm)
    wins = total = 0
    for ai, a in enumerate(ids):
        if int(a) not in out:
            continue
        diff = lab != lab[ai]
        med = np.median(cos[ai][diff])
        total += 1
        wins += out[int(a)] >= med
    assert total > 0
    assert wins / total > 0.9, (wins, total)


def test_hard_positives_are_same_label_and_least_similar(spark, sf_dir):
    """Positives carry the anchor's own label, and the rank-1 hardest
    positive is no more similar than the MEDIAN same-label cosine for
    >90% of anchors (mining finds the hard end of the positives)."""
    from frames_spark.similarity.negatives import hard_positives_lsh

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    out = {
        r["anchor_id"]: r["cosine"]
        for r in hard_positives_lsh(
            emb, "vec_id", "embedding", "label", k=1
        ).collect()
    }
    ids, q, lab = _load(sf_dir)
    norm = np.sqrt((q * q).sum(axis=1))
    cos = (q @ q.T) / np.outer(norm, norm)
    lbl = {int(i): int(l) for i, l in zip(ids, lab)}
    wins = total = 0
    for ai, a in enumerate(ids):
        if int(a) not in out:
            continue
        same = (lab == lab[ai]) & (ids != a)
        if not same.any():
            continue
        med = np.median(cos[ai][same])
        total += 1
        wins += out[int(a)] <= med
    assert total > 0
    assert wins / total > 0.9, (wins, total)


def test_triplet_margin_consistency(spark, sf_dir):
    """Triplets join the rank-1 positive and negative for the same
    anchor; margin_micros quantizes pos - neg and the violated flag
    matches alpha = 0.2."""
    from frames_spark.queries import QUERIES

    rows = QUERIES["q_triplet_mining"](spark, sf_dir).collect()
    ids, _, lab = _load(sf_dir)
    lbl = {int(i): int(l) for i, l in zip(ids, lab)}
    assert rows
    for r in rows:
        assert lbl[r["anchor_id"]] == lbl[r["pos_id"]]
        assert lbl[r["anchor_id"]] != lbl[r["neg_id"]]
        import math

        want = math.floor(
            (r["pos_cosine"] - r["neg_cosine"]) * 1000000 + 0.5
        )
        assert r["margin_micros"] == want
        assert r["violated"] == (r["margin_micros"] < 200000)


def test_suggest_num_planes_scales_with_corpus():
    from frames_spark.dedup.embedding import suggest_num_planes

    # small corpora stay at the recall-oriented minimum
    assert suggest_num_planes(0) == 4
    assert suggest_num_planes(500, max_bucket=4000) == 4
    # 1e6 vectors with max_bucket=4000: expected bucket must come
    # down to <= 1000, i.e. 2^10 buckets
    assert suggest_num_planes(1_000_000, max_bucket=4000) == 10
    # monotone in n, clamped at max_planes
    assert suggest_num_planes(1 << 40, max_bucket=4000, max_planes=24) == 24


def test_miner_guard_trips_on_dense_corpus(spark):
    # every vector identical -> one bucket per table, all over a tiny
    # max_bucket: the old code silently returned EMPTY; the guard
    # must raise (default), warn when asked, and stay quiet when off
    import warnings

    import pytest as _pytest

    from frames_spark.similarity.negatives import hard_negatives_lsh

    rows = [(i, [1.0] + [0.0] * 63, i % 2) for i in range(12)]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label long"
    )
    with _pytest.raises(ValueError, match="ppm of the candidate-pair"):
        hard_negatives_lsh(
            df, "vec_id", "embedding", "label",
            num_planes=2, num_tables=2, max_bucket=4,
        ).count()
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        out = hard_negatives_lsh(
            df, "vec_id", "embedding", "label",
            num_planes=2, num_tables=2, max_bucket=4, guard="warn",
        )
        assert out.count() == 0  # guard dropped everything, loudly
    assert any("ppm" in str(w.message) for w in caught)
    quiet = hard_negatives_lsh(
        df, "vec_id", "embedding", "label",
        num_planes=2, num_tables=2, max_bucket=4, guard="off",
    )
    assert quiet.count() == 0


def test_near_dup_guard_and_governed_planes(spark):
    import pytest as _pytest

    from frames_spark.dedup import embedding

    rows = [(i, [1.0] + [0.0] * 63) for i in range(12)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    with _pytest.raises(ValueError, match="ppm of the candidate-pair"):
        embedding.near_dup_pairs_lsh(
            df, "vec_id", "embedding", threshold=0.9,
            num_planes=2, num_tables=2, max_bucket=4, guard="raise",
        ).count()
    # governed default: identical vectors share every bucket, exact
    # cosine keeps all pairs regardless of the derived plane count
    got = embedding.near_dup_pairs_lsh(
        df, "vec_id", "embedding", threshold=0.9
    )
    assert got.count() == 12 * 11 // 2


def test_mine_triplets_equals_two_call_composition(spark, sf_dir):
    """The fused single-pass triplet miner must be value-identical to
    hard_positives_lsh + hard_negatives_lsh joined on the anchor —
    the fusion shares stages, it must not change results."""
    import pyspark.sql.functions as F

    from frames_spark.similarity.negatives import (
        hard_negatives_lsh,
        hard_positives_lsh,
        mine_triplets,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    kw = dict(k=1, num_planes=4, num_tables=8, max_bucket=4000)
    pos = hard_positives_lsh(emb, "vec_id", "embedding", "label", **kw).select(
        "anchor_id", "pos_id", F.col("cosine").alias("pos_cosine")
    )
    neg = hard_negatives_lsh(emb, "vec_id", "embedding", "label", **kw).select(
        "anchor_id", "neg_id", F.col("cosine").alias("neg_cosine")
    )
    want = {tuple(r) for r in pos.join(neg, "anchor_id").collect()}
    got = {
        tuple(r)
        for r in mine_triplets(
            emb, "vec_id", "embedding", "label", **kw
        ).select(
            "anchor_id", "pos_id", "pos_cosine", "neg_id", "neg_cosine"
        ).collect()
    }
    assert got == want and want


def test_gov_oracle_cte_matches_suggest_num_planes():
    """The *_auto miner oracles replay suggest_num_planes in SQL (the
    gov CTE). Certify the SQL derivation equals the Python governor
    for corpus sizes across the whole ladder — including the floor,
    every breakpoint up to the oracle's 12-plane VALUES headroom, and
    that past the headroom the CTE raises instead of silently banding
    with truncated plane rows. The probe is built from the SAME
    _gov_np_sql builder the *_auto oracles interpolate (r13 ADVICE:
    a hand-copied transcript of the builder would keep passing after
    a builder edit — the exact desync class the shared builder
    exists to kill)."""
    import duckdb
    import pytest

    from frames_spark.dedup.embedding import suggest_num_planes
    from frames_spark.queries.q01_core_ops import (
        _HN_MAXB,
        _HN_ORACLE_MAX_PLANES,
        _gov_np_sql,
    )

    con = duckdb.connect()

    def sql_np(n: int) -> int:
        gov = _gov_np_sql(str(n), _HN_MAXB, _HN_ORACLE_MAX_PLANES)
        return con.sql(f"SELECT np FROM {gov}").fetchone()[0]

    for n in (1, 500, 2_000, 16_000, 16_001, 20_000, 64_000, 64_001,
              500_000, 2_048_000, 2_050_048, 4_100_000):
        assert sql_np(n) == suggest_num_planes(n, _HN_MAXB), n
    # 12 planes (floor(n/2^11) > 1000 first at n = 1001*2^11) is the
    # last geometry inside the oracle's VALUES headroom
    assert suggest_num_planes(2_050_048, _HN_MAXB) == _HN_ORACLE_MAX_PLANES
    with pytest.raises(Exception, match="headroom"):
        sql_np(4_198_401)  # derives 13 > the VALUES table
