"""The ANN family's shared refine stage (similarity/ann.py cosine_topk):
every search path ends in the same exact fixed-point cosine top-k, so
an exhaustive setting equals brute force at any vector width, and a
zero vector in the corpus (NULL cosine) never outranks a real
neighbor on any path."""

from __future__ import annotations

import numpy as np
import pyspark.sql.functions as F
import pytest

from frames_spark.similarity.ann import (
    brute_force_topk,
    lsh_topk,
    multiprobe_topk,
)
from frames_spark.similarity.ivf import ivf_topk, ivf_topk_det
from frames_spark.similarity.pq import (
    encode_pq,
    fit_pq,
    ivfpq_topk,
    ivfpq_topk_det,
    pq_topk,
)

ZERO_ID = 999_999


def _rows(df):
    return sorted(
        (r["query_id"], r["neighbor_id"], r["cosine"], r["rank"])
        for r in df.collect()
    )


def test_ivfpq_det_exhaustive_equals_brute_force_at_dim_32(spark, sf_dir):
    """The vector width comes from the codebook, not a parameter: a
    32-dim corpus runs, and with every cell probed and a shortlist
    covering the corpus the result is brute force, row for row."""
    emb = (
        spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        .filter(F.col("vec_id") < 300)
        .withColumn("embedding", F.slice("embedding", 1, 32))
    )
    assert emb.count() == 300
    q = emb.filter(F.col("vec_id") < 3)
    got = ivfpq_topk_det(
        emb, q, "vec_id", "embedding", k=10,
        n_centroids=8, nprobe=8, rerank=1_000,
    )
    assert _rows(got) == _rows(
        brute_force_topk(emb, q, "vec_id", "embedding", k=10)
    )


def _with_zero_row(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    dim = len(emb.select("embedding").first()[0])
    zero = spark.createDataFrame([(ZERO_ID, [0.0] * dim, 0)], emb.schema)
    return emb, emb.unionByName(zero)


def _pq(corpus, q, **kw):
    cb = fit_pq(corpus, "vec_id", "embedding", m=16, k=32)
    codes = encode_pq(corpus, "vec_id", "embedding", cb)
    return pq_topk(codes, cb, q, "vec_id", "embedding", corpus=corpus, **kw)


# k exceeds the corpus, so every path that reaches the zero row must
# rank it — and it has to come after every real neighbor
_K = 1_000
_PATHS = {
    "brute_force_topk": lambda c, q: brute_force_topk(
        c, q, "vec_id", "embedding", k=_K
    ),
    "lsh_topk": lambda c, q: lsh_topk(
        c, q, "vec_id", "embedding", k=_K, num_planes=2
    ),
    "multiprobe_topk": lambda c, q: multiprobe_topk(
        c, q, "vec_id", "embedding", k=_K, num_planes=2
    ),
    "ivf_search": lambda c, q: ivf_topk(
        c, q, "vec_id", "embedding", k=_K, n_centroids=4, nprobe=4
    ),
    "ivf_topk_det": lambda c, q: ivf_topk_det(
        c, q, "vec_id", "embedding", k=_K, n_centroids=4, nprobe=4
    ),
    "pq_topk": lambda c, q: _pq(c, q, k=_K, rerank=2 * _K),
    "ivfpq_topk": lambda c, q: ivfpq_topk(
        c, q, "vec_id", "embedding", k=_K, n_centroids=4, nprobe=4,
        rerank=2 * _K,
    ),
    "ivfpq_topk_det": lambda c, q: ivfpq_topk_det(
        c, q, "vec_id", "embedding", k=_K, n_centroids=4, nprobe=4,
        rerank=2 * _K,
    ),
}


@pytest.mark.parametrize("path", sorted(_PATHS))
def test_zero_vector_in_corpus_ranks_last(spark, sf_dir, path):
    _, corpus = _with_zero_row(spark, sf_dir)
    q = corpus.filter(F.col("vec_id") < 3)
    rows = _rows(_PATHS[path](corpus, q))
    assert rows, "no results"
    by_query: dict[int, list] = {}
    for qid, nid, cos, rank in rows:
        by_query.setdefault(qid, []).append((rank, nid, cos))
    for qid, hits in by_query.items():
        hits.sort()
        assert [r for r, _, _ in hits] == list(range(1, len(hits) + 1))
        nulls = [cos is None for _, _, cos in hits]
        # NULL cosines (the zero row) only after every real neighbor
        assert nulls == sorted(nulls), (qid, hits[-3:])
        assert all(cos is None for _, nid, cos in hits if nid == ZERO_ID)


def test_fit_pq_skips_zero_vector(spark, sf_dir):
    """A zero vector has no unit direction: it stays out of the KMeans
    training sample, so the codebooks equal those of the corpus
    without it, and its own codes are NULL."""
    emb, corpus = _with_zero_row(spark, sf_dir)
    cb = fit_pq(corpus, "vec_id", "embedding", m=8, k=16)
    assert np.isfinite(cb).all()
    np.testing.assert_array_equal(
        cb, fit_pq(emb, "vec_id", "embedding", m=8, k=16)
    )
    zero_codes = (
        encode_pq(corpus, "vec_id", "embedding", cb)
        .filter(F.col("vec_id") == ZERO_ID)
        .first()["codes"]
    )
    assert zero_codes is None or all(c is None for c in zero_codes)
