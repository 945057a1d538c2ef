"""Approximate-nearest-neighbor search over an embedding column.

Every search here (and in ivf.py / pq.py) is filter-and-refine: it
generates candidate (query, neighbor) pairs its own way, then hands
them to ONE refine stage, :func:`cosine_topk` — exact fixed-point
cosine, self-matches dropped, top-k per query by (cosine DESC,
neighbor_id). Candidate sides are shaped by :func:`as_query` /
:func:`as_neighbor`.

Baseline: brute-force cosine top-k — the query set is broadcast
(it's small by definition), so the corpus is scanned exactly once
with no shuffle of the corpus side.

Scale path: hyperplane-LSH bucketed search (probe only the query's
bucket), reusing dedup/embedding.py's deterministic planes; the
learned-quantizer variants live in ivf.py (IVF) and pq.py (PQ).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from frames_spark.dedup.embedding import _fixed, fixed_with_buckets
from frames_spark.functions.vectors import cosine_from_fixed, dot_fixed


def as_query(fixed: DataFrame, *carry: "str | Column") -> DataFrame:
    """(vid, fvec, n2) -> (query_id, qvec, qn2), plus ``carry``."""
    return fixed.select(
        F.col("vid").alias("query_id"),
        F.col("fvec").alias("qvec"),
        F.col("n2").alias("qn2"),
        *carry,
    )


def as_neighbor(fixed: DataFrame, *carry: "str | Column") -> DataFrame:
    """(vid, fvec, n2) -> (neighbor_id, cvec, cn2), plus ``carry``."""
    return fixed.select(
        F.col("vid").alias("neighbor_id"),
        F.col("fvec").alias("cvec"),
        F.col("n2").alias("cn2"),
        *carry,
    )


def cosine_topk(pairs: DataFrame, k: int) -> DataFrame:
    """THE refine stage: (query_id, neighbor_id, cosine, rank) — the k
    best candidates per query by exact fixed-point cosine, ties to the
    lower neighbor_id. ``pairs`` carries (query_id, qvec, qn2,
    neighbor_id, cvec, cn2); self-matches are dropped. A zero vector
    has NULL cosine, and DESC puts NULLs last, so it ranks behind
    every real candidate."""
    scored = pairs.filter(F.col("neighbor_id") != F.col("query_id")).withColumn(
        "cosine",
        cosine_from_fixed(
            dot_fixed(F.col("qvec"), F.col("cvec")), F.col("qn2"), F.col("cn2")
        ),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            "neighbor_id",
            "cosine",
            F.col("rank").cast("long").alias("rank"),
        )
    )


def exact_rerank(
    cand: DataFrame,
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    k: int,
) -> DataFrame:
    """:func:`cosine_topk` over a (query_id, neighbor_id) shortlist:
    full vectors are fetched for the shortlisted rows only."""
    pairs = cand.join(
        as_neighbor(_fixed(corpus, id_col, vec_col)), "neighbor_id"
    ).join(F.broadcast(as_query(_fixed(queries, id_col, vec_col))), "query_id")
    return cosine_topk(pairs, k)


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 5,
) -> DataFrame:
    """Exact top-k cosine neighbors for each query vector.

    (query_id, neighbor_id, cosine, rank) — self-matches excluded.
    """
    q = as_query(_fixed(queries, id_col, vec_col))
    c = as_neighbor(_fixed(corpus, id_col, vec_col))
    return cosine_topk(c.join(F.broadcast(q)), k)


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 5,
    num_planes: int = 4,
) -> DataFrame:
    """Bucketed ANN: compare each query only against corpus vectors in
    its hyperplane bucket. Recall < 1 by design; scales as corpus/2^p
    per bucket."""
    c = as_neighbor(
        fixed_with_buckets(corpus, id_col, vec_col, num_planes), "bucket"
    )
    q = as_query(
        fixed_with_buckets(queries, id_col, vec_col, num_planes), "bucket"
    )
    return cosine_topk(c.join(F.broadcast(q), "bucket"), k)


def multiprobe_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 5,
    num_planes: int = 6,
) -> DataFrame:
    """Multi-probe LSH ANN (Lv et al. VLDB'07): each query probes its
    own hyperplane bucket PLUS every Hamming-distance-1 neighbor
    bucket (the buckets a borderline sign flip would have put it in).
    One plane set at Hamming-1 probing recovers most of the recall
    that plain lsh_topk loses, for (num_planes+1) bucket lookups per
    query instead of num_tables re-hashes of the corpus — the corpus
    is hashed and shuffled ONCE, which is the economics that matter
    at 100 TB (probing is query-side fan-out; tables are corpus-side
    fan-out).

    A corpus vector lives in exactly one bucket and the probe set is
    distinct, so no (query, neighbor) pair forms twice — no dedup
    before the exact cosine."""
    c = as_neighbor(
        fixed_with_buckets(corpus, id_col, vec_col, num_planes), "bucket"
    )
    q = as_query(
        fixed_with_buckets(queries, id_col, vec_col, num_planes), "bucket"
    )
    b = F.col("bucket")
    flips = [
        F.concat(
            F.substring(b, 1, i - 1),
            F.when(F.substring(b, i, 1) == "1", F.lit("0")).otherwise(
                F.lit("1")
            ),
            F.expr(f"substring(bucket, {i + 1})"),
        )
        for i in range(1, num_planes + 1)
    ]
    qp = q.select(
        "query_id",
        "qvec",
        "qn2",
        F.explode(F.array_distinct(F.array(b, *flips))).alias("bucket"),
    )
    return cosine_topk(c.join(F.broadcast(qp), "bucket"), k)
