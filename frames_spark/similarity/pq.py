"""Product quantization (PQ) ANN — the compressed-domain member of
the similarity family (brute force / hyperplane LSH / IVF live in
ann.py and ivf.py).

Jegou et al., "Product Quantization for Nearest Neighbor Search"
(TPAMI 2011): split d dims into m subspaces, k-means each subspace
(codebooks are tiny: m x k x d/m floats), store each corpus vector as
m SMALL CODES (here m bytes), and answer queries by asymmetric
distance computation (ADC) — per query a m x k lookup table, per
corpus row m table lookups instead of d multiplies. At 100 TB the
point is the 32x storage compression (64 floats -> 8 codes) and that
the scan reads the code column only.

Division of labor mirrors ivf.py/pca.py:
- codebook FIT is m seeded MLlib k-means runs over a deterministic
  content-hash-capped training sample (layout-invariant, same rule
  as build_ivf);
- ENCODING is one scan-stage expression — the codebook rides along
  as a constant-folded 3-D literal of 2^20 fixed-point ints, and the
  per-subspace argmin is exact integer arithmetic (ties break to the
  first index in BOTH the Spark expression and the numpy table
  builder, so codes are bit-reproducible);
- SEARCH broadcasts the per-query ADC tables (built driver-side in
  the same fixed point — queries are a handful) and sums m
  element_at lookups per corpus row (``_adc_shortlist``, shared by
  every PQ search); a shortlist closes with ann.exact_rerank.

Registered rows-only (iterative training); tests pin recall against
the exact search and code layout-invariance.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from frames_spark.functions.vectors import FIXED_POINT
from frames_spark.operators.core import spread
from frames_spark.similarity.ann import exact_rerank

__all__ = [
    "fit_pq",
    "fit_pq_det",
    "encode_pq",
    "encode_pq_residual",
    "pq_topk",
    "ivfpq_topk_det",
]


def _unit(vec) -> "F.Column":
    """L2-normalized double vector (PQ quantizes the UNIT sphere so
    its L2 distance order matches the cosine order the exact search
    ranks by; unnormalized L2 would mix magnitude into the ranking).
    A zero vector has no direction: nullif -> NULL norm -> a NULL
    vector (not an array of NULLs), so ``isNotNull`` filters it, and
    each of its codes is NULL.
    """
    from frames_spark.functions.binding import let

    # v and the norm are LET-BOUND (r15): the division lambda
    # captured the n2 aggregate, so interpreted HOF eval re-summed
    # the whole vector once PER COMPONENT — O(d²) per row.
    def with_v(v: "F.Column") -> "F.Column":
        norm = F.nullif(
            F.sqrt(F.aggregate(v, F.lit(0.0), lambda a, x: a + x * x)),
            F.lit(0.0),
        )
        return let(
            norm,
            lambda nrm: F.when(
                nrm.isNotNull(), F.transform(v, lambda x: x / nrm)
            ),
        )

    return let(vec.cast("array<double>"), with_v)


def fit_pq(
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    m: int = 8,
    k: int = 16,
    seed: int = 42,
    max_train: int = 100_000,
    normalize: bool = True,
) -> np.ndarray:
    """Codebooks (m, k, d/m) — one seeded k-means per subspace over a
    deterministic content-hash-ordered training cap."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    d = len(corpus.select(vec_col).first()[0])
    if d % m:
        raise ValueError(f"dim {d} not divisible by m={m}")
    sub = d // m
    train = (
        spread(corpus)
        .select(F.xxhash64(F.col(id_col)).alias("_h"), id_col, vec_col)
        .orderBy("_h", id_col)
        .limit(max_train)
        .select(
            (
                _unit(F.col(vec_col))
                if normalize
                else F.col(vec_col).cast("array<double>")
            ).alias("v")
        )
        # a zero vector normalizes to NULL (see _unit); KMeans rejects
        # NULL features, and such rows get NULL codes anyway
        .filter(F.col("v").isNotNull())
        .persist()
    )
    books = []
    for j in range(m):
        feats = train.select(
            array_to_vector(F.slice("v", j * sub + 1, sub)).alias("_feat")
        )
        model = KMeans(
            k=k,
            seed=seed + j,
            maxIter=10,
            initMode="random",
            featuresCol="_feat",
            predictionCol="_c",
        ).fit(feats)
        books.append([list(map(float, c)) for c in model.clusterCenters()])
    train.unpersist()
    return np.array(books)  # (m, k, sub)


def _cent_fixed_scale(dim: int) -> int:
    """Fixed-point magnitude of one ±1 centroid component after
    scaling the cell direction to UNIT length: round(2^20/sqrt(dim)).
    Exact for power-of-4 dims (dim=64 -> 131072 = 2^17), so the
    scaled centroid lives in the same fixed-point domain as the
    vectors and the residual stays pure integer."""
    return int(np.floor(FIXED_POINT / np.sqrt(dim) + 0.5))


def _residual_expr(fvec, cluster, n_centroids: int, dim: int):
    """fvec - S * signs(cluster): the fixed-point residual of a row
    against its ±1 md5 cell, scaled to unit length — exact integer
    arithmetic, so (unlike the float residual of the KMeans composite
    ivfpq_topk) it replays bit-for-bit in SQL."""
    from frames_spark.dedup.semdedup import _codebook

    s = _cent_fixed_scale(dim)
    cent = F.element_at(_codebook(n_centroids, dim), cluster + 1)
    return F.zip_with(fvec, cent, lambda a, b: a - F.lit(s) * b)


def fit_pq_det(
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    m: int = 16,
    k: int = 32,
    seed: str = "pq",
    residual_cells: int | None = None,
) -> np.ndarray:
    """Codebooks (m, k, d/m) from DETERMINISTIC HASH-SAMPLED corpus
    rows — the value-gated PQ tier (r8 verdict #6, the ivf_topk_det
    companion): the k rows with the smallest (hash60(id), id) provide
    codeword j for every subspace (kmeans++-style seeds without the
    iterations), so the codebook — and with it encoding, ADC tables,
    and the shortlist — is reproducible bit-for-bit in SQL. The
    seeded-KMeans ``fit_pq`` stays the corpus-adapted production
    trainer. Codewords are the raw (unnormalized) vectors: those are
    the cross-engine-exact representation (an ordered float
    normalization fold does not replay identically in set-oriented
    SQL); the exact-cosine re-rank restores cosine order, and the
    unnormalized ADC shortlist is just a looser candidate generator
    (pinned by tests). Encode with ``encode_pq(normalize=False)``.

    With ``residual_cells`` = n ±1 md5 cells, the SAME k hash-chosen
    rows provide the codewords, but each codeword is the row's
    FIXED-POINT RESIDUAL against its own cell (fvec - S * signs),
    and the returned array is int64 ALREADY in the fixed-point
    domain — the deterministic mirror of the production composite's
    residual encoding (ivfpq_topk), still exact-integer end to end.
    """
    from frames_spark.functions.hashing import hash60

    d = len(corpus.select(vec_col).first()[0])
    if d % m:
        raise ValueError(f"dim {d} not divisible by m={m}")
    sub = d // m
    if residual_cells is not None:
        from frames_spark.dedup.semdedup import (
            assign_clusters,
            centroid_components,
        )

        assigned = assign_clusters(corpus, id_col, vec_col, residual_cells, d)
        rrows = (
            assigned.select(
                hash60(F.col("vid").cast("string"), seed=seed).alias("_h"),
                "vid",
                "fvec",
                "cluster",
            )
            .orderBy("_h", "vid")
            .limit(k)
            .collect()
        )
        if len(rrows) < k:
            raise ValueError(f"corpus has {len(rrows)} rows < k={k} codewords")
        s = _cent_fixed_scale(d)
        signs = {
            c: np.array(centroid_components(c, d), dtype=np.int64)
            for c in {r["cluster"] for r in rrows}
        }
        res = [
            np.array(r["fvec"], dtype=np.int64) - s * signs[r["cluster"]]
            for r in rrows
        ]
        return np.array(
            [[rv[j * sub : (j + 1) * sub] for rv in res] for j in range(m)],
            dtype=np.int64,
        )  # (m, k, sub), fixed-point residual domain
    rows = (
        spread(corpus)
        .select(
            hash60(F.col(id_col).cast("string"), seed=seed).alias("_h"),
            F.col(id_col).alias("_id"),
            F.col(vec_col).cast("array<double>").alias("v"),
        )
        .orderBy("_h", "_id")
        .limit(k)
        .collect()
    )
    if len(rows) < k:
        raise ValueError(f"corpus has {len(rows)} rows < k={k} codewords")
    books = [
        [list(r["v"][j * sub : (j + 1) * sub]) for r in rows]
        for j in range(m)
    ]
    return np.array(books)  # (m, k, sub)


def _quantized_books(codebooks: np.ndarray) -> np.ndarray:
    return np.floor(codebooks * FIXED_POINT + 0.5).astype(np.int64)


def _codes_expr(qb: np.ndarray) -> str:
    """SQL expression computing the PQ code array from the fixed-
    point vector column ``_xq``: the quantized codebook rides along
    as a constant-folded 3-D literal; per subspace the argmin is the
    1-based first position of the min (ties to the first index,
    matching numpy argmin in the table builder)."""
    m, k, sub = qb.shape
    cb_lit = (
        "array("
        + ", ".join(
            "array("
            + ", ".join(
                "array(" + ", ".join(f"{int(x)}L" for x in cent) + ")"
                for cent in qb[j]
            )
            + ")"
            for j in range(m)
        )
        + ")"
    )
    return f"""
    transform(sequence(0, {m - 1}), j ->
      transform(array(
        transform({cb_lit}[j], c ->
          aggregate(
            zip_with(slice(_xq, j * {sub} + 1, {sub}), c,
                     (a, b) -> (a - b) * (a - b)),
            0L, (acc, v) -> acc + v))), dists ->
        int(array_position(dists, array_min(dists)) - 1))[0])
    """


def _adc_table_fixed(rq: np.ndarray, qb: np.ndarray) -> list:
    """Flattened m x k table of exact squared distances from an
    ALREADY-fixed-point vector (e.g. a residual) to every codeword of
    an already-fixed-point codebook."""
    m, k, sub = qb.shape
    flat: list[int] = []
    for j in range(m):
        diff = qb[j] - rq[j * sub : (j + 1) * sub]  # (k, sub)
        flat.extend(int(x) for x in (diff * diff).sum(axis=1))
    return flat


def _adc_table(vec: np.ndarray, qb: np.ndarray) -> list:
    """:func:`_adc_table_fixed` of a double vector, quantized to the
    fixed-point domain first."""
    return _adc_table_fixed(np.floor(vec * FIXED_POINT + 0.5).astype(np.int64), qb)


def _adc_shortlist(
    codes: DataFrame,
    tables: DataFrame,
    on: "str | None",
    id_col: str,
    m: int,
    k: int,
    n: int,
) -> DataFrame:
    """(query_id, neighbor_id, approx_dist, rank): the ``n`` code rows
    nearest each query by ADC — per code row, ``m`` element_at lookups
    into the query's broadcast m x ``k`` table ``dtable``, summed.
    ``tables`` joins ``codes`` on ``on`` (the probed cell for IVF-ADC,
    so only probed cells are scanned and each candidate is scored
    against its OWN cell's table; None pairs every table with every
    row). Self-matches are dropped.

    Zero vectors carry NULL codes (the _unit pass-through) and hence
    NULL approx_dist; Spark ASC is NULLS FIRST, which would seat every
    zero-vector corpus row at rank 1 of every shortlist. nulls_last
    keeps them out unless nothing real fits."""
    dist = F.aggregate(
        F.expr(
            f"zip_with(codes, sequence(0, {m - 1}), "
            f"(c, j) -> element_at(dtable, j * {k} + c + 1))"
        ),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    scored = (
        codes.join(F.broadcast(tables), on)
        .filter(F.col(id_col) != F.col("query_id"))
        .select(
            "query_id",
            F.col(id_col).alias("neighbor_id"),
            dist.alias("approx_dist"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.asc_nulls_last("approx_dist"), "neighbor_id"
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= n)
        .select(
            "query_id",
            "neighbor_id",
            "approx_dist",
            F.col("rank").cast("long").alias("rank"),
        )
    )


def encode_pq_residual(
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    books_q: np.ndarray,
    n_centroids: int,
) -> DataFrame:
    """(id, cluster, codes): PQ codes of each row's fixed-point
    residual against its own ±1 md5 cell. ``books_q`` is the int64
    residual-domain codebook from fit_pq_det(residual_cells=...).
    Cell assignment, residual, and argmin are ONE scan stage — the
    codebook and the ±1 cell directions are plan literals."""
    from frames_spark.dedup.semdedup import assign_clusters

    m, k, sub = books_q.shape
    d = m * sub
    assigned = assign_clusters(corpus, id_col, vec_col, n_centroids, d)
    return (
        assigned.withColumn(
            "_xq",
            _residual_expr(F.col("fvec"), F.col("cluster"), n_centroids, d),
        )
        .select(
            F.col("vid").alias(id_col),
            "cluster",
            F.expr(_codes_expr(books_q)).alias("codes"),
        )
    )


def encode_pq(
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    codebooks: np.ndarray,
    normalize: bool = True,
    carry_cols: "tuple[str, ...]" = (),
) -> DataFrame:
    """(id, codes: array<int>) — per-subspace argmin against the
    constant-folded fixed-point codebook, all in the scan stage."""
    m, k, sub = codebooks.shape
    qb = _quantized_books(codebooks)
    expr = _codes_expr(qb)
    base = (
        _unit(F.col(vec_col))
        if normalize
        else F.col(vec_col).cast("array<double>")
    )
    xq = F.transform(
        base, lambda x: F.floor(x * FIXED_POINT + F.lit(0.5)).cast("long")
    )
    return (
        spread(corpus)
        .withColumn("_xq", xq)
        .select(F.col(id_col), *carry_cols, F.expr(expr).alias("codes"))
    )


def pq_topk(
    codes: DataFrame,
    codebooks: np.ndarray,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 10,
    corpus: DataFrame | None = None,
    rerank: int = 0,
    normalize: bool = True,
) -> DataFrame:
    """(query_id, neighbor_id, approx_dist, rank) by ADC: per-query
    m x k distance table broadcast, m lookups per corpus code row.

    With ``rerank`` > 0 (and the full-vector ``corpus`` supplied) the
    ADC pass only SHORTLISTS the top ``rerank`` candidates per query;
    the exact fixed-point cosine then re-ranks that shortlist — the
    production PQ shape: full vectors are fetched for
    O(queries x rerank) rows, never the corpus, and recall is set by
    the shortlist depth instead of the code resolution.
    ``normalize`` must match the flag the codes were encoded with."""
    m, kk, sub = codebooks.shape
    qb = _quantized_books(codebooks)
    table_rows = []
    for r in queries.select(id_col, vec_col).collect():
        raw = np.array(r[vec_col], dtype=np.float64)
        if normalize:
            raw = raw / np.sqrt((raw * raw).sum())
        table_rows.append((int(r[id_col]), _adc_table(raw, qb)))
    tables = codes.sparkSession.createDataFrame(
        table_rows, "query_id long, dtable array<long>"
    )
    shortlist = rerank if (rerank and corpus is not None) else k
    top = _adc_shortlist(codes, tables, None, id_col, m, kk, shortlist)
    if shortlist == k:
        return top
    return exact_rerank(
        top.select("query_id", "neighbor_id"), corpus, queries,
        id_col, vec_col, k,
    )


def ivfpq_topk_det(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 10,
    n_centroids: int = 8,
    nprobe: int = 3,
    m: int = 16,
    codebook_k: int = 32,
    rerank: int = 50,
) -> DataFrame:
    """IVF-ADC on the fully DETERMINISTIC index pair: ±1 md5 codebook
    cells (dedup/semdedup.py) + hash-sampled PQ codebooks, RESIDUAL-
    encoded — each vector's codes describe fvec minus its unit-scaled
    ±1 cell (exact integers, since the scaled cell component
    round(2^20/sqrt(dim)) is itself an integer for power-of-4 dims),
    and each query carries one ADC table PER PROBED CELL built from
    the query's residual against THAT cell. That is the production
    composite's shape (ivfpq_topk: KMeans cells + float residual PQ)
    with every leg — codeword selection, cell routing, residuals,
    encoding argmin, ADC sums, shortlist — exact integer and hence
    value-oracled in SQL; the exact fixed-point cosine re-rank closes
    it. The vector width is the codebook's (m x sub)."""
    from frames_spark.dedup.semdedup import centroid_components
    from frames_spark.similarity.ivf import probe_sort_key

    books_q = fit_pq_det(
        corpus, id_col, vec_col, m=m, k=codebook_k, residual_cells=n_centroids
    )
    codes = encode_pq_residual(corpus, id_col, vec_col, books_q, n_centroids)
    mm, kk, sub = books_q.shape
    dim = mm * sub
    s = _cent_fixed_scale(dim)
    signs = {
        c: np.array(centroid_components(c, dim), dtype=np.int64)
        for c in range(n_centroids)
    }
    # per-(query, probed cell) ADC table from the query's residual
    # against THAT cell — probe routing replayed in exact integer
    table_rows = []
    for r in queries.select(id_col, vec_col).collect():
        xq = np.floor(
            np.array(r[vec_col], dtype=np.float64) * FIXED_POINT + 0.5
        ).astype(np.int64)
        by_dot = sorted(
            range(n_centroids),
            key=lambda c: probe_sort_key((xq * signs[c]).sum(), c),
        )
        for cell in by_dot[:nprobe]:
            table_rows.append(
                (
                    int(r[id_col]),
                    int(cell),
                    _adc_table_fixed(xq - s * signs[cell], books_q),
                )
            )
    tables = corpus.sparkSession.createDataFrame(
        table_rows, "query_id long, cluster int, dtable array<long>"
    )
    short = _adc_shortlist(codes, tables, "cluster", id_col, mm, kk, rerank)
    return exact_rerank(
        short.select("query_id", "neighbor_id"), corpus, queries,
        id_col, vec_col, k,
    )


def save_pq(codes: DataFrame, codebooks: np.ndarray, path: str) -> None:
    """Persist the PQ index: the code column as parquet (the 16x-
    compressed corpus representation — THIS is what query-time scans
    read; the raw vectors are only consulted by the re-rank join) and
    the codebooks as one tiny parquet of (subspace, centroid, vec)
    rows, engine-readable without pickle.

    IVF-ADC codes (carrying ``centroid_id``) are partitioned BY CELL,
    so a query probing nprobe cells reads nprobe directories — the
    same on-disk pruning contract as save_ivf."""
    w = codes.write.mode("overwrite")
    if "centroid_id" in codes.columns:
        w = codes.repartition("centroid_id").write.mode(
            "overwrite"
        ).partitionBy("centroid_id")
    w.parquet(f"{path}/codes")
    m, k, sub = codebooks.shape
    spark = codes.sparkSession
    rows = [
        (j, c, [float(x) for x in codebooks[j][c]])
        for j in range(m)
        for c in range(k)
    ]
    (
        spark.createDataFrame(
            rows, "subspace int, centroid int, vec array<double>"
        )
        .coalesce(1)
        .write.mode("overwrite")
        .parquet(f"{path}/codebooks")
    )


def load_pq(spark, path: str) -> tuple[DataFrame, np.ndarray]:
    codes = spark.read.parquet(f"{path}/codes")
    rows = spark.read.parquet(f"{path}/codebooks").collect()
    m = max(r["subspace"] for r in rows) + 1
    k = max(r["centroid"] for r in rows) + 1
    sub = len(rows[0]["vec"])
    books = np.zeros((m, k, sub))
    for r in rows:
        books[r["subspace"]][r["centroid"]] = r["vec"]
    return codes, books


def ivfpq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 10,
    n_centroids: int = 8,
    nprobe: int = 3,
    m: int = 16,
    codebook_k: int = 32,
    rerank: int = 100,
    seed: int = 42,
) -> DataFrame:
    """IVF-ADC: the production ANN index shape (coarse IVF cells +
    PQ-coded RESIDUALS + exact re-rank).

    - build_ivf (seeded, deterministic training cap) partitions the
      unit sphere into cells; residual = unit(vec) - cell centroid is
      what PQ encodes, so the codes spend their resolution on the
      within-cell detail instead of re-describing the cell.
    - At query time each query probes its ``nprobe`` nearest cells;
      the per-(query, cell) ADC tables are built driver-side from the
      query's residual against THAT cell (queries x nprobe tiny rows)
      and the candidate scan is an equi-join on centroid_id — the
      same pruning the IVF index does, now over 16-byte codes.
    - The shortlist re-ranks with the exact fixed-point cosine.

    All arithmetic after the k-means fits is exact fixed point, so
    results are layout-invariant.
    """
    from frames_spark.similarity.ivf import build_ivf

    unit_col = "_nv"
    # a zero vector normalizes to NULL (see _unit): it has no cosine
    # and no cell (KMeans rejects NULL features), so it stays out of
    # the index
    ncorp = corpus.withColumn(unit_col, _unit(F.col(vec_col))).filter(
        F.col(unit_col).isNotNull()
    )
    assigned, centroids = build_ivf(
        ncorp, id_col, unit_col, n_centroids=n_centroids, seed=seed
    )
    with_res = assigned.join(F.broadcast(centroids), "centroid_id").withColumn(
        "_res", F.zip_with(unit_col, "cvec", lambda a, b: a - b)
    )
    books = fit_pq(
        with_res, id_col, "_res", m=m, k=codebook_k, seed=seed, normalize=False
    )
    codes = encode_pq(
        with_res,
        id_col,
        "_res",
        books,
        normalize=False,
        carry_cols=("centroid_id",),
    )

    qb = _quantized_books(books)
    mm, kk, sub = books.shape
    cents = {
        r["centroid_id"]: np.array(r["cvec"]) for r in centroids.collect()
    }
    table_rows = []
    for r in queries.select(id_col, vec_col).collect():
        qv = np.array(r[vec_col], dtype=np.float64)
        qv = qv / np.sqrt((qv * qv).sum())
        by_dist = sorted(
            cents, key=lambda c: (float(((qv - cents[c]) ** 2).sum()), c)
        )
        for cell in by_dist[:nprobe]:
            table_rows.append(
                (int(r[id_col]), int(cell), _adc_table(qv - cents[cell], qb))
            )
    tables = corpus.sparkSession.createDataFrame(
        table_rows, "query_id long, centroid_id int, dtable array<long>"
    )
    short = _adc_shortlist(codes, tables, "centroid_id", id_col, mm, kk, rerank)
    return exact_rerank(
        short.select("query_id", "neighbor_id"), corpus, queries,
        id_col, vec_col, k,
    )
