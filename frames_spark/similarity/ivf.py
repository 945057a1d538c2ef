"""IVF (inverted-file) ANN: k-means coarse quantizer + probed search.

The scale path for similarity search beyond hyperplane LSH
(similarity/ann.py): train K centroids (seeded MLlib KMeans — one
distributed fit, centroids are tiny), assign every corpus vector to
its nearest centroid (ONE pass, no shuffle of the corpus beyond the
write), and at query time score only the ``nprobe`` nearest cells —
corpus/K * nprobe candidates per query instead of the whole corpus.

The corpus-side candidate join is an equi-join on centroid_id;
the only non-equi work is queries x centroids, which is O(Q*K) on
two broadcast-size inputs. Scoring is ann.cosine_topk, the refine
stage brute_force_topk ends in, so with nprobe == n_centroids the
result is bit-identical to the exact search (recall == 1).

At 100 TB the assigned corpus would be written out partitioned by
centroid_id (sources/sink.py write_partitioned) so query-time probes
prune to nprobe directories; build_ivf/ivf_search are split to make
that persist-reuse explicit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from frames_spark.dedup.embedding import _fixed
from frames_spark.functions.vectors import dot_fixed, norm2_fixed, to_fixed
from frames_spark.operators.core import spread
from frames_spark.similarity.ann import as_neighbor, as_query, cosine_topk


def build_ivf(
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    n_centroids: int = 16,
    seed: int = 42,
    max_train: int = 100_000,
    max_iter: int = 10,
    train_fraction: float = 1.0,
) -> tuple[DataFrame, DataFrame]:
    """Returns (assigned, centroids): the corpus with a
    ``centroid_id`` column, and the tiny centroid table
    (centroid_id, cvec: array<double>).

    The quantizer fits on a sampled subset — at corpus scale you never
    iterate k-means over everything. Sampling is a deterministic
    content-hash filter at ``train_fraction`` (no RNG state, no
    counting pre-pass: the old ``corpus.count()`` here was a full
    extra scan of a 100 TB corpus just to size the sample) with a
    ``max_train`` LIMIT as the hard cap, which lets the scan
    early-stop once enough sampled rows exist. Callers at large scale
    set train_fraction so fraction * corpus ~ max_train; the default
    keeps small corpora training on everything. The max_train cap is
    taken in content-hash order (TakeOrderedAndProject: per-partition
    top-K then one merge, never a full sort), NOT an unordered
    limit() — an unordered limit is a plan/partition-dependent prefix
    that would give different centroids across runs despite the fixed
    seed. Assignment of the full corpus is the single model.transform
    pass, which carries the corpus columns through (no reattach
    join)."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    feat = spread(corpus).withColumn(
        "_feat", array_to_vector(F.col(vec_col).cast("array<double>"))
    )
    train = feat
    if train_fraction < 1.0:
        # content-hash sample: deterministic, partition-independent
        denom = max(2, round(1.0 / max(train_fraction, 1e-9)))
        train = feat.filter(F.pmod(F.xxhash64(F.col(id_col)), F.lit(denom)) == 0)
    # deterministic cap: smallest max_train rows by (content hash, id)
    # — layout-invariant, so centroids (and nprobe<K recall) are
    # reproducible even when the corpus exceeds max_train
    train = (
        train.select(F.xxhash64(F.col(id_col)).alias("_h"), id_col, "_feat")
        .orderBy("_h", id_col)
        .limit(max_train)
        .select("_feat")
    )
    model = KMeans(
        k=n_centroids,
        seed=seed,
        maxIter=max_iter,
        initMode="random",  # k-means|| costs extra passes; random + seeded is enough for a coarse quantizer
        featuresCol="_feat",
        predictionCol="centroid_id",
    ).fit(train)
    assigned = model.transform(feat).drop("_feat")
    spark = corpus.sparkSession
    centroids = spark.createDataFrame(
        [(i, [float(x) for x in c]) for i, c in enumerate(model.clusterCenters())],
        "centroid_id int, cvec array<double>",
    )
    return assigned, centroids


def _probe_cells(
    queries: DataFrame,
    centroids: DataFrame,
    id_col: str,
    vec_col: str,
    nprobe: int,
) -> DataFrame:
    """(query id, centroid_id) for each query's nprobe nearest
    centroids by cosine. Queries x centroids are both broadcast-size."""
    qv = F.col(vec_col).cast("array<double>")
    dot = F.aggregate(
        F.zip_with(qv, F.col("cvec"), lambda a, b: a * b),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    norm = lambda c: F.sqrt(  # noqa: E731
        F.aggregate(c, F.lit(0.0), lambda acc, x: acc + x * x)
    )
    scored = queries.select(id_col, vec_col).crossJoin(F.broadcast(centroids))
    # nullif: zero query/centroid vectors must rank last, not raise
    # (ANSI mode errors on float division by zero)
    scored = scored.withColumn(
        "_sim", dot / F.nullif(norm(qv) * norm(F.col("cvec")), F.lit(0.0))
    )
    w = Window.partitionBy(id_col).orderBy(F.col("_sim").desc(), "centroid_id")
    return (
        scored.withColumn("_r", F.row_number().over(w))
        .filter(F.col("_r") <= nprobe)
        .select(id_col, "centroid_id")
    )


def ivf_search(
    assigned: DataFrame,
    centroids: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 5,
    nprobe: int = 4,
) -> DataFrame:
    """Top-k cosine neighbors per query, searching only nprobe cells.

    Output matches brute_force_topk's schema:
    (query_id, neighbor_id, cosine, rank), self-matches excluded.
    """
    probes = _probe_cells(queries, centroids, id_col, vec_col, nprobe).select(
        F.col(id_col).alias("query_id"), "centroid_id"
    )
    q = as_query(_fixed(queries, id_col, vec_col)).join(probes, "query_id")
    c = spread(assigned).select(
        F.col(id_col).alias("neighbor_id"),
        to_fixed(F.col(vec_col)).alias("cvec"),
        "centroid_id",
    ).withColumn("cn2", norm2_fixed(F.col("cvec")))
    return cosine_topk(c.join(F.broadcast(q), "centroid_id"), k)


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 5,
    n_centroids: int = 16,
    nprobe: int = 4,
    seed: int = 42,
    train_fraction: float = 1.0,
) -> DataFrame:
    """One-shot build + search (index persistence is the caller's
    concern at scale — see build_ivf)."""
    assigned, centroids = build_ivf(
        corpus, id_col, vec_col, n_centroids, seed, train_fraction=train_fraction
    )
    return ivf_search(assigned, centroids, queries, id_col, vec_col, k, nprobe)


def ivf_topk_det(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 5,
    n_centroids: int = 8,
    nprobe: int = 3,
    dim: int = 64,
) -> DataFrame:
    """IVF search over the DETERMINISTIC ±1 md5 codebook quantizer
    (dedup/semdedup.py centroid_components) — the value-gated IVF
    tier (r8 verdict #6): no training pass, cell assignment and query
    routing are integer dot argmaxes over an equal-norm codebook
    (argmax dot == argmax cosine), reproducible bit-for-bit in SQL.
    The trade vs the seeded-KMeans ``build_ivf``: centroids are not
    corpus-adapted, so recall at equal nprobe is lower on clustered
    data — but at 100 TB the build is ONE assignment scan with no
    iterative fit, and every leg (assign → probe → score → top-k)
    carries a full DuckDB oracle. Output schema == ivf_search:
    (query_id, neighbor_id, cosine, rank); self-matches excluded;
    nprobe == n_centroids degenerates to exact brute force."""
    from frames_spark.dedup.semdedup import _codebook, assign_clusters

    assigned = as_neighbor(
        assign_clusters(corpus, id_col, vec_col, n_centroids, dim), "cluster"
    )
    cell_dots = F.transform(
        _codebook(n_centroids, dim),
        lambda comp: dot_fixed(F.col("fvec"), comp),
    )
    qcells = as_query(
        _fixed(queries, id_col, vec_col),
        F.posexplode(cell_dots).alias("cluster", "cdot"),
    )
    w = Window.partitionBy("query_id").orderBy(*probe_order_cols())
    probes = (
        qcells.withColumn("_r", F.row_number().over(w))
        .filter(F.col("_r") <= nprobe)
        .select("query_id", "qvec", "qn2", "cluster")
    )
    return cosine_topk(assigned.join(F.broadcast(probes), "cluster"), k)


def probe_sort_key(dot, cluster):
    """THE probe-routing rule of the ±1 md5 codebook tiers — cell dot
    DESCENDING, cluster id ASCENDING on ties — as a Python sort key
    for driver-side replay (pq.ivfpq_topk_det's per-cell ADC tables).
    Kept adjacent to :func:`probe_order_cols`, the same rule as Window
    orderBy columns, so the two execution forms cannot drift."""
    return (-int(dot), int(cluster))


def probe_order_cols():
    """The probe-routing rule of :func:`probe_sort_key` as the
    distributed Window orderBy column list (``cdot``, ``cluster``)."""
    return [F.col("cdot").desc(), F.col("cluster").asc()]


def save_ivf(
    assigned: DataFrame,
    centroids: DataFrame,
    path: str,
) -> None:
    """Persist the index: corpus partitioned BY CELL (query-time
    probes of nprobe cells touch only those directories — partition
    pruning does the fan-out reduction on disk, mirroring what the
    centroid_id equi-join does in memory), centroids as one tiny
    file. Rebuilding the index is a full retrain; reloading is a
    metadata read."""
    (
        assigned.repartition("centroid_id")
        .write.mode("overwrite")
        .partitionBy("centroid_id")
        .parquet(f"{path}/corpus")
    )
    centroids.coalesce(1).write.mode("overwrite").parquet(f"{path}/centroids")


def load_ivf(spark, path: str) -> tuple[DataFrame, DataFrame]:
    """(assigned, centroids) ready for ivf_search."""
    return (
        spark.read.parquet(f"{path}/corpus"),
        spark.read.parquet(f"{path}/centroids"),
    )


def assign_to_centroids(
    vectors: DataFrame,
    centroids: DataFrame,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """Nearest-centroid assignment (euclidean argmin, ties to the
    lowest centroid id — the same rule KMeans.transform applies) as
    pure expressions against the broadcast centroid table. This is
    how NEW vectors join an existing index without the model object.
    """
    xv = F.col(vec_col).cast("array<double>")
    dist2 = F.aggregate(
        F.zip_with(xv, F.col("cvec"), lambda a, b: (a - b) * (a - b)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    scored = spread(vectors).crossJoin(F.broadcast(centroids)).withColumn(
        "_d2", dist2
    )
    w = Window.partitionBy(id_col).orderBy("_d2", "centroid_id")
    return (
        scored.withColumn("_r", F.row_number().over(w))
        .filter(F.col("_r") == 1)
        .drop("_d2", "_r", "cvec")
    )


def append_to_ivf(
    spark,
    new_vectors: DataFrame,
    path: str,
    id_col: str,
    vec_col: str,
) -> None:
    """Incremental index maintenance: assign new vectors to the
    EXISTING centroids and append into their cell partitions — no
    retrain, no rewrite of other cells. Retrain (build_ivf +
    save_ivf) when drift degrades recall; the cells to monitor are
    the ones whose population grows fastest."""
    _, centroids = load_ivf(spark, path)
    assigned = assign_to_centroids(new_vectors, centroids, id_col, vec_col)
    (
        assigned.repartition("centroid_id")
        .write.mode("append")
        .partitionBy("centroid_id")
        .parquet(f"{path}/corpus")
    )
