"""q08_sketch_select — query registry, module 8 of 9: data selection
(DSIR by source, k-center, curated selection), hybrid retrieval,
edit-distance joins and entity clusters, mergeable sketches (HLL
cells/union, Bloom, KMV, winnowing) and the unigram-LM tokenizer.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from frames_spark.dedup import cluster as cluster_ops
from frames_spark.dedup import embedding as embed_ops
from frames_spark.dedup import semdedup as sem_ops
from frames_spark.functions import text as text_fns
from frames_spark.functions.hashing import hash60_sql
from frames_spark.operators import core as core_ops
from frames_spark.pipelines import dsir as dsir_ops
from frames_spark.pipelines import nbayes as nb_ops
from frames_spark.queries.q01_core_ops import (
    _FIXED_SQL,
    _MICROS_SQL,
    _NEAR_CORPUS_SQL,
    _NORM_SQL,
    _TOKENS_SQL,
    ORACLES,
    _emb_corpus_sql,
    _emb_exact_oracle,
    _lsh_planes_values,
    _micros,
    _with_near_copies,
    _with_perturbed_copies,
    register,
)
from frames_spark.queries.q03_text_quality import _BM25_TERMS, _BM25_TERMS_SQL
from frames_spark.queries.q07_corpus_gates import (
    _DSIR_B,
    _NB_B,
    _SEM_CORPUS_SQL,
    _SEM_K,
    _SEM_MAX_CLUSTER,
    _SEM_TAU,
    _sem_cents_values,
    _sem_corpus,
    _semdedup_oracle,
)
from frames_spark.similarity import ann as ann_ops
from frames_spark.sources.tables import load_table


# Domain-level importance: mean DSIR log-weight per source — the
# DoReMi-adjacent view (which DOMAINS to upweight, not which docs).
# Mean as exact integer floor-div of the nanos sum; rides the same
# bucket models as q_dsir.
@register(
    "q_dsir_by_source",
    f"""
    WITH tok AS (
      SELECT doc_id, lang, source, unnest({_TOKENS_SQL}) AS term FROM documents
    ), tk AS (
      SELECT doc_id, lang, source,
             {hash60_sql("term", "dsir")} % {_DSIR_B} AS bucket
      FROM tok WHERE term <> ''
    ), db AS (
      SELECT doc_id, lang, source, bucket, COUNT(*) AS c FROM tk GROUP BY 1, 2, 3, 4
    ), cr AS (
      SELECT bucket, SUM(c) AS cr FROM db GROUP BY bucket
    ), ct AS (
      SELECT bucket, SUM(c) AS ct FROM db WHERE lang = 'en' GROUP BY bucket
    ), tot AS (
      SELECT SUM(c) AS nr,
             SUM(CASE WHEN lang = 'en' THEN c ELSE 0 END) AS nt
      FROM db
    ), lam AS (
      SELECT cr.bucket,
             CAST(FLOOR(ln(
               (CAST(COALESCE(ct.ct, 0) + 1 AS DOUBLE)
                  * (CAST(tot.nr AS DOUBLE) + CAST({_DSIR_B} AS DOUBLE)))
               / (CAST(cr.cr + 1 AS DOUBLE)
                  * (CAST(tot.nt AS DOUBLE) + CAST({_DSIR_B} AS DOUBLE)))
             ) * 1000000000 + 0.5) AS BIGINT) AS lam_nanos
      FROM cr LEFT JOIN ct ON cr.bucket = ct.bucket CROSS JOIN tot
    ), s AS (
      SELECT doc_id, MIN(source) AS source, SUM(c * lam_nanos) AS logw_nanos
      FROM db JOIN lam USING (bucket) GROUP BY doc_id
    )
    SELECT source, COUNT(*) AS n_docs,
           CAST((SUM(logw_nanos) - ((SUM(logw_nanos) % COUNT(*)) + COUNT(*)) % COUNT(*))
                / COUNT(*) AS BIGINT) AS mean_logw_nanos
    FROM s GROUP BY source
    """,
)
def q_dsir_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = core_ops.spread(load_table(spark, sf_dir, "documents"))
    w = dsir_ops.dsir_logweights(
        docs, "doc_id", "text", F.col("lang") == "en", n_buckets=_DSIR_B
    )
    from frames_spark.operators.caching import retie

    per_doc = w.join(docs.select("doc_id", "source"), "doc_id")
    # floor division toward -inf on both engines: Spark's pmod trick
    return retie(
        per_doc.groupBy("source").agg(
            F.count(F.lit(1)).alias("n_docs"),
            (
                (
                    F.sum("logw_nanos")
                    - F.pmod(F.sum("logw_nanos"), F.count(F.lit(1)))
                )
                / F.count(F.lit(1))
            )
            .cast("long")
            .alias("mean_logw_nanos"),
        ),
        w,
    )


# ---------------------------------------------------------------------------
# Hybrid retrieval: Reciprocal-Rank Fusion (similarity/fusion.py;
# Cormack et al. SIGIR'09) of a lexical leg (distinct-token overlap
# via a broadcast inverted index — never doc x doc) and an embedding
# leg (exact brute-force cosine, the q_ann_bruteforce machinery) for
# query docs {0,1,2}, treating doc_id == vec_id. Every leg rank is a
# row_number under a strict total order and every reciprocal is the
# exact integer 1000000 DIV (60 + rank), so fused scores are exact
# integer sums — full oracle.
# ---------------------------------------------------------------------------
from frames_spark.similarity import fusion as fusion_ops  # noqa: E402

_RRF_DEPTH = 20


@register(
    "q_rrf_hybrid",
    f"""
    WITH ltok AS (
      SELECT doc_id, unnest(list_distinct({_TOKENS_SQL})) AS term FROM documents
    ), lq AS (
      SELECT doc_id AS query_id, term FROM ltok WHERE doc_id < 3 AND term <> ''
    ), ld AS (
      SELECT doc_id, term FROM ltok WHERE term <> ''
    ), lov AS (
      SELECT lq.query_id, ld.doc_id, COUNT(*) AS overlap
      FROM ld JOIN lq USING (term)
      WHERE ld.doc_id <> lq.query_id
      GROUP BY 1, 2
    ), lleg AS (
      SELECT query_id, doc_id, rnk FROM (
        SELECT query_id, doc_id,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY overlap DESC, doc_id ASC) AS rnk
        FROM lov
      ) WHERE rnk <= {_RRF_DEPTH}
    ), fixed AS ({_FIXED_SQL.format(corpus="SELECT vec_id, embedding FROM embeddings")}),
    norms AS (SELECT vec_id, SUM(e * e) AS n2 FROM fixed GROUP BY vec_id),
    edots AS (
      SELECT q.vec_id AS query_id, c.vec_id AS doc_id, SUM(q.e * c.e) AS dot
      FROM fixed q JOIN fixed c ON q.i = c.i AND q.vec_id <> c.vec_id
      WHERE q.vec_id < 3
      GROUP BY 1, 2
    ), escored AS (
      SELECT query_id, doc_id,
             CAST(dot AS DOUBLE)
               / (sqrt(CAST(nq.n2 AS DOUBLE)) * sqrt(CAST(nc.n2 AS DOUBLE))) AS cosine
      FROM edots JOIN norms nq ON query_id = nq.vec_id
                 JOIN norms nc ON doc_id = nc.vec_id
    ), eleg AS (
      SELECT query_id, doc_id, rnk FROM (
        SELECT query_id, doc_id,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY cosine DESC, doc_id ASC) AS rnk
        FROM escored
      ) WHERE rnk <= {_RRF_DEPTH}
    ), contrib AS (
      SELECT query_id, doc_id, 1000000 // (60 + rnk) AS contrib FROM lleg
      UNION ALL
      SELECT query_id, doc_id, 1000000 // (60 + rnk) AS contrib FROM eleg
    ), fused AS (
      SELECT query_id, doc_id, CAST(SUM(contrib) AS BIGINT) AS rrf_micros
      FROM contrib GROUP BY 1, 2
    )
    SELECT query_id, doc_id, rrf_micros, CAST(rnk AS BIGINT) AS rank FROM (
      SELECT query_id, doc_id, rrf_micros,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY rrf_micros DESC, doc_id ASC) AS rnk
      FROM fused
    ) WHERE rnk <= 10
    """,
)
def q_rrf_hybrid(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = core_ops.spread(load_table(spark, sf_dir, "documents"))
    lex = fusion_ops.lexical_overlap_leg(
        docs, "doc_id", "text", [0, 1, 2], depth=_RRF_DEPTH
    )
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 3)
    from frames_spark.similarity.ann import brute_force_topk

    eleg = brute_force_topk(
        emb, queries, "vec_id", "embedding", k=_RRF_DEPTH
    ).select("query_id", F.col("neighbor_id").alias("doc_id"), "rank")
    fused = fusion_ops.rrf_fuse([lex, eleg], k=60, topk=10)
    return fused.select(
        "query_id", "doc_id", "rrf_micros", F.col("rank").cast("long").alias("rank")
    )


# ---------------------------------------------------------------------------
# k-center coreset: greedy farthest-point traversal (similarity/
# coreset.py; Gonzalez 1985) — k maximally-spread exemplars, the
# classic diverse-subset selector. Exact integer squared-L2 over the
# fixed-point vectors makes every round's argmax deterministic, so
# the ENTIRE k-round trace carries a full oracle: one unrolled
# MATERIALIZED CTE per round (the q_markov_stationary device —
# default CTE inlining re-expands the chain exponentially).
# ---------------------------------------------------------------------------
_KC_K = 8


def _kcenter_oracle(k: int) -> str:
    # each round's center row is materialized FIRST (c{r}: 64 rows) —
    # a scalar subquery inside the join condition does not get pushed
    # into the scan of `b`, which would make every round a full
    # i-join of the corpus with itself
    parts = [
        f"WITH fixed AS MATERIALIZED ({_FIXED_SQL.format(corpus='SELECT vec_id, embedding FROM embeddings')}),",
        "seed AS (SELECT MIN(vec_id) AS sid FROM fixed),",
        """c1 AS MATERIALIZED (
          SELECT i, e FROM fixed WHERE vec_id = (SELECT sid FROM seed)
        ),
        m1 AS MATERIALIZED (
          SELECT a.vec_id, SUM((a.e - b.e) * (a.e - b.e)) AS mind
          FROM fixed a JOIN c1 b ON a.i = b.i
          GROUP BY a.vec_id
        ),
        s1 AS (SELECT vec_id, mind FROM m1 ORDER BY mind DESC, vec_id LIMIT 1)""",
    ]
    for r in range(2, k):
        parts.append(
            f""",
        c{r} AS MATERIALIZED (
          SELECT i, e FROM fixed WHERE vec_id = (SELECT vec_id FROM s{r - 1})
        ),
        d{r} AS MATERIALIZED (
          SELECT a.vec_id, SUM((a.e - b.e) * (a.e - b.e)) AS d2
          FROM fixed a JOIN c{r} b ON a.i = b.i
          GROUP BY a.vec_id
        ),
        m{r} AS MATERIALIZED (
          SELECT m{r - 1}.vec_id, LEAST(m{r - 1}.mind, d{r}.d2) AS mind
          FROM m{r - 1} JOIN d{r} USING (vec_id)
        ),
        s{r} AS (SELECT vec_id, mind FROM m{r} ORDER BY mind DESC, vec_id LIMIT 1)"""
        )
    selects = [
        "SELECT CAST(0 AS BIGINT) AS round, sid AS vec_id, CAST(0 AS BIGINT) AS dist2 FROM seed"
    ] + [
        f"SELECT CAST({r} AS BIGINT) AS round, vec_id, CAST(mind AS BIGINT) AS dist2 FROM s{r}"
        for r in range(1, k)
    ]
    return "\n".join(parts) + "\n" + "\nUNION ALL\n".join(selects)


@register("q_kcenter", _kcenter_oracle(_KC_K))
def q_kcenter(spark: SparkSession, sf_dir: str) -> DataFrame:
    from frames_spark.similarity import coreset as coreset_ops

    emb = load_table(spark, sf_dir, "embeddings")
    return coreset_ops.kcenter_trace_df(spark, emb, "vec_id", "embedding", k=_KC_K)


# ---------------------------------------------------------------------------
# Prefix-filtered edit-distance join (dedup/editdist.py
# qgram_edit_pairs; Gravano VLDB'01 + Chaudhuri ICDE'06): all pairs
# within levenshtein <= 2 over a high-entropy deterministic corpus
# (md5-hex keys of every 7th customer, plus planted 1- and 2-deletion
# variants, so true pairs exist at every SF and natural collisions
# are negligible — the synthetic names themselves are too low-entropy
# for a similarity join to be meaningful: nearly half of all name
# pairs are within distance 2). Candidate generation is EXACT (the
# count bound guarantees prefix collision), posting lists hold only
# the 7 rarest multiset grams per string, and the oracle mirrors the
# whole pipeline including the final levenshtein verify.
# ---------------------------------------------------------------------------
from frames_spark.dedup import editdist as edit_ops  # noqa: E402

_EDIT_CORPUS_SQL = """
  SELECT s FROM (
    SELECT substr(md5('ed#' || CAST(c_custkey AS VARCHAR)), 1, 16) AS s
    FROM customer WHERE c_custkey % 7 = 0
  )
  UNION
  SELECT substr(s, 1, 8) || substr(s, 10, len(s)) AS s FROM (
    SELECT substr(md5('ed#' || CAST(c_custkey AS VARCHAR)), 1, 16) AS s
    FROM customer WHERE c_custkey % 7 = 0
  )
  UNION
  SELECT substr(s, 1, 3) || substr(s, 5, 4) || substr(s, 10, len(s)) AS s FROM (
    SELECT substr(md5('ed#' || CAST(c_custkey AS VARCHAR)), 1, 16) AS s
    FROM customer WHERE c_custkey % 7 = 0
  )
"""


@register(
    "q_edit_join",
    f"""
    WITH vocab AS ({_EDIT_CORPUS_SQL}),
    g AS (
      SELECT s, unnest(list_transform(range(1, len(s) - 1), i -> substr(s, i, 3))) AS gram
      FROM vocab WHERE len(s) >= 3
    ), gc AS (SELECT s, gram, COUNT(*) AS c FROM g GROUP BY 1, 2),
    occ AS (SELECT s, gram, unnest(range(1, CAST(c + 1 AS INT))) AS o FROM gc),
    dfr AS (SELECT gram, o, COUNT(*) AS dfr FROM occ GROUP BY 1, 2),
    pref AS (
      SELECT s, gram, o FROM (
        SELECT occ.s, occ.gram, occ.o,
               ROW_NUMBER() OVER (PARTITION BY occ.s
                                  ORDER BY dfr.dfr, occ.gram, occ.o) AS rn
        FROM occ JOIN dfr USING (gram, o)
      ) WHERE rn <= 7
    ), b AS (
      SELECT gram, o, list(s ORDER BY s) AS ss FROM pref
      GROUP BY 1, 2 HAVING COUNT(*) BETWEEN 2 AND 10000
    ), cand AS (
      SELECT DISTINCT v1.s AS a, v2.s AS b
      FROM (SELECT gram, o, unnest(ss) AS s FROM b) v1
      JOIN (SELECT gram, o, unnest(ss) AS s FROM b) v2
        ON v1.gram = v2.gram AND v1.o = v2.o AND v1.s < v2.s
      WHERE abs(len(v1.s) - len(v2.s)) <= 2
    )
    SELECT a, b, CAST(levenshtein(a, b) AS BIGINT) AS lev
    FROM cand WHERE levenshtein(a, b) <= 2
    """,
)
def q_edit_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    return edit_ops.qgram_edit_pairs(
        _edit_corpus(spark, sf_dir), "s", k=2, q=3
    )


def _edit_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer").filter(
        F.col("c_custkey") % 7 == 0
    )
    base = cust.select(
        F.substring(
            F.md5(F.concat(F.lit("ed#"), F.col("c_custkey").cast("string"))),
            1,
            16,
        ).alias("s")
    )
    s = F.col("s")
    del1 = base.select(
        F.concat(s.substr(F.lit(1), F.lit(8)), s.substr(F.lit(10), F.length(s))).alias("s")
    )
    del2 = base.select(
        F.concat(
            s.substr(F.lit(1), F.lit(3)),
            s.substr(F.lit(5), F.lit(4)),
            s.substr(F.lit(10), F.length(s)),
        ).alias("s")
    )
    return base.union(del1).union(del2).distinct()


# ---------------------------------------------------------------------------
# Entity resolution: connected components over the edit-distance
# graph — every cluster of mutually-similar strings labeled by its
# lexicographically-smallest member (dedup/cluster.py iterative
# min-label CC, deterministic fixpoint). The oracle computes the
# SAME components from first principles: the full prefix-filter edit
# join (reused verbatim from q_edit_join's SQL) plus a recursive-CTE
# reachability closure + MIN(label) — an end-to-end independent
# derivation, feasible because edit components are tiny (planted
# triplets), while the Spark side's min-label iteration is the
# 100 TB path.
# ---------------------------------------------------------------------------
@register(
    "q_entity_clusters",
    f"""
    WITH RECURSIVE pairs AS ({ORACLES["q_edit_join"]}),
    nodes AS (SELECT a AS s FROM pairs UNION SELECT b AS s FROM pairs),
    sym AS (
      SELECT a, b FROM pairs UNION SELECT b AS a, a AS b FROM pairs
    ),
    reach(s, r) AS (
      SELECT s, s AS r FROM nodes
      UNION
      SELECT e.b AS s, reach.r FROM reach JOIN sym e ON e.a = reach.s
    )
    SELECT s AS node, MIN(r) AS component FROM reach GROUP BY s
    """,
)
def q_entity_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = edit_ops.qgram_edit_pairs(
        _edit_corpus(spark, sf_dir), "s", k=2, q=3
    )
    return cluster_ops.connected_components(pairs, "a", "b").select(
        "node", "component"
    )


# ---------------------------------------------------------------------------
# Multi-probe LSH ANN (similarity/ann.py multiprobe_topk; Lv et al.
# VLDB'07): queries probe their bucket plus every Hamming-1 neighbor
# bucket — query-side fan-out instead of corpus-side table fan-out
# (the corpus is hashed and shuffled ONCE). Faithful-candidate
# oracle: the probe-set generation (per-bit sign flips) is mirrored
# bit-for-bit, so the gate is deterministic; recall vs exact is the
# adjacent q_ann_* recall-witness pattern.
# ---------------------------------------------------------------------------
_MP_PLANES = 6


def _mp_flip_sql(i: int) -> str:
    return (
        f"substr(bucket, 1, {i - 1}) || "
        f"(CASE substr(bucket, {i}, 1) WHEN '1' THEN '0' ELSE '1' END)"
        f" || substr(bucket, {i + 1}, {_MP_PLANES})"
    )


@register(
    "q_ann_multiprobe",
    f"""
    WITH fixed AS ({_FIXED_SQL.format(corpus="SELECT vec_id, embedding FROM embeddings")}),
    planes(p, i, c) AS (VALUES {_lsh_planes_values(_MP_PLANES)}),
    signs AS (
      SELECT vec_id, p,
             CASE WHEN SUM(e * c) >= 0 THEN '1' ELSE '0' END AS sign
      FROM fixed JOIN planes USING (i)
      GROUP BY vec_id, p
    ),
    buckets AS (
      SELECT vec_id, string_agg(sign, '' ORDER BY p) AS bucket
      FROM signs GROUP BY vec_id
    ),
    qprobes AS (
      SELECT vec_id, bucket FROM buckets WHERE vec_id < 3
      {"".join(f" UNION SELECT vec_id, {_mp_flip_sql(i)} AS bucket FROM buckets WHERE vec_id < 3" for i in range(1, _MP_PLANES + 1))}
    ),
    pairs AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id
      FROM qprobes q JOIN buckets c ON q.bucket = c.bucket
      WHERE c.vec_id <> q.vec_id
    ),
    norms AS (SELECT vec_id, SUM(e * e) AS n2 FROM fixed GROUP BY vec_id),
    dots AS (
      SELECT query_id, neighbor_id, SUM(a.e * b.e) AS dot
      FROM pairs
      JOIN fixed a ON a.vec_id = query_id
      JOIN fixed b ON b.vec_id = neighbor_id AND b.i = a.i
      GROUP BY query_id, neighbor_id
    ),
    cos AS (
      SELECT query_id, neighbor_id,
             CAST(dot AS DOUBLE) / (sqrt(CAST(nq.n2 AS DOUBLE)) * sqrt(CAST(nc.n2 AS DOUBLE))) AS cosine
      FROM dots
      JOIN norms nq ON query_id = nq.vec_id
      JOIN norms nc ON neighbor_id = nc.vec_id
    )
    SELECT query_id, neighbor_id, cosine, CAST(rn AS BIGINT) AS rank FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY cosine DESC, neighbor_id) AS rn
      FROM cos
    ) ranked WHERE rn <= 5
    """,
)
def q_ann_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return ann_ops.multiprobe_topk(
        emb, emb.filter(F.col("vec_id") < 3), "vec_id", "embedding",
        k=5, num_planes=_MP_PLANES,
    )


# ---------------------------------------------------------------------------
# Ranking quality: NDCG@5 of the multi-probe LSH ranking against the
# exact brute-force ideal (binary relevance: neighbor in the exact
# top-5). Completes the IR-metric family (recall@k, MRR) with the
# position-discounted view. Each 1/log2(rank+1) gain is quantized to
# micros BEFORE summing, and the final ratio is micros-quantized —
# exact integers everywhere but one log2 per rank (the q_kl_source
# idiom). Ideal DCG = the same gains over the first min(|exact|, 5)
# positions.
# ---------------------------------------------------------------------------
@register(
    "q_ann_ndcg",
    f"""
    WITH fixed AS ({_FIXED_SQL.format(corpus="SELECT vec_id, embedding FROM embeddings")}),
    norms AS (SELECT vec_id, SUM(e * e) AS n2 FROM fixed GROUP BY vec_id),
    planes(p, i, c) AS (VALUES {_lsh_planes_values(_MP_PLANES)}),
    signs AS (
      SELECT vec_id, p,
             CASE WHEN SUM(e * c) >= 0 THEN '1' ELSE '0' END AS sign
      FROM fixed JOIN planes USING (i)
      GROUP BY vec_id, p
    ),
    buckets AS (
      SELECT vec_id, string_agg(sign, '' ORDER BY p) AS bucket
      FROM signs GROUP BY vec_id
    ),
    qprobes AS (
      SELECT vec_id, bucket FROM buckets WHERE vec_id < 20
      {"".join(f" UNION SELECT vec_id, {_mp_flip_sql(i)} AS bucket FROM buckets WHERE vec_id < 20" for i in range(1, _MP_PLANES + 1))}
    ),
    cpairs AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id
      FROM qprobes q JOIN buckets c ON q.bucket = c.bucket
      WHERE c.vec_id <> q.vec_id
    ),
    epairs AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id
      FROM buckets q JOIN buckets c ON c.vec_id <> q.vec_id
      WHERE q.vec_id < 20
    ),
    alldots AS (
      SELECT query_id, neighbor_id, SUM(a.e * b.e) AS dot
      FROM epairs
      JOIN fixed a ON a.vec_id = query_id
      JOIN fixed b ON b.vec_id = neighbor_id AND b.i = a.i
      GROUP BY query_id, neighbor_id
    ),
    allcos AS (
      SELECT query_id, neighbor_id,
             CAST(dot AS DOUBLE) / (sqrt(CAST(nq.n2 AS DOUBLE)) * sqrt(CAST(nc.n2 AS DOUBLE))) AS cosine
      FROM alldots
      JOIN norms nq ON query_id = nq.vec_id
      JOIN norms nc ON neighbor_id = nc.vec_id
    ),
    exact5 AS (
      SELECT query_id, neighbor_id FROM (
        SELECT query_id, neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY cosine DESC, neighbor_id) AS rn
        FROM allcos
      ) WHERE rn <= 5
    ),
    approx5 AS (
      SELECT query_id, neighbor_id, rn FROM (
        SELECT a.query_id, a.neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY a.query_id
                                  ORDER BY a.cosine DESC, a.neighbor_id) AS rn
        FROM allcos a JOIN cpairs USING (query_id, neighbor_id)
      ) WHERE rn <= 5
    ),
    dcg AS (
      SELECT a.query_id,
             SUM(CASE WHEN e.neighbor_id IS NOT NULL
                      THEN CAST(FLOOR(1000000 / log2(a.rn + 1) + 0.5) AS BIGINT)
                      ELSE 0 END) AS dcg_micros
      FROM approx5 a
      LEFT JOIN exact5 e ON e.query_id = a.query_id
                        AND e.neighbor_id = a.neighbor_id
      GROUP BY a.query_id
    ),
    ideal AS (
      SELECT query_id,
             SUM(CAST(FLOOR(1000000 / log2(rn + 1) + 0.5) AS BIGINT)) AS idcg_micros
      FROM (
        SELECT query_id,
               ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY neighbor_id) AS rn
        FROM exact5
      ) WHERE rn <= 5
      GROUP BY query_id
    )
    SELECT i.query_id,
           CAST(COALESCE(d.dcg_micros, 0) AS BIGINT) AS dcg_micros,
           CAST(i.idcg_micros AS BIGINT) AS idcg_micros,
           CAST(FLOOR(COALESCE(d.dcg_micros, 0) * 1000000.0 / i.idcg_micros + 0.5) AS BIGINT) AS ndcg_micros
    FROM ideal i LEFT JOIN dcg d USING (query_id)
    """,
)
def q_ann_ndcg(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 20)
    exact = ann_ops.brute_force_topk(emb, queries, "vec_id", "embedding", k=5)
    approx = ann_ops.multiprobe_topk(
        emb, queries, "vec_id", "embedding", k=5, num_planes=_MP_PLANES
    )
    gain = F.floor(
        F.lit(1_000_000) / F.log2(F.col("rank") + 1) + F.lit(0.5)
    ).cast("long")
    hits = approx.join(
        exact.select("query_id", "neighbor_id").withColumn("rel", F.lit(1)),
        ["query_id", "neighbor_id"],
        "left",
    )
    dcg = hits.groupBy("query_id").agg(
        F.sum(
            F.when(F.col("rel").isNotNull(), gain).otherwise(F.lit(0))
        ).alias("dcg_micros")
    )
    ideal = (
        exact.select(
            "query_id",
            F.row_number()
            .over(
                Window.partitionBy("query_id").orderBy("neighbor_id")
            )
            .alias("rank"),
        )
        .filter(F.col("rank") <= 5)
        .groupBy("query_id")
        .agg(F.sum(gain).alias("idcg_micros"))
    )
    return ideal.join(dcg, "query_id", "left").select(
        "query_id",
        F.coalesce("dcg_micros", F.lit(0)).cast("long").alias("dcg_micros"),
        F.col("idcg_micros").cast("long").alias("idcg_micros"),
        F.floor(
            F.coalesce("dcg_micros", F.lit(0)) * F.lit(1_000_000.0)
            / F.col("idcg_micros")
            + F.lit(0.5)
        )
        .cast("long")
        .alias("ndcg_micros"),
    )


# Quantitative recall witness for the SemDeDup tier (the
# q_embed_lsh_recall pattern): on a small deterministic subset
# (vec_id < 200 + perturbed copies), compare the within-cluster pair
# set against the EXACT all-pairs threshold cosine. Both sides are
# modeled in the oracle — the exact side as the all-pairs join, the
# cluster side bit-for-bit — so the metric itself is deterministic
# and gate-checkable. Pairs split across codebook cells are the
# tier's only loss; this measures it.
_SEM_SMALL_SQL = _emb_corpus_sql("WHERE vec_id < 200")


@register(
    "q_semdedup_recall",
    f"""
    WITH exact AS ({_emb_exact_oracle(_SEM_SMALL_SQL)}),
    cl AS (
      SELECT id_a, id_b FROM (
        {_semdedup_oracle("SELECT id_a, id_b FROM sim", _SEM_SMALL_SQL)}
      )
    )
    SELECT (SELECT COUNT(*) FROM exact) AS n_exact,
           (SELECT COUNT(*) FROM exact JOIN cl USING (id_a, id_b)) AS n_found,
           CAST((SELECT COUNT(*) FROM exact JOIN cl USING (id_a, id_b)) AS DOUBLE)
             / (SELECT COUNT(*) FROM exact) AS recall
    """,
)
def q_semdedup_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 200)
    subset = _with_perturbed_copies(emb)
    exact = embed_ops.cosine_pairs(subset, "vec_id", "embedding", 0.9)
    cl = sem_ops.semdedup_pairs(
        subset, "vec_id", "embedding",
        n_centroids=_SEM_K, threshold=_SEM_TAU, max_cluster=_SEM_MAX_CLUSTER,
    ).select("id_a", "id_b")
    found = exact.join(cl, ["id_a", "id_b"], "left_semi")
    n_exact = exact.agg(F.count(F.lit(1)).alias("n_exact"))
    n_found = found.agg(F.count(F.lit(1)).alias("n_found"))
    return n_exact.crossJoin(F.broadcast(n_found)).select(
        "n_exact",
        "n_found",
        (F.col("n_found").cast("double") / F.col("n_exact").cast("double")).alias(
            "recall"
        ),
    )


# The partition the k-center traversal induces: every corpus vector
# assigned to its nearest selected center (ties to the lowest center
# index) — (center_idx, n_points, sum_dist2). The oracle extends the
# unrolled-CTE trace: per-center distance relations m1/d2..d{k-1}
# joined once per vector, argmin via an in-order CASE (first match =
# lowest index). Spark side = ONE scan with the centers as a literal
# matrix (similarity/coreset.py assign_to_centers).
def _kcenter_assign_oracle(k: int) -> str:
    base = _kcenter_oracle(k)
    # reuse the full CTE chain; strip its final UNION-ALL select, and
    # add the LAST selected center's distance relation (the trace
    # chain only needs dists to centers 0..k-2 — assignment needs all k)
    ctes = base[: base.index("SELECT CAST(0 AS BIGINT) AS round")]
    ctes += f""",
    c{k} AS MATERIALIZED (
      SELECT i, e FROM fixed WHERE vec_id = (SELECT vec_id FROM s{k - 1})
    ),
    d{k} AS MATERIALIZED (
      SELECT a.vec_id, SUM((a.e - b.e) * (a.e - b.e)) AS d2
      FROM fixed a JOIN c{k} b ON a.i = b.i
      GROUP BY a.vec_id
    )"""
    dist_cols = ["m1.mind"] + [f"d{r}.d2" for r in range(2, k + 1)]
    joins = "".join(
        f" JOIN d{r} ON d{r}.vec_id = m1.vec_id" for r in range(2, k + 1)
    )
    least = "LEAST(" + ", ".join(dist_cols) + ")"
    case = "CASE " + " ".join(
        f"WHEN {c} = best THEN {i}" for i, c in enumerate(dist_cols)
    ) + " END"
    return f"""{ctes},
    alld AS (
      SELECT m1.vec_id, {", ".join(f"{c} AS c{i}" for i, c in enumerate(dist_cols))},
             {least} AS best
      FROM m1{joins}
    ),
    assigned AS (
      SELECT vec_id, best AS dist2,
             {"CASE " + " ".join(f"WHEN c{i} = best THEN {i}" for i in range(len(dist_cols))) + " END"} AS center_idx
      FROM alld
    )
    SELECT CAST(center_idx AS BIGINT) AS center_idx,
           COUNT(*) AS n_points,
           CAST(SUM(dist2) AS BIGINT) AS sum_dist2
    FROM assigned GROUP BY center_idx
    """


@register("q_kcenter_assign", _kcenter_assign_oracle(_KC_K))
def q_kcenter_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    from frames_spark.similarity import coreset as coreset_ops

    emb = load_table(spark, sf_dir, "embeddings")
    trace = coreset_ops.kcenter_select(emb, "vec_id", "embedding", k=_KC_K)
    fixed = embed_ops._fixed(emb, "vec_id", "embedding")
    by_id = {r["vid"]: list(r["fvec"]) for r in
             fixed.filter(F.col("vid").isin([i for _, i, _ in trace])).collect()}
    centers = [by_id[i] for _, i, _ in trace]
    assigned = coreset_ops.assign_to_centers(emb, "vec_id", "embedding", centers)
    return assigned.groupBy("center_idx").agg(
        F.count(F.lit(1)).alias("n_points"),
        F.sum("dist2").cast("long").alias("sum_dist2"),
    )


# ---------------------------------------------------------------------------
# End-to-end curation selection: Gopher-gate the corpus (the
# q_gopher_quality triple: word count / mean word length / alpha
# fraction), then DSIR-score the SURVIVORS against the lang='en'
# target fitted ON the gated corpus, and select the top-50 — the
# gate→score→select composition a curation run actually executes
# (garbage never contaminates the importance models). One nested
# oracle; all the determinism devices of the component queries.
# ---------------------------------------------------------------------------
@register(
    "q_curate_select",
    f"""
    WITH m AS (
      SELECT doc_id, lang, text,
             len({_TOKENS_SQL}) AS n_words,
             length(replace({_NORM_SQL}, ' ', '')) AS word_chars,
             len(list_filter({_TOKENS_SQL}, t -> regexp_matches(t, '[a-z]')))
               AS alpha_words
      FROM documents
    ), gated AS (
      SELECT doc_id, lang, text FROM m
      WHERE n_words BETWEEN 25 AND 100000
        AND {_MICROS_SQL.format(expr='word_chars * 1.0 / n_words')}
            BETWEEN 3000000 AND 10000000
        AND {_MICROS_SQL.format(expr='alpha_words * 1.0 / n_words')}
            >= 800000
    ), tok AS (
      SELECT doc_id, lang, unnest({_TOKENS_SQL}) AS term FROM gated
    ), tk AS (
      SELECT doc_id, lang,
             {hash60_sql("term", "dsir")} % {_DSIR_B} AS bucket
      FROM tok WHERE term <> ''
    ), db AS (
      SELECT doc_id, lang, bucket, COUNT(*) AS c FROM tk GROUP BY 1, 2, 3
    ), cr AS (
      SELECT bucket, SUM(c) AS cr FROM db GROUP BY bucket
    ), ct AS (
      SELECT bucket, SUM(c) AS ct FROM db WHERE lang = 'en' GROUP BY bucket
    ), tot AS (
      SELECT SUM(c) AS nr,
             SUM(CASE WHEN lang = 'en' THEN c ELSE 0 END) AS nt
      FROM db
    ), lam AS (
      SELECT cr.bucket,
             CAST(FLOOR(ln(
               (CAST(COALESCE(ct.ct, 0) + 1 AS DOUBLE)
                  * (CAST(tot.nr AS DOUBLE) + CAST({_DSIR_B} AS DOUBLE)))
               / (CAST(cr.cr + 1 AS DOUBLE)
                  * (CAST(tot.nt AS DOUBLE) + CAST({_DSIR_B} AS DOUBLE)))
             ) * 1000000000 + 0.5) AS BIGINT) AS lam_nanos
      FROM cr LEFT JOIN ct ON cr.bucket = ct.bucket CROSS JOIN tot
    ), s AS (
      SELECT doc_id, SUM(c * lam_nanos) AS logw_nanos
      FROM db JOIN lam USING (bucket) GROUP BY doc_id
    )
    SELECT doc_id, CAST(logw_nanos AS BIGINT) AS logw_nanos
    FROM s ORDER BY logw_nanos DESC, doc_id LIMIT 50
    """,
)
def q_curate_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = core_ops.spread(load_table(spark, sf_dir, "documents"))
    text = F.col("text")
    norm = text_fns.normalize(text)
    toks = text_fns.tokens(text)
    n_words = F.size(toks).cast("long")
    word_chars = F.length(F.replace(norm, F.lit(" "), F.lit("")))
    alpha_words = F.size(F.filter(toks, lambda t: t.rlike("[a-z]")))
    gate = (
        n_words.between(25, 100000)
        & _micros(word_chars.cast("double") / n_words).between(
            3000000, 10000000
        )
        & (_micros(alpha_words.cast("double") / n_words) >= 800000)
    )
    gated = docs.filter(gate).select("doc_id", "lang", "text")
    return dsir_ops.dsir_select(
        gated, "doc_id", "text", F.col("lang") == "en",
        k=50, n_buckets=_DSIR_B,
    )


# ---------------------------------------------------------------------------
# Oracle-exact HyperLogLog (operators/sketches.py hll_cells;
# Flajolet et al. 2007): the register relation over event users is
# reproducible bit-for-bit in DuckDB (portable md5 hash60; bin()
# strips leading zeros identically in both engines), so — unlike the
# engine-native q_approx_distinct, which stays rows-only by design —
# the stored, MERGEABLE sketch itself is value-gated, the same
# upgrade the Count-Min sketch got in round 6. q_hll_estimate
# (q01_core_ops, inside the driver window) checks the raw estimator
# (exact dyadic 2^-rho sums; one closing division) against the true
# distinct count.
# ---------------------------------------------------------------------------
@register(
    "q_hll_cells",
    f"""
    WITH h AS (
      SELECT {hash60_sql("CAST(user_id AS VARCHAR)", "hll")} AS h FROM events
    ), keyed AS (
      SELECT h % 64 AS bucket, (h - (h % 64)) // 64 AS rem FROM h
    )
    SELECT bucket,
           CAST(MAX(CASE WHEN rem = 0 THEN 55
                         ELSE 54 - length(bin(rem)) + 1 END) AS INT) AS max_rho
    FROM keyed GROUP BY bucket
    """,
)
def q_hll_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    from frames_spark.operators.sketches import hll_cells

    ev = load_table(spark, sf_dir, "events")
    return hll_cells(ev, "user_id").select(
        "bucket", F.col("max_rho").cast("int").alias("max_rho")
    )


# ---------------------------------------------------------------------------
# Oracle-exact Bloom filter audit (operators/sketches.py bloom_bits/
# bloom_probe; Bloom 1970): build over customer keys, probe an
# equal-sized ABSENT key range (custkey + 10^9 — guaranteed outside
# every SF's key space), and report present-recall (must be total —
# Bloom has no false negatives) plus the OBSERVED false-positive
# count, which is fully deterministic given the md5 positions and so
# value-gated, not a statistical assertion.
# ---------------------------------------------------------------------------
_BF_PROBE_SQL = """
  SELECT c_custkey AS key, 1 AS present FROM customer
  UNION ALL
  SELECT c_custkey + 1000000000 AS key, 0 AS present FROM customer
"""


@register(
    "q_bloom_fpr",
    f"""
    WITH keys AS (SELECT DISTINCT c_custkey AS k FROM customer),
    bits AS (
      SELECT DISTINCT unnest([{",".join(f"{hash60_sql('CAST(k AS VARCHAR)', f'bf{j}')} % 131072" for j in range(7))}]) AS pos
      FROM keys
    ),
    probes AS ({_BF_PROBE_SQL}),
    ppos AS (
      SELECT key, present,
             unnest([{",".join(f"{hash60_sql('CAST(key AS VARCHAR)', f'bf{j}')} % 131072" for j in range(7))}]) AS pos
      FROM probes
    ),
    hits AS (
      SELECT key, present, COUNT(bits.pos) AS nset
      FROM ppos LEFT JOIN bits USING (pos)
      GROUP BY key, present
    )
    SELECT CAST(SUM(CASE WHEN present = 1 AND nset = 7 THEN 1 ELSE 0 END) AS BIGINT) AS present_found,
           CAST(SUM(present) AS BIGINT) AS present_total,
           CAST(SUM(CASE WHEN present = 0 AND nset = 7 THEN 1 ELSE 0 END) AS BIGINT) AS false_positives,
           CAST(SUM(1 - present) AS BIGINT) AS absent_total
    FROM hits
    """,
)
def q_bloom_fpr(spark: SparkSession, sf_dir: str) -> DataFrame:
    from frames_spark.operators.sketches import bloom_bits, bloom_probe

    cust = load_table(spark, sf_dir, "customer")
    bits = bloom_bits(cust.select("c_custkey").distinct(), "c_custkey")
    probes = cust.select(
        F.col("c_custkey").alias("key"), F.lit(1).alias("present")
    ).unionAll(
        cust.select(
            (F.col("c_custkey") + 1_000_000_000).alias("key"),
            F.lit(0).alias("present"),
        )
    )
    res = bloom_probe(probes, bits, "key").join(
        probes, "key"
    )
    return res.agg(
        F.sum(
            F.when((F.col("present") == 1) & F.col("maybe_present"), 1).otherwise(0)
        ).cast("long").alias("present_found"),
        F.sum("present").cast("long").alias("present_total"),
        F.sum(
            F.when((F.col("present") == 0) & F.col("maybe_present"), 1).otherwise(0)
        ).cast("long").alias("false_positives"),
        F.sum(1 - F.col("present")).cast("long").alias("absent_total"),
    )


# ---------------------------------------------------------------------------
# Winnowing fingerprints (functions/winnow.py; Schleimer, Wilkerson
# & Aiken SIGMOD'03 — the MOSS algorithm): per-window minimum gram
# hash with the paper's rightmost tie rule, encoded so the selection
# is ONE integer min (hash*w + w-1-offset) and the decode an exact
# bit shift. q_winnow audits per-doc selection (count + min
# fingerprint; density ~2/(w+1) of grams); q_winnow_matches runs the
# MOSS use — shared-fingerprint pairs over planted near-copies via
# the standard posting-list + max_df shape. Full oracles.
# ---------------------------------------------------------------------------
def _winnow_sel_sql(corpus: str) -> str:
    h = hash60_sql("g", "win")
    # fingerprint key = 40-bit gram hash * 2^20 + (2^20-1 - global
    # gram position): min key = min hash, tie = rightmost occurrence;
    # the GLOBAL position makes adjacent windows that pick the same
    # occurrence contribute one fingerprint (the density invariant)
    return f"""
    tok AS (SELECT doc_id, {_TOKENS_SQL} AS toks FROM ({corpus})),
    gr AS (
      SELECT doc_id,
             list_transform(
               list_transform(range(1, len(toks) - 1),
                              i -> array_to_string(toks[i:i+2], ' ')),
               g -> {h} % 1099511627776) AS hs
      FROM tok WHERE len(toks) >= 3
    ),
    sel AS (
      SELECT doc_id, len(hs) AS n_grams,
             list_distinct(list_transform(
               range(1, greatest(len(hs) - 3, 1) + 1),
               i -> list_min(list_transform(
                      range(0, least(4, len(hs) - i + 1)),
                      off -> hs[CAST(i + off AS INT)] * 1048576
                             + (1048575 - (i + off))))
             )) AS keys
      FROM gr
    )"""


@register(
    "q_winnow",
    f"""
    WITH {_winnow_sel_sql("SELECT doc_id, text FROM documents")}
    SELECT doc_id, CAST(n_grams AS BIGINT) AS n_grams,
           CAST(len(keys) AS BIGINT) AS n_fps,
           CAST(list_min(list_transform(keys, k -> k // 1048576)) AS BIGINT) AS min_fp
    FROM sel
    """,
)
def q_winnow(spark: SparkSession, sf_dir: str) -> DataFrame:
    from frames_spark.functions import winnow as win_fns

    docs = core_ops.spread(load_table(spark, sf_dir, "documents"))
    keys = win_fns.winnow_keys_rows(
        docs, "doc_id", "text", with_counts=True
    )
    return keys.groupBy("doc_id").agg(
        F.max("n_grams").cast("long").alias("n_grams"),
        F.count(F.lit(1)).cast("long").alias("n_fps"),
        F.min(F.shiftright(F.col("key"), 20)).alias("min_fp"),
    ).select("doc_id", "n_grams", "n_fps", "min_fp")


@register(
    "q_winnow_matches",
    f"""
    WITH {_winnow_sel_sql(f"SELECT doc_id, text FROM ({_NEAR_CORPUS_SQL}) WHERE doc_id % 1000000 < 200")},
    fps AS (
      SELECT doc_id, unnest(list_transform(keys, k -> k // 1048576)) AS fp FROM sel
    ),
    posting AS (
      SELECT fp, list(DISTINCT doc_id ORDER BY doc_id) AS ds
      FROM fps GROUP BY fp
      HAVING COUNT(DISTINCT doc_id) BETWEEN 2 AND 64
    ),
    pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS shared
      FROM (SELECT fp, unnest(ds) AS doc_id FROM posting) a
      JOIN (SELECT fp, unnest(ds) AS doc_id FROM posting) b
        ON a.fp = b.fp AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT doc_a, doc_b, CAST(shared AS BIGINT) AS shared
    FROM pairs WHERE shared >= 3
    """,
)
def q_winnow_matches(spark: SparkSession, sf_dir: str) -> DataFrame:
    from frames_spark.functions import winnow as win_fns

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    corpus = _with_near_copies(docs)
    fps = win_fns.winnow_keys_rows(corpus, "doc_id", "text").select(
        "doc_id", F.shiftright(F.col("key"), 20).alias("fp")
    )
    posting = (
        fps.distinct()
        .groupBy("fp")
        .agg(F.sort_array(F.collect_set("doc_id")).alias("ds"))
        .filter((F.size("ds") >= 2) & (F.size("ds") <= 64))
    )
    expand = F.expr(
        "flatten(transform(ds, (x, i) ->"
        " transform(slice(ds, i + 2, size(ds)),"
        " y -> struct(x AS doc_a, y AS doc_b))))"
    )
    return (
        posting.select(F.explode(expand).alias("p"))
        .groupBy(F.col("p.doc_a").alias("doc_a"), F.col("p.doc_b").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("shared"))
        .filter(F.col("shared") >= 3)
        .select("doc_a", "doc_b", F.col("shared").cast("long").alias("shared"))
    )


# ---------------------------------------------------------------------------
# KMV bottom-k sketch (operators/sketches.py kmv_*; Bar-Yossef 2002,
# Beyer SIGMOD'07): the fourth oracle-exact sketch. q_kmv_users
# value-gates the stored sketch's estimate against the true distinct
# count; q_kmv_overlap estimates the Jaccard of two user populations
# (click vs purchase events) from the bottom-k of the union —
# the cross-dataset overlap job HLL cannot do without
# inclusion-exclusion. All integers except one closing division.
# ---------------------------------------------------------------------------
@register(
    "q_kmv_users",
    f"""
    WITH s AS (
      SELECT DISTINCT {hash60_sql("CAST(user_id AS VARCHAR)", "kmv")} AS h
      FROM events ORDER BY h LIMIT 256
    ), agg AS (SELECT COUNT(*) AS n, MAX(h) AS hk FROM s)
    SELECT CAST(FLOOR(CASE WHEN n < 256 THEN CAST(n AS DOUBLE)
                           ELSE {float(255)} * {float(1 << 60)} / CAST(hk AS DOUBLE)
                      END * 1000000 + 0.5) AS BIGINT) AS est_micros,
           CAST(n AS BIGINT) AS n_in_sketch,
           (SELECT COUNT(DISTINCT user_id) FROM events) AS exact_distinct
    FROM agg
    """,
)
def q_kmv_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    from frames_spark.operators.sketches import kmv_estimate, kmv_sketch

    ev = load_table(spark, sf_dir, "events")
    est = kmv_estimate(kmv_sketch(ev, "user_id"))
    exact = ev.agg(F.countDistinct("user_id").alias("exact_distinct"))
    return est.crossJoin(F.broadcast(exact))


@register(
    "q_kmv_overlap",
    f"""
    WITH a AS (
      SELECT DISTINCT {hash60_sql("CAST(user_id AS VARCHAR)", "kmv")} AS h
      FROM events WHERE user_id % 4 < 3 ORDER BY h LIMIT 256
    ), b AS (
      SELECT DISTINCT {hash60_sql("CAST(user_id AS VARCHAR)", "kmv")} AS h
      FROM events WHERE user_id % 4 > 0 ORDER BY h LIMIT 256
    ), uk AS (
      SELECT h FROM (SELECT h FROM a UNION SELECT h FROM b)
      ORDER BY h LIMIT 256
    ), nb AS (
      SELECT COUNT(*) AS n_both FROM uk
      WHERE h IN (SELECT h FROM a) AND h IN (SELECT h FROM b)
    ), nu AS (SELECT COUNT(*) AS n_union_k FROM uk),
    ex AS (
      SELECT CAST(FLOOR(
        (SELECT COUNT(*) FROM (
           SELECT DISTINCT user_id FROM events WHERE user_id % 4 < 3
           INTERSECT
           SELECT DISTINCT user_id FROM events WHERE user_id % 4 > 0))
        * 1000000.0
        / (SELECT COUNT(*) FROM (
           SELECT DISTINCT user_id FROM events WHERE user_id % 4 < 3
           UNION
           SELECT DISTINCT user_id FROM events WHERE user_id % 4 > 0))
        + 0.5) AS BIGINT) AS exact_jaccard_micros
    )
    SELECT CAST(n_union_k AS BIGINT) AS n_union_k,
           CAST(n_both AS BIGINT) AS n_both,
           CAST(FLOOR(CAST(n_both AS DOUBLE) / CAST(n_union_k AS DOUBLE)
                      * 1000000 + 0.5) AS BIGINT) AS jaccard_micros,
           exact_jaccard_micros
    FROM nu CROSS JOIN nb CROSS JOIN ex
    """,
)
def q_kmv_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    from frames_spark.operators.sketches import kmv_jaccard, kmv_sketch

    ev = load_table(spark, sf_dir, "events")
    # two deterministic 75% user populations with a planted 50%
    # Jaccard (id % 4 < 3 vs id % 4 > 0) — natural splits of the
    # synthetic corpus all give ~1.0 (every user does everything)
    clicks = ev.filter(F.col("user_id") % 4 < 3).select("user_id")
    buys = ev.filter(F.col("user_id") % 4 > 0).select("user_id")
    a = kmv_sketch(clicks, "user_id")
    b = kmv_sketch(buys, "user_id")
    est = kmv_jaccard(a, b)
    inter = clicks.distinct().join(buys.distinct(), "user_id", "left_semi").agg(
        F.count(F.lit(1)).alias("ni")
    )
    uni = clicks.union(buys).distinct().agg(F.count(F.lit(1)).alias("nu"))
    exact = inter.crossJoin(F.broadcast(uni)).select(
        F.floor(
            F.col("ni") * F.lit(1_000_000.0) / F.col("nu") + F.lit(0.5)
        )
        .cast("long")
        .alias("exact_jaccard_micros")
    )
    return est.crossJoin(F.broadcast(exact))


# Threshold-sensitivity curve for the semantic tier (the q_dedup_curve
# sibling the minhash family carries): pairs and distinct drops at
# tau per-mille in {800, 850, 900, 950}, all derived from ONE
# within-cluster pair relation at the loosest threshold — the tuning
# table a curation run reads before fixing tau. The cluster-bounded
# candidate shape (and its max_cluster guard) is unchanged; only the
# closing filter sweeps. tau stays an integer column so the group key
# never hashes a float.
_SEM_CURVE_FINAL = """
    , scored AS (
      SELECT id_b,
             CAST(dot AS DOUBLE)
               / (sqrt(CAST(na.n2 AS DOUBLE)) * sqrt(CAST(nb.n2 AS DOUBLE))) AS cosine
      FROM pairdots
      JOIN norms na ON id_a = na.vec_id
      JOIN norms nb ON id_b = nb.vec_id
    ), taus(tau_milli) AS (VALUES (800), (850), (900), (950))
    SELECT t.tau_milli,
           COUNT(*) AS n_pairs,
           COUNT(DISTINCT s.id_b) AS n_dropped
    FROM taus t JOIN scored s
      ON s.cosine >= CAST(t.tau_milli AS DOUBLE) / 1000
    GROUP BY t.tau_milli
"""


@register("q_semdedup_curve", _semdedup_oracle(_SEM_CURVE_FINAL, tau=0.80))
def q_semdedup_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = sem_ops.semdedup_pairs(
        _sem_corpus(spark, sf_dir), "vec_id", "embedding",
        n_centroids=_SEM_K, threshold=0.80, max_cluster=_SEM_MAX_CLUSTER,
    )
    taus = spark.createDataFrame(
        [(800,), (850,), (900,), (950,)], "tau_milli int"
    )
    return (
        pairs.crossJoin(F.broadcast(taus))
        .filter(F.col("cosine") >= F.col("tau_milli").cast("double") / 1000)
        .groupBy("tau_milli")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_pairs"),
            F.countDistinct("id_b").cast("long").alias("n_dropped"),
        )
    )


# Planted-truth evaluation of the edit join (the recall-witness
# pattern every approximate tier carries): the md5 corpus construction
# makes the TRUE pair set derivable — for every sampled custkey the
# base, 1-deletion, and 2-deletion variants are pairwise within
# levenshtein 2 (verified, not assumed: the oracle recomputes the
# distance), so precision/recall of the prefix-filtered join are
# deterministic integers. Natural md5 collisions (pairs outside the
# planted triplets) count toward found-but-not-planted, so precision
# is reported against VERIFIED pairs, recall against the planted set.
@register(
    "q_edit_join_eval",
    f"""
    WITH base AS (
      SELECT substr(md5('ed#' || CAST(c_custkey AS VARCHAR)), 1, 16) AS s
      FROM customer WHERE c_custkey % 7 = 0
    ),
    truth AS (
      SELECT LEAST(x, y) AS a, GREATEST(x, y) AS b FROM (
        SELECT s AS x, substr(s, 1, 8) || substr(s, 10, len(s)) AS y FROM base
        UNION
        SELECT s AS x,
               substr(s, 1, 3) || substr(s, 5, 4) || substr(s, 10, len(s)) AS y
        FROM base
        UNION
        SELECT substr(s, 1, 8) || substr(s, 10, len(s)) AS x,
               substr(s, 1, 3) || substr(s, 5, 4) || substr(s, 10, len(s)) AS y
        FROM base
      ) WHERE x <> y AND levenshtein(x, y) <= 2
    ),
    found AS (SELECT a, b FROM ({ORACLES["q_edit_join"]}))
    SELECT (SELECT COUNT(*) FROM truth) AS n_true,
           (SELECT COUNT(*) FROM found) AS n_found,
           (SELECT COUNT(*) FROM truth JOIN found USING (a, b)) AS n_hit,
           CAST(FLOOR((SELECT COUNT(*) FROM truth JOIN found USING (a, b))
                      * 1000000.0 / (SELECT COUNT(*) FROM truth) + 0.5) AS BIGINT)
             AS recall_micros
    """,
)
def q_edit_join_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    found = edit_ops.qgram_edit_pairs(
        _edit_corpus(spark, sf_dir), "s", k=2, q=3
    ).select("a", "b")
    cust = load_table(spark, sf_dir, "customer").filter(
        F.col("c_custkey") % 7 == 0
    )
    s = F.substring(
        F.md5(F.concat(F.lit("ed#"), F.col("c_custkey").cast("string"))), 1, 16
    )
    d1 = F.concat(s.substr(F.lit(1), F.lit(8)), s.substr(F.lit(10), F.length(s)))
    d2 = F.concat(
        s.substr(F.lit(1), F.lit(3)),
        s.substr(F.lit(5), F.lit(4)),
        s.substr(F.lit(10), F.length(s)),
    )
    cand = (
        cust.select(s.alias("x"), d1.alias("y"))
        .union(cust.select(s.alias("x"), d2.alias("y")))
        .union(cust.select(d1.alias("x"), d2.alias("y")))
        .distinct()
    )
    truth = (
        cand.filter(
            (F.col("x") != F.col("y")) & (F.levenshtein("x", "y") <= 2)
        )
        .select(
            F.least("x", "y").alias("a"), F.greatest("x", "y").alias("b")
        )
        .distinct()
    )
    n_true = truth.agg(F.count(F.lit(1)).alias("n_true"))
    n_found = found.agg(F.count(F.lit(1)).alias("n_found"))
    n_hit = truth.join(found, ["a", "b"], "left_semi").agg(
        F.count(F.lit(1)).alias("n_hit")
    )
    return (
        n_true.crossJoin(F.broadcast(n_found))
        .crossJoin(F.broadcast(n_hit))
        .select(
            "n_true",
            "n_found",
            "n_hit",
            F.floor(
                F.col("n_hit") * F.lit(1_000_000.0) / F.col("n_true") + F.lit(0.5)
            )
            .cast("long")
            .alias("recall_micros"),
        )
    )


# HLL merge under the oracle gate: per-source register relations
# merged by re-max (the sink's read path) must estimate the UNION of
# the sources — the property that makes HLL the distributed distinct
# counter. Sources partition the corpus, so the merged estimate is
# checked against the overall exact count; the per-source relations,
# the merge, and the corrected estimator all replay in the oracle.
@register(
    "q_hll_union",
    f"""
    WITH h AS (
      SELECT event_type,
             {hash60_sql("CAST(user_id AS VARCHAR)", "hll")} AS h
      FROM events
    ), keyed AS (
      SELECT event_type, h % 64 AS bucket, (h - (h % 64)) // 64 AS rem FROM h
    ), percells AS (
      SELECT event_type, bucket,
             MAX(CASE WHEN rem = 0 THEN 55
                      ELSE 54 - length(bin(rem)) + 1 END) AS max_rho
      FROM keyed GROUP BY event_type, bucket
    ), cells AS (
      SELECT bucket, MAX(max_rho) AS max_rho FROM percells GROUP BY bucket
    ), agg AS (
      SELECT SUM(power(2.0, -max_rho)) AS z, COUNT(*) AS nb FROM cells
    ), r AS (
      SELECT {0.709 * 64 * 64} / (z + CAST(64 - nb AS DOUBLE)) AS raw,
             CAST(64 - nb AS DOUBLE) AS empty, nb
      FROM agg
    )
    SELECT CAST(FLOOR(CASE WHEN raw <= {2.5 * 64} AND empty > 0
                           THEN CAST(64 AS DOUBLE) * ln(CAST(64 AS DOUBLE) / empty)
                           ELSE raw END * 1000000 + 0.5) AS BIGINT) AS est_micros,
           (SELECT COUNT(DISTINCT event_type) FROM events) AS n_sketches,
           (SELECT COUNT(DISTINCT user_id) FROM events) AS exact_distinct
    FROM r
    """,
)
def q_hll_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    from frames_spark.operators.sketches import hll_cells, hll_estimate, hll_merge

    ev = load_table(spark, sf_dir, "events")
    types = [r.event_type for r in ev.select("event_type").distinct().collect()]
    sketches = [
        hll_cells(ev.filter(F.col("event_type") == t), "user_id")
        for t in sorted(types)
    ]
    est = hll_estimate(hll_merge(*sketches)).select("est_micros")
    meta = ev.agg(
        F.countDistinct("event_type").cast("long").alias("n_sketches"),
        F.countDistinct("user_id").alias("exact_distinct"),
    )
    return est.crossJoin(F.broadcast(meta))


# Query-likelihood retrieval with Dirichlet smoothing (Zhai &
# Lafferty SIGIR'01) — the language-modeling sibling of q_bm25 over
# the same query terms: score(q,d) = sum_t ln((tf + mu*p(t|C)) /
# (dl + mu)), mu = 2000. EVERY document scores (absent terms smooth
# to the collection probability), so the full ranking is value-gated,
# not just the matching docs. Per-term micros quantization before the
# sum (the q_kl_source idiom); collection stats are 1-row/terms-row
# bounded broadcasts.
@register(
    "q_lm_dirichlet",
    f"""
    WITH docs AS (
      SELECT doc_id, len({_TOKENS_SQL}) AS dl,
             list_filter({_TOKENS_SQL}, t -> t IN ({_BM25_TERMS_SQL})) AS qt
      FROM documents
    ), stats AS (
      SELECT SUM(dl) AS total_len FROM docs
    ), tfc AS (
      SELECT doc_id, term, COUNT(*) AS tf FROM (
        SELECT doc_id, unnest(qt) AS term FROM docs
      ) GROUP BY 1, 2
    ), ctf AS (
      SELECT term, SUM(tf) AS ctf FROM tfc GROUP BY term
    ), terms AS (SELECT unnest([{_BM25_TERMS_SQL}]) AS term),
    grid AS (
      SELECT d.doc_id, d.dl, t.term,
             COALESCE(tfc.tf, 0) AS tf, COALESCE(c.ctf, 0) AS ctf
      FROM docs d
      CROSS JOIN terms t
      LEFT JOIN tfc ON tfc.doc_id = d.doc_id AND tfc.term = t.term
      LEFT JOIN ctf c ON c.term = t.term
    )
    SELECT doc_id, CAST(SUM({_MICROS_SQL.format(expr='''
             ln((tf + 2000.0 * ctf / total_len) / (dl + 2000.0))''')})
           AS BIGINT) AS score_micros
    FROM grid CROSS JOIN stats
    GROUP BY doc_id
    """,
)
def q_lm_dirichlet(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = core_ops.spread(load_table(spark, sf_dir, "documents"))
    toks = text_fns.tokens(F.col("text"))
    base = docs.select(
        "doc_id",
        F.size(toks).cast("long").alias("dl"),
        F.filter(toks, lambda t: t.isin(*_BM25_TERMS)).alias("qt"),
    )
    stats = base.agg(F.sum("dl").alias("total_len"))
    tfc = (
        base.select("doc_id", F.explode("qt").alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    ctf = tfc.groupBy("term").agg(F.sum("tf").alias("ctf"))
    terms = spark.createDataFrame([(t,) for t in _BM25_TERMS], "term string")
    grid = (
        base.select("doc_id", "dl")
        .crossJoin(F.broadcast(terms))
        .join(tfc, ["doc_id", "term"], "left")
        .join(F.broadcast(ctf), "term", "left")
        .select(
            "doc_id",
            "dl",
            F.coalesce("tf", F.lit(0)).alias("tf"),
            F.coalesce("ctf", F.lit(0)).alias("ctf"),
        )
    )
    term_micros = _micros(
        F.log(
            (F.col("tf") + F.lit(2000.0) * F.col("ctf") / F.col("total_len"))
            / (F.col("dl") + F.lit(2000.0))
        )
    )
    return (
        grid.crossJoin(F.broadcast(stats))
        .groupBy("doc_id")
        .agg(F.sum(term_micros).cast("long").alias("score_micros"))
    )


# ---------------------------------------------------------------------------
# Classifier comparison: McNemar's test (McNemar 1947) between the
# TRAINED naive Bayes and the FIXED langid heuristic on the held-out
# fifth — the standard paired test for "is classifier A actually
# better than B on the same examples" (discordant pairs only). The
# oracle composes the two registered oracles verbatim: q_nb_confusion's
# CTE chain re-finalized to per-doc predictions, joined against
# q_langid's predictions. b/c counts are exact integers; the
# continuity-corrected statistic closes in one micros-quantized
# expression, nullif-guarded for the no-discordance case.
# ---------------------------------------------------------------------------
_MCNEMAR_FINAL = """
    , lid AS (
      SELECT doc_id, predicted FROM ({LANGID})
    ), paired AS (
      SELECT p.doc_id,
             CASE WHEN l.predicted = p.lang AND p.pred <> p.lang THEN 1 ELSE 0 END AS b,
             CASE WHEN p.pred = p.lang AND l.predicted <> p.lang THEN 1 ELSE 0 END AS c
      FROM pred p JOIN lid l USING (doc_id)
    )
    SELECT CAST(SUM(b) AS BIGINT) AS n_heuristic_only,
           CAST(SUM(c) AS BIGINT) AS n_nb_only,
           CAST(FLOOR(
             (abs(CAST(SUM(b) AS DOUBLE) - CAST(SUM(c) AS DOUBLE)) - 1)
             * (abs(CAST(SUM(b) AS DOUBLE) - CAST(SUM(c) AS DOUBLE)) - 1)
             / nullif(CAST(SUM(b) + SUM(c) AS DOUBLE), 0)
             * 1000000 + 0.5) AS BIGINT) AS mcnemar_micros
    FROM paired
"""


@register(
    "q_mcnemar_nb_vs_langid",
    ORACLES["q_nb_confusion"].replace(
        "SELECT lang, pred, COUNT(*) AS n FROM pred GROUP BY lang, pred",
        _MCNEMAR_FINAL.replace("{LANGID}", ORACLES["q_langid"]),
    ),
)
def q_mcnemar_nb_vs_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    from frames_spark.functions.langid import language_scores

    docs = core_ops.spread(load_table(spark, sf_dir, "documents"))
    # persisted: one bucketization scan feeds both splits (and the
    # modulo split stays above the materialization instead of being
    # pushed to the scan as a non-eligible predicate)
    db = nb_ops.doc_buckets(
        docs, "doc_id", "text", "lang", n_buckets=_NB_B
    ).persist()
    train_db = db.filter(F.col("_id") % 5 != 0)
    test_db = db.filter(F.col("_id") % 5 == 0)
    lik, stats = nb_ops.nb_fit(train_db, _NB_B)
    nb_pred = nb_ops.nb_predict(test_db, lik, stats).select(
        F.col("_id").alias("doc_id"),
        F.col("_label").alias("lang"),
        "pred",
    )
    lid = language_scores(docs, "doc_id", "text").select(
        "doc_id", F.col("predicted").alias("heur")
    )
    paired = nb_pred.join(lid, "doc_id").select(
        F.when(
            (F.col("heur") == F.col("lang")) & (F.col("pred") != F.col("lang")),
            1,
        )
        .otherwise(0)
        .alias("b"),
        F.when(
            (F.col("pred") == F.col("lang")) & (F.col("heur") != F.col("lang")),
            1,
        )
        .otherwise(0)
        .alias("c"),
    )
    d = F.abs(F.sum("b").cast("double") - F.sum("c").cast("double"))
    return paired.agg(
        F.sum("b").cast("long").alias("n_heuristic_only"),
        F.sum("c").cast("long").alias("n_nb_only"),
        F.floor(
            (d - 1) * (d - 1)
            / F.nullif((F.sum("b") + F.sum("c")).cast("double"), F.lit(0.0))
            * 1_000_000
            + F.lit(0.5)
        )
        .cast("long")
        .alias("mcnemar_micros"),
    )




# ---------------------------------------------------------------------------
# Unigram-LM (SentencePiece-style) tokenizer family
# (functions/unigram_lm.py, Kudo 2018 arXiv:1804.10959): the BPE
# trainer's sibling. The seed vocabulary and the Viterbi E-step are
# fully oracled; the iterative trainer itself is witnessed by the
# differential pytest (tests/test_unigram_lm.py), the engine's
# convention for iterative algorithms. The oracle replays the forward
# DP as 12 unrolled MATERIALIZED CTEs (the q_markov_stationary
# pattern) and the backtrace as 12 more, tie-break MIN(j) mirroring
# the Spark backtrace's longest-piece rule.
# ---------------------------------------------------------------------------

def _unigram_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    from frames_spark.functions.unigram_lm import word_counts

    return word_counts(load_table(spark, sf_dir, "documents"))


def _unigram_model(words: DataFrame) -> DataFrame:
    """Seed-count model with lp = floor(ln(n/total)*1e6 + 0.5) — the
    relational twin of the trainer's driver-side logp_micros (F.log
    and DuckDB ln are libm-identical on this platform, the
    q_unigram_logprob precedent)."""
    from frames_spark.functions.unigram_lm import seed_pieces

    seed = seed_pieces(words, max_piece_len=4, size=64)
    tot = seed.agg(F.sum("n").cast("double").alias("tot"))
    return seed.crossJoin(F.broadcast(tot)).select(
        "piece",
        F.floor(
            F.log(F.col("n").cast("double") / F.col("tot")) * 1000000 + 0.5
        ).cast("long").alias("lp"),
    )


@register(
    "q_unigram_seed",
    f"""
    WITH words AS (
      SELECT word, COUNT(*) AS cnt FROM (
        SELECT unnest({_TOKENS_SQL}) AS word FROM documents) t
      WHERE regexp_matches(word, '^[a-z]+$') AND length(word) <= 12
      GROUP BY word
    ), subs AS (
      SELECT unnest(flatten(list_transform(range(1, length(word) + 1),
               jp1 -> list_transform(range(1, least(4, length(word) - jp1 + 1) + 1),
                        L -> substring(word, jp1, L))))) AS piece, cnt
      FROM words
    ), counts AS (
      SELECT piece, CAST(SUM(cnt) AS BIGINT) AS n FROM subs GROUP BY piece
    ), top AS (
      SELECT piece, n FROM counts ORDER BY n DESC, piece LIMIT 64
    )
    SELECT piece, n FROM top
    UNION
    SELECT piece, n FROM counts WHERE length(piece) = 1
    """,
)
def q_unigram_seed(spark: SparkSession, sf_dir: str) -> DataFrame:
    from frames_spark.functions.unigram_lm import seed_pieces

    return seed_pieces(_unigram_words(spark, sf_dir), max_piece_len=4, size=64)


@register(
    "q_unigram_viterbi",
    f"""
    WITH words AS (
      SELECT word, COUNT(*) AS cnt FROM (
        SELECT unnest({_TOKENS_SQL}) AS word FROM documents) t
      WHERE regexp_matches(word, '^[a-z]+$') AND length(word) <= 12
      GROUP BY word
    ), subs AS (
      SELECT unnest(flatten(list_transform(range(1, length(word) + 1),
               jp1 -> list_transform(range(1, least(4, length(word) - jp1 + 1) + 1),
                        L -> substring(word, jp1, L))))) AS piece, cnt
      FROM words
    ), counts AS (
      SELECT piece, CAST(SUM(cnt) AS BIGINT) AS n FROM subs GROUP BY piece
    ), seed AS (
      SELECT piece, n FROM (SELECT piece, n FROM counts ORDER BY n DESC, piece LIMIT 64)
      UNION
      SELECT piece, n FROM counts WHERE length(piece) = 1
    ), m AS MATERIALIZED (
      SELECT piece,
             CAST(FLOOR(LN(CAST(n AS DOUBLE) / (SELECT CAST(SUM(n) AS DOUBLE) FROM seed)) * 1000000 + 0.5) AS BIGINT) AS lp
      FROM seed
    ), wz AS MATERIALIZED (
      SELECT word, cnt FROM words WHERE cnt >= 3
    ), b1 AS MATERIALIZED (
      SELECT word, MAX(v) AS best FROM (
        SELECT w.word, m.lp AS v FROM wz w JOIN m ON m.piece = substring(w.word, 1, 1) WHERE length(w.word) >= 1
      ) GROUP BY word
    ), b2 AS MATERIALIZED (
      SELECT word, MAX(v) AS best FROM (
        SELECT w.word, b.best + m.lp AS v FROM wz w JOIN b1 b USING (word) JOIN m ON m.piece = substring(w.word, 2, 1) WHERE length(w.word) >= 2
        UNION ALL SELECT w.word, m.lp AS v FROM wz w JOIN m ON m.piece = substring(w.word, 1, 2) WHERE length(w.word) >= 2
      ) GROUP BY word
    ), b3 AS MATERIALIZED (
      SELECT word, MAX(v) AS best FROM (
        SELECT w.word, b.best + m.lp AS v FROM wz w JOIN b2 b USING (word) JOIN m ON m.piece = substring(w.word, 3, 1) WHERE length(w.word) >= 3
        UNION ALL SELECT w.word, b.best + m.lp AS v FROM wz w JOIN b1 b USING (word) JOIN m ON m.piece = substring(w.word, 2, 2) WHERE length(w.word) >= 3
        UNION ALL SELECT w.word, m.lp AS v FROM wz w JOIN m ON m.piece = substring(w.word, 1, 3) WHERE length(w.word) >= 3
      ) GROUP BY word
    ), b4 AS MATERIALIZED (
      SELECT word, MAX(v) AS best FROM (
        SELECT w.word, b.best + m.lp AS v FROM wz w JOIN b3 b USING (word) JOIN m ON m.piece = substring(w.word, 4, 1) WHERE length(w.word) >= 4
        UNION ALL SELECT w.word, b.best + m.lp AS v FROM wz w JOIN b2 b USING (word) JOIN m ON m.piece = substring(w.word, 3, 2) WHERE length(w.word) >= 4
        UNION ALL SELECT w.word, b.best + m.lp AS v FROM wz w JOIN b1 b USING (word) JOIN m ON m.piece = substring(w.word, 2, 3) WHERE length(w.word) >= 4
        UNION ALL SELECT w.word, m.lp AS v FROM wz w JOIN m ON m.piece = substring(w.word, 1, 4) WHERE length(w.word) >= 4
      ) GROUP BY word
    ), b5 AS MATERIALIZED (
      SELECT word, MAX(v) AS best FROM (
        SELECT w.word, b.best + m.lp AS v FROM wz w JOIN b4 b USING (word) JOIN m ON m.piece = substring(w.word, 5, 1) WHERE length(w.word) >= 5
        UNION ALL SELECT w.word, b.best + m.lp AS v FROM wz w JOIN b3 b USING (word) JOIN m ON m.piece = substring(w.word, 4, 2) WHERE length(w.word) >= 5
        UNION ALL SELECT w.word, b.best + m.lp AS v FROM wz w JOIN b2 b USING (word) JOIN m ON m.piece = substring(w.word, 3, 3) WHERE length(w.word) >= 5
        UNION ALL SELECT w.word, b.best + m.lp AS v FROM wz w JOIN b1 b USING (word) JOIN m ON m.piece = substring(w.word, 2, 4) WHERE length(w.word) >= 5
      ) GROUP BY word
    ), b6 AS MATERIALIZED (
      SELECT word, MAX(v) AS best FROM (
        SELECT w.word, b.best + m.lp AS v FROM wz w JOIN b5 b USING (word) JOIN m ON m.piece = substring(w.word, 6, 1) WHERE length(w.word) >= 6
        UNION ALL SELECT w.word, b.best + m.lp AS v FROM wz w JOIN b4 b USING (word) JOIN m ON m.piece = substring(w.word, 5, 2) WHERE length(w.word) >= 6
        UNION ALL SELECT w.word, b.best + m.lp AS v FROM wz w JOIN b3 b USING (word) JOIN m ON m.piece = substring(w.word, 4, 3) WHERE length(w.word) >= 6
        UNION ALL SELECT w.word, b.best + m.lp AS v FROM wz w JOIN b2 b USING (word) JOIN m ON m.piece = substring(w.word, 3, 4) WHERE length(w.word) >= 6
      ) GROUP BY word
    ), b7 AS MATERIALIZED (
      SELECT word, MAX(v) AS best FROM (
        SELECT w.word, b.best + m.lp AS v FROM wz w JOIN b6 b USING (word) JOIN m ON m.piece = substring(w.word, 7, 1) WHERE length(w.word) >= 7
        UNION ALL SELECT w.word, b.best + m.lp AS v FROM wz w JOIN b5 b USING (word) JOIN m ON m.piece = substring(w.word, 6, 2) WHERE length(w.word) >= 7
        UNION ALL SELECT w.word, b.best + m.lp AS v FROM wz w JOIN b4 b USING (word) JOIN m ON m.piece = substring(w.word, 5, 3) WHERE length(w.word) >= 7
        UNION ALL SELECT w.word, b.best + m.lp AS v FROM wz w JOIN b3 b USING (word) JOIN m ON m.piece = substring(w.word, 4, 4) WHERE length(w.word) >= 7
      ) GROUP BY word
    ), b8 AS MATERIALIZED (
      SELECT word, MAX(v) AS best FROM (
        SELECT w.word, b.best + m.lp AS v FROM wz w JOIN b7 b USING (word) JOIN m ON m.piece = substring(w.word, 8, 1) WHERE length(w.word) >= 8
        UNION ALL SELECT w.word, b.best + m.lp AS v FROM wz w JOIN b6 b USING (word) JOIN m ON m.piece = substring(w.word, 7, 2) WHERE length(w.word) >= 8
        UNION ALL SELECT w.word, b.best + m.lp AS v FROM wz w JOIN b5 b USING (word) JOIN m ON m.piece = substring(w.word, 6, 3) WHERE length(w.word) >= 8
        UNION ALL SELECT w.word, b.best + m.lp AS v FROM wz w JOIN b4 b USING (word) JOIN m ON m.piece = substring(w.word, 5, 4) WHERE length(w.word) >= 8
      ) GROUP BY word
    ), b9 AS MATERIALIZED (
      SELECT word, MAX(v) AS best FROM (
        SELECT w.word, b.best + m.lp AS v FROM wz w JOIN b8 b USING (word) JOIN m ON m.piece = substring(w.word, 9, 1) WHERE length(w.word) >= 9
        UNION ALL SELECT w.word, b.best + m.lp AS v FROM wz w JOIN b7 b USING (word) JOIN m ON m.piece = substring(w.word, 8, 2) WHERE length(w.word) >= 9
        UNION ALL SELECT w.word, b.best + m.lp AS v FROM wz w JOIN b6 b USING (word) JOIN m ON m.piece = substring(w.word, 7, 3) WHERE length(w.word) >= 9
        UNION ALL SELECT w.word, b.best + m.lp AS v FROM wz w JOIN b5 b USING (word) JOIN m ON m.piece = substring(w.word, 6, 4) WHERE length(w.word) >= 9
      ) GROUP BY word
    ), b10 AS MATERIALIZED (
      SELECT word, MAX(v) AS best FROM (
        SELECT w.word, b.best + m.lp AS v FROM wz w JOIN b9 b USING (word) JOIN m ON m.piece = substring(w.word, 10, 1) WHERE length(w.word) >= 10
        UNION ALL SELECT w.word, b.best + m.lp AS v FROM wz w JOIN b8 b USING (word) JOIN m ON m.piece = substring(w.word, 9, 2) WHERE length(w.word) >= 10
        UNION ALL SELECT w.word, b.best + m.lp AS v FROM wz w JOIN b7 b USING (word) JOIN m ON m.piece = substring(w.word, 8, 3) WHERE length(w.word) >= 10
        UNION ALL SELECT w.word, b.best + m.lp AS v FROM wz w JOIN b6 b USING (word) JOIN m ON m.piece = substring(w.word, 7, 4) WHERE length(w.word) >= 10
      ) GROUP BY word
    ), b11 AS MATERIALIZED (
      SELECT word, MAX(v) AS best FROM (
        SELECT w.word, b.best + m.lp AS v FROM wz w JOIN b10 b USING (word) JOIN m ON m.piece = substring(w.word, 11, 1) WHERE length(w.word) >= 11
        UNION ALL SELECT w.word, b.best + m.lp AS v FROM wz w JOIN b9 b USING (word) JOIN m ON m.piece = substring(w.word, 10, 2) WHERE length(w.word) >= 11
        UNION ALL SELECT w.word, b.best + m.lp AS v FROM wz w JOIN b8 b USING (word) JOIN m ON m.piece = substring(w.word, 9, 3) WHERE length(w.word) >= 11
        UNION ALL SELECT w.word, b.best + m.lp AS v FROM wz w JOIN b7 b USING (word) JOIN m ON m.piece = substring(w.word, 8, 4) WHERE length(w.word) >= 11
      ) GROUP BY word
    ), b12 AS MATERIALIZED (
      SELECT word, MAX(v) AS best FROM (
        SELECT w.word, b.best + m.lp AS v FROM wz w JOIN b11 b USING (word) JOIN m ON m.piece = substring(w.word, 12, 1) WHERE length(w.word) >= 12
        UNION ALL SELECT w.word, b.best + m.lp AS v FROM wz w JOIN b10 b USING (word) JOIN m ON m.piece = substring(w.word, 11, 2) WHERE length(w.word) >= 12
        UNION ALL SELECT w.word, b.best + m.lp AS v FROM wz w JOIN b9 b USING (word) JOIN m ON m.piece = substring(w.word, 10, 3) WHERE length(w.word) >= 12
        UNION ALL SELECT w.word, b.best + m.lp AS v FROM wz w JOIN b8 b USING (word) JOIN m ON m.piece = substring(w.word, 9, 4) WHERE length(w.word) >= 12
      ) GROUP BY word
    )
    SELECT w.word, w.cnt, b.best AS best_micros FROM wz w JOIN b1 b USING (word) WHERE length(w.word) = 1
    UNION ALL SELECT w.word, w.cnt, b.best AS best_micros FROM wz w JOIN b2 b USING (word) WHERE length(w.word) = 2
    UNION ALL SELECT w.word, w.cnt, b.best AS best_micros FROM wz w JOIN b3 b USING (word) WHERE length(w.word) = 3
    UNION ALL SELECT w.word, w.cnt, b.best AS best_micros FROM wz w JOIN b4 b USING (word) WHERE length(w.word) = 4
    UNION ALL SELECT w.word, w.cnt, b.best AS best_micros FROM wz w JOIN b5 b USING (word) WHERE length(w.word) = 5
    UNION ALL SELECT w.word, w.cnt, b.best AS best_micros FROM wz w JOIN b6 b USING (word) WHERE length(w.word) = 6
    UNION ALL SELECT w.word, w.cnt, b.best AS best_micros FROM wz w JOIN b7 b USING (word) WHERE length(w.word) = 7
    UNION ALL SELECT w.word, w.cnt, b.best AS best_micros FROM wz w JOIN b8 b USING (word) WHERE length(w.word) = 8
    UNION ALL SELECT w.word, w.cnt, b.best AS best_micros FROM wz w JOIN b9 b USING (word) WHERE length(w.word) = 9
    UNION ALL SELECT w.word, w.cnt, b.best AS best_micros FROM wz w JOIN b10 b USING (word) WHERE length(w.word) = 10
    UNION ALL SELECT w.word, w.cnt, b.best AS best_micros FROM wz w JOIN b11 b USING (word) WHERE length(w.word) = 11
    UNION ALL SELECT w.word, w.cnt, b.best AS best_micros FROM wz w JOIN b12 b USING (word) WHERE length(w.word) = 12
    """,
)
def q_unigram_viterbi(spark: SparkSession, sf_dir: str) -> DataFrame:
    from frames_spark.functions.unigram_lm import viterbi_best

    words = _unigram_words(spark, sf_dir)
    model = _unigram_model(words)
    return viterbi_best(words.filter(F.col("cnt") >= 3), model).select(
        "word", "cnt", F.col("best").alias("best_micros")
    )


@register(
    "q_unigram_em1",
    f"""
    WITH words AS (
      SELECT word, COUNT(*) AS cnt FROM (
        SELECT unnest({_TOKENS_SQL}) AS word FROM documents) t
      WHERE regexp_matches(word, '^[a-z]+$') AND length(word) <= 12
      GROUP BY word
    ), subs AS (
      SELECT unnest(flatten(list_transform(range(1, length(word) + 1),
               jp1 -> list_transform(range(1, least(4, length(word) - jp1 + 1) + 1),
                        L -> substring(word, jp1, L))))) AS piece, cnt
      FROM words
    ), counts AS (
      SELECT piece, CAST(SUM(cnt) AS BIGINT) AS n FROM subs GROUP BY piece
    ), seed AS (
      SELECT piece, n FROM (SELECT piece, n FROM counts ORDER BY n DESC, piece LIMIT 64)
      UNION
      SELECT piece, n FROM counts WHERE length(piece) = 1
    ), m AS MATERIALIZED (
      SELECT piece,
             CAST(FLOOR(LN(CAST(n AS DOUBLE) / (SELECT CAST(SUM(n) AS DOUBLE) FROM seed)) * 1000000 + 0.5) AS BIGINT) AS lp
      FROM seed
    ), wz AS MATERIALIZED (
      SELECT word, cnt FROM words WHERE cnt >= 3
    ), b1 AS MATERIALIZED (
      SELECT word, MAX(v) AS best FROM (
        SELECT w.word, m.lp AS v FROM wz w JOIN m ON m.piece = substring(w.word, 1, 1) WHERE length(w.word) >= 1
      ) GROUP BY word
    ), b2 AS MATERIALIZED (
      SELECT word, MAX(v) AS best FROM (
        SELECT w.word, b.best + m.lp AS v FROM wz w JOIN b1 b USING (word) JOIN m ON m.piece = substring(w.word, 2, 1) WHERE length(w.word) >= 2
        UNION ALL SELECT w.word, m.lp AS v FROM wz w JOIN m ON m.piece = substring(w.word, 1, 2) WHERE length(w.word) >= 2
      ) GROUP BY word
    ), b3 AS MATERIALIZED (
      SELECT word, MAX(v) AS best FROM (
        SELECT w.word, b.best + m.lp AS v FROM wz w JOIN b2 b USING (word) JOIN m ON m.piece = substring(w.word, 3, 1) WHERE length(w.word) >= 3
        UNION ALL SELECT w.word, b.best + m.lp AS v FROM wz w JOIN b1 b USING (word) JOIN m ON m.piece = substring(w.word, 2, 2) WHERE length(w.word) >= 3
        UNION ALL SELECT w.word, m.lp AS v FROM wz w JOIN m ON m.piece = substring(w.word, 1, 3) WHERE length(w.word) >= 3
      ) GROUP BY word
    ), b4 AS MATERIALIZED (
      SELECT word, MAX(v) AS best FROM (
        SELECT w.word, b.best + m.lp AS v FROM wz w JOIN b3 b USING (word) JOIN m ON m.piece = substring(w.word, 4, 1) WHERE length(w.word) >= 4
        UNION ALL SELECT w.word, b.best + m.lp AS v FROM wz w JOIN b2 b USING (word) JOIN m ON m.piece = substring(w.word, 3, 2) WHERE length(w.word) >= 4
        UNION ALL SELECT w.word, b.best + m.lp AS v FROM wz w JOIN b1 b USING (word) JOIN m ON m.piece = substring(w.word, 2, 3) WHERE length(w.word) >= 4
        UNION ALL SELECT w.word, m.lp AS v FROM wz w JOIN m ON m.piece = substring(w.word, 1, 4) WHERE length(w.word) >= 4
      ) GROUP BY word
    ), b5 AS MATERIALIZED (
      SELECT word, MAX(v) AS best FROM (
        SELECT w.word, b.best + m.lp AS v FROM wz w JOIN b4 b USING (word) JOIN m ON m.piece = substring(w.word, 5, 1) WHERE length(w.word) >= 5
        UNION ALL SELECT w.word, b.best + m.lp AS v FROM wz w JOIN b3 b USING (word) JOIN m ON m.piece = substring(w.word, 4, 2) WHERE length(w.word) >= 5
        UNION ALL SELECT w.word, b.best + m.lp AS v FROM wz w JOIN b2 b USING (word) JOIN m ON m.piece = substring(w.word, 3, 3) WHERE length(w.word) >= 5
        UNION ALL SELECT w.word, b.best + m.lp AS v FROM wz w JOIN b1 b USING (word) JOIN m ON m.piece = substring(w.word, 2, 4) WHERE length(w.word) >= 5
      ) GROUP BY word
    ), b6 AS MATERIALIZED (
      SELECT word, MAX(v) AS best FROM (
        SELECT w.word, b.best + m.lp AS v FROM wz w JOIN b5 b USING (word) JOIN m ON m.piece = substring(w.word, 6, 1) WHERE length(w.word) >= 6
        UNION ALL SELECT w.word, b.best + m.lp AS v FROM wz w JOIN b4 b USING (word) JOIN m ON m.piece = substring(w.word, 5, 2) WHERE length(w.word) >= 6
        UNION ALL SELECT w.word, b.best + m.lp AS v FROM wz w JOIN b3 b USING (word) JOIN m ON m.piece = substring(w.word, 4, 3) WHERE length(w.word) >= 6
        UNION ALL SELECT w.word, b.best + m.lp AS v FROM wz w JOIN b2 b USING (word) JOIN m ON m.piece = substring(w.word, 3, 4) WHERE length(w.word) >= 6
      ) GROUP BY word
    ), b7 AS MATERIALIZED (
      SELECT word, MAX(v) AS best FROM (
        SELECT w.word, b.best + m.lp AS v FROM wz w JOIN b6 b USING (word) JOIN m ON m.piece = substring(w.word, 7, 1) WHERE length(w.word) >= 7
        UNION ALL SELECT w.word, b.best + m.lp AS v FROM wz w JOIN b5 b USING (word) JOIN m ON m.piece = substring(w.word, 6, 2) WHERE length(w.word) >= 7
        UNION ALL SELECT w.word, b.best + m.lp AS v FROM wz w JOIN b4 b USING (word) JOIN m ON m.piece = substring(w.word, 5, 3) WHERE length(w.word) >= 7
        UNION ALL SELECT w.word, b.best + m.lp AS v FROM wz w JOIN b3 b USING (word) JOIN m ON m.piece = substring(w.word, 4, 4) WHERE length(w.word) >= 7
      ) GROUP BY word
    ), b8 AS MATERIALIZED (
      SELECT word, MAX(v) AS best FROM (
        SELECT w.word, b.best + m.lp AS v FROM wz w JOIN b7 b USING (word) JOIN m ON m.piece = substring(w.word, 8, 1) WHERE length(w.word) >= 8
        UNION ALL SELECT w.word, b.best + m.lp AS v FROM wz w JOIN b6 b USING (word) JOIN m ON m.piece = substring(w.word, 7, 2) WHERE length(w.word) >= 8
        UNION ALL SELECT w.word, b.best + m.lp AS v FROM wz w JOIN b5 b USING (word) JOIN m ON m.piece = substring(w.word, 6, 3) WHERE length(w.word) >= 8
        UNION ALL SELECT w.word, b.best + m.lp AS v FROM wz w JOIN b4 b USING (word) JOIN m ON m.piece = substring(w.word, 5, 4) WHERE length(w.word) >= 8
      ) GROUP BY word
    ), b9 AS MATERIALIZED (
      SELECT word, MAX(v) AS best FROM (
        SELECT w.word, b.best + m.lp AS v FROM wz w JOIN b8 b USING (word) JOIN m ON m.piece = substring(w.word, 9, 1) WHERE length(w.word) >= 9
        UNION ALL SELECT w.word, b.best + m.lp AS v FROM wz w JOIN b7 b USING (word) JOIN m ON m.piece = substring(w.word, 8, 2) WHERE length(w.word) >= 9
        UNION ALL SELECT w.word, b.best + m.lp AS v FROM wz w JOIN b6 b USING (word) JOIN m ON m.piece = substring(w.word, 7, 3) WHERE length(w.word) >= 9
        UNION ALL SELECT w.word, b.best + m.lp AS v FROM wz w JOIN b5 b USING (word) JOIN m ON m.piece = substring(w.word, 6, 4) WHERE length(w.word) >= 9
      ) GROUP BY word
    ), b10 AS MATERIALIZED (
      SELECT word, MAX(v) AS best FROM (
        SELECT w.word, b.best + m.lp AS v FROM wz w JOIN b9 b USING (word) JOIN m ON m.piece = substring(w.word, 10, 1) WHERE length(w.word) >= 10
        UNION ALL SELECT w.word, b.best + m.lp AS v FROM wz w JOIN b8 b USING (word) JOIN m ON m.piece = substring(w.word, 9, 2) WHERE length(w.word) >= 10
        UNION ALL SELECT w.word, b.best + m.lp AS v FROM wz w JOIN b7 b USING (word) JOIN m ON m.piece = substring(w.word, 8, 3) WHERE length(w.word) >= 10
        UNION ALL SELECT w.word, b.best + m.lp AS v FROM wz w JOIN b6 b USING (word) JOIN m ON m.piece = substring(w.word, 7, 4) WHERE length(w.word) >= 10
      ) GROUP BY word
    ), b11 AS MATERIALIZED (
      SELECT word, MAX(v) AS best FROM (
        SELECT w.word, b.best + m.lp AS v FROM wz w JOIN b10 b USING (word) JOIN m ON m.piece = substring(w.word, 11, 1) WHERE length(w.word) >= 11
        UNION ALL SELECT w.word, b.best + m.lp AS v FROM wz w JOIN b9 b USING (word) JOIN m ON m.piece = substring(w.word, 10, 2) WHERE length(w.word) >= 11
        UNION ALL SELECT w.word, b.best + m.lp AS v FROM wz w JOIN b8 b USING (word) JOIN m ON m.piece = substring(w.word, 9, 3) WHERE length(w.word) >= 11
        UNION ALL SELECT w.word, b.best + m.lp AS v FROM wz w JOIN b7 b USING (word) JOIN m ON m.piece = substring(w.word, 8, 4) WHERE length(w.word) >= 11
      ) GROUP BY word
    ), b12 AS MATERIALIZED (
      SELECT word, MAX(v) AS best FROM (
        SELECT w.word, b.best + m.lp AS v FROM wz w JOIN b11 b USING (word) JOIN m ON m.piece = substring(w.word, 12, 1) WHERE length(w.word) >= 12
        UNION ALL SELECT w.word, b.best + m.lp AS v FROM wz w JOIN b10 b USING (word) JOIN m ON m.piece = substring(w.word, 11, 2) WHERE length(w.word) >= 12
        UNION ALL SELECT w.word, b.best + m.lp AS v FROM wz w JOIN b9 b USING (word) JOIN m ON m.piece = substring(w.word, 10, 3) WHERE length(w.word) >= 12
        UNION ALL SELECT w.word, b.best + m.lp AS v FROM wz w JOIN b8 b USING (word) JOIN m ON m.piece = substring(w.word, 9, 4) WHERE length(w.word) >= 12
      ) GROUP BY word
    ), ball AS MATERIALIZED (
      SELECT word, 0 AS i, CAST(0 AS BIGINT) AS best FROM wz
      UNION ALL SELECT word, 1 AS i, best FROM b1
      UNION ALL SELECT word, 2 AS i, best FROM b2
      UNION ALL SELECT word, 3 AS i, best FROM b3
      UNION ALL SELECT word, 4 AS i, best FROM b4
      UNION ALL SELECT word, 5 AS i, best FROM b5
      UNION ALL SELECT word, 6 AS i, best FROM b6
      UNION ALL SELECT word, 7 AS i, best FROM b7
      UNION ALL SELECT word, 8 AS i, best FROM b8
      UNION ALL SELECT word, 9 AS i, best FROM b9
      UNION ALL SELECT word, 10 AS i, best FROM b10
      UNION ALL SELECT word, 11 AS i, best FROM b11
      UNION ALL SELECT word, 12 AS i, best FROM b12
    ), t0 AS (SELECT word, cnt, length(word) AS pos FROM wz), t1 AS MATERIALIZED (
      SELECT t.word, t.cnt, MIN(bj.i) AS pos,
             substring(t.word, MIN(bj.i) + 1, t.pos - MIN(bj.i)) AS piece
      FROM t0 t
      JOIN ball bp ON bp.word = t.word AND bp.i = t.pos
      JOIN ball bj ON bj.word = t.word AND bj.i >= t.pos - 4 AND bj.i < t.pos
      JOIN m ON m.piece = substring(t.word, bj.i + 1, t.pos - bj.i)
            AND bj.best + m.lp = bp.best
      WHERE t.pos > 0
      GROUP BY t.word, t.cnt, t.pos
    ), t2 AS MATERIALIZED (
      SELECT t.word, t.cnt, MIN(bj.i) AS pos,
             substring(t.word, MIN(bj.i) + 1, t.pos - MIN(bj.i)) AS piece
      FROM t1 t
      JOIN ball bp ON bp.word = t.word AND bp.i = t.pos
      JOIN ball bj ON bj.word = t.word AND bj.i >= t.pos - 4 AND bj.i < t.pos
      JOIN m ON m.piece = substring(t.word, bj.i + 1, t.pos - bj.i)
            AND bj.best + m.lp = bp.best
      WHERE t.pos > 0
      GROUP BY t.word, t.cnt, t.pos
    ), t3 AS MATERIALIZED (
      SELECT t.word, t.cnt, MIN(bj.i) AS pos,
             substring(t.word, MIN(bj.i) + 1, t.pos - MIN(bj.i)) AS piece
      FROM t2 t
      JOIN ball bp ON bp.word = t.word AND bp.i = t.pos
      JOIN ball bj ON bj.word = t.word AND bj.i >= t.pos - 4 AND bj.i < t.pos
      JOIN m ON m.piece = substring(t.word, bj.i + 1, t.pos - bj.i)
            AND bj.best + m.lp = bp.best
      WHERE t.pos > 0
      GROUP BY t.word, t.cnt, t.pos
    ), t4 AS MATERIALIZED (
      SELECT t.word, t.cnt, MIN(bj.i) AS pos,
             substring(t.word, MIN(bj.i) + 1, t.pos - MIN(bj.i)) AS piece
      FROM t3 t
      JOIN ball bp ON bp.word = t.word AND bp.i = t.pos
      JOIN ball bj ON bj.word = t.word AND bj.i >= t.pos - 4 AND bj.i < t.pos
      JOIN m ON m.piece = substring(t.word, bj.i + 1, t.pos - bj.i)
            AND bj.best + m.lp = bp.best
      WHERE t.pos > 0
      GROUP BY t.word, t.cnt, t.pos
    ), t5 AS MATERIALIZED (
      SELECT t.word, t.cnt, MIN(bj.i) AS pos,
             substring(t.word, MIN(bj.i) + 1, t.pos - MIN(bj.i)) AS piece
      FROM t4 t
      JOIN ball bp ON bp.word = t.word AND bp.i = t.pos
      JOIN ball bj ON bj.word = t.word AND bj.i >= t.pos - 4 AND bj.i < t.pos
      JOIN m ON m.piece = substring(t.word, bj.i + 1, t.pos - bj.i)
            AND bj.best + m.lp = bp.best
      WHERE t.pos > 0
      GROUP BY t.word, t.cnt, t.pos
    ), t6 AS MATERIALIZED (
      SELECT t.word, t.cnt, MIN(bj.i) AS pos,
             substring(t.word, MIN(bj.i) + 1, t.pos - MIN(bj.i)) AS piece
      FROM t5 t
      JOIN ball bp ON bp.word = t.word AND bp.i = t.pos
      JOIN ball bj ON bj.word = t.word AND bj.i >= t.pos - 4 AND bj.i < t.pos
      JOIN m ON m.piece = substring(t.word, bj.i + 1, t.pos - bj.i)
            AND bj.best + m.lp = bp.best
      WHERE t.pos > 0
      GROUP BY t.word, t.cnt, t.pos
    ), t7 AS MATERIALIZED (
      SELECT t.word, t.cnt, MIN(bj.i) AS pos,
             substring(t.word, MIN(bj.i) + 1, t.pos - MIN(bj.i)) AS piece
      FROM t6 t
      JOIN ball bp ON bp.word = t.word AND bp.i = t.pos
      JOIN ball bj ON bj.word = t.word AND bj.i >= t.pos - 4 AND bj.i < t.pos
      JOIN m ON m.piece = substring(t.word, bj.i + 1, t.pos - bj.i)
            AND bj.best + m.lp = bp.best
      WHERE t.pos > 0
      GROUP BY t.word, t.cnt, t.pos
    ), t8 AS MATERIALIZED (
      SELECT t.word, t.cnt, MIN(bj.i) AS pos,
             substring(t.word, MIN(bj.i) + 1, t.pos - MIN(bj.i)) AS piece
      FROM t7 t
      JOIN ball bp ON bp.word = t.word AND bp.i = t.pos
      JOIN ball bj ON bj.word = t.word AND bj.i >= t.pos - 4 AND bj.i < t.pos
      JOIN m ON m.piece = substring(t.word, bj.i + 1, t.pos - bj.i)
            AND bj.best + m.lp = bp.best
      WHERE t.pos > 0
      GROUP BY t.word, t.cnt, t.pos
    ), t9 AS MATERIALIZED (
      SELECT t.word, t.cnt, MIN(bj.i) AS pos,
             substring(t.word, MIN(bj.i) + 1, t.pos - MIN(bj.i)) AS piece
      FROM t8 t
      JOIN ball bp ON bp.word = t.word AND bp.i = t.pos
      JOIN ball bj ON bj.word = t.word AND bj.i >= t.pos - 4 AND bj.i < t.pos
      JOIN m ON m.piece = substring(t.word, bj.i + 1, t.pos - bj.i)
            AND bj.best + m.lp = bp.best
      WHERE t.pos > 0
      GROUP BY t.word, t.cnt, t.pos
    ), t10 AS MATERIALIZED (
      SELECT t.word, t.cnt, MIN(bj.i) AS pos,
             substring(t.word, MIN(bj.i) + 1, t.pos - MIN(bj.i)) AS piece
      FROM t9 t
      JOIN ball bp ON bp.word = t.word AND bp.i = t.pos
      JOIN ball bj ON bj.word = t.word AND bj.i >= t.pos - 4 AND bj.i < t.pos
      JOIN m ON m.piece = substring(t.word, bj.i + 1, t.pos - bj.i)
            AND bj.best + m.lp = bp.best
      WHERE t.pos > 0
      GROUP BY t.word, t.cnt, t.pos
    ), t11 AS MATERIALIZED (
      SELECT t.word, t.cnt, MIN(bj.i) AS pos,
             substring(t.word, MIN(bj.i) + 1, t.pos - MIN(bj.i)) AS piece
      FROM t10 t
      JOIN ball bp ON bp.word = t.word AND bp.i = t.pos
      JOIN ball bj ON bj.word = t.word AND bj.i >= t.pos - 4 AND bj.i < t.pos
      JOIN m ON m.piece = substring(t.word, bj.i + 1, t.pos - bj.i)
            AND bj.best + m.lp = bp.best
      WHERE t.pos > 0
      GROUP BY t.word, t.cnt, t.pos
    ), t12 AS MATERIALIZED (
      SELECT t.word, t.cnt, MIN(bj.i) AS pos,
             substring(t.word, MIN(bj.i) + 1, t.pos - MIN(bj.i)) AS piece
      FROM t11 t
      JOIN ball bp ON bp.word = t.word AND bp.i = t.pos
      JOIN ball bj ON bj.word = t.word AND bj.i >= t.pos - 4 AND bj.i < t.pos
      JOIN m ON m.piece = substring(t.word, bj.i + 1, t.pos - bj.i)
            AND bj.best + m.lp = bp.best
      WHERE t.pos > 0
      GROUP BY t.word, t.cnt, t.pos
    )
    SELECT piece, CAST(SUM(cnt) AS BIGINT) AS n FROM (
      SELECT piece, cnt FROM t1
      UNION ALL SELECT piece, cnt FROM t2
      UNION ALL SELECT piece, cnt FROM t3
      UNION ALL SELECT piece, cnt FROM t4
      UNION ALL SELECT piece, cnt FROM t5
      UNION ALL SELECT piece, cnt FROM t6
      UNION ALL SELECT piece, cnt FROM t7
      UNION ALL SELECT piece, cnt FROM t8
      UNION ALL SELECT piece, cnt FROM t9
      UNION ALL SELECT piece, cnt FROM t10
      UNION ALL SELECT piece, cnt FROM t11
      UNION ALL SELECT piece, cnt FROM t12
    ) GROUP BY piece
    """,
)
def q_unigram_em1(spark: SparkSession, sf_dir: str) -> DataFrame:
    from frames_spark.functions.unigram_lm import em_counts

    words = _unigram_words(spark, sf_dir)
    model = _unigram_model(words)
    return em_counts(words.filter(F.col("cnt") >= 3), model)


# ---------------------------------------------------------------------------
# Semantic-tier pre-flight (r8, VERDICT #5): the cluster-size
# histogram BEFORE SemDeDup's pair expansion — the q_lsh_bucket_stats
# pattern for the embedding codebook. A top row with astronomical
# pairs_per_cluster means k is too small (or the corpus degenerate)
# and the max_cluster guard would be dropping real clusters. Oracle
# replays the deterministic codebook assignment only (no pair CTEs).
# ---------------------------------------------------------------------------


@register(
    "q_semdedup_cells",
    f"""
    WITH fixed AS ({{fixed}}),
    cents AS (SELECT * FROM (VALUES {{cents}}) t(c, i, s)),
    cdots AS (
      SELECT f.vec_id, c.c, SUM(f.e * c.s) AS dot
      FROM fixed f JOIN cents c USING (i) GROUP BY 1, 2
    ),
    best AS (
      SELECT vec_id, c AS cluster FROM (
        SELECT vec_id, c,
               ROW_NUMBER() OVER (PARTITION BY vec_id
                                  ORDER BY dot DESC, c ASC) AS rn
        FROM cdots
      ) WHERE rn = 1
    ),
    csize AS (SELECT cluster, COUNT(*) AS cluster_size FROM best GROUP BY cluster)
    SELECT CAST(cluster_size AS BIGINT) AS cluster_size,
           CAST(COUNT(*) AS BIGINT) AS n_clusters,
           CAST(cluster_size * (cluster_size - 1) / 2 AS BIGINT) AS pairs_per_cluster
    FROM csize GROUP BY cluster_size
    """.format(
        fixed=_FIXED_SQL.format(corpus=_SEM_CORPUS_SQL),
        cents=_sem_cents_values(),
    ),
)
def q_semdedup_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sem_ops.semdedup_cluster_stats(
        _sem_corpus(spark, sf_dir), "vec_id", "embedding", n_centroids=_SEM_K
    )
