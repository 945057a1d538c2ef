"""q03_text_quality — query registry, module 3 of 9: n-gram language
models, boilerplate and cross-source duplicate rates, as-of joins,
distinct-user sketches, MinHash estimator accuracy, the time-series
reports (survival, autocorrelation, RFM, moving averages), Gopher
quality, heavy hitters and BM25.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from frames_spark.dedup import embedding as embed_ops
from frames_spark.dedup import jaccard as jac_ops
from frames_spark.dedup import minhash as mh_ops
from frames_spark.functions import text as text_fns
from frames_spark.functions.hashing import hash60_sql
from frames_spark.operators import core as core_ops
from frames_spark.operators.asof import asof_join
from frames_spark.operators.ranking import grouped_rank, ntile_from_rank
from frames_spark.queries.q01_core_ops import (
    _DUP_OFFSET,
    _FIXED_SQL,
    _MH_BANDS,
    _MH_CTES,
    _MH_K,
    _MH_PAIRS_SELECT,
    _MH_ROWS,
    _MICROS_SQL,
    _MINHASH_PAIRS_SQL,
    _NORM_SQL,
    _TOKENS_SQL,
    _lsh_planes_values,
    _micros,
    _tokens_col,
    _with_near_copies,
    register,
)
from frames_spark.similarity import ann as ann_ops
from frames_spark.sources.tables import load_table


# Corpus-unigram-LM quality score: mean token log-probability per doc
# under the corpus's own unigram distribution (fluency-independent
# outlier signal — docs of rare tokens score low). Two aggregates:
# global token counts (vocabulary-sized), then an equi-join back on
# token — the vocab side is orders of magnitude smaller than the
# corpus and AQE broadcasts it when it fits; per-token ln() is
# micros-quantized BEFORE the per-doc sum (same cross-engine-libm
# guard as q_entropy).
@register(
    "q_unigram_logprob",
    f"""
    WITH tok AS (
      SELECT doc_id, unnest({_TOKENS_SQL}) AS token FROM documents
    ), tokf AS (
      SELECT doc_id, token FROM tok WHERE token <> ''
    ), vocab AS (
      SELECT token, COUNT(*) AS n FROM tokf GROUP BY token
    ), tot AS (
      SELECT CAST(SUM(n) AS BIGINT) AS total FROM vocab
    )
    SELECT doc_id,
           COUNT(*) AS n_tokens,
           CAST(SUM(CAST(FLOOR(ln(CAST(n AS DOUBLE) / CAST(total AS DOUBLE))
                               * 1000000 + 0.5) AS BIGINT)) AS BIGINT)
             AS logprob_micros,
           CAST(SUM(CAST(FLOOR(ln(CAST(n AS DOUBLE) / CAST(total AS DOUBLE))
                               * 1000000 + 0.5) AS BIGINT)) AS DOUBLE)
             / 1000000 / COUNT(*) AS mean_logprob
    FROM tokf JOIN vocab USING (token) CROSS JOIN tot
    GROUP BY doc_id
    """,
)
def q_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", F.explode(_tokens_col()).alias("token")
    ).filter(F.col("token") != "")
    vocab = tok.groupBy("token").agg(F.count(F.lit(1)).alias("n"))
    tot = vocab.agg(F.sum("n").cast("long").alias("total"))
    lp_micros = F.floor(
        F.log(F.col("n").cast("double") / F.col("total").cast("double")) * 1000000
        + 0.5
    ).cast("long")
    return (
        tok.join(vocab, "token")
        .crossJoin(F.broadcast(tot))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum(lp_micros).alias("logprob_micros"),
            (
                F.sum(lp_micros).cast("double") / 1000000 / F.count(F.lit(1))
            ).alias("mean_logprob"),
        )
    )


# Boilerplate span detection (CCNet-style, on token 8-grams): spans
# recurring across >= min_docs distinct docs are boilerplate; report
# each doc's boilerplate fraction. Inverted index on the span hash —
# explode distinct spans per doc, two-phase count, join back. The
# corpus shuffles its span lists once; no doc-x-doc comparison.
@register(
    "q_boilerplate",
    f"""
    WITH toks AS (
      SELECT doc_id, list_filter({_TOKENS_SQL}, t -> t <> '') AS ts
      FROM documents
    ), spans AS (
      SELECT doc_id, unnest(list_distinct(list_transform(
               range(1, GREATEST(len(ts) - 7, 0) + 1),
               i -> array_to_string(list_slice(ts, i, i + 7), ' ')))) AS span
      FROM toks
    ), common AS (
      SELECT span FROM spans GROUP BY span
      HAVING COUNT(DISTINCT doc_id) >= 3
    )
    SELECT doc_id,
           COUNT(*) AS n_spans,
           CAST(SUM(CASE WHEN common.span IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_boiler,
           CAST(SUM(CASE WHEN common.span IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
             / COUNT(*) AS boiler_frac
    FROM spans LEFT JOIN common USING (span)
    GROUP BY doc_id
    """,
)
def q_boilerplate(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    # The token array is BOUND as a real column before the span
    # transform (r15): interpreted HOF eval re-runs any non-lambda
    # subexpression referenced from a lambda body PER INVOCATION, so
    # `slice(<tokenize expr>, i, 8)` re-tokenized the document once
    # per span index — O(d²) work per row. As a projected attribute
    # the lambda sees an O(1) bound reference; measured 2.58 -> 0.87 s
    # on the span-build leg at sf0.1 (plan unchanged except the added
    # Project; identical spans).
    docs = docs.select(
        "doc_id", F.filter(_tokens_col(), lambda t: t != "").alias("_ts")
    )
    ts = F.col("_ts")
    # sequence() is INCLUSIVE of its stop (and descends when stop <
    # start) where DuckDB's range() is exclusive — guard both the
    # off-by-one and the <8-token case explicitly
    idx = F.when(
        F.size(ts) >= 8, F.sequence(F.lit(1), F.size(ts) - 7)
    ).otherwise(F.array().cast("array<int>"))
    spans_arr = F.array_distinct(
        F.transform(idx, lambda i: F.concat_ws(" ", F.slice(ts, i, 8)))
    )
    # Spans are DISTINCT per doc, so count(*) per span == docs
    # containing the span. A groupBy combines MAP-SIDE, so a hot span
    # (a crawl-wide footer sitting in 1e8 docs) costs O(distinct spans
    # per mapper), where a `count() over (partition by span)` window
    # would funnel every replica of the hot span onto one reducer.
    # The spans relation is persisted so the tokenize+8-gram subtree
    # still evaluates ONCE across both consumers (the unstaged join
    # formulation re-ran the regex scan per branch, ~2x slower at
    # sf0.1); the survivor set is small by construction (only spans
    # shared by >=3 docs) and joins back un-hinted so AQE broadcasts
    # it when it fits and degrades to a shuffle join when it doesn't.
    spans = docs.select("doc_id", F.explode(spans_arr).alias("span")).persist()
    common = (
        spans.groupBy("span")
        .agg(F.count(F.lit(1)).alias("_nd"))
        .filter(F.col("_nd") >= 3)
        .select("span", F.lit(1).alias("_hit"))
    )
    return (
        spans.join(common, "span", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_spans"),
            F.coalesce(F.sum("_hit"), F.lit(0)).cast("long").alias("n_boiler"),
            (
                F.coalesce(F.sum("_hit"), F.lit(0)).cast("double")
                / F.count(F.lit(1))
            ).alias("boiler_frac"),
        )
    )


# Source duplication matrix: how many EXACT-duplicate pairs each
# (source, source) combination contributes — the dedup-policy view
# of which sources re-host content (diagonal = within-source dups).
# Same one-groupBy + in-bucket i<j expansion as the minhash path —
# the corpus never self-joins; pair sources ordered canonically.
@register(
    "q_cross_source_dups",
    f"""
    WITH corpus AS (
      SELECT doc_id, source, text FROM documents
      UNION ALL
      SELECT doc_id + {_DUP_OFFSET} AS doc_id,
             source || '_mirror' AS source, text
      FROM documents WHERE doc_id % 3 = 0
    ),
    h AS (
      SELECT doc_id, source, md5(text) AS hh FROM corpus
    )
    SELECT LEAST(a.source, b.source) AS source_a,
           GREATEST(a.source, b.source) AS source_b,
           COUNT(*) AS n_pairs
    FROM h a JOIN h b ON a.hh = b.hh AND a.doc_id < b.doc_id
    GROUP BY 1, 2
    """,
)
def q_cross_source_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    # deterministic mirror of a third of the corpus under a renamed
    # source, so the cross-source diagonal is non-trivial at any SF
    mirrored = docs.filter(F.col("doc_id") % 3 == 0).select(
        (F.col("doc_id") + _DUP_OFFSET).alias("doc_id"),
        F.concat(F.col("source"), F.lit("_mirror")).alias("source"),
        "text",
    )
    corpus = docs.select("doc_id", "source", "text").unionAll(mirrored)
    h = corpus.select(
        F.struct("doc_id", "source").alias("v"), F.md5("text").alias("hh")
    )
    buckets = (
        h.groupBy("hh")
        .agg(F.sort_array(F.collect_list("v")).alias("vs"))
        .filter(F.size("vs") >= 2)
    )
    pairs = F.expr(
        "flatten(transform(vs, (x, i) ->"
        " transform(slice(vs, i + 2, size(vs)),"
        " y -> struct(x AS a, y AS b))))"
    )
    return (
        buckets.select(F.explode(pairs).alias("p"))
        .select(
            F.least(F.col("p.a.source"), F.col("p.b.source")).alias("source_a"),
            F.greatest(F.col("p.a.source"), F.col("p.b.source")).alias("source_b"),
        )
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
    )


# ---------------------------------------------------------------------------
# merge_asof direction parity (operators/asof.py): forward and
# nearest variants of q_asof_join on the same click/purchase shape.
# Both stay the one-shuffle union-window formulation — nearest runs
# BOTH direction frames over the same union (no second shuffle, no
# join of two asof outputs). Oracles are correlated subqueries with
# the exact pandas tie rules (backward ties -> highest id, forward
# ties -> lowest id, nearest equal-distance -> backward).
# ---------------------------------------------------------------------------


@register(
    "q_asof_forward",
    """
    WITH l AS (
      SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts
      FROM events WHERE event_type = 'click'
    ), r AS (
      SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, value
      FROM events WHERE event_type = 'purchase'
    )
    SELECT l.event_id, l.user_id,
           (SELECT r.value FROM r
            WHERE r.user_id = l.user_id AND r.ts >= l.ts
            ORDER BY r.ts ASC, r.event_id ASC LIMIT 1) AS next_purchase_value
    FROM l
    """,
)
def q_asof_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    left = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("l_event_id"), "user_id", "ts"
    )
    right = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("r_event_id"), "user_id", "ts",
        F.col("value").alias("next_purchase_value"),
    )
    out = asof_join(
        left, right, key="user_id", ts="ts",
        value_cols=["next_purchase_value"], right_tiebreak="r_event_id",
        direction="forward",
    )
    return out.select(
        F.col("l_event_id").alias("event_id"), "user_id", "next_purchase_value"
    )


@register(
    "q_asof_nearest",
    """
    WITH l AS (
      SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts
      FROM events WHERE event_type = 'click'
    ), r AS (
      SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, value
      FROM events WHERE event_type = 'purchase'
    )
    SELECT l.event_id, l.user_id,
           (SELECT r.value FROM r
            WHERE r.user_id = l.user_id
            ORDER BY ABS(epoch_us(r.ts) - epoch_us(l.ts)) ASC,
                     CASE WHEN r.ts <= l.ts THEN 0 ELSE 1 END ASC,
                     CASE WHEN r.ts <= l.ts THEN -r.event_id
                          ELSE r.event_id END ASC
            LIMIT 1) AS nearest_purchase_value
    FROM l
    """,
)
def q_asof_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    left = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("l_event_id"), "user_id", "ts"
    )
    right = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("r_event_id"), "user_id", "ts",
        F.col("value").alias("nearest_purchase_value"),
    )
    out = asof_join(
        left, right, key="user_id", ts="ts",
        value_cols=["nearest_purchase_value"], right_tiebreak="r_event_id",
        direction="nearest",
    )
    return out.select(
        F.col("l_event_id").alias("event_id"), "user_id", "nearest_purchase_value"
    )


# Mergeable HLL distinct sketches: daily user register relations +
# per-day estimates, the store-parts/merge-at-read pattern — now on
# the ORACLE-EXACT hll_cells_by machinery (operators/sketches.py) at
# p=12 (4096 registers, ~1.6% rse) so the whole pipeline is value-
# gated in DuckDB cell for cell, estimate for estimate (r8 verdict
# ask #1: no more rows-only strays on sketch code the repo already
# trusts). Native datasketches parts (sketch_parts/merge_sketches)
# remain the raw-speed tier, pinned by tests/test_sketches.py.
_SKQ_P = 12
_SKQ_M = 1 << _SKQ_P
from frames_spark.operators.sketches import hll_alpha as _hll_alpha  # noqa: E402

_SKQ_AMM = _hll_alpha(_SKQ_M) * _SKQ_M * _SKQ_M
# Shared p=12 SQL fragments: hash -> (bucket, rem) -> rho, the same
# bin()-length idiom as the p=6 q_hll_cells oracle.
_SKQ_RHO_SQL = f"""CASE WHEN rem = 0 THEN {60 - _SKQ_P + 1}
                      ELSE {60 - _SKQ_P} - length(bin(rem)) + 1 END"""
_SKQ_EST_SQL = f"""CASE WHEN raw <= {2.5 * _SKQ_M} AND empty > 0
                THEN CAST({_SKQ_M} AS DOUBLE) * ln(CAST({_SKQ_M} AS DOUBLE) / empty)
                ELSE raw END"""


@register(
    "q_sketch_users",
    f"""
    WITH h AS (
      SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
             {hash60_sql("CAST(user_id AS VARCHAR)", "hll")} AS h
      FROM events
    ), keyed AS (
      SELECT day, h % {_SKQ_M} AS bucket, (h - (h % {_SKQ_M})) // {_SKQ_M} AS rem
      FROM h
    ), cells AS (
      SELECT day, bucket, MAX({_SKQ_RHO_SQL}) AS max_rho
      FROM keyed GROUP BY day, bucket
    ), agg AS (
      SELECT day, SUM(power(2.0, -max_rho)) AS z, COUNT(*) AS nb
      FROM cells GROUP BY day
    ), r AS (
      SELECT day, {_SKQ_AMM} / (z + CAST({_SKQ_M} - nb AS DOUBLE)) AS raw,
             CAST({_SKQ_M} - nb AS DOUBLE) AS empty, nb
      FROM agg
    ), ex AS (
      SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
             COUNT(DISTINCT user_id) AS exact_distinct
      FROM events GROUP BY 1
    )
    SELECT r.day,
           CAST(FLOOR({_SKQ_EST_SQL} * 1000000 + 0.5) AS BIGINT) AS est_micros,
           CAST(FLOOR(raw * 1000000 + 0.5) AS BIGINT) AS raw_micros,
           CAST({_SKQ_M} - nb AS BIGINT) AS n_empty,
           ex.exact_distinct
    FROM r JOIN ex USING (day)
    ORDER BY day
    """,
)
def q_sketch_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    from frames_spark.operators.sketches import hll_cells_by, hll_estimate_by

    ev = load_table(spark, sf_dir, "events").withColumn(
        "day", F.date_trunc("day", F.col("ts"))
    )
    est = hll_estimate_by(
        hll_cells_by(ev, ["day"], "user_id", p=_SKQ_P), ["day"], p=_SKQ_P
    )
    exact = ev.groupBy("day").agg(
        F.countDistinct("user_id").alias("exact_distinct")
    )
    return est.join(exact, "day").orderBy("day")


# ---------------------------------------------------------------------------
# The remaining TPC-H shapes (Q6/Q9/Q11 adapted — no partsupp):
# completing the Q1-Q22 sweep. Q6 is the canonical pushdown probe;
# Q9 a profit decomposition over the full star; Q11 a share-of-total
# gate against a broadcast scalar.
# ---------------------------------------------------------------------------


# TPC-H Q6 shape: one-scan conditional revenue — every predicate
# reaches the parquet scan (no join at all); the classic pushdown
# benchmark probe.
@register(
    "q_forecast_revenue",
    f"""
    SELECT CAST(SUM({_MICROS_SQL.format(expr='l_extendedprice * l_discount')}) AS BIGINT)
             AS revenue_micros,
           COUNT(*) AS n_items
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
)
def q_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
            & F.col("l_discount").between(0.05, 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.sum(_micros(F.col("l_extendedprice") * F.col("l_discount")))
            .alias("revenue_micros"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


# TPC-H Q9 shape: profit by supplier nation and year. Cost side
# adapted to p_retailprice (no partsupp supplycost); the part filter
# prunes the broadcast dim BEFORE the fact join, profit stays in
# exact integer micros end-to-end.
@register(
    "q_profit_by_nation",
    f"""
    SELECT n_name AS nation, EXTRACT(year FROM o_orderdate) AS o_year,
           CAST(SUM({_MICROS_SQL.format(
               expr='(l_extendedprice * (1 - l_discount) - p_retailprice * l_quantity * 0.1)'
           )}) AS BIGINT) AS profit_micros
    FROM lineitem
    JOIN part     ON p_partkey = l_partkey AND p_name LIKE '%widget%'
    JOIN supplier ON s_suppkey = l_suppkey
    JOIN nation   ON n_nationkey = s_nationkey
    JOIN orders   ON o_orderkey = l_orderkey
    GROUP BY n_name, EXTRACT(year FROM o_orderdate)
    """,
)
def q_profit_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").filter(F.col("p_name").like("%widget%"))
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    orders = load_table(spark, sf_dir, "orders")
    profit = _micros(
        F.col("l_extendedprice") * (1 - F.col("l_discount"))
        - F.col("p_retailprice") * F.col("l_quantity") * 0.1
    )
    return (
        li.join(part, li["l_partkey"] == part["p_partkey"])
        .join(supp, li["l_suppkey"] == supp["s_suppkey"])
        .join(F.broadcast(nation), supp["s_nationkey"] == nation["n_nationkey"])
        .join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .select(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("bigint").alias("o_year"),
            profit.alias("pm"),
        )
        .groupBy("nation", "o_year")
        .agg(F.sum("pm").alias("profit_micros"))
    )


# TPC-H Q11 shape: parts whose shipped value exceeds a multiple of
# the MEAN part share (scale-free — a fixed fraction-of-total gate
# goes vacuous as the part count grows with SF). The grand total +
# part count is a 1-row broadcast joined into the HAVING-style
# filter; the share gate compares exact integers
# (value * n_parts > 2 * total ⇔ share > 2x mean).
@register(
    "q_important_parts",
    f"""
    WITH pv AS (
      SELECT l_partkey AS partkey,
             CAST(SUM({_MICROS_SQL.format(expr='l_extendedprice')}) AS BIGINT)
               AS value_micros
      FROM lineitem GROUP BY l_partkey
    ),
    tot AS (
      SELECT CAST(SUM(value_micros) AS BIGINT) AS total_micros,
             COUNT(*) AS n_parts
      FROM pv
    )
    SELECT partkey, value_micros
    FROM pv CROSS JOIN tot
    WHERE value_micros * n_parts > 2 * total_micros
    """,
)
def q_important_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    pv = li.groupBy(F.col("l_partkey").alias("partkey")).agg(
        F.sum(_micros(F.col("l_extendedprice"))).alias("value_micros")
    )
    tot = pv.agg(
        F.sum("value_micros").alias("total_micros"),
        F.count(F.lit(1)).alias("n_parts"),
    )
    return (
        pv.crossJoin(F.broadcast(tot))
        .filter(F.col("value_micros") * F.col("n_parts") > 2 * F.col("total_micros"))
        .select("partkey", "value_micros")
    )


# Semi-structured VARIANT path (Spark 4): parse_json once into a
# VariantType column, typed extraction via variant_get — the
# shredding-friendly engine path for JSON at scale (one binary parse
# per row instead of a schema-bound from_json per referenced field
# set; at rest, variant shredding lets the reader prune to the
# referenced subfields the way column pruning does for structs).
# Same oracle shape as q_json_extract — semantics identical, the
# difference is the execution path.
@register(
    "q_variant_extract",
    """
    SELECT event_type,
           CAST(SUM(CAST(props->>'k' AS BIGINT)) AS BIGINT) AS sum_k,
           COUNT(CAST(props->>'k' AS BIGINT)) AS n_k,
           CAST(MAX(CAST(props->>'k' AS BIGINT)) AS BIGINT) AS max_k
    FROM events GROUP BY event_type
    """,
)
def q_variant_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    v = F.parse_json(F.col("props"))
    k = F.try_variant_get(v, "$.k", "long")
    return ev.groupBy("event_type").agg(
        F.sum(k).alias("sum_k"),
        F.count(k).alias("n_k"),
        F.max(k).alias("max_k"),
    )


# ---------------------------------------------------------------------------
# Embedding-label quality eval: nearest-centroid classifier purity.
# How separable are the labels in embedding space? Assign every
# vector to its nearest label centroid (euclidean, exact fixed-point
# integers end-to-end) and report per-label purity. The centroid
# table is vocabulary-sized (labels x dims) and broadcasts; the
# corpus sees one explode + one broadcast join + one per-vector
# window — no pairwise vector comparison anywhere. Centroid
# components quantize via an IEEE double division of exact ints
# (bit-identical both engines) so the argmin is comparison-exact.
# ---------------------------------------------------------------------------


@register(
    "q_label_purity",
    """
    WITH ex AS (
      SELECT vec_id, label, i AS pos,
             CAST(FLOOR(CAST(embedding[i] AS DOUBLE) * 1048576 + 0.5) AS BIGINT) AS xq
      FROM embeddings, range(1, 65) t(i)
    ),
    cent AS (
      SELECT label AS c_label, pos,
             CAST(FLOOR(CAST(SUM(xq) AS DOUBLE) / COUNT(*)) AS BIGINT) AS mu
      FROM ex GROUP BY 1, 2
    ),
    d AS (
      SELECT vec_id, label, c_label, SUM((xq - mu) * (xq - mu)) AS d2
      FROM ex JOIN cent USING (pos)
      GROUP BY 1, 2, 3
    ),
    a AS (
      SELECT vec_id, label, c_label,
             ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, c_label) AS rk
      FROM d
    )
    SELECT label, COUNT(*) AS n,
           CAST(SUM(CASE WHEN c_label = label THEN 1 ELSE 0 END) AS BIGINT) AS n_correct,
           CAST(SUM(CASE WHEN c_label = label THEN 1 ELSE 0 END) AS DOUBLE)
             / COUNT(*) AS purity
    FROM a WHERE rk = 1 GROUP BY label
    """,
)
def q_label_purity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    emb = load_table(spark, sf_dir, "embeddings")
    ex = emb.select(
        "vec_id", "label", F.posexplode("embedding").alias("pos0", "x")
    ).select(
        "vec_id",
        "label",
        (F.col("pos0") + 1).alias("pos"),
        F.floor(F.col("x").cast("double") * 1048576 + 0.5).cast("long").alias("xq"),
    )
    cent = (
        ex.groupBy(F.col("label").alias("c_label"), "pos")
        .agg(F.sum("xq").alias("s"), F.count(F.lit(1)).alias("cn"))
        .select(
            "c_label",
            "pos",
            F.floor(F.col("s").cast("double") / F.col("cn")).cast("long").alias("mu"),
        )
    )
    diff = F.col("xq") - F.col("mu")
    d = (
        ex.join(F.broadcast(cent), "pos")
        .groupBy("vec_id", "label", "c_label")
        .agg(F.sum(diff * diff).alias("d2"))
    )
    w = Window.partitionBy("vec_id").orderBy("d2", "c_label")
    assigned = d.withColumn("rk", F.row_number().over(w)).filter(F.col("rk") == 1)
    correct = F.when(F.col("c_label") == F.col("label"), 1).otherwise(0)
    return assigned.groupBy("label").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(correct).cast("long").alias("n_correct"),
        (F.sum(correct).cast("double") / F.count(F.lit(1))).alias("purity"),
    )


# Temperature-reweighted source mixture (the LLM-training recipe:
# sample sources proportional to size^alpha to up-weight small
# high-quality sources). alpha = 0.5 deliberately: IEEE-754 sqrt is
# CORRECTLY ROUNDED on both engines (a libm pow(x, 0.7) is not), and
# each sqrt term is micros-quantized before the normalizing sum —
# a float SUM OVER () rounds differently per partition order. The
# share window runs over the tiny per-source aggregate.
@register(
    "q_mixture_weights",
    f"""
    WITH cell AS (
      SELECT source, COUNT(*) AS n_docs,
             CAST(SUM(len(list_filter({_TOKENS_SQL}, t -> t <> ''))) AS BIGINT)
               AS n_tokens
      FROM documents GROUP BY source
    )
    SELECT source, n_docs, n_tokens,
           CAST(CAST(FLOOR(sqrt(CAST(n_tokens AS DOUBLE)) * 1000000 + 0.5) AS BIGINT) AS DOUBLE)
             / CAST(SUM(CAST(FLOOR(sqrt(CAST(n_tokens AS DOUBLE)) * 1000000 + 0.5) AS BIGINT)) OVER () AS DOUBLE)
             AS sample_weight,
           CAST(n_tokens AS DOUBLE) / CAST(SUM(n_tokens) OVER () AS DOUBLE)
             AS natural_share
    FROM cell
    """,
)
def q_mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    ntok = F.size(F.filter(_tokens_col(), lambda t: t != "")).cast("long")
    cell = docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum(ntok).alias("n_tokens")
    )
    # quantize each sqrt term to integer micros BEFORE the sum — a
    # float SUM OVER () is partition-order-dependent in its rounding
    wq = F.floor(F.sqrt(F.col("n_tokens").cast("double")) * 1000000 + 0.5).cast("long")
    win = Window.partitionBy()
    return cell.select(
        "source",
        "n_docs",
        "n_tokens",
        (wq.cast("double") / F.sum(wq).over(win).cast("double")).alias("sample_weight"),
        (
            F.col("n_tokens").cast("double")
            / F.sum("n_tokens").over(win).cast("double")
        ).alias("natural_share"),
    )


# Near-duplication rate per source: which sources contribute dup
# pressure (the curation signal that drives source-level filtering
# decisions). Reuses the MinHash candidate pairs verbatim — pair
# docs map back to their original's source (copies carry
# original_id + offset) with ONE broadcast join of the tiny
# (doc_id, source) projection against the distinct pair members.
@register(
    "q_dup_rate_by_source",
    f"""
    WITH pairs AS ({_MINHASH_PAIRS_SQL}),
    pair_docs AS (
      SELECT DISTINCT CASE WHEN d >= {_DUP_OFFSET} THEN d - {_DUP_OFFSET} ELSE d END
               AS doc_id
      FROM (SELECT doc_a AS d FROM pairs UNION ALL SELECT doc_b FROM pairs)
    )
    SELECT source, COUNT(*) AS n_docs,
           CAST(SUM(CASE WHEN pd.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_dup_docs,
           CAST(SUM(CASE WHEN pd.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
             / COUNT(*) AS dup_rate
    FROM documents LEFT JOIN pair_docs pd USING (doc_id)
    GROUP BY source
    """,
)
def q_dup_rate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    sigs = mh_ops.minhash_signatures(
        _with_near_copies(docs), "doc_id", "text", n=3, num_hashes=_MH_K
    )
    pairs = mh_ops.lsh_candidate_pairs(sigs, _MH_BANDS, _MH_ROWS)
    members = (
        pairs.select(F.col("doc_a").alias("d"))
        .unionAll(pairs.select(F.col("doc_b")))
        .select(
            F.when(F.col("d") >= _DUP_OFFSET, F.col("d") - _DUP_OFFSET)
            .otherwise(F.col("d"))
            .alias("doc_id")
        )
        .distinct()
        .withColumn("_dup", F.lit(1))
    )
    return (
        docs.select("doc_id", "source")
        .join(F.broadcast(members), "doc_id", "left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.coalesce(F.col("_dup"), F.lit(0))).cast("long").alias("n_dup_docs"),
            (
                F.sum(F.coalesce(F.col("_dup"), F.lit(0))).cast("double")
                / F.count(F.lit(1))
            ).alias("dup_rate"),
        )
    )


# Exact quantiles WITHOUT per-group value buffering: Spark's exact
# percentile() aggregate collects every group value into one
# reducer's memory — fatal when a group holds billions of rows. The
# two-phase distributed rank (operators/ranking.py) turns an exact
# nearest-rank quantile into `rank == ceil(p * n)`: a filter over
# ranks, nothing buffered anywhere. Nearest-rank (not interpolated)
# semantics spelled out identically in the oracle via ROW_NUMBER so
# neither engine's quantile-definition quirks are in play.
@register(
    "q_quantiles_scalable",
    """
    WITH ranked AS (
      SELECT o_orderpriority, o_totalprice,
             ROW_NUMBER() OVER (PARTITION BY o_orderpriority
                                ORDER BY o_totalprice, o_orderkey) AS rn,
             COUNT(*) OVER (PARTITION BY o_orderpriority) AS cnt
      FROM orders
    )
    SELECT o_orderpriority,
           CAST(MAX(CASE WHEN rn = CAST(CEIL(0.5 * cnt) AS BIGINT)
                         THEN CAST(FLOOR(o_totalprice * 1000000 + 0.5) AS BIGINT)
                    END) AS BIGINT) AS p50_micros,
           CAST(MAX(CASE WHEN rn = CAST(CEIL(0.9 * cnt) AS BIGINT)
                         THEN CAST(FLOOR(o_totalprice * 1000000 + 0.5) AS BIGINT)
                    END) AS BIGINT) AS p90_micros,
           CAST(MAX(CASE WHEN rn = CAST(CEIL(0.99 * cnt) AS BIGINT)
                         THEN CAST(FLOOR(o_totalprice * 1000000 + 0.5) AS BIGINT)
                    END) AS BIGINT) AS p99_micros
    FROM ranked GROUP BY o_orderpriority
    """,
)
def q_quantiles_scalable(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    ranked = grouped_rank(
        o.select("o_orderkey", "o_orderpriority", "o_totalprice"),
        ["o_orderpriority"],
        ["o_totalprice", "o_orderkey"],
    )
    price_micros = _micros(F.col("o_totalprice"))
    cnt = F.col("group_cnt")
    rn = F.col("rn")

    def at(p: float) -> F.Column:
        return F.max(
            F.when(rn == F.ceil(F.lit(p) * cnt).cast("long"), price_micros)
        ).cast("long")

    return ranked.groupBy("o_orderpriority").agg(
        at(0.5).alias("p50_micros"),
        at(0.9).alias("p90_micros"),
        at(0.99).alias("p99_micros"),
    )


# k-NN label accuracy: does a vector's neighborhood agree with its
# label? (The eval that catches broken embeddings before a model
# trains on them.) Exact 10-NN cosine for a fixed query subset
# (vec_id < 100 — keeps the O(|Q| x n x d) oracle tractable at every
# SF; the Spark side broadcasts the same subset), majority neighbor
# label with ties to the smaller label, accuracy per true label.
@register(
    "q_knn_label_acc",
    f"""
    WITH fixed AS ({_FIXED_SQL.format(corpus="SELECT vec_id, embedding FROM embeddings")}),
    norms AS (SELECT vec_id, SUM(e * e) AS n2 FROM fixed GROUP BY vec_id),
    dots AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, SUM(q.e * c.e) AS dot
      FROM fixed q JOIN fixed c ON q.i = c.i AND q.vec_id <> c.vec_id
      WHERE q.vec_id < 100
      GROUP BY 1, 2
    ),
    knn AS (
      SELECT query_id, neighbor_id FROM (
        SELECT query_id, neighbor_id,
               ROW_NUMBER() OVER (
                 PARTITION BY query_id
                 ORDER BY CAST(dot AS DOUBLE)
                          / (sqrt(CAST(nq.n2 AS DOUBLE)) * sqrt(CAST(nc.n2 AS DOUBLE))) DESC,
                          neighbor_id) AS rank
        FROM dots JOIN norms nq ON query_id = nq.vec_id
                  JOIN norms nc ON neighbor_id = nc.vec_id
      ) WHERE rank <= 10
    ),
    votes AS (
      SELECT query_id, e2.label AS n_label, COUNT(*) AS votes
      FROM knn JOIN embeddings e2 ON e2.vec_id = neighbor_id
      GROUP BY 1, 2
    ),
    pred AS (
      SELECT query_id, n_label AS pred_label FROM (
        SELECT query_id, n_label,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY votes DESC, n_label) AS rk
        FROM votes
      ) WHERE rk = 1
    )
    SELECT e.label, COUNT(*) AS n,
           CAST(SUM(CASE WHEN pred_label = e.label THEN 1 ELSE 0 END) AS BIGINT)
             AS n_correct,
           CAST(SUM(CASE WHEN pred_label = e.label THEN 1 ELSE 0 END) AS DOUBLE)
             / COUNT(*) AS knn_acc
    FROM pred JOIN embeddings e ON e.vec_id = query_id
    GROUP BY e.label
    """,
)
def q_knn_label_acc(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    emb = load_table(spark, sf_dir, "embeddings")
    knn = ann_ops.brute_force_topk(
        emb, emb.filter(F.col("vec_id") < 100), "vec_id", "embedding", k=10
    )
    labels = emb.select("vec_id", "label")
    # labels is the SF-scaled embeddings projection: both joins stay
    # un-hinted; AQE broadcasts the genuinely small side (knn /
    # pred ≈ |query set| rows) at runtime.
    votes = (
        knn.join(
            labels.select(
                F.col("vec_id").alias("neighbor_id"),
                F.col("label").alias("n_label"),
            ),
            "neighbor_id",
        )
        .groupBy("query_id", "n_label")
        .agg(F.count(F.lit(1)).alias("votes"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("votes"), "n_label")
    pred = (
        votes.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select("query_id", F.col("n_label").alias("pred_label"))
    )
    correct = F.when(F.col("pred_label") == F.col("label"), 1).otherwise(0)
    return (
        pred.join(
            labels.select(F.col("vec_id").alias("query_id"), "label"),
            "query_id",
        )
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(correct).cast("long").alias("n_correct"),
            (F.sum(correct).cast("double") / F.count(F.lit(1))).alias("knn_acc"),
        )
    )


# ---------------------------------------------------------------------------
# Skew-salted paths, registered (operators/skew.py was test-only):
# the oracle is the PLAIN formulation — exactness of the salted
# rewrite is the whole point, so the driver now witnesses it.
# ---------------------------------------------------------------------------

from frames_spark.operators import skew as skew_ops  # noqa: E402


@register(
    "q_salted_agg",
    f"""
    SELECT l_returnflag,
           CAST(SUM({_MICROS_SQL.format(expr='l_quantity')}) AS BIGINT)
             AS sum_qty_micros,
           COUNT(*) AS n
    FROM lineitem GROUP BY l_returnflag
    """,
)
def q_salted_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag", _micros(F.col("l_quantity")).alias("qty_micros")
    )
    out = skew_ops.salted_sum_count(li, ["l_returnflag"], ["qty_micros"])
    return out.select(
        "l_returnflag",
        F.col("sum_qty_micros").cast("long").alias("sum_qty_micros"),
        F.col("n").cast("long").alias("n"),
    )


@register(
    "q_salted_join",
    """
    SELECT c_mktsegment, COUNT(*) AS n_events
    FROM events JOIN customer ON c_custkey = user_id
    GROUP BY c_mktsegment
    """,
)
def q_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select("user_id", "event_id")
    dim = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    joined = skew_ops.salted_join(ev, dim, "user_id", salt=8)
    return joined.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_events")
    )


# MinHash estimator accuracy: per candidate pair, the signature-
# agreement estimate (matching components / k — the unbiased Jaccard
# estimator LSH thresholds act on) against the exact shingle Jaccard.
# The eval a dedup pipeline runs before trusting its bands: both
# numbers are ratios of exact integers, so the row hash is exact.
# Exact-side work is restricted to the candidate pairs (inverted-
# index join semi-filtered by pair membership), never all pairs.
_MH_ACCURACY_SUFFIX = f"""
    , pairs AS ({_MH_PAIRS_SELECT}),
    est AS (
      SELECT doc_a, doc_b,
             ({" + ".join(f"CASE WHEN sa.sig_{i} = sb.sig_{i} THEN 1 ELSE 0 END" for i in range(_MH_K))})
               / {_MH_K}.0 AS est_jaccard
      FROM pairs JOIN sigs sa ON sa.doc = doc_a
                 JOIN sigs sb ON sb.doc = doc_b
    ),
    sizes AS (SELECT doc, COUNT(*) AS n FROM shingled GROUP BY doc),
    common AS (
      SELECT p.doc_a, p.doc_b, COUNT(*) AS n_common
      FROM pairs p
      JOIN shingled s1 ON s1.doc = p.doc_a
      JOIN shingled s2 ON s2.doc = p.doc_b AND s2.shingle = s1.shingle
      GROUP BY 1, 2
    )
    SELECT e.doc_a, e.doc_b, est_jaccard,
           CAST(COALESCE(n_common, 0) AS DOUBLE)
             / (sa.n + sb.n - COALESCE(n_common, 0)) AS exact_jaccard,
           ABS(est_jaccard - CAST(COALESCE(n_common, 0) AS DOUBLE)
               / (sa.n + sb.n - COALESCE(n_common, 0))) AS abs_err
    FROM est e
    JOIN sizes sa ON sa.doc = e.doc_a
    JOIN sizes sb ON sb.doc = e.doc_b
    LEFT JOIN common c ON c.doc_a = e.doc_a AND c.doc_b = e.doc_b
    """


@register("q_minhash_accuracy", _MH_CTES + _MH_ACCURACY_SUFFIX)
def q_minhash_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _with_near_copies(load_table(spark, sf_dir, "documents"))
    return _minhash_accuracy_frame(docs)


def _minhash_accuracy_frame(docs: DataFrame) -> DataFrame:
    """Signature-agreement estimate vs exact shingle Jaccard per LSH
    candidate pair, over an already-near-copied corpus (shared by the
    full query and its subset-witness twin)."""
    sigs = mh_ops.minhash_signatures(docs, "doc_id", "text", n=3, num_hashes=_MH_K)
    pairs = mh_ops.lsh_candidate_pairs(sigs, _MH_BANDS, _MH_ROWS)
    sa = sigs.select(
        F.col("doc").alias("doc_a"),
        *[F.col(f"sig_{i}").alias(f"a_{i}") for i in range(_MH_K)],
    )
    sb = sigs.select(
        F.col("doc").alias("doc_b"),
        *[F.col(f"sig_{i}").alias(f"b_{i}") for i in range(_MH_K)],
    )
    agree = sum(
        F.when(F.col(f"a_{i}") == F.col(f"b_{i}"), 1).otherwise(0)
        for i in range(_MH_K)
    )
    est = (
        pairs.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select("doc_a", "doc_b", (agree / float(_MH_K)).alias("est_jaccard"))
    )
    sh = jac_ops.shingle_index(docs, "doc_id", "text", 3)
    member = (
        pairs.select(F.col("doc_a").alias("doc"))
        .unionAll(pairs.select("doc_b"))
        .distinct()
    )
    sh = sh.join(F.broadcast(member), "doc", "left_semi")
    sizes = sh.groupBy("doc").agg(F.count(F.lit(1)).alias("n"))
    # posting-list i<j expansion over the member-restricted index
    # (jaccard.py's shape: one lineage, one shuffle) instead of the
    # raw two-sided shingle self-join — a shingle hot even among LSH
    # members would expand D² join rows before the pair semi-join
    # could prune; here it is one sorted array row
    postings = (
        sh.groupBy("shingle")
        .agg(F.sort_array(F.collect_list("doc")).alias("ds"))
        .filter(F.size("ds") >= 2)
    )
    pair_expr = F.expr(
        "flatten(transform(ds, (x, i) ->"
        " transform(slice(ds, i + 2, size(ds)),"
        " y -> struct(x AS doc_a, y AS doc_b))))"
    )
    inter = (
        postings.select(F.explode(pair_expr).alias("p"))
        .select(F.col("p.doc_a").alias("doc_a"), F.col("p.doc_b").alias("doc_b"))
        .join(pairs, ["doc_a", "doc_b"], "left_semi")
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    nc = F.coalesce(F.col("n_common"), F.lit(0))
    exact = nc.cast("double") / (F.col("na") + F.col("nb") - nc)
    return (
        est.join(inter, ["doc_a", "doc_b"], "left")
        .join(sizes.select(F.col("doc").alias("doc_a"), F.col("n").alias("na")), "doc_a")
        .join(sizes.select(F.col("doc").alias("doc_b"), F.col("n").alias("nb")), "doc_b")
        .select(
            "doc_a", "doc_b", "est_jaccard",
            exact.alias("exact_jaccard"),
            F.abs(F.col("est_jaccard") - exact).alias("abs_err"),
        )
    )


# DAU / WAU: daily active users + exact 7-day rolling distinct users.
# Exact rolling distinct cannot ride a window frame (COUNT(DISTINCT)
# isn't windowable); the scale shape is: reduce events to distinct
# (user, day) pairs FIRST (the big cardinality drop), then explode
# each pair into the <=7 week-windows it belongs to and count
# distinct per window end — shuffle volume is pairs x 7, never
# events x 7, and no per-day state accumulates anywhere.
@register(
    "q_active_users",
    """
    WITH ud AS (
      SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS TIMESTAMP) AS day
      FROM events
    ),
    days AS (SELECT DISTINCT day FROM ud),
    expanded AS (
      SELECT d.day AS win_end, ud.user_id
      FROM ud JOIN days d
        ON ud.day <= d.day AND ud.day > d.day - INTERVAL 7 DAY
    )
    SELECT e.win_end AS day,
           (SELECT COUNT(DISTINCT user_id) FROM ud WHERE ud.day = e.win_end) AS dau,
           COUNT(DISTINCT e.user_id) AS wau
    FROM expanded e
    GROUP BY e.win_end
    """,
)
def q_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    ud = ev.select(
        "user_id", F.date_trunc("day", F.col("ts")).alias("day")
    ).distinct()
    # each (user, day) pair contributes to the 7 window-ends
    # [day, day+6]; generate them as an explode of a literal range —
    # the join-to-days form in the oracle is the same cardinality but
    # the sequence explode avoids materializing a days dimension
    offsets = F.explode(F.sequence(F.lit(0), F.lit(6))).alias("off")
    expanded = ud.select("user_id", "day", offsets).select(
        "user_id",
        (F.col("day") + F.make_dt_interval(F.col("off"))).alias("win_end"),
    )
    dau = ud.groupBy("day").agg(F.countDistinct("user_id").alias("dau"))
    # windows whose end is beyond the observed range would be partial;
    # restrict to days that actually occur (matches the oracle's join)
    wau = (
        expanded.join(F.broadcast(dau.select(F.col("day").alias("win_end"))), "win_end")
        .groupBy("win_end")
        .agg(F.countDistinct("user_id").alias("wau"))
    )
    return (
        dau.join(wau, dau["day"] == wau["win_end"])
        .select("day", "dau", "wau")
    )


# The sketch twin of q_active_users: WAU from stored daily HLL parts.
# The x7 window expansion here touches the PARTS relation (<= 4096
# cells per day) instead of the (user, day) pairs — at 100 TB that's
# the whole difference: exact WAU shuffles pairs x 7, sketch WAU
# re-maxes ~4k-row register slices per window from an already-
# materialized rollup. Built on the ORACLE-EXACT hll_cells_by cells
# (p=12), so every merged window estimate is value-gated in DuckDB
# (r8 verdict ask #1); the estimate-vs-exact bound stays pinned by
# tests/test_sketches.py.
@register(
    "q_active_users_sketch",
    f"""
    WITH h AS (
      SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
             {hash60_sql("CAST(user_id AS VARCHAR)", "hll")} AS h
      FROM events
    ), keyed AS (
      SELECT day, h % {_SKQ_M} AS bucket, (h - (h % {_SKQ_M})) // {_SKQ_M} AS rem
      FROM h
    ), cells AS (
      SELECT day, bucket, MAX({_SKQ_RHO_SQL}) AS max_rho
      FROM keyed GROUP BY day, bucket
    ), days AS (SELECT DISTINCT day FROM cells),
    expanded AS (
      SELECT c.day + (o.off * INTERVAL 1 DAY) AS win_end, c.bucket, c.max_rho
      FROM cells c, (SELECT unnest(generate_series(0, 6)) AS off) o
    ), merged AS (
      SELECT win_end, bucket, MAX(max_rho) AS max_rho
      FROM expanded
      WHERE win_end IN (SELECT day FROM days)
      GROUP BY win_end, bucket
    ), agg AS (
      SELECT win_end, SUM(power(2.0, -max_rho)) AS z, COUNT(*) AS nb
      FROM merged GROUP BY win_end
    ), r AS (
      SELECT win_end, {_SKQ_AMM} / (z + CAST({_SKQ_M} - nb AS DOUBLE)) AS raw,
             CAST({_SKQ_M} - nb AS DOUBLE) AS empty, nb
      FROM agg
    )
    SELECT win_end AS day,
           CAST(FLOOR({_SKQ_EST_SQL} * 1000000 + 0.5) AS BIGINT)
             AS wau_est_micros,
           CAST({_SKQ_M} - nb AS BIGINT) AS n_empty
    FROM r
    ORDER BY day
    """,
)
def q_active_users_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    from frames_spark.operators.sketches import hll_cells_by, hll_estimate_by

    ev = load_table(spark, sf_dir, "events").withColumn(
        "day", F.date_trunc("day", F.col("ts"))
    )
    cells = hll_cells_by(ev, ["day"], "user_id", p=_SKQ_P)
    expanded = cells.select(
        "day",
        "bucket",
        "max_rho",
        F.explode(F.sequence(F.lit(0), F.lit(6))).alias("off"),
    ).select(
        (F.col("day") + F.make_dt_interval(F.col("off"))).alias("win_end"),
        "bucket",
        "max_rho",
    )
    observed = cells.select(F.col("day").alias("win_end")).distinct()
    merged = (
        expanded.join(F.broadcast(observed), "win_end")
        .groupBy("win_end", "bucket")
        .agg(F.max("max_rho").alias("max_rho"))
    )
    return (
        hll_estimate_by(merged, ["win_end"], p=_SKQ_P)
        .select(
            F.col("win_end").alias("day"),
            F.col("est_micros").alias("wau_est_micros"),
            "n_empty",
        )
        .orderBy("day")
    )


# Bigram-LM quality score: mean log P(w_t | w_{t-1}) per doc under
# the corpus's own bigram model — the next quality signal after
# q_unigram_logprob (catches plausible-words-in-implausible-order
# docs that unigram scoring cannot). Conditional probability =
# bigram count / predecessor unigram count, both exact integers from
# two vocabulary-sized aggregates; the corpus-side work is one
# positional self-alignment in the SCAN stage (tokens shifted via
# array ops — no posexplode self-join), then an equi-join against
# the bigram table. Per-pair ln() micros-quantized before the doc
# sum (the standing cross-engine libm guard).
@register(
    "q_bigram_logprob",
    f"""
    WITH toks AS (
      SELECT doc_id, list_filter({_TOKENS_SQL}, t -> t <> '') AS ts
      FROM documents
    ),
    big AS (
      SELECT doc_id, unnest(list_transform(range(1, len(ts)),
               i -> ts[i] || ' ' || ts[i + 1])) AS bigram
      FROM toks
    ),
    bcnt AS (SELECT bigram, COUNT(*) AS nb FROM big GROUP BY bigram),
    ucnt AS (
      SELECT w1, CAST(SUM(nb) AS BIGINT) AS nu FROM (
        SELECT string_split(bigram, ' ')[1] AS w1, nb FROM bcnt
      ) GROUP BY w1
    )
    SELECT doc_id,
           COUNT(*) AS n_bigrams,
           CAST(SUM(CAST(FLOOR(ln(CAST(nb AS DOUBLE) / CAST(nu AS DOUBLE))
                               * 1000000 + 0.5) AS BIGINT)) AS BIGINT)
             AS logprob_micros,
           CAST(SUM(CAST(FLOOR(ln(CAST(nb AS DOUBLE) / CAST(nu AS DOUBLE))
                               * 1000000 + 0.5) AS BIGINT)) AS DOUBLE)
             / 1000000 / COUNT(*) AS mean_logprob
    FROM big
    JOIN bcnt USING (bigram)
    JOIN ucnt ON string_split(bigram, ' ')[1] = w1
    GROUP BY doc_id
    """,
)
def q_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    # token array BOUND as a column before the bigram transform (r15,
    # the q_boilerplate fix): the lambda captured the tokenize
    # expression and interpreted HOF eval re-tokenized per bigram.
    docs = docs.select(
        "doc_id", F.filter(_tokens_col(), lambda t: t != "").alias("_ts")
    )
    ts = F.col("_ts")
    bigrams_arr = F.transform(
        F.slice(ts, 1, F.greatest(F.size(ts) - 1, F.lit(0))),
        lambda _x, i: F.concat_ws(" ", F.element_at(ts, i + 1), F.element_at(ts, i + 2)),
    )
    big = docs.select("doc_id", F.explode(bigrams_arr).alias("bigram"))
    bcnt = big.groupBy("bigram").agg(F.count(F.lit(1)).alias("nb"))
    ucnt = (
        bcnt.select(F.split(F.col("bigram"), " ").getItem(0).alias("w1"), "nb")
        .groupBy("w1")
        .agg(F.sum("nb").alias("nu"))
    )
    lp = F.floor(
        F.log(F.col("nb").cast("double") / F.col("nu").cast("double")) * 1000000
        + 0.5
    ).cast("long")
    return (
        big.join(bcnt, "bigram")
        .join(ucnt, F.split(F.col("bigram"), " ").getItem(0) == F.col("w1"))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.sum(lp).alias("logprob_micros"),
            (F.sum(lp).cast("double") / 1000000 / F.count(F.lit(1))).alias(
                "mean_logprob"
            ),
        )
    )


# Kaplan-Meier time-to-convert: the survival curve over days from a
# user's first view to first purchase, right-censored at the end of
# observation. Every heavy step is a per-user aggregate; the curve
# itself lives on a tiny per-day relation, where the risk-set sizes
# are reverse cumulative sums and the curve is a cumulative sum of
# micros-quantized ln(1 - d/n) terms — emitted AS the exact integer
# log-survival (exp() is libm and engine-drifty; callers exponentiate
# at the edge if they want probabilities).
@register(
    "q_survival",
    """
    WITH stage AS (
      SELECT user_id,
             MIN(CASE WHEN event_type = 'view' THEN CAST(ts AS TIMESTAMP) END) AS t0,
             MIN(CASE WHEN event_type = 'purchase' THEN CAST(ts AS TIMESTAMP) END) AS t1
      FROM events GROUP BY user_id
    ),
    horizon AS (SELECT MAX(CAST(ts AS TIMESTAMP)) AS tmax FROM events),
    obs AS (
      SELECT user_id,
             CASE WHEN t1 IS NOT NULL AND t1 >= t0 THEN 1 ELSE 0 END AS converted,
             CASE WHEN t1 IS NOT NULL AND t1 >= t0
                  THEN date_diff('day', t0, t1)
                  ELSE date_diff('day', t0, tmax) END AS t_days
      FROM stage CROSS JOIN horizon
      WHERE t0 IS NOT NULL
    ),
    byday AS (
      SELECT t_days,
             CAST(SUM(converted) AS BIGINT) AS d,
             COUNT(*) AS ending
      FROM obs GROUP BY t_days
    ),
    risk AS (
      SELECT t_days, d,
             CAST(SUM(ending) OVER (ORDER BY t_days DESC) AS BIGINT) AS n_at_risk
      FROM byday
    )
    SELECT t_days, d, n_at_risk,
           CAST(SUM(CASE WHEN d > 0 AND d < n_at_risk
                         THEN CAST(FLOOR(ln(1.0 - CAST(d AS DOUBLE)
                                              / CAST(n_at_risk AS DOUBLE))
                                         * 1000000 + 0.5) AS BIGINT)
                         WHEN d >= n_at_risk THEN NULL
                         ELSE 0 END)
                OVER (ORDER BY t_days) AS BIGINT) AS log_surv_micros
    FROM risk
    """,
)
def q_survival(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    stage = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", F.col("ts"))).alias("t0"),
        F.min(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias("t1"),
    )
    horizon = ev.agg(F.max("ts").alias("tmax"))
    converted = (F.col("t1").isNotNull() & (F.col("t1") >= F.col("t0"))).cast("int")
    tdays = F.when(
        F.col("t1").isNotNull() & (F.col("t1") >= F.col("t0")),
        F.datediff(F.col("t1"), F.col("t0")),
    ).otherwise(F.datediff(F.col("tmax"), F.col("t0")))
    obs = (
        stage.crossJoin(F.broadcast(horizon))
        .filter(F.col("t0").isNotNull())
        .select(converted.alias("converted"), tdays.alias("t_days"))
    )
    byday = (
        obs.withColumn("t_days", F.col("t_days").cast("long"))
        .groupBy("t_days")
        .agg(F.sum("converted").alias("d"), F.count(F.lit(1)).alias("ending"))
    )
    wdesc = (
        Window.orderBy(F.desc("t_days"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    risk = byday.select(
        "t_days",
        F.col("d").cast("long").alias("d"),
        F.sum("ending").over(wdesc).alias("n_at_risk"),
    )
    d, n = F.col("d"), F.col("n_at_risk")
    term = (
        F.when(
            (d > 0) & (d < n),
            F.floor(
                F.log(F.lit(1.0) - d.cast("double") / n.cast("double")) * 1000000
                + 0.5
            ).cast("long"),
        )
        .when(d >= n, F.lit(None))
        .otherwise(F.lit(0))
    )
    wasc = (
        Window.orderBy("t_days")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return risk.select(
        "t_days", "d", "n_at_risk",
        F.sum(term).over(wasc).cast("long").alias("log_surv_micros"),
    )


# Event-type transition matrix: P(next | current) per user journey —
# one lag window keyed by user (the sessionize shuffle shape), then
# exact count ratios on the tiny type-x-type relation.
@register(
    "q_transitions",
    """
    WITH seq AS (
      SELECT event_type AS cur,
             LEAD(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS nxt
      FROM events
    ),
    cnt AS (
      SELECT cur, nxt, COUNT(*) AS n FROM seq
      WHERE nxt IS NOT NULL GROUP BY cur, nxt
    )
    SELECT cur, nxt, n,
           CAST(n AS DOUBLE) / CAST(SUM(n) OVER (PARTITION BY cur) AS DOUBLE) AS p
    FROM cnt
    """,
)
def q_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        F.col("event_type").alias("cur"),
        F.lead("event_type").over(w).alias("nxt"),
    ).filter(F.col("nxt").isNotNull())
    cnt = seq.groupBy("cur", "nxt").agg(F.count(F.lit(1)).alias("n"))
    wt = Window.partitionBy("cur")
    return cnt.select(
        "cur", "nxt", "n",
        (F.col("n").cast("double") / F.sum("n").over(wt).cast("double")).alias("p"),
    )


# Revenue concentration (Gini) over customers — the inequality
# summary a mixture/pricing analysis starts from. Exact formulation:
# G = 2*sum(rank_i * x_i) / (n * sum(x)) - (n + 1)/n over ascending
# per-customer totals; the global rank comes from the two-phase
# distributed rank (operators/ranking.py), never a single-partition
# window, and both sums are exact integer micros.
@register(
    "q_gini_revenue",
    """
    WITH cust AS (
      -- whole currency units (exact integer division of the micros
      -- sum): rank * micros overflows int64 by sf0.1; units keep the
      -- weighted sum exact and in-range through sf1+
      SELECT o_custkey,
             CAST(SUM(CAST(FLOOR(o_totalprice * 1000000 + 0.5) AS BIGINT)) AS BIGINT)
               // 1000000 AS spend
      FROM orders GROUP BY o_custkey
    ),
    ranked AS (
      SELECT spend,
             ROW_NUMBER() OVER (ORDER BY spend, o_custkey) AS rn,
             COUNT(*) OVER () AS n
      FROM cust
    )
    SELECT CAST(SUM(rn * spend) AS BIGINT) AS weighted_units,
           CAST(SUM(spend) AS BIGINT) AS total_units,
           MAX(n) AS n_customers,
           2.0 * CAST(SUM(rn * spend) AS DOUBLE)
             / (MAX(n) * CAST(SUM(spend) AS DOUBLE))
             - CAST(MAX(n) + 1 AS DOUBLE) / MAX(n) AS gini
    FROM ranked
    """,
)
def q_gini_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    # integral `div`, not float `/`: a double quotient can round
    # across an integer boundary where the oracle's BIGINT floor
    # division cannot
    cust = (
        o.groupBy("o_custkey")
        .agg(F.sum(_micros(F.col("o_totalprice"))).alias("_sm"))
        .select("o_custkey", F.expr("_sm div 1000000").alias("spend"))
    )
    # stage=True: cust is an aggregate output, so its within-partition
    # row order is shuffle-fetch-dependent — pin the range exchange
    # (same hazard q_rfm hit live at sf0.1; see grouped_rank docstring)
    ranked = grouped_rank(cust, [], ["spend", "o_custkey"], rank_col="rn",
                          count_col="n", stage=True)
    ws = F.sum(F.col("rn") * F.col("spend"))
    tot = F.sum("spend")
    n = F.max("n")
    return ranked.agg(
        ws.cast("long").alias("weighted_units"),
        tot.cast("long").alias("total_units"),
        n.alias("n_customers"),
        (
            2.0 * ws.cast("double") / (n * tot.cast("double"))
            - (n + 1).cast("double") / n
        ).alias("gini"),
    )


# Lag-1 autocorrelation of daily revenue — the is-there-momentum
# summary of a time series. Fact work is one day-grain aggregate;
# the (x_t, x_{t-1}) pairing is a lag window over the tiny daily
# relation, and the Pearson formula runs on exact integer moments
# over floored-thousands revenue (the q_corr technique), so no
# engine's corr() builtin — or its partition-order float drift — is
# involved, and the squared sums keep int64 headroom to ~sf100.
@register(
    "q_autocorr",
    f"""
    WITH daily AS (
      -- THOUSANDS of currency units: at ~sf1 daily revenue is ~1e8
      -- whole units, so SUM(x*x) over ~2400 days would crowd 2^63
      -- (Spark's long sum wraps silently where DuckDB promotes to
      -- HUGEINT). Floored thousands keep the moments exact AND give
      -- ~5 orders of magnitude of headroom; both engines floor the
      -- same way so the statistic stays bit-identical.
      SELECT CAST(date_trunc('day', o_orderdate) AS TIMESTAMP) AS day,
             CAST(SUM({_MICROS_SQL.format(expr='o_totalprice')}) AS BIGINT)
               // 1000000000 AS rev
      FROM orders GROUP BY 1
    ),
    pairs AS (
      SELECT rev AS x, LAG(rev) OVER (ORDER BY day) AS y FROM daily
    ),
    m AS (
      SELECT COUNT(*) AS n,
             CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
             CAST(SUM(x * x) AS BIGINT) AS sxx,
             CAST(SUM(y * y) AS BIGINT) AS syy,
             CAST(SUM(x * y) AS BIGINT) AS sxy
      FROM pairs WHERE y IS NOT NULL
    )
    SELECT n,
           (CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
             / NULLIF(sqrt(CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
                      * sqrt(CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy), 0)
             AS autocorr_lag1
    FROM m
    """,
)
def q_autocorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    o = load_table(spark, sf_dir, "orders")
    daily = (
        o.groupBy(F.date_trunc("day", F.col("o_orderdate")).alias("day"))
        .agg(F.sum(_micros(F.col("o_totalprice"))).alias("_rm"))
        .select("day", F.expr("_rm div 1000000000").alias("rev"))
    )
    w = Window.orderBy("day")
    pairs = daily.select(
        F.col("rev").alias("x"), F.lag("rev").over(w).alias("y")
    ).filter(F.col("y").isNotNull())
    m = pairs.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"), F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    denom = F.sqrt(d("n") * d("sxx") - d("sx") * d("sx")) * F.sqrt(
        d("n") * d("syy") - d("sy") * d("sy")
    )
    return m.select(
        "n",
        ((d("n") * d("sxy") - d("sx") * d("sy")) / F.nullif(denom, F.lit(0.0))).alias(
            "autocorr_lag1"
        ),
    )


# Day-of-week seasonality profile: order volume and exact revenue
# share per weekday — one conditional-free scan aggregate over 7
# groups, share window over the 7-row relation. Engine quirk pinned
# here: Spark dayofweek() is 1-7 Sunday=1, DuckDB's is 0-6 Sunday=0.
@register(
    "q_weekday_profile",
    f"""
    WITH wk AS (
      SELECT dayofweek(o_orderdate) + 1 AS dow,
             COUNT(*) AS n_orders,
             CAST(SUM({_MICROS_SQL.format(expr='o_totalprice')}) AS BIGINT)
               AS rev_micros
      FROM orders GROUP BY 1
    )
    SELECT dow, n_orders, rev_micros,
           CAST(rev_micros AS DOUBLE)
             / CAST(SUM(rev_micros) OVER () AS DOUBLE) AS rev_share
    FROM wk
    """,
)
def q_weekday_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    o = load_table(spark, sf_dir, "orders")
    wk = o.groupBy(F.dayofweek("o_orderdate").cast("long").alias("dow")).agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(_micros(F.col("o_totalprice"))).alias("rev_micros"),
    )
    return wk.withColumn(
        "rev_share",
        F.col("rev_micros").cast("double")
        / F.sum("rev_micros").over(Window.partitionBy()).cast("double"),
    )


# ---------------------------------------------------------------------------
# Round-4 surface: customer-value analytics, time-series QA, corpus
# source comparison, and dimensionality-reduction plumbing.
# ---------------------------------------------------------------------------


# RFM segmentation — the CRM workhorse: per ordering customer,
# Recency (days since last order, vs the corpus max date), Frequency
# (order count), Monetary (exact micros spend), each quartile-scored.
# All three NTILE(4)s ride the two-phase distributed rank
# (operators/ranking.py) over strict total orders — never a global
# single-task window over the customer table.
@register(
    "q_rfm",
    f"""
    WITH per_cust AS (
      SELECT o_custkey,
             CAST(date_diff('day', MAX(o_orderdate),
                            (SELECT MAX(o_orderdate) FROM orders)) AS BIGINT)
               AS recency_days,
             COUNT(*) AS n_orders,
             CAST(SUM({_MICROS_SQL.format(expr='o_totalprice')}) AS BIGINT)
               AS spend_micros
      FROM orders GROUP BY o_custkey
    )
    SELECT o_custkey, recency_days, n_orders, spend_micros,
           CAST(NTILE(4) OVER (ORDER BY recency_days, o_custkey) AS BIGINT) AS r_score,
           CAST(NTILE(4) OVER (ORDER BY n_orders, o_custkey) AS BIGINT) AS f_score,
           CAST(NTILE(4) OVER (ORDER BY spend_micros, o_custkey) AS BIGINT) AS m_score
    FROM per_cust
    """,
)
def q_rfm(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    anchor = o.agg(F.max("o_orderdate").alias("_max_date"))
    per_cust = (
        o.groupBy("o_custkey")
        .agg(
            F.max("o_orderdate").alias("_last"),
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(_micros(F.col("o_totalprice"))).alias("spend_micros"),
        )
        .crossJoin(F.broadcast(anchor))
        .select(
            "o_custkey",
            F.datediff(F.col("_max_date"), F.col("_last"))
            .cast("long")
            .alias("recency_days"),
            "n_orders",
            "spend_micros",
        )
    )
    out = per_cust
    for metric, score in (
        ("recency_days", "r_score"),
        ("n_orders", "f_score"),
        ("spend_micros", "m_score"),
    ):
        # stage=True: the upstream here is a shuffle (groupBy, then
        # prior rank joins) whose within-partition row ORDER is not
        # deterministic, so the two-branch rank must pin its range
        # exchange with a localCheckpoint (see grouped_rank docstring)
        ranked = grouped_rank(
            out, [], [metric, "o_custkey"],
            rank_col="_rn", count_col="_cnt", stage=True,
        )
        out = ranked.withColumn(
            score, ntile_from_rank(F.col("_rn"), F.col("_cnt"), 4)
        ).drop("_rn", "_cnt")
    return out


# 7-day trailing moving average of daily revenue. The fact table
# collapses to one row per day FIRST (map-side combined); the moving
# window then runs over the tiny daily relation only — sum and count
# kept as exact integers, divided once as double.
@register(
    "q_moving_avg",
    f"""
    WITH daily AS (
      SELECT CAST(date_trunc('day', o_orderdate) AS TIMESTAMP) AS day,
             CAST(SUM({_MICROS_SQL.format(expr='o_totalprice')}) AS BIGINT)
               AS rev_micros
      FROM orders GROUP BY 1
    )
    SELECT day, rev_micros,
           CAST(CAST(SUM(rev_micros) OVER w AS BIGINT) AS DOUBLE)
             / COUNT(*) OVER w AS ma7
    FROM daily
    WINDOW w AS (ORDER BY day ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
    """,
)
def q_moving_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    o = load_table(spark, sf_dir, "orders")
    daily = o.groupBy(F.date_trunc("day", F.col("o_orderdate")).alias("day")).agg(
        F.sum(_micros(F.col("o_totalprice"))).alias("rev_micros")
    )
    w = Window.orderBy("day").rowsBetween(-6, 0)
    return daily.select(
        "day",
        "rev_micros",
        (
            F.sum("rev_micros").over(w).cast("double")
            / F.count(F.lit(1)).over(w)
        ).alias("ma7"),
    )


# Trailing-window anomaly days: revenue deviating > 2 sigma from the
# PRECEDING 28 days (current day excluded — no self-contamination).
# The sigma test is pure INTEGER arithmetic on floored-thousands
# revenue: |x - s/n| > 2*sqrt((n*ss - s^2))/n  <=>
# (n*x - s)^2 > 4*(n*ss - s^2), so no float crosses the engine
# boundary and the squared sums keep int64 headroom to ~sf100.
@register(
    "q_anomaly_days",
    f"""
    WITH daily AS (
      SELECT CAST(date_trunc('day', o_orderdate) AS TIMESTAMP) AS day,
             CAST(SUM({_MICROS_SQL.format(expr='o_totalprice')}) AS BIGINT)
               // 1000000000 AS rev_k
      FROM orders GROUP BY 1
    ),
    stats AS (
      SELECT day, rev_k,
             COUNT(*) OVER w AS n,
             CAST(SUM(rev_k) OVER w AS BIGINT) AS s,
             CAST(SUM(rev_k * rev_k) OVER w AS BIGINT) AS ss
      FROM daily
      WINDOW w AS (ORDER BY day ROWS BETWEEN 28 PRECEDING AND 1 PRECEDING)
    )
    SELECT day, rev_k FROM stats
    WHERE n >= 14
      AND (n * rev_k - s) * (n * rev_k - s) > 4 * (n * ss - s * s)
    """,
)
def q_anomaly_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    o = load_table(spark, sf_dir, "orders")
    daily = (
        o.groupBy(F.date_trunc("day", F.col("o_orderdate")).alias("day"))
        .agg(F.sum(_micros(F.col("o_totalprice"))).alias("_rm"))
        .select("day", F.expr("_rm div 1000000000").alias("rev_k"))
    )
    w = Window.orderBy("day").rowsBetween(-28, -1)
    stats = daily.select(
        "day",
        "rev_k",
        F.count(F.lit(1)).over(w).alias("n"),
        F.sum("rev_k").over(w).alias("s"),
        F.sum(F.col("rev_k") * F.col("rev_k")).over(w).alias("ss"),
    )
    dev = F.col("n") * F.col("rev_k") - F.col("s")
    var_n2 = F.col("n") * F.col("ss") - F.col("s") * F.col("s")
    return (
        stats.filter((F.col("n") >= 14) & (dev * dev > 4 * var_n2))
        .select("day", "rev_k")
    )


# Inter-order gap distribution: per-customer consecutive order gaps
# (lag window keyed by customer — parallelism = |customers|), then
# one global aggregate with bit-stable micros percentiles.
@register(
    "q_order_gap_stats",
    """
    WITH gaps AS (
      SELECT epoch_us(CAST(o_orderdate AS TIMESTAMP))
             - epoch_us(LAG(CAST(o_orderdate AS TIMESTAMP)) OVER (
                 PARTITION BY o_custkey
                 ORDER BY o_orderdate, o_orderkey)) AS gap_us
      FROM orders
    )
    SELECT COUNT(*) AS n_gaps,
           CAST(SUM(gap_us) AS DECIMAL(38,0)) AS total_gap_us,
           CAST(FLOOR(quantile_cont(gap_us, 0.5)) AS BIGINT) AS p50_us,
           CAST(FLOOR(quantile_cont(gap_us, 0.9)) AS BIGINT) AS p90_us
    FROM gaps WHERE gap_us IS NOT NULL
    """,
)
def q_order_gap_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    # o_orderdate may arrive NTZ from the parquet footer; the cast is
    # exact under the pinned UTC session zone
    ts_us = F.unix_micros(F.col("o_orderdate").cast("timestamp"))
    gaps = o.select(
        (ts_us - F.lag(ts_us).over(w)).alias("gap_us")
    ).filter(F.col("gap_us").isNotNull())
    # DECIMAL(38,0) sum: ~n_gaps x mean-gap micros crosses int64 at
    # ~1.4M gaps (the r12 sf1 sweep hit the ANSI overflow live; the
    # q_embed_covariance widening idiom applies)
    return gaps.agg(
        F.count(F.lit(1)).alias("n_gaps"),
        F.sum(F.col("gap_us").cast("decimal(38,0)")).alias("total_gap_us"),
        F.floor(F.percentile(F.col("gap_us"), F.lit(0.5))).cast("long").alias("p50_us"),
        F.floor(F.percentile(F.col("gap_us"), F.lit(0.9))).cast("long").alias("p90_us"),
    )


# Pairwise token-set Jaccard between corpus sources — "how much do
# my crawls overlap, vocabulary-wise". Candidate pairs come from ONE
# groupBy on the token (inverted index) with in-array i<j expansion
# — the (source, token-set) relations never self-join, and the
# per-source sizes are a broadcast.
@register(
    "q_source_jaccard",
    f"""
    WITH tok AS (
      SELECT DISTINCT source, unnest(list_filter({_TOKENS_SQL}, t -> t <> '')) AS token
      FROM documents
    ),
    sizes AS (SELECT source, COUNT(*) AS n FROM tok GROUP BY source),
    inter AS (
      SELECT a.source AS source_a, b.source AS source_b, COUNT(*) AS n_common
      FROM tok a JOIN tok b ON a.token = b.token AND a.source < b.source
      GROUP BY 1, 2
    )
    SELECT source_a, source_b, n_common,
           sa.n AS n_a, sb.n AS n_b,
           CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common) AS jaccard
    FROM inter
    JOIN sizes sa ON source_a = sa.source
    JOIN sizes sb ON source_b = sb.source
    """,
)
def q_source_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    tok = (
        docs.select(
            "source",
            F.explode(F.filter(_tokens_col(), lambda t: t != "")).alias("token"),
        )
        .distinct()
    )
    sizes = tok.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
    buckets = tok.groupBy("token").agg(
        F.sort_array(F.collect_set("source")).alias("ss")
    ).filter(F.size("ss") >= 2)
    pairs = F.expr(
        "flatten(transform(ss, (x, i) ->"
        " transform(slice(ss, i + 2, size(ss)),"
        " y -> struct(x AS a, y AS b))))"
    )
    inter = (
        buckets.select(F.explode(pairs).alias("p"))
        .groupBy(F.col("p.a").alias("source_a"), F.col("p.b").alias("source_b"))
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    return (
        inter.join(
            F.broadcast(sizes.select(F.col("source").alias("source_a"),
                                     F.col("n").alias("n_a"))),
            "source_a",
        )
        .join(
            F.broadcast(sizes.select(F.col("source").alias("source_b"),
                                     F.col("n").alias("n_b"))),
            "source_b",
        )
        .select(
            "source_a", "source_b", "n_common", "n_a", "n_b",
            (
                F.col("n_common").cast("double")
                / (F.col("n_a") + F.col("n_b") - F.col("n_common")).cast("double")
            ).alias("jaccard"),
        )
    )


# Random-projection sketch of the embedding corpus: project every
# vector onto 8 deterministic ±1 hyperplanes (the md5-derived planes
# the LSH path uses — here kept CONTINUOUS, not sign-quantized) and
# report per-dimension distribution stats. The dot products run in
# fixed-point integers, so the DuckDB twin reproduces them exactly
# from a planes VALUES literal. One pass, no shuffle beyond the
# 8-row aggregate.
@register(
    "q_random_projection",
    f"""
    WITH fixed AS ({_FIXED_SQL.format(corpus="SELECT vec_id, embedding FROM embeddings")}),
    planes(p, i, c) AS (VALUES {_lsh_planes_values(8)}),
    proj AS (
      SELECT vec_id, p, CAST(SUM(e * c) AS BIGINT) AS v
      FROM fixed JOIN planes USING (i)
      GROUP BY vec_id, p
    )
    SELECT CAST(p AS BIGINT) AS dim, COUNT(*) AS n,
           CAST(SUM(v) AS BIGINT) AS sum_proj,
           CAST(MIN(v) AS BIGINT) AS min_proj,
           CAST(MAX(v) AS BIGINT) AS max_proj,
           CAST(CAST(SUM(v) AS BIGINT) AS DOUBLE) / COUNT(*) AS mean_proj
    FROM proj GROUP BY p
    """,
)
def q_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    from frames_spark.functions.vectors import dot_fixed, to_fixed
    from frames_spark.operators.core import spread

    emb = spread(load_table(spark, sf_dir, "embeddings"))
    fvec = to_fixed(F.col("embedding"))
    from frames_spark.functions.vectors import const_int_matrix

    planes = const_int_matrix(
        embed_ops.plane_components(p, 64) for p in range(8)
    )
    projs = F.transform(planes, lambda comp: dot_fixed(fvec, comp))
    return (
        emb.select(F.posexplode(projs).alias("dim", "v"))
        .groupBy(F.col("dim").cast("long").alias("dim"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("v").alias("sum_proj"),
            F.min("v").alias("min_proj"),
            F.max("v").alias("max_proj"),
            (F.sum("v").cast("double") / F.count(F.lit(1))).alias("mean_proj"),
        )
    )


# Duplicate-cluster size histogram: how big are the exact-dup groups
# (cluster_size = docs sharing one md5(text))? The dedup-policy
# overview number — two map-side-combined groupBys, no joins.
@register(
    "q_cluster_sizes",
    """
    WITH sizes AS (
      SELECT md5(text) AS h, COUNT(*) AS cluster_size
      FROM documents GROUP BY 1
    )
    SELECT cluster_size, COUNT(*) AS n_clusters
    FROM sizes GROUP BY cluster_size
    """,
)
def q_cluster_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    sizes = docs.groupBy(F.md5("text").alias("h")).agg(
        F.count(F.lit(1)).alias("cluster_size")
    )
    return sizes.groupBy("cluster_size").agg(
        F.count(F.lit(1)).alias("n_clusters")
    )


# Calendar-RANGE moving average — the rows-frame/range-frame
# distinction that bites every time-series user: q_moving_avg's ROWS
# frame spans 7 *rows*, this RANGE frame spans 7 *calendar days*, so
# gaps in the date spine change the answer. Ordered on epoch seconds
# (both engines), exact integer sum/count divided once.
@register(
    "q_moving_avg_range",
    f"""
    WITH daily AS (
      SELECT CAST(date_trunc('day', o_orderdate) AS TIMESTAMP) AS day,
             epoch(CAST(date_trunc('day', o_orderdate) AS TIMESTAMP)) AS day_s,
             CAST(SUM({_MICROS_SQL.format(expr='o_totalprice')}) AS BIGINT)
               AS rev_micros
      FROM orders GROUP BY 1, 2
    )
    SELECT day, rev_micros,
           CAST(n_win AS BIGINT) AS n_days,
           CAST(CAST(s_win AS BIGINT) AS DOUBLE) / n_win AS ma7d
    FROM (
      SELECT day, rev_micros,
             COUNT(*) OVER w AS n_win,
             SUM(rev_micros) OVER w AS s_win
      FROM daily
      WINDOW w AS (ORDER BY day_s
                   RANGE BETWEEN 518400 PRECEDING AND CURRENT ROW)
    )
    """,
)
def q_moving_avg_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    o = load_table(spark, sf_dir, "orders")
    day = F.date_trunc("day", F.col("o_orderdate"))
    daily = o.groupBy(
        day.alias("day"),
        F.unix_timestamp(day.cast("timestamp")).alias("day_s"),
    ).agg(F.sum(_micros(F.col("o_totalprice"))).alias("rev_micros"))
    w = Window.orderBy("day_s").rangeBetween(-6 * 86400, 0)
    return daily.select(
        "day",
        "rev_micros",
        F.count(F.lit(1)).over(w).alias("n_days"),
        (
            F.sum("rev_micros").over(w).cast("double")
            / F.count(F.lit(1)).over(w)
        ).alias("ma7d"),
    )


# Pareto frontier of customers on (frequency, monetary): keep
# customers no other customer strictly dominates. The scale shape —
# since the oracle's NOT EXISTS is a quadratic nested loop — is a
# TWO-LEVEL reduction: max spend per distinct order-count (a tiny
# relation), a running max over the strictly-higher counts, and one
# broadcast join back; the customer table never self-joins.
@register(
    "q_pareto_customers",
    f"""
    WITH per_cust AS (
      SELECT o_custkey, COUNT(*) AS n_orders,
             CAST(SUM({_MICROS_SQL.format(expr='o_totalprice')}) AS BIGINT)
               AS spend_micros
      FROM orders GROUP BY o_custkey
    )
    SELECT o_custkey, n_orders, spend_micros FROM per_cust p
    WHERE NOT EXISTS (
      SELECT 1 FROM per_cust q
      WHERE q.n_orders >= p.n_orders AND q.spend_micros >= p.spend_micros
        AND (q.n_orders > p.n_orders OR q.spend_micros > p.spend_micros)
    )
    """,
)
def q_pareto_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    o = load_table(spark, sf_dir, "orders")
    per_cust = o.groupBy("o_custkey").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(_micros(F.col("o_totalprice"))).alias("spend_micros"),
    )
    # tiny relation: one row per DISTINCT n_orders value
    by_n = per_cust.groupBy("n_orders").agg(
        F.max("spend_micros").alias("max_spend")
    )
    # running max of max_spend over STRICTLY greater n (window over
    # the tiny by_n relation only)
    w = Window.orderBy(F.desc("n_orders")).rowsBetween(
        Window.unboundedPreceding, -1
    )
    dom = by_n.select(
        "n_orders",
        "max_spend",
        F.coalesce(F.max("max_spend").over(w), F.lit(-1)).alias("hi_spend"),
    )
    # a customer is on the frontier iff: no higher-n customer reaches
    # their spend (spend > hi_spend) AND no same-n customer strictly
    # exceeds them (spend == max_spend of their n)
    return (
        per_cust.join(F.broadcast(dom), "n_orders")
        .filter(
            (F.col("spend_micros") > F.col("hi_spend"))
            & (F.col("spend_micros") == F.col("max_spend"))
        )
        .select("o_custkey", "n_orders", "spend_micros")
    )


# Top-k per group WITH TIES — RANK() semantics vs q_topk_per_group's
# ROW_NUMBER(): every order tying the k-th price stays in. Same
# one-window shape; group cardinality is the segment count, fine for
# a top-k report (the two-phase rank exists for fact-wide ranking).
@register(
    "q_topk_with_ties",
    f"""
    SELECT c_mktsegment, o_orderkey, o_totalprice, CAST(rnk AS BIGINT) AS rnk
    FROM (
      SELECT c_mktsegment, o_orderkey, o_totalprice,
             RANK() OVER (PARTITION BY c_mktsegment
                          ORDER BY {_MICROS_SQL.format(expr='o_totalprice')} DESC
                          ) AS rnk
      FROM orders JOIN customer ON o_custkey = c_custkey
    ) WHERE rnk <= 3
    """,
)
def q_topk_with_ties(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    joined = o.join(c, F.col("o_custkey") == F.col("c_custkey"))
    # rank on exact integer micros, never rounded doubles — the tie
    # CLASSES must agree bit-for-bit across engines for RANK parity
    w = Window.partitionBy("c_mktsegment").orderBy(
        _micros(F.col("o_totalprice")).desc()
    )
    return (
        joined.select(
            "c_mktsegment", "o_orderkey", "o_totalprice",
            F.rank().over(w).cast("long").alias("rnk"),
        )
        .filter(F.col("rnk") <= 3)
    )


# Hierarchical share-of-parent: each nation's revenue share WITHIN
# its region (and each region's share of the total). Two map-side
# aggregates; every share divides exact micros sums; all dimension
# joins broadcast; share windows only over the tiny nation/region
# relations.
@register(
    "q_share_of_parent",
    f"""
    WITH nat AS (
      SELECT r.r_name AS region, n.n_name AS nation,
             CAST(SUM({_MICROS_SQL.format(expr='o_totalprice')}) AS BIGINT)
               AS rev_micros
      FROM orders o
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation n ON c.c_nationkey = n.n_nationkey
      JOIN region r ON n.n_regionkey = r.r_regionkey
      GROUP BY 1, 2
    )
    SELECT region, nation, rev_micros,
           CAST(rev_micros AS DOUBLE)
             / CAST(SUM(rev_micros) OVER (PARTITION BY region) AS DOUBLE)
             AS share_of_region,
           CAST(CAST(SUM(rev_micros) OVER (PARTITION BY region) AS BIGINT) AS DOUBLE)
             / CAST(SUM(rev_micros) OVER () AS DOUBLE) AS region_share
    FROM nat
    """,
)
def q_share_of_parent(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    nat = (
        o.join(c, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy(F.col("r_name").alias("region"), F.col("n_name").alias("nation"))
        .agg(F.sum(_micros(F.col("o_totalprice"))).alias("rev_micros"))
    )
    wr = Window.partitionBy("region")
    wall = Window.partitionBy()
    return nat.select(
        "region",
        "nation",
        "rev_micros",
        (
            F.col("rev_micros").cast("double")
            / F.sum("rev_micros").over(wr).cast("double")
        ).alias("share_of_region"),
        (
            F.sum("rev_micros").over(wr).cast("double")
            / F.sum("rev_micros").over(wall).cast("double")
        ).alias("region_share"),
    )


# New-vs-returning daily active users. The scale move is the same one
# q_active_users makes: collapse events to DISTINCT (user, day) FIRST
# (the big cardinality drop), derive first-seen per user from that
# relation, and key BOTH following shuffles on user_id so the exchange
# is reused; the day-grain aggregate at the end is tiny.
@register(
    "q_new_vs_returning",
    """
    WITH ud AS (
      SELECT DISTINCT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day, user_id
      FROM events
    ), fs AS (
      SELECT user_id, MIN(day) AS first_day FROM ud GROUP BY user_id
    )
    SELECT day,
           CAST(SUM(CASE WHEN day = first_day THEN 1 ELSE 0 END) AS BIGINT)
             AS new_users,
           CAST(SUM(CASE WHEN day > first_day THEN 1 ELSE 0 END) AS BIGINT)
             AS returning_users
    FROM ud JOIN fs USING (user_id)
    GROUP BY day
    """,
)
def q_new_vs_returning(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    day = F.date_trunc("day", F.col("ts"))
    ud = ev.select(day.alias("day"), "user_id").distinct()
    first = ud.groupBy("user_id").agg(F.min("day").alias("first_day"))
    return (
        ud.join(first, "user_id")
        .groupBy("day")
        .agg(
            F.sum(
                F.when(F.col("day") == F.col("first_day"), 1).otherwise(0)
            ).alias("new_users"),
            F.sum(
                F.when(F.col("day") > F.col("first_day"), 1).otherwise(0)
            ).alias("returning_users"),
        )
    )


# Gopher-style (Rae et al. 2021) rule-based quality gate: word count
# bounds, mean-word-length band, alphabetic-word fraction — all pure
# JVM expressions in ONE scan, no Python in the path. Ratios are
# micros-quantized exact ints (cross-engine float guard); the pass
# flag ANDs the rules so downstream filters are a scan predicate.
@register(
    "q_gopher_quality",
    f"""
    WITH m AS (
      SELECT doc_id,
             len({_TOKENS_SQL}) AS n_words,
             length(replace({_NORM_SQL}, ' ', '')) AS word_chars,
             len(list_filter({_TOKENS_SQL}, t -> regexp_matches(t, '[a-z]')))
               AS alpha_words
      FROM documents
    )
    SELECT doc_id,
           CAST(n_words AS BIGINT) AS n_words,
           {_MICROS_SQL.format(expr='word_chars * 1.0 / n_words')}
             AS mean_word_len_micros,
           {_MICROS_SQL.format(expr='alpha_words * 1.0 / n_words')}
             AS alpha_frac_micros,
           (n_words BETWEEN 25 AND 100000
            AND {_MICROS_SQL.format(expr='word_chars * 1.0 / n_words')}
                BETWEEN 3000000 AND 10000000
            AND {_MICROS_SQL.format(expr='alpha_words * 1.0 / n_words')}
                >= 800000) AS passes
    FROM m
    """,
)
def q_gopher_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = core_ops.spread(load_table(spark, sf_dir, "documents"))
    text = F.col("text")
    norm = text_fns.normalize(text)
    toks = text_fns.tokens(text)
    n_words = F.size(toks).cast("long")
    word_chars = F.length(F.replace(norm, F.lit(" "), F.lit("")))
    alpha_words = F.size(F.filter(toks, lambda t: t.rlike("[a-z]")))
    m = docs.select(
        "doc_id",
        n_words.alias("n_words"),
        _micros(word_chars.cast("double") / n_words).alias(
            "mean_word_len_micros"
        ),
        _micros(alpha_words.cast("double") / n_words).alias(
            "alpha_frac_micros"
        ),
    )
    return m.withColumn(
        "passes",
        F.col("n_words").between(25, 100000)
        & F.col("mean_word_len_micros").between(3000000, 10000000)
        & (F.col("alpha_frac_micros") >= 800000),
    )


# Exact covariance matrix of the embedding dimensions, computed as a
# DECLARATIVE plan: quantize each component to 2^20 fixed point (one
# transform), emit the upper-triangle outer products IN THE SCAN STAGE
# via nested array transforms (no self-join, no second shuffle of the
# corpus), and let map-side partial aggregation collapse the d^2/2
# expansion to O(d^2) rows per task before the only exchange. First
# moments come from a posexplode pass over the same quantized column.
# The (n*S_ij - S_i*S_j) combination runs in DECIMAL(38,0) (Spark) /
# HUGEINT (DuckDB) — identical integers, so the final int->double
# conversion is bit-equal in both engines.
@register(
    "q_embed_covariance",
    """
    WITH q AS (
      SELECT vec_id,
             list_transform(embedding,
               x -> CAST(floor(CAST(x AS DOUBLE) * 1048576 + 0.5) AS BIGINT))
               AS qv
      FROM embeddings
    ), ex AS (
      SELECT vec_id, generate_subscripts(qv, 1) - 1 AS i, unnest(qv) AS qi
      FROM q
    ), g AS (
      SELECT a.i AS i, b.i AS j,
             SUM(CAST(a.qi AS HUGEINT) * b.qi) AS s_ij
      FROM ex a JOIN ex b ON a.vec_id = b.vec_id AND a.i <= b.i
      GROUP BY 1, 2
    ), m AS (
      SELECT i, SUM(CAST(qi AS HUGEINT)) AS s, COUNT(*) AS n FROM ex GROUP BY i
    )
    SELECT CAST(g.i AS BIGINT) AS i, CAST(g.j AS BIGINT) AS j,
           -- VARCHAR round-trip: DuckDB's direct HUGEINT->DOUBLE cast
           -- double-rounds through 64-bit halves and is off by one
           -- ulp once |c| crosses 2^53 (caught by the r12 sf1 sweep:
           -- 99/2080 cells); string->double is correctly rounded and
           -- matches Spark's decimal->double exactly.
           CAST(CAST(mi.n * s_ij - mi.s * mj.s AS VARCHAR) AS DOUBLE)
             / mi.n / mi.n / 1048576 / 1048576 AS cov
    FROM g JOIN m mi ON g.i = mi.i JOIN m mj ON g.j = mj.i
    """,
)
def q_embed_covariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    from frames_spark.functions.vectors import to_fixed
    from frames_spark.operators.core import spread

    e = load_table(spark, sf_dir, "embeddings")
    # spread: the 2080-struct-per-row outer-product explode is pure
    # CPU and the small corpus arrives as one scan partition (no-op
    # at scale; measured ~3x on the gram stage at sf0.1)
    q = spread(e).select(to_fixed(F.col("embedding")).alias("qv"))
    # upper-triangle outer products, built entirely inside the scan
    # stage: flatten(transform x transform over slice) — the corpus is
    # read once and never self-joined
    terms = q.select(
        F.explode(
            F.expr(
                "flatten(transform(qv, (xi, i) -> "
                "transform(slice(qv, i + 1, size(qv) - i), (xj, jo) -> "
                "struct(CAST(i AS BIGINT) AS i, CAST(i + jo AS BIGINT) AS j, "
                "xi * xj AS prod))))"
            )
        ).alias("t")
    ).select("t.i", "t.j", "t.prod")
    gram = terms.groupBy("i", "j").agg(F.sum("prod").alias("s_ij"))
    moments = (
        q.select(F.posexplode("qv").alias("i", "qi"))
        .groupBy(F.col("i").cast("long").alias("i"))
        .agg(F.sum("qi").alias("s"), F.count(F.lit(1)).alias("n"))
    )
    mi = moments.select(
        F.col("i"), F.col("s").alias("s_i"), F.col("n").alias("n")
    )
    mj = moments.select(F.col("i").alias("j"), F.col("s").alias("s_j"))
    dec = "decimal(38,0)"
    fp2 = float(1 << 20) * float(1 << 20)
    return (
        gram.join(F.broadcast(mi), "i")
        .join(F.broadcast(mj), "j")
        .select(
            "i",
            "j",
            (
                (
                    F.col("n").cast(dec) * F.col("s_ij").cast(dec)
                    - F.col("s_i").cast(dec) * F.col("s_j").cast(dec)
                ).cast("double")
                / F.col("n")
                / F.col("n")
                / F.lit(fp2)
            ).alias("cov"),
        )
    )


# Exact phi-heavy-hitter tokens via Misra-Gries pruning + recount
# (operators/sketches.py heavy_hitters). The sketch pass bounds
# memory at O(m) per partition and the shuffle at O(candidates);
# the exact recount + threshold makes the OUTPUT deterministic —
# partition layout can change which extra candidates MG emits, never
# which tokens survive — so a plain exact-count SQL oracle applies.
@register(
    "q_heavy_hitters",
    f"""
    WITH toks AS (
      SELECT unnest({_TOKENS_SQL}) AS tok FROM documents
    ), tot AS (SELECT COUNT(*) AS n_total FROM toks)
    SELECT tok, CAST(COUNT(*) AS BIGINT) AS cnt,
           CAST(MIN(n_total) AS BIGINT) AS n_total
    FROM toks CROSS JOIN tot
    GROUP BY tok
    HAVING COUNT(*) >= ceil(0.02 * MIN(n_total))
    """,
)
def q_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from frames_spark.operators.sketches import heavy_hitters

    docs = core_ops.spread(load_table(spark, sf_dir, "documents"))
    toks = docs.select(
        F.explode(text_fns.tokens(F.col("text"))).alias("tok")
    )
    return heavy_hitters(toks, "tok", phi=0.02, m=256)


# BM25 relevance of every document against a fixed query-term set —
# the retrieval scorer a corpus pipeline uses for targeted slicing.
# Scale shape: tokens are FILTERED to the query terms inside the scan
# (array filter before explode), so the per-doc tf relation is
# O(docs x |query|), never the token stream; document-frequency and
# corpus stats are 1-row/3-row broadcasts. Per-term scores are
# micros-quantized before the doc-level sum (ln() libm guard, same
# as q_unigram_logprob).
_BM25_TERMS = ("spark", "query", "join")
_BM25_TERMS_SQL = ", ".join(f"'{t}'" for t in _BM25_TERMS)


@register(
    "q_bm25",
    f"""
    WITH docs AS (
      SELECT doc_id, len({_TOKENS_SQL}) AS dl,
             list_filter({_TOKENS_SQL}, t -> t IN ({_BM25_TERMS_SQL})) AS qt
      FROM documents
    ), stats AS (
      SELECT COUNT(*) AS n_docs, SUM(dl) AS total_len FROM docs
    ), tf AS (
      SELECT doc_id, dl, unnest(qt) AS term FROM docs
    ), tfc AS (
      SELECT doc_id, dl, term, COUNT(*) AS tf FROM tf GROUP BY 1, 2, 3
    ), dft AS (
      SELECT term, COUNT(*) AS df FROM tfc GROUP BY term
    )
    SELECT doc_id, CAST(SUM({_MICROS_SQL.format(expr='''
             ln(1 + (n_docs - df + 0.5) / (df + 0.5))
             * tf * 2.2
             / (tf + 1.2 * (0.25 + 0.75 * dl * n_docs / total_len))''')})
           AS BIGINT) AS score_micros
    FROM tfc JOIN dft USING (term) CROSS JOIN stats
    GROUP BY doc_id
    """,
)
def q_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = core_ops.spread(load_table(spark, sf_dir, "documents"))
    toks = text_fns.tokens(F.col("text"))
    base = docs.select(
        "doc_id",
        F.size(toks).cast("long").alias("dl"),
        F.filter(
            toks, lambda t: t.isin(*_BM25_TERMS)
        ).alias("qt"),
    )
    stats = base.groupBy().agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("dl").alias("total_len"),
    )
    tfc = (
        base.select("doc_id", "dl", F.explode("qt").alias("term"))
        .groupBy("doc_id", "dl", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dft = tfc.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    k1, b = 1.2, 0.75
    idf = F.log(
        1.0
        + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
    )
    norm = F.col("tf") + k1 * (
        (1 - b)
        + b * F.col("dl") * F.col("n_docs") / F.col("total_len")
    )
    term_score = idf * F.col("tf") * (k1 + 1) / norm
    return (
        tfc.join(F.broadcast(dft), "term")
        .crossJoin(F.broadcast(stats))
        .groupBy("doc_id")
        .agg(F.sum(_micros(term_score)).alias("score_micros"))
    )
