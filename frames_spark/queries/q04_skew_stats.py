"""q04_skew_stats — query registry, module 4 of 9: key skew and salted
aggregation, retention/churn cohorts, graph queries (triangles,
degrees, PageRank), funnels and attribution, product quantization
ANN, and the distribution tests (KS, PSI, Benford, Mann-Whitney).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from frames_spark.functions import text as text_fns
from frames_spark.functions.hashing import hash60_sql
from frames_spark.operators import core as core_ops
from frames_spark.operators import window as win_ops
from frames_spark.operators.ranking import grouped_rank
from frames_spark.queries.q01_core_ops import (
    _FIXED_SQL,
    _IVF_CENTS_VALUES,
    _MICROS_SQL,
    _TOKENS_SQL,
    ORACLES,
    _lang_case,
    _micros,
    register,
)
from frames_spark.queries.q03_text_quality import q_minhash_accuracy
from frames_spark.sources.tables import load_table


# Join-key skew diagnostics — the pre-flight check a 100 TB join
# needs before it shuffles: per-key row counts reduced to a tiny
# distribution summary (max/avg/top-share). Two-level aggregation —
# the per-key counts combine map-side, and every statistic over them
# is a second O(distinct keys) agg; nothing ever sorts the fact table.
@register(
    "q_key_skew",
    """
    WITH per_key AS (
      SELECT l_orderkey, COUNT(*) AS cnt FROM lineitem GROUP BY l_orderkey
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_keys,
           CAST(SUM(cnt) AS BIGINT) AS n_rows,
           CAST(MAX(cnt) AS BIGINT) AS max_key_rows,
           CAST(FLOOR(SUM(cnt) * 1.0 / COUNT(*) * 1000000 + 0.5) AS BIGINT)
             AS avg_key_rows_micros,
           CAST(FLOOR(MAX(cnt) * COUNT(*) * 1.0 / SUM(cnt) * 1000000 + 0.5)
             AS BIGINT) AS skew_factor_micros
    FROM per_key
    """,
)
def q_key_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    per_key = li.groupBy("l_orderkey").agg(F.count(F.lit(1)).alias("cnt"))
    return per_key.agg(
        F.count(F.lit(1)).alias("n_keys"),
        F.sum("cnt").alias("n_rows"),
        F.max("cnt").alias("max_key_rows"),
        _micros(F.sum("cnt") * 1.0 / F.count(F.lit(1))).alias(
            "avg_key_rows_micros"
        ),
        _micros(
            F.max("cnt") * F.count(F.lit(1)) * 1.0 / F.sum("cnt")
        ).alias("skew_factor_micros"),
    )


# Per-group exact nearest-rank median WITHOUT percentile()'s
# whole-group value buffering: the two-phase distributed rank
# (operators/ranking.py) turns the median into `rank == ceil(n/2)` —
# a filter — so parallelism is partitions x groups and no reducer
# ever holds a group's values. The grouped twin of
# q_quantiles_scalable.
@register(
    "q_group_median_scalable",
    f"""
    WITH r AS (
      SELECT c_mktsegment, o_totalprice,
             ROW_NUMBER() OVER (PARTITION BY c_mktsegment
               ORDER BY {_MICROS_SQL.format(expr='o_totalprice')}, o_orderkey)
               AS rn,
             COUNT(*) OVER (PARTITION BY c_mktsegment) AS n
      FROM orders JOIN customer ON o_custkey = c_custkey
    )
    SELECT c_mktsegment, o_totalprice AS median_price,
           CAST(n AS BIGINT) AS n
    FROM r WHERE rn = ceil(n / 2.0)
    """,
)
def q_group_median_scalable(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    joined = o.join(
        c, F.col("o_custkey") == F.col("c_custkey")
    ).select("c_mktsegment", "o_totalprice", "o_orderkey")
    ranked = grouped_rank(
        joined,
        ["c_mktsegment"],
        [_micros(F.col("o_totalprice")), F.col("o_orderkey")],
        rank_col="rn",
        count_col="n",
    )
    return ranked.filter(
        F.col("rn") == F.ceil(F.col("n") / 2.0)
    ).select(
        "c_mktsegment",
        F.col("o_totalprice").alias("median_price"),
        F.col("n").cast("long").alias("n"),
    )


# Weekly churn: users active in week w but absent in w+1. Collapse
# to DISTINCT (user, week) first, then ONE lead window keyed by
# user — no week-to-week self-join of the activity table. The last
# observed week is excluded (its churn is not yet knowable); that
# horizon comes from a 1-row max broadcast, not a driver collect.
@register(
    "q_churn",
    """
    WITH um AS (
      SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS TIMESTAMP) AS m
      FROM events
    ), nxt AS (
      SELECT user_id, m,
             LEAD(m) OVER (PARTITION BY user_id ORDER BY m) AS next_m
      FROM um
    ), horizon AS (SELECT MAX(m) AS max_m FROM um)
    SELECT m,
           CAST(COUNT(*) AS BIGINT) AS n_active,
           CAST(SUM(CASE WHEN next_m IS NULL
                          OR next_m > m + INTERVAL 7 DAYS
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_churned
    FROM nxt CROSS JOIN horizon
    WHERE m < max_m
    GROUP BY m
    """,
)
def q_churn(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    um = ev.select(
        "user_id", F.date_trunc("week", F.col("ts")).alias("m")
    ).distinct()
    w = Window.partitionBy("user_id").orderBy("m")
    nxt = um.withColumn("next_m", F.lead("m").over(w))
    horizon = um.groupBy().agg(F.max("m").alias("max_m"))
    churned = F.when(
        F.col("next_m").isNull()
        | (F.col("next_m") > F.col("m") + F.expr("INTERVAL 7 DAYS")),
        1,
    ).otherwise(0)
    return (
        nxt.crossJoin(F.broadcast(horizon))
        .filter(F.col("m") < F.col("max_m"))
        .groupBy("m")
        .agg(
            F.count(F.lit(1)).alias("n_active"),
            F.sum(churned).alias("n_churned"),
        )
    )


# Weekly stickiness (mean DAU / WAU): the standard engagement ratio.
# All cardinality drops happen FIRST (distinct user-day pairs), the
# rest is day- and week-grain arithmetic over tiny relations; the
# ratio divides exact integers once, micros-quantized.
@register(
    "q_stickiness",
    """
    WITH ud AS (
      SELECT DISTINCT user_id,
             CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
             CAST(date_trunc('week', ts) AS TIMESTAMP) AS m
      FROM events
    ), daily AS (
      SELECT m, day, COUNT(*) AS dau FROM ud GROUP BY m, day
    ), monthly AS (
      SELECT m, COUNT(DISTINCT user_id) AS wau FROM ud GROUP BY m
    ), per_month AS (
      SELECT m, CAST(SUM(dau) AS BIGINT) AS sum_dau,
             CAST(COUNT(*) AS BIGINT) AS n_days
      FROM daily GROUP BY m
    )
    SELECT m, sum_dau, n_days, CAST(wau AS BIGINT) AS wau,
           CAST(FLOOR(sum_dau * 1.0 / n_days / wau * 1000000 + 0.5) AS BIGINT)
             AS stickiness_micros
    FROM per_month JOIN monthly USING (m)
    """,
)
def q_stickiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    ud = ev.select(
        "user_id",
        F.date_trunc("day", F.col("ts")).alias("day"),
        F.date_trunc("week", F.col("ts")).alias("m"),
    ).distinct()
    daily = ud.groupBy("m", "day").agg(F.count(F.lit(1)).alias("dau"))
    monthly = ud.groupBy("m").agg(
        F.count_distinct("user_id").alias("wau")
    )
    per_month = daily.groupBy("m").agg(
        F.sum("dau").alias("sum_dau"), F.count(F.lit(1)).alias("n_days")
    )
    return per_month.join(monthly, "m").select(
        "m",
        "sum_dau",
        "n_days",
        F.col("wau").cast("long").alias("wau"),
        _micros(
            F.col("sum_dau") * 1.0 / F.col("n_days") / F.col("wau")
        ).alias("stickiness_micros"),
    )


# Each user's 3rd purchase (nth-event extraction). The per-user
# window is the scale-CORRECT shape here — parallelism is the user
# count, groups are tiny — unlike the low-cardinality grouping that
# forces the two-phase rank. Strict (ts, event_id) order for
# deterministic ties.
@register(
    "q_nth_purchase",
    """
    SELECT user_id, ts AS third_purchase_ts, value AS third_purchase_value
    FROM (
      SELECT user_id, ts, value,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS rn
      FROM events WHERE event_type = 'purchase'
    ) WHERE rn = 3
    """,
)
def q_nth_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        ev.filter(F.col("event_type") == "purchase")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 3)
        .select(
            "user_id",
            F.col("ts").alias("third_purchase_ts"),
            F.col("value").alias("third_purchase_value"),
        )
    )


# 7-day rolling MEDIAN of daily revenue — a holistic (not
# decomposable) rolling statistic. The fact table collapses to day
# grain first; the in-window sort touches at most 7 values per row of
# the TINY daily relation (sort_array over a collected frame). The
# nearest-rank element ceil(n/2) equals DuckDB's quantile_disc(0.5)
# (identity: ceil(n/2) == floor((n+1)/2)), so the oracle is exact.
@register(
    "q_rolling_median",
    f"""
    WITH daily AS (
      SELECT CAST(date_trunc('day', o_orderdate) AS TIMESTAMP) AS day,
             CAST(SUM({_MICROS_SQL.format(expr='o_totalprice')}) AS BIGINT)
               AS rev_micros
      FROM orders GROUP BY 1
    )
    SELECT day, rev_micros,
           CAST(quantile_disc(rev_micros, 0.5) OVER (
             ORDER BY day ROWS BETWEEN 6 PRECEDING AND CURRENT ROW
           ) AS BIGINT) AS med7_micros
    FROM daily
    """,
)
def q_rolling_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    o = load_table(spark, sf_dir, "orders")
    daily = o.groupBy(
        F.date_trunc("day", F.col("o_orderdate")).alias("day")
    ).agg(F.sum(_micros(F.col("o_totalprice"))).alias("rev_micros"))
    w = Window.orderBy("day").rowsBetween(-6, 0)
    vals = F.sort_array(F.collect_list("rev_micros").over(w))
    return daily.select(
        "day",
        "rev_micros",
        F.element_at(vals, F.ceil(F.size(vals) / 2.0).cast("int")).alias(
            "med7_micros"
        ),
    )


# Exact join-output cardinality WITHOUT running the join — the
# other pre-flight diagnostic next to q_key_skew: |A ⋈ B| =
# Σ_k cnt_A(k)·cnt_B(k). Both per-key counts combine map-side; the
# only join is between the two O(distinct keys) count relations, so
# the answer costs two scans + one tiny join however large the
# would-be join output (which is the point — you ask BEFORE paying
# for a 10^14-row blowup).
@register(
    "q_join_cardinality_est",
    """
    WITH a AS (
      SELECT o_orderkey AS k, COUNT(*) AS cnt FROM orders GROUP BY 1
    ), b AS (
      SELECT l_orderkey AS k, COUNT(*) AS cnt FROM lineitem GROUP BY 1
    )
    SELECT CAST(SUM(a.cnt * b.cnt) AS BIGINT) AS join_rows,
           CAST(COUNT(*) AS BIGINT) AS matching_keys,
           CAST(MAX(a.cnt * b.cnt) AS BIGINT) AS max_key_fanout
    FROM a JOIN b USING (k)
    """,
)
def q_join_cardinality_est(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    a = o.groupBy(F.col("o_orderkey").alias("k")).agg(
        F.count(F.lit(1)).alias("cnt_a")
    )
    b = li.groupBy(F.col("l_orderkey").alias("k")).agg(
        F.count(F.lit(1)).alias("cnt_b")
    )
    prod = F.col("cnt_a") * F.col("cnt_b")
    return a.join(b, "k").agg(
        F.sum(prod).alias("join_rows"),
        F.count(F.lit(1)).alias("matching_keys"),
        F.max(prod).alias("max_key_fanout"),
    )


# Triangle count on the co-purchase graph (parts co-occurring in an
# order). The naive open-wedge join explodes on hub nodes — "the
# curse of the last reducer" — so edges are oriented LOW-DEGREE ->
# HIGH-DEGREE first (Suri & Vassilvitskii, WWW'11): every triangle is
# closed at its lowest-degree vertex by intersecting out-lists of at
# most ~sqrt(2m) ids (operators/graph.py). Edge building itself is the
# bucketed in-order pair expansion (one groupBy, i<j inside the
# array — the order table never self-joins). The count is
# orientation-invariant, so the oracle uses the simple i<j
# orientation.
@register(
    "q_triangle_count",
    """
    WITH pairs AS (
      SELECT DISTINCT a.l_orderkey,
             LEAST(a.l_partkey, b.l_partkey) AS u,
             GREATEST(a.l_partkey, b.l_partkey) AS v
      FROM lineitem a JOIN lineitem b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    ), e AS (SELECT DISTINCT u, v FROM pairs)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_triangles FROM (
      SELECT 1 FROM e e1
      JOIN e e2 ON e2.u = e1.v
      JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v
    )
    """,
)
def q_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    from frames_spark.operators.graph import (
        cooccur_pairs,
        neighbour_lists,
        triangle_probe,
    )

    li = load_table(spark, sf_dir, "lineitem")
    # One uncached plan: the adjacency's shuffle feeds both probe
    # sides through exchange reuse (see triangle_probe).
    adj = neighbour_lists(cooccur_pairs(li, "l_orderkey", "l_partkey"))
    return triangle_probe(adj).agg(
        F.coalesce(F.sum(F.size("common")), F.lit(0))
        .cast("long")
        .alias("n_triangles")
    )


# Equal-frequency feature binning (10 bins over order price) — the
# ML-prep discretizer. Rides the two-phase distributed rank, so the
# global total order costs partitions x 1 histogram rows, not a
# single-task sort; bin id is pure arithmetic on (rank, n). Strict
# (price, orderkey) order keeps engines bit-agreed on ties.
@register(
    "q_equifreq_bins",
    f"""
    SELECT o_orderkey, o_totalprice,
           CAST(ceil(rn * 10.0 / n) AS BIGINT) AS bin
    FROM (
      SELECT o_orderkey, o_totalprice,
             ROW_NUMBER() OVER (
               ORDER BY {_MICROS_SQL.format(expr='o_totalprice')}, o_orderkey
             ) AS rn,
             COUNT(*) OVER () AS n
      FROM orders
    )
    """,
)
def q_equifreq_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice"
    )
    ranked = grouped_rank(
        o,
        [],
        [_micros(F.col("o_totalprice")), F.col("o_orderkey")],
        rank_col="rn",
        count_col="n",
    )
    return ranked.select(
        "o_orderkey",
        "o_totalprice",
        F.ceil(F.col("rn") * 10.0 / F.col("n")).cast("long").alias("bin"),
    )


# Leave-one-out target encoding of a categorical feature (order
# priority -> mean total price of the OTHER orders in the category).
# One map-side-combined per-category aggregate broadcast back onto
# the fact scan; the LOO subtraction ((S - y) / (n - 1)) happens in
# exact micros per row, so no row ever sees its own target and no
# window materializes per-category row lists. n==1 categories yield
# NULL (nullif guard — ANSI mode raises on /0 otherwise).
@register(
    "q_target_encoding",
    f"""
    WITH stats AS (
      SELECT o_orderpriority,
             SUM({_MICROS_SQL.format(expr='o_totalprice')}) AS s_micros,
             COUNT(*) AS n
      FROM orders GROUP BY 1
    )
    SELECT o_orderkey, o_orderpriority,
           CAST(
             (s_micros - {_MICROS_SQL.format(expr='o_totalprice')}) AS DOUBLE
           ) / nullif(n - 1, 0) / 1000000 AS loo_mean_price
    FROM orders JOIN stats USING (o_orderpriority)
    """,
)
def q_target_encoding(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    stats = o.groupBy("o_orderpriority").agg(
        F.sum(_micros(F.col("o_totalprice"))).alias("s_micros"),
        F.count(F.lit(1)).alias("n"),
    )
    return o.join(F.broadcast(stats), "o_orderpriority").select(
        "o_orderkey",
        "o_orderpriority",
        (
            (F.col("s_micros") - _micros(F.col("o_totalprice"))).cast("double")
            / F.nullif(F.col("n") - 1, F.lit(0))
            / 1000000
        ).alias("loo_mean_price"),
    )


# Language-ID confusion matrix: the classifier eval for q_langid —
# predicted language vs the stored label, with per-cell counts and
# row-normalized rates. One langid pass (all JVM expressions) + one
# tiny groupBy; the rate window runs over the <= |langs|^2 relation.
@register(
    "q_lang_confusion",
    f"""
    WITH toks AS (
      SELECT doc_id, lang, unnest({_TOKENS_SQL}) AS tok FROM documents
    ), scores AS (
      SELECT doc_id, lang,
             {", ".join(_lang_case(lang) for lang in ["en", "de", "fr", "es", "zh"])}
      FROM toks GROUP BY doc_id, lang
    ), pred AS (
      SELECT lang AS actual,
             CASE WHEN score_en >= score_de AND score_en >= score_fr
                       AND score_en >= score_es AND score_en >= score_zh THEN 'en'
                  WHEN score_de >= score_fr AND score_de >= score_es
                       AND score_de >= score_zh THEN 'de'
                  WHEN score_fr >= score_es AND score_fr >= score_zh THEN 'fr'
                  WHEN score_es >= score_zh THEN 'es'
                  ELSE 'zh' END AS predicted
      FROM scores
    )
    SELECT actual, predicted, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(FLOOR(COUNT(*) * 1.0
             / SUM(COUNT(*)) OVER (PARTITION BY actual) * 1000000 + 0.5)
             AS BIGINT) AS rate_micros
    FROM pred GROUP BY actual, predicted
    """,
)
def q_lang_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from frames_spark.functions.langid import language_scores

    docs = core_ops.spread(load_table(spark, sf_dir, "documents"))
    pred = language_scores(docs, "doc_id", "text").select(
        "doc_id", "predicted"
    )
    cells = (
        docs.select("doc_id", F.col("lang").alias("actual"))
        .join(pred, "doc_id")
        .groupBy("actual", "predicted")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w = Window.partitionBy("actual")
    return cells.select(
        "actual",
        "predicted",
        "n",
        _micros(F.col("n") * 1.0 / F.sum("n").over(w)).alias("rate_micros"),
    )


# Deterministic A/B conversion lift: users split into arms by a
# content-hash parity (layout-invariant, the same trick as
# q_train_test_split), conversion = >= 10 purchase events (the raw
# did-purchase flag is vacuously 100% in this corpus, which would
# zero the pooled variance). All counts are exact; lift and the
# pooled two-proportion z statistic are one double expression each
# over those ints (sqrt is IEEE correctly-rounded), micros-quantized
# at the end; nullif guards keep degenerate arms NULL instead of
# raising under ANSI.
@register(
    "q_abtest_lift",
    """
    WITH arms AS (
      SELECT user_id,
             CASE WHEN CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8))
                       AS BIGINT) % 2 = 0 THEN 'A' ELSE 'B' END AS arm,
             CASE WHEN SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                       >= 10 THEN 1 ELSE 0 END AS converted
      FROM events GROUP BY 1
    ), agg AS (
      SELECT CAST(SUM(CASE WHEN arm = 'A' THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
             CAST(SUM(CASE WHEN arm = 'B' THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
             CAST(SUM(CASE WHEN arm = 'A' THEN converted ELSE 0 END) AS BIGINT) AS c_a,
             CAST(SUM(CASE WHEN arm = 'B' THEN converted ELSE 0 END) AS BIGINT) AS c_b
      FROM arms
    )
    SELECT n_a, n_b, c_a, c_b,
           CAST(FLOOR((c_b * 1.0 / n_b) / nullif(c_a * 1.0 / n_a, 0) * 1000000
                - 1000000 + 0.5) AS BIGINT) AS lift_micros,
           CAST(FLOOR((c_b * 1.0 / n_b - c_a * 1.0 / n_a)
             / nullif(sqrt((c_a + c_b) * 1.0 / (n_a + n_b)
                    * (1 - (c_a + c_b) * 1.0 / (n_a + n_b))
                    * (1.0 / n_a + 1.0 / n_b)), 0) * 1000000 + 0.5) AS BIGINT)
             AS z_micros
    FROM agg
    """,
)
def q_abtest_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    arm = F.when(
        F.conv(
            F.substring(F.md5(F.col("user_id").cast("string")), 1, 8), 16, 10
        ).cast("long")
        % 2
        == 0,
        "A",
    ).otherwise("B")
    arms = ev.groupBy("user_id").agg(
        F.when(
            F.sum(
                F.when(F.col("event_type") == "purchase", 1).otherwise(0)
            )
            >= 10,
            1,
        )
        .otherwise(0)
        .alias("converted")
    ).withColumn("arm", arm)
    agg = arms.agg(
        F.sum(F.when(F.col("arm") == "A", 1).otherwise(0)).alias("n_a"),
        F.sum(F.when(F.col("arm") == "B", 1).otherwise(0)).alias("n_b"),
        F.sum(F.when(F.col("arm") == "A", F.col("converted")).otherwise(0)).alias("c_a"),
        F.sum(F.when(F.col("arm") == "B", F.col("converted")).otherwise(0)).alias("c_b"),
    )
    rate_a = F.col("c_a") * 1.0 / F.col("n_a")
    rate_b = F.col("c_b") * 1.0 / F.col("n_b")
    pool = (F.col("c_a") + F.col("c_b")) * 1.0 / (F.col("n_a") + F.col("n_b"))
    z = (rate_b - rate_a) / F.nullif(
        F.sqrt(
            pool * (1 - pool) * (1.0 / F.col("n_a") + 1.0 / F.col("n_b"))
        ),
        F.lit(0.0),
    )
    return agg.select(
        "n_a",
        "n_b",
        "c_a",
        "c_b",
        F.floor(rate_b / F.nullif(rate_a, F.lit(0.0)) * 1000000 - 1000000 + 0.5)
        .cast("long")
        .alias("lift_micros"),
        _micros(z).alias("z_micros"),
    )


# PCA round trip over the embedding corpus (similarity/pca.py).
# Distributed where data-sized (exact fixed-point covariance,
# scan-stage projection), driver-side where tiny (the 64x64
# eigensolve — distributing it would be theater). No portable SQL
# eigensolve exists, so the LAPACK axes can't be value-compared
# directly; instead (r10 verdict #3) the query certifies the
# eigensolve against the ORACLE-EXACT integer power method
# (q_pca_power's power_pca_int): axis_cos_ok pins
# |cos(pc1_eigh, v_power)| > 0.999, var_order_ok pins the
# eigenvalue ordering, and n_vecs counts the actually-projected
# rows (the full fit -> project plan still executes). Every
# compared column is deterministic, so the key is fully
# value-gated; per-vector projections remain the library surface
# (project_pca) with tests/test_pca.py's independent numpy pin.
@register(
    "q_embed_pca",
    """
    SELECT COUNT(*) AS n_vecs,
           TRUE AS axis_cos_ok,
           TRUE AS var_order_ok
    FROM embeddings
    """,
)
def q_embed_pca(spark: SparkSession, sf_dir: str) -> DataFrame:
    import math

    from frames_spark.similarity.pca import (
        fit_pca,
        power_pca_int,
        project_pca,
    )

    e = load_table(spark, sf_dir, "embeddings")
    model = fit_pca(e, "embedding", k=2)
    proj = project_pca(e, "embedding", model)
    v, _lam, _frac, d = power_pca_int(e, "embedding")
    dot = sum(float(model.components[0][i]) * v[i] for i in range(d))
    nv = math.sqrt(sum(float(x) * x for x in v))
    axis_cos_ok = nv > 0 and abs(dot) / nv > 0.999
    var_order_ok = bool(
        model.explained_variance[0] >= model.explained_variance[1]
    )
    return proj.agg(F.count(F.lit(1)).alias("n_vecs")).select(
        "n_vecs",
        F.lit(axis_cos_ok).alias("axis_cos_ok"),
        F.lit(var_order_ok).alias("var_order_ok"),
    )


# MinHash calibration curve: candidate pairs bucketed by the
# signature estimate, with the mean EXACT Jaccard per bucket — the
# plot that tells you where to put the LSH threshold. Pure reuse of
# the q_minhash_accuracy relation (candidate pairs only, never all
# pairs); the aggregate runs over <= 11 buckets. Means divide sums of
# micros-quantized exact ints, so the curve is bit-stable.
@register(
    "q_minhash_calibration",
    f"""
    SELECT CAST(FLOOR(est_jaccard * 10) AS BIGINT) AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(SUM({_MICROS_SQL.format(expr='est_jaccard')}) AS DOUBLE)
             / COUNT(*) / 1000000 AS mean_est,
           CAST(SUM({_MICROS_SQL.format(expr='exact_jaccard')}) AS DOUBLE)
             / COUNT(*) / 1000000 AS mean_exact
    FROM ({{acc}}) acc
    GROUP BY 1
    """.format(acc="{acc}"),
)
def q_minhash_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    acc = q_minhash_accuracy(spark, sf_dir)
    return (
        acc.groupBy(
            F.floor(F.col("est_jaccard") * 10).cast("long").alias("bucket")
        )
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            (
                F.sum(_micros(F.col("est_jaccard"))).cast("double")
                / F.count(F.lit(1))
                / 1000000
            ).alias("mean_est"),
            (
                F.sum(_micros(F.col("exact_jaccard"))).cast("double")
                / F.count(F.lit(1))
                / 1000000
            ).alias("mean_exact"),
        )
    )


ORACLES["q_minhash_calibration"] = ORACLES["q_minhash_calibration"].format(
    acc=ORACLES["q_minhash_accuracy"]
)


# Degree distribution of the co-purchase graph — the first thing you
# look at before any graph algorithm (it decides whether degree-
# ordered orientation, salting, or plain joins are needed). Edges via
# the same no-self-join expansion as q_triangle_count; two map-side-
# combined groupBys after that.
@register(
    "q_degree_dist",
    """
    WITH pairs AS (
      SELECT DISTINCT LEAST(a.l_partkey, b.l_partkey) AS u,
             GREATEST(a.l_partkey, b.l_partkey) AS v
      FROM lineitem a JOIN lineitem b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    ), deg AS (
      SELECT n, COUNT(*) AS degree FROM (
        SELECT u AS n FROM pairs UNION ALL SELECT v FROM pairs
      ) GROUP BY n
    )
    SELECT CAST(degree AS BIGINT) AS degree,
           CAST(COUNT(*) AS BIGINT) AS n_nodes
    FROM deg GROUP BY degree
    """,
)
def q_degree_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    from frames_spark.operators.graph import cooccur_edges, degrees

    li = load_table(spark, sf_dir, "lineitem")
    edges = cooccur_edges(li, "l_orderkey", "l_partkey")
    deg = degrees(edges, deg_col="degree")
    return deg.groupBy("degree").agg(F.count(F.lit(1)).alias("n_nodes"))


# END-TO-END product-analytics pipeline (pipelines/product.py):
# sessionize -> per-user engagement rollup -> recency vs corpus
# horizon -> rule-based segment, one lazy plan with a full
# cross-engine oracle — the analytics twin of q_pipeline_clean.
@register(
    "q_pipeline_product",
    """
    WITH sessions AS (
      SELECT user_id, value, ts,
             SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS session_id
      FROM (
        SELECT event_id, user_id, ts, value,
               CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                         OR date_diff('second',
                                      CAST(lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS TIMESTAMP),
                                      CAST(ts AS TIMESTAMP)) > 1800
                    THEN 1 ELSE 0 END AS is_new
        FROM events
      )
    ), per_user AS (
      SELECT user_id,
             CAST(MAX(session_id) AS BIGINT) AS n_sessions,
             CAST(COUNT(*) AS BIGINT) AS n_events,
             CAST(SUM(CAST(FLOOR(value * 1000000 + 0.5) AS BIGINT)) AS BIGINT)
               AS total_value_micros,
             MAX(epoch_us(CAST(ts AS TIMESTAMP))) AS last_us
      FROM sessions GROUP BY user_id
    ), horizon AS (
      SELECT MAX(epoch_us(CAST(ts AS TIMESTAMP))) AS max_us FROM events
    )
    SELECT user_id, n_sessions, n_events, total_value_micros,
           CAST((max_us - last_us) // 86400000000 AS BIGINT) AS recency_days,
           CASE WHEN (max_us - last_us) // 86400000000 <= 7
                     AND n_sessions >= 30 THEN 'core'
                WHEN (max_us - last_us) // 86400000000 <= 7 THEN 'engaged'
                WHEN (max_us - last_us) // 86400000000 <= 14 THEN 'lapsing'
                ELSE 'dormant' END AS segment
    FROM per_user CROSS JOIN horizon
    """,
)
def q_pipeline_product(spark: SparkSession, sf_dir: str) -> DataFrame:
    from frames_spark.pipelines.product import engagement_segments

    ev = load_table(spark, sf_dir, "events")
    return engagement_segments(ev)


# Event-type co-occurrence PMI within sessions — "which behaviors go
# together". Sessions from the standard lag+cumsum pass; each
# session's DISTINCT type set collapses in one groupBy and pairs
# expand IN-ARRAY (i<j over the sorted set, never a session-level
# self-join); marginals and the session total are tiny broadcasts.
# ln() micros-quantized as usual.
@register(
    "q_cooccurrence_pmi",
    """
    WITH marked AS (
      SELECT user_id, event_type, event_id, ts,
             CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                       OR date_diff('second',
                                    CAST(lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS TIMESTAMP),
                                    CAST(ts AS TIMESTAMP)) > 1800
                  THEN 1 ELSE 0 END AS is_new
      FROM events
    ), sess AS (
      SELECT user_id, event_type,
             SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS session_id
      FROM marked
    ), st AS (
      SELECT DISTINCT user_id, session_id, event_type FROM sess
    ), singles AS (
      SELECT event_type, COUNT(*) AS n FROM st GROUP BY 1
    ), total AS (
      SELECT COUNT(DISTINCT (user_id, session_id)) AS s FROM st
    ), pairs AS (
      SELECT a.event_type AS type_a, b.event_type AS type_b,
             COUNT(*) AS n_ab
      FROM st a JOIN st b
        ON a.user_id = b.user_id AND a.session_id = b.session_id
       AND a.event_type < b.event_type
      GROUP BY 1, 2
    )
    SELECT type_a, type_b, CAST(n_ab AS BIGINT) AS n_ab,
           CAST(FLOOR(ln(s * 1.0 * n_ab / (sa.n * 1.0 * sb.n)) * 1000000
                + 0.5) AS BIGINT) AS pmi_micros
    FROM pairs
    JOIN singles sa ON sa.event_type = type_a
    JOIN singles sb ON sb.event_type = type_b
    CROSS JOIN total
    """,
)
def q_cooccurrence_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    sess = win_ops.sessionize(
        ev, "user_id", "ts", 1800, order_tiebreak=["event_id"]
    )
    st = sess.select("user_id", "session_id", "event_type").distinct()
    per_session = st.groupBy("user_id", "session_id").agg(
        F.array_sort(F.collect_set("event_type")).alias("types")
    )
    pairs = (
        per_session.select(
            F.explode(
                F.expr(
                    "flatten(transform(types, (x, i) -> "
                    "transform(slice(types, i + 2, size(types) - i - 1), "
                    "y -> struct(x AS type_a, y AS type_b))))"
                )
            ).alias("p")
        )
        .groupBy("p.type_a", "p.type_b")
        .agg(F.count(F.lit(1)).alias("n_ab"))
    )
    singles = st.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    total = per_session.agg(F.count(F.lit(1)).alias("s"))
    sa = singles.select(
        F.col("event_type").alias("type_a"), F.col("n").alias("n_a")
    )
    sb = singles.select(
        F.col("event_type").alias("type_b"), F.col("n").alias("n_b")
    )
    pmi = F.log(
        F.col("s") * 1.0 * F.col("n_ab") / (F.col("n_a") * 1.0 * F.col("n_b"))
    )
    return (
        pairs.join(F.broadcast(sa), "type_a")
        .join(F.broadcast(sb), "type_b")
        .crossJoin(F.broadcast(total))
        .select("type_a", "type_b", "n_ab", _micros(pmi).alias("pmi_micros"))
    )


# 2-D histogram (price x quantity bins over lineitem) — the heatmap
# feed. One map-side-combined groupBy over integer bin ids; output is
# O(bins^2) rows however large the fact table.
@register(
    "q_histogram_2d",
    f"""
    SELECT {_MICROS_SQL.format(expr='l_extendedprice')} // 10000000000 AS price_bin,
           CAST(l_quantity AS BIGINT) AS qty_bin,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM lineitem GROUP BY 1, 2
    """,
)
def q_histogram_2d(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy(
        F.expr(
            f"{_MICROS_SQL.format(expr='l_extendedprice')} DIV 10000000000"
        ).alias("price_bin"),
        F.col("l_quantity").cast("long").alias("qty_bin"),
    ).agg(F.count(F.lit(1)).alias("n"))


# Cohort LTV: purchase revenue by (first-seen week, weeks since) —
# the monetary counterpart of q_cohort_retention. Same exchange
# chain: everything keys on user_id until the tiny cohort matrix.
@register(
    "q_ltv_cohort",
    """
    WITH firsts AS (
      SELECT user_id,
             CAST(date_trunc('week', MIN(ts)) AS TIMESTAMP) AS cohort
      FROM events GROUP BY user_id
    )
    SELECT cohort,
           CAST(date_diff('day', cohort,
                CAST(date_trunc('week', ts) AS TIMESTAMP)) // 7 AS BIGINT)
             AS weeks_since,
           CAST(SUM(CAST(FLOOR(value * 1000000 + 0.5) AS BIGINT)) AS BIGINT)
             AS revenue_micros,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_buyers
    FROM events JOIN firsts USING (user_id)
    WHERE event_type = 'purchase'
    GROUP BY 1, 2
    """,
)
def q_ltv_cohort(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    firsts = ev.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).alias("cohort")
    )
    weeks_since = F.expr(
        "CAST(datediff(date_trunc('week', ts), cohort) DIV 7 AS BIGINT)"
    )
    return (
        ev.filter(F.col("event_type") == "purchase")
        .join(firsts, "user_id")
        .groupBy("cohort", weeks_since.alias("weeks_since"))
        .agg(
            F.sum(
                F.floor(F.col("value") * 1_000_000 + 0.5).cast("long")
            ).alias("revenue_micros"),
            F.count_distinct("user_id").alias("n_buyers"),
        )
    )


# Weekly activity-level migration matrix: each active (user, week)
# labeled heavy/light by event count, crossed with the SAME user's
# level in the NEXT calendar week ('churn' if absent). One lead
# window keyed by user over the distinct user-week relation — no
# week-over-week self-join; the matrix is at most levels^2 rows. The
# final observed week is excluded via a 1-row horizon broadcast.
@register(
    "q_segment_migration",
    """
    WITH uw AS (
      SELECT user_id, CAST(date_trunc('week', ts) AS TIMESTAMP) AS wk,
             CASE WHEN COUNT(*) >= 15 THEN 'heavy' ELSE 'light' END AS lvl
      FROM events GROUP BY 1, 2
    ), nxt AS (
      SELECT user_id, wk, lvl,
             LEAD(wk) OVER (PARTITION BY user_id ORDER BY wk) AS next_wk,
             LEAD(lvl) OVER (PARTITION BY user_id ORDER BY wk) AS next_lvl
      FROM uw
    ), horizon AS (SELECT MAX(wk) AS max_wk FROM uw)
    SELECT lvl AS from_lvl,
           CASE WHEN next_wk = wk + INTERVAL 7 DAYS THEN next_lvl
                ELSE 'churn' END AS to_lvl,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM nxt CROSS JOIN horizon
    WHERE wk < max_wk
    GROUP BY 1, 2
    """,
)
def q_segment_migration(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    uw = ev.groupBy(
        "user_id", F.date_trunc("week", F.col("ts")).alias("wk")
    ).agg(
        F.when(F.count(F.lit(1)) >= 15, "heavy")
        .otherwise("light")
        .alias("lvl")
    )
    w = Window.partitionBy("user_id").orderBy("wk")
    nxt = uw.select(
        "user_id",
        "wk",
        "lvl",
        F.lead("wk").over(w).alias("next_wk"),
        F.lead("lvl").over(w).alias("next_lvl"),
    )
    horizon = uw.groupBy().agg(F.max("wk").alias("max_wk"))
    to_lvl = F.when(
        F.col("next_wk") == F.col("wk") + F.expr("INTERVAL 7 DAYS"),
        F.col("next_lvl"),
    ).otherwise("churn")
    return (
        nxt.crossJoin(F.broadcast(horizon))
        .filter(F.col("wk") < F.col("max_wk"))
        .groupBy(F.col("lvl").alias("from_lvl"), to_lvl.alias("to_lvl"))
        .agg(F.count(F.lit(1)).alias("n"))
    )


# Daily revenue split by new vs returning buyers — the monetary
# companion of q_new_vs_returning. Purchase revenue collapses to
# (user, day) grain first; first-seen derives from the ACTIVITY
# relation (any event type), both shuffles keyed user_id.
@register(
    "q_revenue_new_vs_returning",
    """
    WITH ud AS (
      SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS TIMESTAMP) AS day
      FROM events
    ), fs AS (SELECT user_id, MIN(day) AS first_day FROM ud GROUP BY 1),
    rev AS (
      SELECT user_id, CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
             SUM(CAST(FLOOR(value * 1000000 + 0.5) AS BIGINT)) AS rev_micros
      FROM events WHERE event_type = 'purchase' GROUP BY 1, 2
    )
    SELECT day,
           CAST(SUM(CASE WHEN day = first_day THEN rev_micros ELSE 0 END)
                AS BIGINT) AS new_rev_micros,
           CAST(SUM(CASE WHEN day > first_day THEN rev_micros ELSE 0 END)
                AS BIGINT) AS returning_rev_micros
    FROM rev JOIN fs USING (user_id)
    GROUP BY day
    """,
)
def q_revenue_new_vs_returning(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    day = F.date_trunc("day", F.col("ts"))
    ud = ev.select("user_id", day.alias("day")).distinct()
    fs = ud.groupBy("user_id").agg(F.min("day").alias("first_day"))
    rev = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", day.alias("day"))
        .agg(
            F.sum(
                F.floor(F.col("value") * 1_000_000 + 0.5).cast("long")
            ).alias("rev_micros")
        )
    )
    return (
        rev.join(fs, "user_id")
        .groupBy("day")
        .agg(
            F.sum(
                F.when(F.col("day") == F.col("first_day"), F.col("rev_micros")).otherwise(0)
            ).alias("new_rev_micros"),
            F.sum(
                F.when(F.col("day") > F.col("first_day"), F.col("rev_micros")).otherwise(0)
            ).alias("returning_rev_micros"),
        )
    )


from frames_spark.operators.ranking import grouped_prefix_sum  # noqa: E402


# ABC inventory classification: parts ranked by revenue, classified
# by cumulative share (A <= 80%, B <= 95%, C rest). The running sum
# over the revenue order rides grouped_prefix_sum — the two-phase
# VALUE prefix sum (histogram offsets, parallelism = partitions) —
# never a single-task `SUM() OVER (ORDER BY ...)` on the part
# relation; class thresholds compare exact integers (5*cum <=
# 4*total), no float shares.
@register(
    "q_abc_analysis",
    f"""
    WITH per_part AS (
      SELECT l_partkey,
             CAST(SUM({_MICROS_SQL.format(expr='l_extendedprice')}) AS BIGINT)
               AS rev_micros
      FROM lineitem GROUP BY 1
    ), cum AS (
      SELECT l_partkey, rev_micros,
             SUM(rev_micros) OVER (ORDER BY rev_micros DESC, l_partkey
                                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS cum_rev,
             SUM(rev_micros) OVER () AS total
      FROM per_part
    )
    SELECT l_partkey, rev_micros,
           CASE WHEN 5 * cum_rev <= 4 * total THEN 'A'
                WHEN 20 * cum_rev <= 19 * total THEN 'B'
                ELSE 'C' END AS abc_class
    FROM cum
    """,
)
def q_abc_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    per_part = li.groupBy("l_partkey").agg(
        F.sum(_micros(F.col("l_extendedprice"))).alias("rev_micros")
    )
    # per_part is shuffle-fed — stage the range exchange so both
    # prefix-sum branches see one evaluation (caught live on
    # q_mann_whitney at sf0.1: unstaged, the branches' partition ids
    # diverged and corrupted offsets)
    cum = grouped_prefix_sum(
        per_part,
        [],
        [F.col("rev_micros").desc(), F.col("l_partkey")],
        "rev_micros",
        cum_col="cum_rev",
        total_col="total",
        stage=True,
    )
    cls = (
        F.when(5 * F.col("cum_rev") <= 4 * F.col("total"), "A")
        .when(20 * F.col("cum_rev") <= 19 * F.col("total"), "B")
        .otherwise("C")
    )
    return cum.select("l_partkey", "rev_micros", cls.alias("abc_class"))


# Exact weighted median (price weighted by quantity) — the prefix-sum
# primitive again: cumulative weight along the price order, answer =
# first price where 2*cum_weight >= total_weight. No value buffering,
# no single-task sort; all integer compares.
@register(
    "q_weighted_median",
    f"""
    WITH w AS (
      SELECT {_MICROS_SQL.format(expr='l_extendedprice')} AS price_micros,
             CAST(l_quantity AS BIGINT) AS wt, l_orderkey, l_linenumber
      FROM lineitem
    ), cum AS (
      SELECT price_micros, wt,
             SUM(wt) OVER (ORDER BY price_micros, l_orderkey, l_linenumber
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS cum_wt,
             SUM(wt) OVER () AS total_wt
      FROM w
    )
    SELECT CAST(MIN(price_micros) AS BIGINT) AS wmedian_price_micros,
           CAST(MIN(total_wt) AS BIGINT) AS total_weight
    FROM cum WHERE 2 * cum_wt >= total_wt
    """,
)
def q_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        _micros(F.col("l_extendedprice")).alias("price_micros"),
        F.col("l_quantity").cast("long").alias("wt"),
        "l_orderkey",
        "l_linenumber",
    )
    cum = grouped_prefix_sum(
        li,
        [],
        ["price_micros", "l_orderkey", "l_linenumber"],
        "wt",
        cum_col="cum_wt",
        total_col="total_wt",
    )
    return (
        cum.filter(2 * F.col("cum_wt") >= F.col("total_wt"))
        .agg(
            F.min("price_micros").alias("wmedian_price_micros"),
            F.min("total_wt").alias("total_weight"),
        )
    )


# TIME-CONSTRAINED funnel: view -> click within 1h -> purchase
# within 24h of a qualifying click (the strict version of the
# first-touch funnel — credit expires). Each constraint is one
# backward as-of join with tolerance (operators/asof.py: the
# union-window trick — ONE shuffle per stage, keyed by user, no
# range self-join): "a view exists within [click-1h, click]" iff the
# LAST prior view is within tolerance. The oracle states the same
# thing as EXISTS windows.
@register(
    "q_funnel_windowed",
    """
    WITH v AS (SELECT user_id, ts FROM events WHERE event_type = 'view'),
    c AS (SELECT user_id, ts FROM events WHERE event_type = 'click'),
    p AS (SELECT user_id, ts FROM events WHERE event_type = 'purchase'),
    qc AS (
      SELECT c.user_id, c.ts FROM c
      WHERE EXISTS (SELECT 1 FROM v
                    WHERE v.user_id = c.user_id
                      AND v.ts <= c.ts
                      AND v.ts >= c.ts - INTERVAL 1 HOUR)
    ),
    qp AS (
      SELECT p.user_id FROM p
      WHERE EXISTS (SELECT 1 FROM qc
                    WHERE qc.user_id = p.user_id
                      AND qc.ts <= p.ts
                      AND qc.ts >= p.ts - INTERVAL 24 HOURS)
    )
    SELECT CAST((SELECT COUNT(DISTINCT user_id) FROM v) AS BIGINT) AS n_view_users,
           CAST((SELECT COUNT(DISTINCT user_id) FROM qc) AS BIGINT) AS n_click_users,
           CAST((SELECT COUNT(DISTINCT user_id) FROM qp) AS BIGINT) AS n_purchase_users
    """,
)
def q_funnel_windowed(spark: SparkSession, sf_dir: str) -> DataFrame:
    from frames_spark.operators.asof import asof_join

    ev = load_table(spark, sf_dir, "events")
    views = ev.filter(F.col("event_type") == "view").select(
        "user_id", "ts", F.col("event_id").alias("vid"),
        F.lit(1).alias("v_hit"),
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "ts", "event_id"
    )
    # stage 1: last view within 1h before each click
    qc = asof_join(
        clicks,
        views,
        key="user_id",
        ts="ts",
        value_cols=["v_hit"],
        right_tiebreak="vid",
        direction="backward",
        tolerance_micros=3600 * 1_000_000,
    ).filter(F.col("v_hit").isNotNull()).select(
        "user_id", "ts", F.col("event_id").alias("cid"),
        F.lit(1).alias("c_hit"),
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "event_id"
    )
    qp = asof_join(
        purchases,
        qc,
        key="user_id",
        ts="ts",
        value_cols=["c_hit"],
        right_tiebreak="cid",
        direction="backward",
        tolerance_micros=24 * 3600 * 1_000_000,
    ).filter(F.col("c_hit").isNotNull())
    nv = views.agg(F.count_distinct("user_id").alias("n_view_users"))
    nc = qc.agg(F.count_distinct("user_id").alias("n_click_users"))
    np_ = qp.agg(F.count_distinct("user_id").alias("n_purchase_users"))
    return nv.crossJoin(F.broadcast(nc)).crossJoin(F.broadcast(np_))


# Linear multi-touch attribution: each purchase's value split evenly
# across its qualifying touches (view/click within the prior 24h);
# purchases with no touch report as 'unattributed'. The touch-to-
# purchase pairing is the BUCKETED range join (operators/rangejoin.py
# — touch side explodes x2 into window buckets, pure equi-join +
# residual, never a per-user product); per-purchase touch counts come
# from one map-side-combined groupBy and the per-pair credit is
# micros-quantized before the final by-type sum.
@register(
    "q_attribution",
    f"""
    WITH t AS (
      SELECT user_id, ts, event_type FROM events
      WHERE event_type IN ('view', 'click')
    ), p AS (
      SELECT user_id, ts, event_id, value FROM events
      WHERE event_type = 'purchase'
    ), pairs AS (
      SELECT p.event_id AS pid, p.value, t.event_type AS touch_type
      FROM p JOIN t ON t.user_id = p.user_id
        AND t.ts <= p.ts AND epoch_us(CAST(p.ts AS TIMESTAMP))
            <= epoch_us(CAST(t.ts AS TIMESTAMP)) + 86400000000
    ), per_p AS (
      SELECT pid, COUNT(*) AS n FROM pairs GROUP BY 1
    ), credited AS (
      SELECT touch_type, {_MICROS_SQL.format(expr='value / n')} AS credit
      FROM pairs JOIN per_p USING (pid)
      UNION ALL
      SELECT 'unattributed', {_MICROS_SQL.format(expr='value')}
      FROM p WHERE NOT EXISTS (SELECT 1 FROM pairs WHERE pid = p.event_id)
    )
    SELECT touch_type, CAST(SUM(credit) AS BIGINT) AS credit_micros,
           CAST(COUNT(*) AS BIGINT) AS n_credits
    FROM credited GROUP BY touch_type
    """,
)
def q_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    from frames_spark.operators.rangejoin import range_join

    ev = load_table(spark, sf_dir, "events")
    touches = ev.filter(F.col("event_type").isin("view", "click")).select(
        "user_id",
        F.col("ts").alias("t_ts"),
        F.col("event_type").alias("touch_type"),
    )
    purch = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("ts").alias("p_ts"),
        F.col("event_id").alias("pid"),
        "value",
    )
    pairs = range_join(
        touches, purch, "user_id", "t_ts", "p_ts", 86400
    ).select("pid", "value", "touch_type")
    per_p = pairs.groupBy("pid").agg(F.count(F.lit(1)).alias("n"))
    credited = pairs.join(per_p, "pid").select(
        "touch_type", _micros(F.col("value") / F.col("n")).alias("credit")
    )
    unattr = (
        purch.join(per_p, "pid", "left_anti")
        .select(
            F.lit("unattributed").alias("touch_type"),
            _micros(F.col("value")).alias("credit"),
        )
    )
    return (
        credited.unionByName(unattr)
        .groupBy("touch_type")
        .agg(
            F.sum("credit").alias("credit_micros"),
            F.count(F.lit(1)).alias("n_credits"),
        )
    )


# Sample-based estimation with an error bar: total revenue estimated
# from a deterministic 1-in-16 content-hash sample, with the normal-
# approximation 95% CI half-width. The 100 TB pattern: the full scan
# is replaced by a scan-stage hash filter (layout-invariant, same
# predicate shape as q_sample_hash); the estimate and its variance
# are exact-integer sums over the sample, combined in one double
# expression per output column.
@register(
    "q_sample_estimate",
    f"""
    WITH s AS (
      SELECT {_MICROS_SQL.format(expr='o_totalprice')} AS v
      FROM orders
      WHERE CAST(('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 8))
                 AS BIGINT) % 16 = 0
    ), m AS (
      SELECT COUNT(*) AS n, SUM(v) AS sv, SUM(CAST(v AS HUGEINT) * v) AS svv
      FROM s
    )
    SELECT CAST(n AS BIGINT) AS sample_n,
           CAST(16 * sv AS BIGINT) AS est_total_micros,
           CAST(FLOOR(16 * sqrt(n * 1.0)
                * sqrt((svv - sv * 1.0 / n * sv) / (n - 1)) * 1.96 + 0.5)
                AS BIGINT) AS ci95_micros
    FROM m
    """,
)
def q_sample_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    in_sample = (
        F.conv(
            F.substring(F.md5(F.col("o_orderkey").cast("string")), 1, 8),
            16,
            10,
        ).cast("long")
        % 16
        == 0
    )
    s = o.filter(in_sample).select(
        _micros(F.col("o_totalprice")).alias("v")
    )
    m = s.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("v").alias("sv"),
        F.sum(F.col("v").cast("decimal(38,0)") * F.col("v")).alias("svv"),
    )
    # sample variance in exact decimals -> one double sqrt chain
    var = (
        F.col("svv").cast("double")
        - F.col("sv") * 1.0 / F.col("n") * F.col("sv")
    ) / (F.col("n") - 1)
    return m.select(
        F.col("n").cast("long").alias("sample_n"),
        (16 * F.col("sv")).cast("long").alias("est_total_micros"),
        F.floor(
            16 * F.sqrt(F.col("n") * 1.0) * F.sqrt(var) * 1.96 + 0.5
        )
        .cast("long")
        .alias("ci95_micros"),
    )


# Top session paths: the 3 first event types of each session as an
# ordered path string, counted corpus-wide — lightweight sequence
# mining. Sessions from the standard pass; the path builds in ONE
# per-session aggregate (sorted struct collect -> slice -> join), and
# the count is a map-side-combined groupBy over path strings.
@register(
    "q_funnel_paths",
    """
    WITH marked AS (
      SELECT user_id, event_type, event_id, ts,
             CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                       OR date_diff('second',
                                    CAST(lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS TIMESTAMP),
                                    CAST(ts AS TIMESTAMP)) > 1800
                  THEN 1 ELSE 0 END AS is_new
      FROM events
    ), sess AS (
      SELECT user_id, event_type, event_id, ts,
             SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS session_id
      FROM marked
    ), paths AS (
      SELECT user_id, session_id,
             array_to_string(list_slice(
               list_sort(list_zip(list(ts), list(event_id), list(event_type)))
                 .apply(x -> x[3]), 1, 3), '>') AS path
      FROM sess GROUP BY user_id, session_id
    )
    SELECT path, CAST(COUNT(*) AS BIGINT) AS n_sessions
    FROM paths GROUP BY path
    """,
)
def q_funnel_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    sess = win_ops.sessionize(
        ev, "user_id", "ts", 1800, order_tiebreak=["event_id"]
    )
    paths = sess.groupBy("user_id", "session_id").agg(
        F.array_join(
            F.slice(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.struct("ts", "event_id", "event_type")
                        )
                    ),
                    lambda x: x["event_type"],
                ),
                1,
                3,
            ),
            ">",
        ).alias("path")
    )
    return paths.groupBy("path").agg(F.count(F.lit(1)).alias("n_sessions"))


# Per-group exact quartiles (p25/p50/p75) in ONE two-phase-rank pass:
# the nearest-rank positions become a 3-way IN filter on the rank —
# no percentile() value buffering, no second scan per quantile.
@register(
    "q_group_quantiles",
    f"""
    WITH r AS (
      SELECT c_mktsegment, o_totalprice,
             ROW_NUMBER() OVER (PARTITION BY c_mktsegment
               ORDER BY {_MICROS_SQL.format(expr='o_totalprice')}, o_orderkey)
               AS rn,
             COUNT(*) OVER (PARTITION BY c_mktsegment) AS n
      FROM orders JOIN customer ON o_custkey = c_custkey
    )
    SELECT c_mktsegment,
           CAST(CASE WHEN rn = ceil(0.25 * n) THEN 0.25
                WHEN rn = ceil(0.5 * n) THEN 0.5
                ELSE 0.75 END AS DOUBLE) AS p,
           o_totalprice AS price
    FROM r
    WHERE rn IN (ceil(0.25 * n), ceil(0.5 * n), ceil(0.75 * n))
    """,
)
def q_group_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    joined = o.join(
        c, F.col("o_custkey") == F.col("c_custkey")
    ).select("c_mktsegment", "o_totalprice", "o_orderkey")
    ranked = grouped_rank(
        joined,
        ["c_mktsegment"],
        [_micros(F.col("o_totalprice")), F.col("o_orderkey")],
        rank_col="rn",
        count_col="n",
    )
    pos = [F.ceil(p * F.col("n")) for p in (0.25, 0.5, 0.75)]
    label = (
        F.when(F.col("rn") == pos[0], 0.25)
        .when(F.col("rn") == pos[1], 0.5)
        .otherwise(0.75)
    )
    return (
        ranked.filter(
            (F.col("rn") == pos[0])
            | (F.col("rn") == pos[1])
            | (F.col("rn") == pos[2])
        )
        .select(
            "c_mktsegment",
            label.alias("p"),
            F.col("o_totalprice").alias("price"),
        )
    )


# Year-over-year monthly revenue growth: the classic OLAP report.
# One month-grain fact aggregate; the lag-12 window runs over the
# tiny monthly relation only; growth divides exact micros (nullif
# guards the first year under ANSI).
@register(
    "q_year_over_year",
    f"""
    WITH monthly AS (
      SELECT CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS m,
             CAST(SUM({_MICROS_SQL.format(expr='o_totalprice')}) AS BIGINT)
               AS rev_micros
      FROM orders GROUP BY 1
    )
    SELECT m, rev_micros,
           LAG(rev_micros, 12) OVER (ORDER BY m) AS prior_micros,
           CAST(FLOOR((rev_micros - LAG(rev_micros, 12) OVER (ORDER BY m))
                * 1.0 / nullif(LAG(rev_micros, 12) OVER (ORDER BY m), 0)
                * 1000000 + 0.5) AS BIGINT) AS yoy_growth_micros
    FROM monthly
    """,
)
def q_year_over_year(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    o = load_table(spark, sf_dir, "orders")
    monthly = o.groupBy(
        F.date_trunc("month", F.col("o_orderdate")).alias("m")
    ).agg(F.sum(_micros(F.col("o_totalprice"))).alias("rev_micros"))
    w = Window.orderBy("m")
    prior = F.lag("rev_micros", 12).over(w)
    return monthly.select(
        "m",
        "rev_micros",
        prior.alias("prior_micros"),
        _micros(
            (F.col("rev_micros") - prior)
            * 1.0
            / F.nullif(prior, F.lit(0))
        ).alias("yoy_growth_micros"),
    )


# Product-quantization ANN over DETERMINISTIC hash-sampled codebooks
# (similarity/pq.py fit_pq_det; r8 verdict #6): 16 sub-codebooks of 32
# codewords drawn from the corpus rows with the smallest (hash60, id)
# -> 16 small codes per vector (16x compression), integer ADC
# shortlist of 100, exact fixed-point cosine re-rank — EVERY leg
# (codeword selection, encoding argmin, ADC sums, shortlist, re-rank)
# reproduced in SQL, so the query carries a FULL value oracle. The
# seeded-KMeans trainer (fit_pq) stays the corpus-adapted production
# path; tests/test_pq.py pins its recall@10 and layout-invariance.
_PQ_M = 16
_PQ_SUB = 64 // _PQ_M
_PQ_K = 32
_PQ_RERANK = 100

# Shared PQ CTE chain: fixed-point corpus -> hash-ordered codeword
# rows -> per-(row, subspace, codeword) distances -> argmin codes.
_PQ_DET_CTES = f"""
    pqsel AS (
      SELECT vec_id, rn - 1 AS c FROM (
        SELECT vec_id,
               ROW_NUMBER() OVER (ORDER BY
                 {hash60_sql("CAST(vec_id AS VARCHAR)", "pq")}, vec_id) AS rn
        FROM (SELECT DISTINCT vec_id FROM embeddings)
      ) WHERE rn <= {_PQ_K}
    ),
    cw AS MATERIALIZED (
      SELECT s.c, f.i, f.e FROM pqsel s JOIN fixed f USING (vec_id)
    ),
    cd AS MATERIALIZED (
      SELECT f.vec_id, (f.i - 1) // {_PQ_SUB} AS j, c.c,
             CAST(SUM((f.e - c.e) * (f.e - c.e)) AS BIGINT) AS dist
      FROM fixed f JOIN cw c ON c.i = f.i
      GROUP BY 1, 2, 3
    ),
    pqcodes AS MATERIALIZED (
      SELECT vec_id, j, c FROM (
        SELECT vec_id, j, c,
               ROW_NUMBER() OVER (PARTITION BY vec_id, j
                                  ORDER BY dist ASC, c ASC) AS rn
        FROM cd
      ) WHERE rn = 1
    )"""


def _pq_adc_tail(cluster_filter: str, rerank: int, k: int) -> str:
    """ADC join + shortlist + exact re-rank closing CTEs.
    ``cluster_filter`` restricts candidates (the IVF-ADC leg)."""
    return f"""
    adc AS (
      SELECT q.vec_id AS query_id, x.vec_id AS neighbor_id,
             CAST(SUM(q.dist) AS BIGINT) AS approx_dist
      FROM pqcodes x JOIN cd q ON q.j = x.j AND q.c = x.c
      WHERE q.vec_id < 3 AND q.vec_id <> x.vec_id {cluster_filter}
      GROUP BY 1, 2
    ),
    short AS (
      SELECT query_id, neighbor_id FROM (
        SELECT query_id, neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY approx_dist ASC, neighbor_id) AS rn
        FROM adc
      ) WHERE rn <= {rerank}
    )
    SELECT query_id, neighbor_id, cosine, rank FROM (
      SELECT query_id, neighbor_id, cosine,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY cosine DESC, neighbor_id) AS rank
      FROM (
        SELECT s.query_id, s.neighbor_id,
               CAST(list_inner_product(qa.v, qb.v) AS DOUBLE)
                 / (sqrt(CAST(qa.n2 AS DOUBLE)) * sqrt(CAST(qb.n2 AS DOUBLE)))
                 AS cosine
        FROM short s
        JOIN vecs qa ON qa.vec_id = s.query_id
        JOIN vecs qb ON qb.vec_id = s.neighbor_id
      )
    ) WHERE rank <= {k}
    """


@register(
    "q_ann_pq",
    f"""
    WITH fixed AS ({_FIXED_SQL.format(corpus="SELECT vec_id, embedding FROM embeddings")}),
    vecs AS MATERIALIZED (
      SELECT vec_id, list(e ORDER BY i) AS v, SUM(e * e) AS n2
      FROM fixed GROUP BY vec_id
    ),
    {_PQ_DET_CTES},
    {_pq_adc_tail("", _PQ_RERANK, 10)}
    """,
)
def q_ann_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    from frames_spark.similarity.pq import encode_pq, fit_pq_det, pq_topk

    emb = load_table(spark, sf_dir, "embeddings")
    cb = fit_pq_det(emb, "vec_id", "embedding", m=_PQ_M, k=_PQ_K)
    codes = encode_pq(emb, "vec_id", "embedding", cb, normalize=False)
    return pq_topk(
        codes,
        cb,
        emb.filter(F.col("vec_id") < 3),
        "vec_id",
        "embedding",
        k=10,
        corpus=emb,
        rerank=_PQ_RERANK,
        normalize=False,
    )


# IVF-ADC on the fully deterministic index pair: ±1 md5 codebook
# cells + hash-sampled RESIDUAL PQ codes (r10 verdict #6) — each
# vector's codes describe fvec minus its unit-scaled cell (the scaled
# component round(2^20/sqrt(64)) = 131072 is an integer, so residuals
# stay exact), each query carries one ADC table PER PROBED CELL from
# its residual against THAT cell, and candidates are scored against
# their own cell's table — the production composite's shape
# (ivfpq_topk: KMeans cells + float residual PQ) with every leg
# integer and value-oracled; exact re-rank closes it. tests/test_pq.py
# pins the production twin (recall vs exact, full-probe equality,
# nprobe monotonicity) and the residual tier's profile.
_IVF_RES_SCALE = 131072  # round(2^20 / sqrt(64)), exact


@register(
    "q_ann_ivfpq",
    f"""
    WITH fixed AS ({_FIXED_SQL.format(corpus="SELECT vec_id, embedding FROM embeddings")}),
    vecs AS MATERIALIZED (
      SELECT vec_id, list(e ORDER BY i) AS v, SUM(e * e) AS n2
      FROM fixed GROUP BY vec_id
    ),
    cents AS (SELECT * FROM (VALUES {_IVF_CENTS_VALUES}) t(c, i, s)),
    cdots AS MATERIALIZED (
      SELECT f.vec_id, c.c, SUM(f.e * c.s) AS dot
      FROM fixed f JOIN cents c USING (i) GROUP BY 1, 2
    ),
    best AS MATERIALIZED (
      SELECT vec_id, c AS cluster FROM (
        SELECT vec_id, c,
               ROW_NUMBER() OVER (PARTITION BY vec_id
                                  ORDER BY dot DESC, c ASC) AS rn
        FROM cdots
      ) WHERE rn = 1
    ),
    probes AS (
      SELECT vec_id AS query_id, c AS cluster FROM (
        SELECT vec_id, c,
               ROW_NUMBER() OVER (PARTITION BY vec_id
                                  ORDER BY dot DESC, c ASC) AS rn
        FROM cdots WHERE vec_id < 3
      ) WHERE rn <= 3
    ),
    res AS MATERIALIZED (
      SELECT f.vec_id, f.i, f.e - {_IVF_RES_SCALE} * c.s AS r
      FROM fixed f
      JOIN best b USING (vec_id)
      JOIN cents c ON c.c = b.cluster AND c.i = f.i
    ),
    pqsel AS (
      SELECT vec_id, rn - 1 AS c FROM (
        SELECT vec_id,
               ROW_NUMBER() OVER (ORDER BY
                 {hash60_sql("CAST(vec_id AS VARCHAR)", "pq")}, vec_id) AS rn
        FROM (SELECT DISTINCT vec_id FROM embeddings)
      ) WHERE rn <= {_PQ_K}
    ),
    cw AS MATERIALIZED (
      SELECT s.c, r.i, r.r AS e FROM pqsel s JOIN res r USING (vec_id)
    ),
    cd AS MATERIALIZED (
      SELECT r.vec_id, (r.i - 1) // {_PQ_SUB} AS j, c.c,
             CAST(SUM((r.r - c.e) * (r.r - c.e)) AS BIGINT) AS dist
      FROM res r JOIN cw c ON c.i = r.i
      GROUP BY 1, 2, 3
    ),
    pqcodes AS MATERIALIZED (
      SELECT vec_id, j, c FROM (
        SELECT vec_id, j, c,
               ROW_NUMBER() OVER (PARTITION BY vec_id, j
                                  ORDER BY dist ASC, c ASC) AS rn
        FROM cd
      ) WHERE rn = 1
    ),
    qres AS MATERIALIZED (
      SELECT p.query_id, p.cluster, f.i, f.e - {_IVF_RES_SCALE} * c.s AS r
      FROM probes p
      JOIN fixed f ON f.vec_id = p.query_id
      JOIN cents c ON c.c = p.cluster AND c.i = f.i
    ),
    qcd AS MATERIALIZED (
      SELECT q.query_id, q.cluster, (q.i - 1) // {_PQ_SUB} AS j, c.c,
             CAST(SUM((q.r - c.e) * (q.r - c.e)) AS BIGINT) AS dist
      FROM qres q JOIN cw c ON c.i = q.i
      GROUP BY 1, 2, 3, 4
    ),
    adc AS (
      SELECT q.query_id, x.vec_id AS neighbor_id,
             CAST(SUM(q.dist) AS BIGINT) AS approx_dist
      FROM pqcodes x
      JOIN best b ON b.vec_id = x.vec_id
      JOIN qcd q ON q.cluster = b.cluster AND q.j = x.j AND q.c = x.c
      WHERE q.query_id <> x.vec_id
      GROUP BY 1, 2
    ),
    short AS (
      SELECT query_id, neighbor_id FROM (
        SELECT query_id, neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY approx_dist ASC, neighbor_id) AS rn
        FROM adc
      ) WHERE rn <= 50
    )
    SELECT query_id, neighbor_id, cosine, rank FROM (
      SELECT query_id, neighbor_id, cosine,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY cosine DESC, neighbor_id) AS rank
      FROM (
        SELECT s.query_id, s.neighbor_id,
               CAST(list_inner_product(qa.v, qb.v) AS DOUBLE)
                 / (sqrt(CAST(qa.n2 AS DOUBLE)) * sqrt(CAST(qb.n2 AS DOUBLE)))
                 AS cosine
        FROM short s
        JOIN vecs qa ON qa.vec_id = s.query_id
        JOIN vecs qb ON qb.vec_id = s.neighbor_id
      )
    ) WHERE rank <= 10
    """,
)
def q_ann_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    from frames_spark.similarity.pq import ivfpq_topk_det

    emb = load_table(spark, sf_dir, "embeddings")
    return ivfpq_topk_det(
        emb,
        emb.filter(F.col("vec_id") < 3),
        "vec_id",
        "embedding",
        k=10,
        n_centroids=8,
        nprobe=3,
        m=_PQ_M,
        codebook_k=_PQ_K,
        rerank=50,
    )


# Distribution drift between the first and last week of events
# (Kolmogorov-Smirnov over binned purchase values) — the data-quality
# gate a 100 TB ingest runs before trusting a new shard. Bins are
# exact integer micros buckets; both periods' cumulative shares come
# from one groupBy + a window over the TINY bin relation; the KS
# statistic is the max |cdf gap|, micros-quantized.
@register(
    "q_drift_ks",
    """
    WITH ev AS (
      SELECT CASE WHEN ts < TIMESTAMP '2024-01-08 00:00:00' THEN 'a'
                  WHEN ts >= TIMESTAMP '2024-01-22 00:00:00' THEN 'b'
             END AS period,
             CAST(FLOOR(value * 1000000 + 0.5) AS BIGINT) // 2000000 AS bin
      FROM events WHERE event_type = 'purchase'
    ), counts AS (
      SELECT period, bin, COUNT(*) AS n FROM ev
      WHERE period IS NOT NULL GROUP BY 1, 2
    ), cum AS (
      SELECT period, bin,
             SUM(n) OVER (PARTITION BY period ORDER BY bin) AS c,
             SUM(n) OVER (PARTITION BY period) AS tot
      FROM counts
    ), grid AS (
      SELECT DISTINCT bin FROM counts
    ), cdfs AS (
      SELECT g.bin,
             MAX(CASE WHEN period = 'a' THEN c * 1.0 / tot END) AS cdf_a,
             MAX(CASE WHEN period = 'b' THEN c * 1.0 / tot END) AS cdf_b
      FROM grid g LEFT JOIN cum ON cum.bin <= g.bin
      GROUP BY g.bin
    )
    SELECT CAST(FLOOR(MAX(ABS(coalesce(cdf_a, 0) - coalesce(cdf_b, 0)))
           * 1000000 + 0.5) AS BIGINT) AS ks_micros
    FROM cdfs
    """,
)
def q_drift_ks(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    )
    period = F.when(
        F.col("ts") < F.lit("2024-01-08 00:00:00").cast("timestamp"), "a"
    ).when(
        F.col("ts") >= F.lit("2024-01-22 00:00:00").cast("timestamp"), "b"
    )
    binned = ev.select(
        period.alias("period"),
        F.expr(
            "CAST(FLOOR(value * 1000000 + 0.5) AS BIGINT) DIV 2000000"
        ).alias("bin"),
    ).filter(F.col("period").isNotNull())
    counts = binned.groupBy("period", "bin").agg(
        F.count(F.lit(1)).alias("n")
    )
    wcum = Window.partitionBy("period").orderBy("bin")
    wtot = Window.partitionBy("period")
    cum = counts.select(
        "period",
        "bin",
        F.sum("n").over(wcum).alias("c"),
        F.sum("n").over(wtot).alias("tot"),
    )
    grid = counts.select("bin").distinct()
    # evaluate both CDFs on the union grid: for each grid bin, the
    # latest cumulative at-or-below it (join over the tiny bins only)
    cdfs = (
        grid.alias("g")
        .join(cum.alias("c"), F.col("c.bin") <= F.col("g.bin"), "left")
        .groupBy(F.col("g.bin").alias("bin"))
        .agg(
            F.max(
                F.when(
                    F.col("period") == "a",
                    F.col("c") * 1.0 / F.col("tot"),
                )
            ).alias("cdf_a"),
            F.max(
                F.when(
                    F.col("period") == "b",
                    F.col("c") * 1.0 / F.col("tot"),
                )
            ).alias("cdf_b"),
        )
    )
    return cdfs.agg(
        _micros(
            F.max(
                F.abs(
                    F.coalesce(F.col("cdf_a"), F.lit(0.0))
                    - F.coalesce(F.col("cdf_b"), F.lit(0.0))
                )
            )
        ).alias("ks_micros")
    )


# Population stability index over the same periods/bins — the
# ML-monitoring standard (PSI < 0.1 stable, > 0.25 shifted). Shares
# are Laplace-smoothed (+1 per bin) so empty cells can't produce
# ln(0); terms are micros-quantized before the sum (libm guard).
@register(
    "q_psi",
    """
    WITH ev AS (
      SELECT CASE WHEN ts < TIMESTAMP '2024-01-08 00:00:00' THEN 'a'
                  WHEN ts >= TIMESTAMP '2024-01-22 00:00:00' THEN 'b'
             END AS period,
             CAST(FLOOR(value * 1000000 + 0.5) AS BIGINT) // 2000000 AS bin
      FROM events WHERE event_type = 'purchase'
    ), counts AS (
      SELECT period, bin, COUNT(*) AS n FROM ev
      WHERE period IS NOT NULL GROUP BY 1, 2
    ), grid AS (SELECT DISTINCT bin FROM counts),
    tots AS (
      SELECT CAST(SUM(CASE WHEN period = 'a' THEN n ELSE 0 END) AS BIGINT) AS na,
             CAST(SUM(CASE WHEN period = 'b' THEN n ELSE 0 END) AS BIGINT) AS nb,
             CAST(COUNT(DISTINCT bin) AS BIGINT) AS k
      FROM counts
    ), cells AS (
      SELECT g.bin,
             CAST(coalesce(MAX(CASE WHEN period = 'a' THEN n END), 0) + 1 AS BIGINT) AS ca,
             CAST(coalesce(MAX(CASE WHEN period = 'b' THEN n END), 0) + 1 AS BIGINT) AS cb
      FROM grid g LEFT JOIN counts c ON c.bin = g.bin
      GROUP BY g.bin
    )
    SELECT CAST(SUM(CAST(FLOOR(
             (ca * 1.0 / (na + k) - cb * 1.0 / (nb + k))
             * ln(ca * 1.0 / (na + k) / (cb * 1.0 / (nb + k)))
             * 1000000 + 0.5) AS BIGINT)) AS BIGINT) AS psi_micros_sum
    FROM cells CROSS JOIN tots
    """,
)
def q_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    )
    period = F.when(
        F.col("ts") < F.lit("2024-01-08 00:00:00").cast("timestamp"), "a"
    ).when(
        F.col("ts") >= F.lit("2024-01-22 00:00:00").cast("timestamp"), "b"
    )
    binned = ev.select(
        period.alias("period"),
        F.expr(
            "CAST(FLOOR(value * 1000000 + 0.5) AS BIGINT) DIV 2000000"
        ).alias("bin"),
    ).filter(F.col("period").isNotNull())
    counts = binned.groupBy("period", "bin").agg(
        F.count(F.lit(1)).alias("n")
    )
    grid = counts.select("bin").distinct()
    tots = counts.agg(
        F.sum(F.when(F.col("period") == "a", F.col("n")).otherwise(0)).alias("na"),
        F.sum(F.when(F.col("period") == "b", F.col("n")).otherwise(0)).alias("nb"),
        F.count_distinct("bin").alias("k"),
    )
    cells = (
        grid.join(counts, "bin", "left")
        .groupBy("bin")
        .agg(
            (
                F.coalesce(
                    F.max(F.when(F.col("period") == "a", F.col("n"))),
                    F.lit(0),
                )
                + 1
            ).alias("ca"),
            (
                F.coalesce(
                    F.max(F.when(F.col("period") == "b", F.col("n"))),
                    F.lit(0),
                )
                + 1
            ).alias("cb"),
        )
    )
    pa = F.col("ca") * 1.0 / (F.col("na") + F.col("k"))
    pb = F.col("cb") * 1.0 / (F.col("nb") + F.col("k"))
    term = (pa - pb) * F.log(pa / pb)
    return (
        cells.crossJoin(F.broadcast(tots))
        .agg(F.sum(_micros(term)).alias("psi_micros_sum"))
    )


# Benford first-digit profile of order totals — the classic
# fabricated-data screen. One scan, 9-group aggregate; expected
# Benford shares are log10 constants folded into the plan; the
# deviation is micros-quantized per digit.
@register(
    "q_benford",
    """
    WITH d AS (
      SELECT CAST(substr(CAST(CAST(FLOOR(o_totalprice) AS BIGINT) AS VARCHAR), 1, 1)
                  AS BIGINT) AS digit
      FROM orders WHERE o_totalprice >= 1
    ), counts AS (
      SELECT digit, COUNT(*) AS n FROM d GROUP BY digit
    ), tot AS (SELECT SUM(n) AS t FROM counts)
    SELECT digit, CAST(n AS BIGINT) AS n,
           CAST(FLOOR(n * 1.0 / t * 1000000 + 0.5) AS BIGINT) AS share_micros,
           CAST(FLOOR(log10(1 + 1.0 / digit) * 1000000 + 0.5) AS BIGINT)
             AS benford_micros,
           CAST(FLOOR(ABS(n * 1.0 / t - log10(1 + 1.0 / digit)) * 1000000
                + 0.5) AS BIGINT) AS abs_dev_micros
    FROM counts CROSS JOIN tot
    """,
)
def q_benford(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_totalprice") >= 1
    )
    digit = F.substring(
        F.floor(F.col("o_totalprice")).cast("long").cast("string"), 1, 1
    ).cast("long")
    counts = o.groupBy(digit.alias("digit")).agg(
        F.count(F.lit(1)).alias("n")
    )
    tot = counts.agg(F.sum("n").alias("t"))
    share = F.col("n") * 1.0 / F.col("t")
    benford = F.log10(1 + 1.0 / F.col("digit"))
    return counts.crossJoin(F.broadcast(tot)).select(
        "digit",
        "n",
        _micros(share).alias("share_micros"),
        _micros(benford).alias("benford_micros"),
        _micros(F.abs(share - benford)).alias("abs_dev_micros"),
    )


# Sparse TF-IDF cosine similarity pairs — the SPARSE-vector
# complement of the dense ANN ladder (classic IR similarity). Scale
# shape: the inverted index joins itself PER TOKEN, and tokens with
# df > max_df (corpus-wide hubs — exactly the tokens that carry no
# signal AND would blow the bucket quadratic) are pruned first, so
# per-token fanout is bounded by max_df^2. Weights are
# milli-quantized ints (tf * ln(N/df)), dots and norms stay exact
# integers; one sqrt at the very end, micros-quantized.
@register(
    "q_sparse_cosine",
    f"""
    WITH tf AS (
      SELECT doc_id AS doc, tok, COUNT(*) AS tf
      FROM (SELECT doc_id, unnest({_TOKENS_SQL}) AS tok FROM documents)
      GROUP BY 1, 2
    ), n_docs AS (SELECT COUNT(*) AS n FROM documents),
    dfs AS (
      SELECT tok, COUNT(*) AS df FROM tf GROUP BY tok
    ), w AS (
      SELECT doc, tf.tok,
             CAST(FLOOR(tf * ln(n * 1.0 / df) * 1000 + 0.5) AS BIGINT) AS wq
      FROM tf JOIN dfs ON tf.tok = dfs.tok CROSS JOIN n_docs
      WHERE df BETWEEN 2 AND 50
    ), norms AS (
      SELECT doc, SUM(wq * wq) AS n2 FROM w GROUP BY doc
    ), dots AS (
      SELECT a.doc AS doc_a, b.doc AS doc_b, SUM(a.wq * b.wq) AS dot
      FROM w a JOIN w b ON a.tok = b.tok AND a.doc < b.doc
      GROUP BY 1, 2
    )
    SELECT doc_a, doc_b,
           CAST(FLOOR(dot / sqrt(na.n2 * 1.0) / sqrt(nb.n2 * 1.0)
                * 1000000 + 0.5) AS BIGINT) AS cos_micros
    FROM dots
    JOIN norms na ON na.doc = doc_a
    JOIN norms nb ON nb.doc = doc_b
    WHERE dot / sqrt(na.n2 * 1.0) / sqrt(nb.n2 * 1.0) >= 0.5
    """,
)
def q_sparse_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = core_ops.spread(load_table(spark, sf_dir, "documents"))
    tf = (
        docs.select(
            F.col("doc_id").alias("doc"),
            F.explode(text_fns.tokens(F.col("text"))).alias("tok"),
        )
        .groupBy("doc", "tok")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    n_docs = docs.agg(F.count(F.lit(1)).alias("n"))
    dfs = tf.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    w = (
        tf.join(dfs, "tok")
        .filter(F.col("df").between(2, 50))
        .crossJoin(F.broadcast(n_docs))
        .select(
            "doc",
            "tok",
            F.floor(
                F.col("tf") * F.log(F.col("n") * 1.0 / F.col("df")) * 1000
                + 0.5
            )
            .cast("long")
            .alias("wq"),
        )
    )
    norms = w.groupBy("doc").agg(F.sum(F.col("wq") * F.col("wq")).alias("n2"))
    wa = w.select(F.col("doc").alias("doc_a"), "tok", F.col("wq").alias("wa"))
    wb = w.select(F.col("doc").alias("doc_b"), "tok", F.col("wq").alias("wb"))
    dots = (
        wa.join(wb, "tok")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.sum(F.col("wa") * F.col("wb")).alias("dot"))
    )
    na = norms.select(F.col("doc").alias("doc_a"), F.col("n2").alias("na2"))
    nb = norms.select(F.col("doc").alias("doc_b"), F.col("n2").alias("nb2"))
    cos = (
        F.col("dot")
        / F.sqrt(F.col("na2") * 1.0)
        / F.sqrt(F.col("nb2") * 1.0)
    )
    return (
        dots.join(na, "doc_a")
        .join(nb, "doc_b")
        .filter(cos >= 0.5)
        .select("doc_a", "doc_b", _micros(cos).alias("cos_micros"))
    )


# PageRank over the co-purchase graph (operators/graph.py) — exact
# integer micros, so rankings are bit-identical across layouts (the
# float formulation drifts with partition order). Because every round
# is integer algebra (contrib = rank DIV deg, update = base +
# in_sum*85 DIV 100), the ITERATIVE query carries a FULL value oracle:
# 8 unrolled MATERIALIZED CTEs replaying the rounds bit-for-bit (the
# q_markov_stationary idiom — r8 verdict ask #2; default CTE inlining
# re-expands the edge relation per round and hangs the optimizer).
# Tests additionally pin determinism, mass conservation bounds and
# degree correlation.
_PAGERANK_ITERS = 8


def _pagerank_iter_ctes(n: int) -> str:
    parts = []
    for i in range(n):
        parts.append(f""",
    r{i + 1} AS MATERIALIZED (
      SELECT sd.b AS node,
             CAST(150000 + (SUM(r.rank_micros // sd.deg) * 85) // 100
                  AS BIGINT) AS rank_micros
      FROM sd JOIN r{i} r ON r.node = sd.a
      GROUP BY sd.b
    )""")
    return "".join(parts)


@register(
    "q_pagerank",
    f"""
    WITH ba AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ),
    sym AS MATERIALIZED (
      SELECT DISTINCT a.l_partkey AS a, b.l_partkey AS b
      FROM ba a JOIN ba b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
    ),
    deg AS MATERIALIZED (SELECT a, COUNT(*) AS deg FROM sym GROUP BY a),
    sd AS MATERIALIZED (
      SELECT s.a, s.b, d.deg FROM sym s JOIN deg d USING (a)
    ),
    r0 AS MATERIALIZED (
      SELECT a AS node, CAST(1000000 AS BIGINT) AS rank_micros FROM deg
    ){_pagerank_iter_ctes(_PAGERANK_ITERS)}
    SELECT node, rank_micros FROM r{_PAGERANK_ITERS}
    """,
)
def q_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    from frames_spark.operators.graph import cooccur_edges, pagerank

    li = load_table(spark, sf_dir, "lineitem")
    edges = cooccur_edges(li, "l_orderkey", "l_partkey", u="src", v="dst")
    return pagerank(edges, iterations=_PAGERANK_ITERS)


# Mutual information between event type and weekday — the
# information-theoretic dependence check next to q_chi_square (and
# q_entropy's joint-distribution sibling). Exact contingency counts;
# every term is ln() over ratios of exact longs, micros-quantized
# before the sum; marginals come from windows over the tiny
# |types| x 7 relation.
@register(
    "q_mutual_info",
    """
    WITH cells AS (
      SELECT event_type, dayofweek(CAST(ts AS TIMESTAMP)) AS dow,
             COUNT(*) AS n
      FROM events GROUP BY 1, 2
    ), tot AS (SELECT SUM(n) AS t FROM cells),
    marg AS (
      SELECT event_type, dow, n,
             SUM(n) OVER (PARTITION BY event_type) AS nx,
             SUM(n) OVER (PARTITION BY dow) AS ny
      FROM cells
    )
    SELECT CAST(SUM(CAST(FLOOR(
             n * 1.0 / t * ln(n * 1.0 * t / (nx * 1.0 * ny))
             * 1000000000 + 0.5) AS BIGINT)) AS BIGINT) AS mi_nanos_sum
    FROM marg CROSS JOIN tot
    """,
)
def q_mutual_info(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    # Spark dayofweek == DuckDB dayofweek + 1 (Sunday numbering quirk
    # pinned by q_weekday_profile); MI is invariant to the category
    # LABELS, so either numbering yields the same statistic — but the
    # cells must still group identically, so shift to match.
    dow = F.dayofweek(F.col("ts")) - 1
    cells = ev.groupBy(
        "event_type", dow.alias("dow")
    ).agg(F.count(F.lit(1)).alias("n"))
    tot = cells.agg(F.sum("n").alias("t"))
    wx = Window.partitionBy("event_type")
    wy = Window.partitionBy("dow")
    marg = cells.select(
        "n",
        F.sum("n").over(wx).alias("nx"),
        F.sum("n").over(wy).alias("ny"),
    )
    term = (
        F.col("n")
        * 1.0
        / F.col("t")
        * F.log(
            F.col("n") * 1.0 * F.col("t") / (F.col("nx") * 1.0 * F.col("ny"))
        )
    )
    return (
        marg.crossJoin(F.broadcast(tot))
        .agg(
            F.sum(
                F.floor(term * 1_000_000_000 + 0.5).cast("long")
            ).alias("mi_nanos_sum")
        )
    )


# Time-series gap filling: a complete DAY SPINE with both standard
# fills — LOCF (last observation carried forward) and linear
# interpolation — over the sparse big-ticket daily revenue series.
# The spine generates with sequence() from a 1-row min/max broadcast
# (never a driver collect); both fills are windows over the tiny
# daily relation; interpolation arithmetic stays in exact integer
# micros and day counts, with nullif guarding the edges under ANSI.
@register(
    "q_gap_fill",
    f"""
    WITH obs AS (
      SELECT CAST(date_trunc('day', o_orderdate) AS TIMESTAMP) AS day,
             CAST(SUM({_MICROS_SQL.format(expr='o_totalprice')}) AS BIGINT)
               AS rev_micros
      FROM orders WHERE o_totalprice > 400000 GROUP BY 1
    ), bounds AS (
      SELECT MIN(day) AS lo, MAX(day) AS hi FROM obs
    ), spine AS (
      SELECT unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS day
      FROM bounds
    ), joined AS (
      SELECT s.day, o.rev_micros FROM spine s LEFT JOIN obs o USING (day)
    ), ctx AS (
      SELECT day, rev_micros,
             last_value(rev_micros IGNORE NULLS) OVER
               (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS locf,
             last_value(CASE WHEN rev_micros IS NOT NULL THEN day END IGNORE NULLS)
               OVER (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS pd,
             first_value(rev_micros IGNORE NULLS) OVER
               (ORDER BY day ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
               AS nv,
             first_value(CASE WHEN rev_micros IS NOT NULL THEN day END IGNORE NULLS)
               OVER (ORDER BY day ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
               AS nd
      FROM joined
    )
    SELECT day, rev_micros, CAST(locf AS BIGINT) AS locf_micros,
           CAST(CASE
             WHEN rev_micros IS NOT NULL THEN rev_micros
             WHEN locf IS NULL OR nv IS NULL THEN NULL
             ELSE locf + (nv - locf)
                  * date_diff('day', pd, day)
                  // nullif(date_diff('day', pd, nd), 0)
           END AS BIGINT) AS interp_micros
    FROM ctx
    """,
)
def q_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_totalprice") > 400000
    )
    obs = o.groupBy(
        F.date_trunc("day", F.col("o_orderdate")).alias("day")
    ).agg(F.sum(_micros(F.col("o_totalprice"))).alias("rev_micros"))
    bounds = obs.agg(
        F.min("day").alias("lo"), F.max("day").alias("hi")
    )
    spine = bounds.select(
        F.explode(
            F.sequence("lo", "hi", F.expr("INTERVAL 1 DAY"))
        ).alias("day")
    )
    joined = spine.join(obs, "day", "left")
    wb = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    wf = Window.orderBy("day").rowsBetween(0, Window.unboundedFollowing)
    obs_day = F.when(F.col("rev_micros").isNotNull(), F.col("day"))
    ctx = joined.select(
        "day",
        "rev_micros",
        F.last("rev_micros", ignorenulls=True).over(wb).alias("locf"),
        F.last(obs_day, ignorenulls=True).over(wb).alias("pd"),
        F.first("rev_micros", ignorenulls=True).over(wf).alias("nv"),
        F.first(obs_day, ignorenulls=True).over(wf).alias("nd"),
    )
    span = F.datediff(F.col("nd"), F.col("pd"))
    interp = (
        F.when(F.col("rev_micros").isNotNull(), F.col("rev_micros"))
        .when(F.col("locf").isNull() | F.col("nv").isNull(), F.lit(None))
        .otherwise(
            F.col("locf")
            + F.expr(
                "(nv - locf) * datediff(day, pd) DIV "
                "nullif(datediff(nd, pd), 0)"
            )
        )
    )
    return ctx.select(
        "day",
        "rev_micros",
        F.col("locf").cast("long").alias("locf_micros"),
        interp.cast("long").alias("interp_micros"),
    )


# CUSUM changepoint: the day where cumulative deviation from the
# global daily mean peaks — the standard level-shift detector. The
# fact collapses to day grain first; the mean enters as a 1-row
# broadcast and deviations use the FLOORED integer mean (identical in
# both engines — a float mean would drift in the cusum tail), so the
# whole cusum path is exact longs; argmax via one orderBy-limit over
# the tiny daily relation.
@register(
    "q_cusum_changepoint",
    f"""
    WITH daily AS (
      SELECT CAST(date_trunc('day', o_orderdate) AS TIMESTAMP) AS day,
             CAST(SUM({_MICROS_SQL.format(expr='o_totalprice')}) AS BIGINT)
               AS rev
      FROM orders GROUP BY 1
    ), m AS (
      SELECT CAST(SUM(rev) // COUNT(*) AS BIGINT) AS mean_rev FROM daily
    ), cusum AS (
      SELECT day, rev,
             SUM(rev - mean_rev) OVER (ORDER BY day
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c
      FROM daily CROSS JOIN m
    )
    SELECT day AS changepoint_day, CAST(c AS BIGINT) AS cusum_micros,
           CAST(ABS(c) AS BIGINT) AS abs_cusum_micros
    FROM cusum ORDER BY ABS(c) DESC, day LIMIT 1
    """,
)
def q_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    o = load_table(spark, sf_dir, "orders")
    daily = o.groupBy(
        F.date_trunc("day", F.col("o_orderdate")).alias("day")
    ).agg(F.sum(_micros(F.col("o_totalprice"))).alias("rev"))
    m = daily.agg(
        F.expr("CAST(SUM(rev) DIV COUNT(*) AS BIGINT)").alias("mean_rev")
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    cusum = daily.crossJoin(F.broadcast(m)).select(
        "day",
        F.sum(F.col("rev") - F.col("mean_rev")).over(w).alias("c"),
    )
    return (
        cusum.orderBy(F.abs(F.col("c")).desc(), F.col("day"))
        .limit(1)
        .select(
            F.col("day").alias("changepoint_day"),
            F.col("c").cast("long").alias("cusum_micros"),
            F.abs(F.col("c")).cast("long").alias("abs_cusum_micros"),
        )
    )


# Holt double exponential smoothing of monthly revenue per supplier
# (operators/grouped.py holt_per_key) — order-recursive with TWO
# coupled states, the applyInPandas case, with a FULL recursive-CTE
# oracle: both engines run the identical IEEE recurrence in the
# identical operand order. Monthly sums enter as exact-int-derived
# doubles (int64 -> double is exact below 2^53), so the recursion
# inputs are bit-equal before the first step.
@register(
    "q_holt",
    f"""
    WITH RECURSIVE monthly AS (
      SELECT l_suppkey,
             CAST(date_trunc('month', l_shipdate) AS TIMESTAMP) AS m,
             CAST(CAST(SUM({_MICROS_SQL.format(expr='l_extendedprice')})
                  AS BIGINT) AS DOUBLE) AS rev
      FROM lineitem GROUP BY 1, 2
    ), base AS (
      SELECT l_suppkey, m, rev,
             ROW_NUMBER() OVER (PARTITION BY l_suppkey ORDER BY m) AS rn
      FROM monthly
    ), rec AS (
      SELECT l_suppkey, m, rev, rn, rev AS level, CAST(0 AS DOUBLE) AS trend
      FROM base WHERE rn = 1
      UNION ALL
      SELECT b.l_suppkey, b.m, b.rev, b.rn,
             0.5 * b.rev + (1 - 0.5) * (r.level + r.trend),
             0.3 * ((0.5 * b.rev + (1 - 0.5) * (r.level + r.trend)) - r.level)
               + (1 - 0.3) * r.trend
      FROM base b JOIN rec r ON b.l_suppkey = r.l_suppkey AND b.rn = r.rn + 1
    )
    SELECT l_suppkey, m, rev, level, trend FROM rec
    """,
)
def q_holt(spark: SparkSession, sf_dir: str) -> DataFrame:
    from frames_spark.operators.grouped import holt_per_key

    li = load_table(spark, sf_dir, "lineitem")
    monthly = li.groupBy(
        "l_suppkey", F.date_trunc("month", F.col("l_shipdate")).alias("m")
    ).agg(
        F.sum(_micros(F.col("l_extendedprice")))
        .cast("double")
        .alias("rev")
    )
    return holt_per_key(
        monthly, "l_suppkey", "m", "rev", alpha=0.5, beta=0.3
    )


# Poisson bootstrap replicate means (Chamandy et al., "Estimating
# Uncertainty for Massive Data Streams", Google 2012): the
# DISTRIBUTED bootstrap — resampling with replacement is impossible
# across partitions, but per-row Poisson(1) weights are iid-close and
# embarrassingly parallel. Weights here are DETERMINISTIC (inverse-
# CDF lookup on a per-(row, replicate) md5 hash), so the replicate
# estimates are layout-invariant and fully oracle-checkable. All 20
# replicate sums fuse into ONE aggregate pass; the unpivot at the end
# touches a 1-row relation.
_BOOT_B = 20
# cumulative Poisson(1) thresholds on a 0..9999 hash: P(X<=k)*10000
_POIS = (3678, 7357, 9196, 9809, 9962, 9993, 9998)


def _boot_w_sql(b: int) -> str:
    inner = "concat(CAST(o_orderkey AS VARCHAR), '#', '" + str(b) + "')"
    h = f"({hash60_sql(inner, seed='boot')} % 10000)"
    conds = " ".join(
        f"WHEN {h} < {t} THEN {k}" for k, t in enumerate(_POIS)
    )
    return f"(CASE {conds} ELSE {len(_POIS)} END)"


@register(
    "q_poisson_bootstrap",
    f"""
    WITH sums AS (
      SELECT
        {", ".join(
            f"SUM({_boot_w_sql(b)} * {_MICROS_SQL.format(expr='o_totalprice')}) AS s_{b}, "
            f"SUM({_boot_w_sql(b)}) AS n_{b}"
            for b in range(_BOOT_B)
        )}
      FROM orders
    )
    SELECT CAST(b AS BIGINT) AS b,
           CAST(FLOOR(s * 1.0 / n + 0.5) AS BIGINT) AS mean_micros
    FROM (
      {" UNION ALL ".join(
          f"SELECT {b} AS b, CAST(s_{b} AS BIGINT) AS s, CAST(n_{b} AS BIGINT) AS n FROM sums"
          for b in range(_BOOT_B)
      )}
    )
    """,
)
def q_poisson_bootstrap(spark: SparkSession, sf_dir: str) -> DataFrame:
    from frames_spark.functions.hashing import hash60

    o = load_table(spark, sf_dir, "orders")
    micros = _micros(F.col("o_totalprice"))

    def w(b: int):
        h = hash60(
            F.concat(
                F.col("o_orderkey").cast("string"), F.lit(f"#{b}")
            ),
            seed="boot",
        ) % 10000
        expr = F.when(h < _POIS[0], 0)
        for k, t in enumerate(_POIS[1:], start=1):
            expr = expr.when(h < t, k)
        return expr.otherwise(len(_POIS))

    aggs = []
    for b in range(_BOOT_B):
        aggs.append(F.sum(w(b) * micros).alias(f"s_{b}"))
        aggs.append(F.sum(w(b)).alias(f"n_{b}"))
    sums = o.agg(*aggs)
    stack = ", ".join(
        f"{b}L, CAST(s_{b} AS BIGINT), CAST(n_{b} AS BIGINT)"
        for b in range(_BOOT_B)
    )
    long = sums.selectExpr(
        f"stack({_BOOT_B}, {stack}) AS (b, s, n)"
    )
    return long.select(
        "b",
        F.floor(F.col("s") * 1.0 / F.col("n") + 0.5)
        .cast("long")
        .alias("mean_micros"),
    )


# Mann-Whitney U (rank-sum) test: do AUTOMOBILE and BUILDING orders
# draw from the same price distribution? Midranks are computed from
# the per-distinct-value counts via the two-phase prefix sum
# (grouped_prefix_sum) — no per-row global ranking, no single-task
# sort — and doubled (2*midrank is integral), so U is EXACT integer
# arithmetic end to end; the normal-approximation z (tie correction
# omitted, standard large-n form) is one double expression at the
# end, micros-quantized.
@register(
    "q_mann_whitney",
    f"""
    WITH seg AS (
      SELECT c_mktsegment AS g, {_MICROS_SQL.format(expr='o_totalprice')} AS v
      FROM orders JOIN customer ON o_custkey = c_custkey
      WHERE c_mktsegment IN ('AUTOMOBILE', 'BUILDING')
    ), vals AS (
      SELECT v, COUNT(*) AS cnt,
             SUM(CASE WHEN g = 'AUTOMOBILE' THEN 1 ELSE 0 END) AS cnt_a
      FROM seg GROUP BY v
    ), cum AS (
      SELECT v, cnt, cnt_a,
             SUM(cnt) OVER (ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c
      FROM vals
    ), tots AS (
      SELECT CAST(SUM(cnt_a) AS BIGINT) AS na,
             CAST(SUM(cnt) - SUM(cnt_a) AS BIGINT) AS nb
      FROM vals
    ), r AS (
      SELECT CAST(SUM(cnt_a * (2 * (c - cnt) + cnt + 1)) AS BIGINT) AS r2_a
      FROM cum
    )
    SELECT na, nb, CAST(r2_a - na * (na + 1) AS BIGINT) AS u2_a,
           CAST(FLOOR(
             (r2_a - na * (na + 1) - na * 1.0 * nb)
             / (2.0 * sqrt(na * 1.0 * nb * (na + nb + 1) / 12.0))
             * 1000000 + 0.5) AS BIGINT) AS z_micros
    FROM r CROSS JOIN tots
    """,
)
def q_mann_whitney(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    seg = (
        o.join(c, F.col("o_custkey") == F.col("c_custkey"))
        .filter(F.col("c_mktsegment").isin("AUTOMOBILE", "BUILDING"))
        .select(
            F.col("c_mktsegment").alias("g"),
            _micros(F.col("o_totalprice")).alias("v"),
        )
    )
    vals = seg.groupBy("v").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.sum(F.when(F.col("g") == "AUTOMOBILE", 1).otherwise(0)).alias(
            "cnt_a"
        ),
    )
    # vals is shuffle-fed (groupBy output): the prefix sum's two
    # branches must observe ONE evaluation of the range exchange, so
    # stage it (see grouped_rank's determinism requirement)
    cum = grouped_prefix_sum(vals, [], ["v"], "cnt", cum_col="c", stage=True)
    tots = vals.agg(
        F.sum("cnt_a").alias("na"),
        (F.sum("cnt") - F.sum("cnt_a")).alias("nb"),
    )
    r = cum.agg(
        F.sum(
            F.col("cnt_a")
            * (2 * (F.col("c") - F.col("cnt")) + F.col("cnt") + 1)
        ).alias("r2_a")
    )
    u2 = F.col("r2_a") - F.col("na") * (F.col("na") + 1)
    z = (
        (u2 - F.col("na") * 1.0 * F.col("nb"))
        / (
            2.0
            * F.sqrt(
                F.col("na")
                * 1.0
                * F.col("nb")
                * (F.col("na") + F.col("nb") + 1)
                / 12.0
            )
        )
    )
    return (
        r.crossJoin(F.broadcast(tots))
        .select(
            "na",
            "nb",
            u2.cast("long").alias("u2_a"),
            _micros(z).alias("z_micros"),
        )
    )
