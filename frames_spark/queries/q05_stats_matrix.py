"""q05_stats_matrix — query registry, module 5 of 9: correlation
matrices and rank statistics, hypothesis tests, concentration
(Zipf, HHI, Lorenz, Heaps), seasonal and trend estimators, substring
dedup and per-source entropy/KL reports.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from frames_spark.functions import text as text_fns
from frames_spark.functions.hashing import hash60_sql
from frames_spark.operators import core as core_ops
from frames_spark.operators import joins as join_ops
from frames_spark.operators.ranking import (
    grouped_prefix_sum,
    grouped_rank,
    ntile_from_rank,
)
from frames_spark.queries.q01_core_ops import (
    _ANN_PLANES_VALUES,
    _FIXED_SQL,
    _MICROS_SQL,
    _TOKENS_SQL,
    _micros,
    register,
)
from frames_spark.queries.q03_text_quality import (
    _SKQ_AMM,
    _SKQ_EST_SQL,
    _SKQ_M,
    _SKQ_P,
    _SKQ_RHO_SQL,
)
from frames_spark.similarity import ann as ann_ops
from frames_spark.sources.tables import load_table


# Pairwise Pearson correlation MATRIX over lineitem's numeric columns
# in ONE fused aggregate pass: all 4 first moments, 4 second moments
# and 6 cross moments are sums in the same map-side-combined agg
# (Catalyst fuses them into one traversal — the Frames fused-fold
# idiom at matrix width). Moments accumulate in DECIMAL(38)/HUGEINT
# exact integers (micros-quantized inputs); each correlation is the
# exact-moments expression over the 1-row relation, unpivoted via
# stack.
_CORR_COLS = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]


@register(
    "q_corr_matrix",
    f"""
    WITH m AS (
      SELECT COUNT(*) AS n,
        {", ".join(f"SUM(CAST({_MICROS_SQL.format(expr=c)} AS HUGEINT)) AS s_{i}" for i, c in enumerate(_CORR_COLS))},
        {", ".join(f"SUM(CAST({_MICROS_SQL.format(expr=c)} AS HUGEINT) * {_MICROS_SQL.format(expr=c)}) AS ss_{i}" for i, c in enumerate(_CORR_COLS))},
        {", ".join(f"SUM(CAST({_MICROS_SQL.format(expr=a)} AS HUGEINT) * {_MICROS_SQL.format(expr=b)}) AS sp_{i}_{j}" for i, a in enumerate(_CORR_COLS) for j, b in enumerate(_CORR_COLS) if i < j)}
      FROM lineitem
    )
    {" UNION ALL ".join(
        f"SELECT '{a}' AS col_a, '{b}' AS col_b, "
        f"CAST(FLOOR((n * sp_{i}_{j} - s_{i} * s_{j}) "
        f"/ sqrt(CAST(n * ss_{i} - s_{i} * s_{i} AS DOUBLE)) "
        f"/ sqrt(CAST(n * ss_{j} - s_{j} * s_{j} AS DOUBLE)) "
        f"* 1000000 + 0.5) AS BIGINT) AS corr_micros FROM m"
        for i, a in enumerate(_CORR_COLS)
        for j, b in enumerate(_CORR_COLS)
        if i < j
    )}
    """,
)
def q_corr_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    dec = "decimal(38,0)"
    cols = {i: _micros(F.col(c)) for i, c in enumerate(_CORR_COLS)}
    aggs = [F.count(F.lit(1)).alias("n")]
    for i in cols:
        aggs.append(F.sum(cols[i].cast(dec)).alias(f"s_{i}"))
        aggs.append(F.sum(cols[i].cast(dec) * cols[i]).alias(f"ss_{i}"))
    for i in cols:
        for j in cols:
            if i < j:
                aggs.append(
                    F.sum(cols[i].cast(dec) * cols[j]).alias(f"sp_{i}_{j}")
                )
    m = li.agg(*aggs)
    outs = []
    for i, a in enumerate(_CORR_COLS):
        for j, b in enumerate(_CORR_COLS):
            if i < j:
                num = (
                    F.col("n").cast(dec) * F.col(f"sp_{i}_{j}")
                    - F.col(f"s_{i}") * F.col(f"s_{j}")
                )
                va = (
                    F.col("n").cast(dec) * F.col(f"ss_{i}")
                    - F.col(f"s_{i}") * F.col(f"s_{i}")
                ).cast("double")
                vb = (
                    F.col("n").cast(dec) * F.col(f"ss_{j}")
                    - F.col(f"s_{j}") * F.col(f"s_{j}")
                ).cast("double")
                outs.append(
                    m.select(
                        F.lit(a).alias("col_a"),
                        F.lit(b).alias("col_b"),
                        F.floor(
                            num.cast("double") / F.sqrt(va) / F.sqrt(vb)
                            * 1000000
                            + 0.5
                        )
                        .cast("long")
                        .alias("corr_micros"),
                    )
                )
    res = outs[0]
    for o in outs[1:]:
        res = res.unionByName(o)
    return res


# Spearman rank correlation (quantity vs price) with EXACT MIDRANKS —
# heavy ties (50 distinct quantities) make the tie-broken row-number
# form wrong, so both columns get midranks from their per-distinct-
# value counts via the staged prefix sum; doubled midranks stay
# integral, the Pearson-on-ranks moments accumulate in
# DECIMAL(38)/HUGEINT, and one double expression closes it. Rank
# tables join back by VALUE (the tiny quantity table broadcasts;
# AQE picks the strategy for the price table).
@register(
    "q_spearman",
    f"""
    WITH rows_ AS (
      SELECT CAST(l_quantity AS BIGINT) AS x,
             {_MICROS_SQL.format(expr='l_extendedprice')} AS y
      FROM lineitem
    ), vx AS (
      SELECT x, COUNT(*) AS cnt FROM rows_ GROUP BY x
    ), rx AS (
      SELECT x, 2 * (SUM(cnt) OVER (ORDER BY x
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - cnt)
               + cnt + 1 AS mr2
      FROM vx
    ), vy AS (
      SELECT y, COUNT(*) AS cnt FROM rows_ GROUP BY y
    ), ry AS (
      SELECT y, 2 * (SUM(cnt) OVER (ORDER BY y
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - cnt)
               + cnt + 1 AS mr2
      FROM vy
    ), ranked AS (
      SELECT rx.mr2 AS a, ry.mr2 AS b
      FROM rows_ JOIN rx USING (x) JOIN ry USING (y)
    ), m AS (
      SELECT COUNT(*) AS n,
             SUM(CAST(a AS HUGEINT)) AS sa, SUM(CAST(b AS HUGEINT)) AS sb,
             SUM(CAST(a AS HUGEINT) * a) AS saa,
             SUM(CAST(b AS HUGEINT) * b) AS sbb,
             SUM(CAST(a AS HUGEINT) * b) AS sab
      FROM ranked
    )
    SELECT CAST(FLOOR(
             CAST(n * sab - sa * sb AS DOUBLE)
             / sqrt(CAST(n * saa - sa * sa AS DOUBLE))
             / sqrt(CAST(n * sbb - sb * sb AS DOUBLE))
             * 1000000 + 0.5) AS BIGINT) AS rho_micros,
           CAST(n AS BIGINT) AS n
    FROM m
    """,
)
def q_spearman(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    rows_ = li.select(
        F.col("l_quantity").cast("long").alias("x"),
        _micros(F.col("l_extendedprice")).alias("y"),
    )

    def midranks(df, col):
        vals = df.groupBy(col).agg(F.count(F.lit(1)).alias("cnt"))
        cum = grouped_prefix_sum(
            vals, [], [col], "cnt", cum_col="c", stage=True
        )
        return cum.select(
            col,
            (2 * (F.col("c") - F.col("cnt")) + F.col("cnt") + 1).alias(
                "mr2"
            ),
        )

    rx = midranks(rows_, "x").withColumnRenamed("mr2", "a")
    ry = midranks(rows_, "y").withColumnRenamed("mr2", "b")
    ranked = rows_.join(F.broadcast(rx), "x").join(ry, "y")
    dec = "decimal(38,0)"
    m = ranked.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("a").cast(dec)).alias("sa"),
        F.sum(F.col("b").cast(dec)).alias("sb"),
        F.sum(F.col("a").cast(dec) * F.col("a")).alias("saa"),
        F.sum(F.col("b").cast(dec) * F.col("b")).alias("sbb"),
        F.sum(F.col("a").cast(dec) * F.col("b")).alias("sab"),
    )
    num = (F.col("n").cast(dec) * F.col("sab") - F.col("sa") * F.col("sb")).cast("double")
    va = (F.col("n").cast(dec) * F.col("saa") - F.col("sa") * F.col("sa")).cast("double")
    vb = (F.col("n").cast(dec) * F.col("sbb") - F.col("sb") * F.col("sb")).cast("double")
    return m.select(
        F.floor(num / F.sqrt(va) / F.sqrt(vb) * 1000000 + 0.5)
        .cast("long")
        .alias("rho_micros"),
        F.col("n").cast("long").alias("n"),
    )


# Welch's t-test + Cohen's d between two customer segments' order
# prices: one fused aggregate computes both groups' exact decimal
# moments (count/sum/sum-of-squares); the t statistic, Welch-
# Satterthwaite degrees of freedom and the effect size are double
# expressions over the 1-row relation, micros-quantized.
@register(
    "q_welch_ttest",
    f"""
    WITH seg AS (
      SELECT c_mktsegment AS g,
             CAST({_MICROS_SQL.format(expr='o_totalprice')} AS HUGEINT) AS v
      FROM orders JOIN customer ON o_custkey = c_custkey
      WHERE c_mktsegment IN ('AUTOMOBILE', 'BUILDING')
    ), m AS (
      SELECT
        SUM(CASE WHEN g = 'AUTOMOBILE' THEN 1 ELSE 0 END) AS na,
        SUM(CASE WHEN g = 'BUILDING' THEN 1 ELSE 0 END) AS nb,
        SUM(CASE WHEN g = 'AUTOMOBILE' THEN v ELSE 0 END) AS sa,
        SUM(CASE WHEN g = 'BUILDING' THEN v ELSE 0 END) AS sb,
        SUM(CASE WHEN g = 'AUTOMOBILE' THEN v * v ELSE 0 END) AS saa,
        SUM(CASE WHEN g = 'BUILDING' THEN v * v ELSE 0 END) AS sbb
      FROM seg
    ), v AS (
      SELECT CAST(na AS BIGINT) AS na, CAST(nb AS BIGINT) AS nb,
             sa * 1.0 / na AS ma, sb * 1.0 / nb AS mb,
             CAST(saa - sa * 1.0 / na * sa AS DOUBLE) / (na - 1) AS va,
             CAST(sbb - sb * 1.0 / nb * sb AS DOUBLE) / (nb - 1) AS vb
      FROM m
    )
    SELECT na, nb,
           CAST(FLOOR((ma - mb) / sqrt(va / na + vb / nb) * 1000000 + 0.5)
                AS BIGINT) AS t_micros,
           CAST(FLOOR(pow(va / na + vb / nb, 2)
                / (pow(va / na, 2) / (na - 1) + pow(vb / nb, 2) / (nb - 1))
                * 1000 + 0.5) AS BIGINT) AS df_millis,
           CAST(FLOOR((ma - mb)
                / sqrt(((na - 1) * va + (nb - 1) * vb) / (na + nb - 2))
                * 1000000 + 0.5) AS BIGINT) AS cohen_d_micros
    FROM v
    """,
)
def q_welch_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    dec = "decimal(38,0)"
    seg = (
        o.join(c, F.col("o_custkey") == F.col("c_custkey"))
        .filter(F.col("c_mktsegment").isin("AUTOMOBILE", "BUILDING"))
        .select(
            F.col("c_mktsegment").alias("g"),
            _micros(F.col("o_totalprice")).cast(dec).alias("v"),
        )
    )
    is_a = F.col("g") == "AUTOMOBILE"
    m = seg.agg(
        F.sum(F.when(is_a, 1).otherwise(0)).alias("na"),
        F.sum(F.when(~is_a, 1).otherwise(0)).alias("nb"),
        F.sum(F.when(is_a, F.col("v")).otherwise(F.lit(0).cast(dec))).alias("sa"),
        F.sum(F.when(~is_a, F.col("v")).otherwise(F.lit(0).cast(dec))).alias("sb"),
        F.sum(F.when(is_a, F.col("v") * F.col("v")).otherwise(F.lit(0).cast(dec))).alias("saa"),
        F.sum(F.when(~is_a, F.col("v") * F.col("v")).otherwise(F.lit(0).cast(dec))).alias("sbb"),
    )
    ma = F.col("sa") * 1.0 / F.col("na")
    mb = F.col("sb") * 1.0 / F.col("nb")
    va = (F.col("saa") - F.col("sa") * 1.0 / F.col("na") * F.col("sa")).cast(
        "double"
    ) / (F.col("na") - 1)
    vb = (F.col("sbb") - F.col("sb") * 1.0 / F.col("nb") * F.col("sb")).cast(
        "double"
    ) / (F.col("nb") - 1)
    se2 = va / F.col("na") + vb / F.col("nb")
    t = (ma - mb) / F.sqrt(se2)
    df = F.pow(se2, 2) / (
        F.pow(va / F.col("na"), 2) / (F.col("na") - 1)
        + F.pow(vb / F.col("nb"), 2) / (F.col("nb") - 1)
    )
    pooled = F.sqrt(
        ((F.col("na") - 1) * va + (F.col("nb") - 1) * vb)
        / (F.col("na") + F.col("nb") - 2)
    )
    d = (ma - mb) / pooled
    return m.select(
        F.col("na").cast("long").alias("na"),
        F.col("nb").cast("long").alias("nb"),
        _micros(t).alias("t_micros"),
        F.floor(df * 1000 + 0.5).cast("long").alias("df_millis"),
        _micros(d).alias("cohen_d_micros"),
    )


# Odds ratio (2x2): does AUTOMOBILE segment membership change the
# odds of a big order? Exact cell counts in one fused aggregate;
# the OR and its log-SE close over the 1-row relation (Woolf
# interval), micros-quantized.
@register(
    "q_odds_ratio",
    """
    WITH cells AS (
      SELECT
        SUM(CASE WHEN c_mktsegment = 'AUTOMOBILE'
                  AND o_totalprice >= 200000 THEN 1 ELSE 0 END) AS a,
        SUM(CASE WHEN c_mktsegment = 'AUTOMOBILE'
                  AND o_totalprice < 200000 THEN 1 ELSE 0 END) AS b,
        SUM(CASE WHEN c_mktsegment <> 'AUTOMOBILE'
                  AND o_totalprice >= 200000 THEN 1 ELSE 0 END) AS c,
        SUM(CASE WHEN c_mktsegment <> 'AUTOMOBILE'
                  AND o_totalprice < 200000 THEN 1 ELSE 0 END) AS d
      FROM orders JOIN customer ON o_custkey = c_custkey
    )
    SELECT CAST(a AS BIGINT) AS a, CAST(b AS BIGINT) AS b,
           CAST(c AS BIGINT) AS c, CAST(d AS BIGINT) AS d,
           CAST(FLOOR(a * 1.0 * d / nullif(b * 1.0 * c, 0) * 1000000 + 0.5)
                AS BIGINT) AS odds_ratio_micros,
           CAST(FLOOR(sqrt(1.0/a + 1.0/b + 1.0/c + 1.0/d) * 1000000 + 0.5)
                AS BIGINT) AS log_se_micros
    FROM cells
    """,
)
def q_odds_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    j = o.join(c, F.col("o_custkey") == F.col("c_custkey"))
    auto = F.col("c_mktsegment") == "AUTOMOBILE"
    big = F.col("o_totalprice") >= 200000
    cells = j.agg(
        F.sum(F.when(auto & big, 1).otherwise(0)).alias("a"),
        F.sum(F.when(auto & ~big, 1).otherwise(0)).alias("b"),
        F.sum(F.when(~auto & big, 1).otherwise(0)).alias("c"),
        F.sum(F.when(~auto & ~big, 1).otherwise(0)).alias("d"),
    )
    orr = (
        F.col("a")
        * 1.0
        * F.col("d")
        / F.nullif(F.col("b") * 1.0 * F.col("c"), F.lit(0.0))
    )
    se = F.sqrt(
        1.0 / F.col("a") + 1.0 / F.col("b") + 1.0 / F.col("c") + 1.0 / F.col("d")
    )
    return cells.select(
        "a", "b", "c", "d",
        _micros(orr).alias("odds_ratio_micros"),
        _micros(se).alias("log_se_micros"),
    )


# Repeat-purchase rate: of users who purchased at all, how many
# purchased on 2+ DISTINCT days — the repeat-behavior KPI. The
# distinct (user, day) collapse comes first; two counts over the
# per-user relation close it.
@register(
    "q_repeat_purchase",
    """
    WITH pd AS (
      SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS TIMESTAMP) AS day
      FROM events WHERE event_type = 'purchase'
    ), per_user AS (
      SELECT user_id, COUNT(*) AS n_days FROM pd GROUP BY user_id
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_buyers,
           CAST(SUM(CASE WHEN n_days >= 2 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_repeat,
           CAST(FLOOR(SUM(CASE WHEN n_days >= 2 THEN 1 ELSE 0 END) * 1.0
                / COUNT(*) * 1000000 + 0.5) AS BIGINT) AS repeat_rate_micros
    FROM per_user
    """,
)
def q_repeat_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    pd_ = (
        ev.filter(F.col("event_type") == "purchase")
        .select("user_id", F.date_trunc("day", F.col("ts")).alias("day"))
        .distinct()
    )
    per_user = pd_.groupBy("user_id").agg(F.count(F.lit(1)).alias("n_days"))
    repeat = F.sum(F.when(F.col("n_days") >= 2, 1).otherwise(0))
    return per_user.agg(
        F.count(F.lit(1)).alias("n_buyers"),
        repeat.alias("n_repeat"),
        _micros(repeat * 1.0 / F.count(F.lit(1))).alias(
            "repeat_rate_micros"
        ),
    )


# Zipf exponent of the corpus token distribution: OLS slope of
# ln(freq) on ln(rank) — the one-number summary of vocabulary shape
# (natural text ~ -1). Ranks ride the STAGED two-phase rank over the
# shuffle-fed vocabulary relation (millions of tokens at corpus
# scale — never a single-task window); both ln()s are micros-
# quantized before the exact decimal moment sums (libm guard), and
# the slope closes as one double expression.
@register(
    "q_zipf",
    """
    WITH vocab AS (
      SELECT tok, COUNT(*) AS freq
      FROM (SELECT unnest(string_split(trim(regexp_replace(lower(text),
              '\\s+', ' ', 'g')), ' ')) AS tok FROM documents)
      GROUP BY tok
    ), ranked AS (
      SELECT freq,
             ROW_NUMBER() OVER (ORDER BY freq DESC, tok) AS rnk
      FROM vocab
    ), pts AS (
      SELECT CAST(FLOOR(ln(rnk) * 1000000 + 0.5) AS BIGINT) AS x,
             CAST(FLOOR(ln(freq) * 1000000 + 0.5) AS BIGINT) AS y
      FROM ranked
    ), m AS (
      SELECT COUNT(*) AS n,
             SUM(CAST(x AS HUGEINT)) AS sx, SUM(CAST(y AS HUGEINT)) AS sy,
             SUM(CAST(x AS HUGEINT) * x) AS sxx,
             SUM(CAST(x AS HUGEINT) * y) AS sxy
      FROM pts
    )
    SELECT CAST(n AS BIGINT) AS n_tokens,
           CAST(FLOOR(CAST(n * sxy - sx * sy AS DOUBLE)
                / CAST(n * sxx - sx * sx AS DOUBLE)
                * 1000000 + 0.5) AS BIGINT) AS zipf_slope_micros
    FROM m
    """,
)
def q_zipf(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = core_ops.spread(load_table(spark, sf_dir, "documents"))
    vocab = (
        docs.select(F.explode(text_fns.tokens(F.col("text"))).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    ranked = grouped_rank(
        vocab,
        [],
        [F.col("freq").desc(), F.col("tok")],
        rank_col="rnk",
        count_col="_n",
        stage=True,
    )
    pts = ranked.select(
        _micros(F.log("rnk")).alias("x"),
        _micros(F.log("freq")).alias("y"),
    )
    dec = "decimal(38,0)"
    m = pts.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("x").cast(dec)).alias("sx"),
        F.sum(F.col("y").cast(dec)).alias("sy"),
        F.sum(F.col("x").cast(dec) * F.col("x")).alias("sxx"),
        F.sum(F.col("x").cast(dec) * F.col("y")).alias("sxy"),
    )
    num = (F.col("n").cast(dec) * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    den = (F.col("n").cast(dec) * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    return m.select(
        F.col("n").cast("long").alias("n_tokens"),
        F.floor(num / den * 1000000 + 0.5).cast("long").alias(
            "zipf_slope_micros"
        ),
    )


# Audience overlap from STORED sketches: |week1 ∩ week4| estimated by
# inclusion-exclusion over HLL register merges (|A| + |B| - |A∪B|) —
# the sketch-algebra answer when only the per-window parts exist and
# the raw events are long gone. Built on the ORACLE-EXACT p=12 cell
# relation (operators/sketches.py hll_cells_by), so all three
# estimates AND the derived overlap are value-gated in DuckDB
# (r8 verdict ask #1); tests still pin the estimate against the
# exact overlap, witnessing the algebra end-to-end.
@register(
    "q_sketch_overlap",
    f"""
    WITH w AS (
      SELECT user_id, CAST(date_trunc('week', ts) AS TIMESTAMP) AS wk
      FROM events
    ), w0 AS (SELECT MIN(wk) AS w0 FROM w),
    sel AS (
      SELECT user_id, date_diff('day', w0.w0, w.wk) // 7 AS wk_idx
      FROM w, w0
      WHERE date_diff('day', w0.w0, w.wk) // 7 IN (0, 3)
    ), h AS (
      SELECT wk_idx, {hash60_sql("CAST(user_id AS VARCHAR)", "hll")} AS h
      FROM sel
    ), keyed AS (
      SELECT wk_idx, h % {_SKQ_M} AS bucket,
             (h - (h % {_SKQ_M})) // {_SKQ_M} AS rem
      FROM h
    ), cells AS (
      SELECT wk_idx, bucket, MAX({_SKQ_RHO_SQL}) AS max_rho
      FROM keyed GROUP BY wk_idx, bucket
    ), agg AS (
      SELECT wk_idx, SUM(power(2.0, -max_rho)) AS z, COUNT(*) AS nb
      FROM cells GROUP BY wk_idx
    ), r AS (
      SELECT wk_idx, {_SKQ_AMM} / (z + CAST({_SKQ_M} - nb AS DOUBLE)) AS raw,
             CAST({_SKQ_M} - nb AS DOUBLE) AS empty
      FROM agg
    ), e AS (
      SELECT wk_idx,
             CAST(FLOOR({_SKQ_EST_SQL} * 1000000 + 0.5) AS BIGINT) AS est
      FROM r
    ), ucells AS (
      SELECT bucket, MAX(max_rho) AS max_rho FROM cells GROUP BY bucket
    ), uagg AS (
      SELECT SUM(power(2.0, -max_rho)) AS z, COUNT(*) AS nb FROM ucells
    ), ur AS (
      SELECT {_SKQ_AMM} / (z + CAST({_SKQ_M} - nb AS DOUBLE)) AS raw,
             CAST({_SKQ_M} - nb AS DOUBLE) AS empty
      FROM uagg
    ), ue AS (
      SELECT CAST(FLOOR({_SKQ_EST_SQL} * 1000000 + 0.5) AS BIGINT)
               AS n_union_micros
      FROM ur
    )
    SELECT e0.est AS n_week1_micros,
           e3.est AS n_week4_micros,
           ue.n_union_micros,
           e0.est + e3.est - ue.n_union_micros AS overlap_est_micros
    FROM (SELECT est FROM e WHERE wk_idx = 0) e0,
         (SELECT est FROM e WHERE wk_idx = 3) e3,
         ue
    """,
)
def q_sketch_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    from frames_spark.operators.sketches import (
        hll_cells_by,
        hll_estimate,
        hll_estimate_by,
    )

    ev = load_table(spark, sf_dir, "events")
    wk = F.date_trunc("week", F.col("ts"))
    lo = ev.agg(F.min(wk).alias("w0"))
    tagged = ev.crossJoin(F.broadcast(lo)).withColumn(
        "wk_idx",
        (F.datediff(wk, F.col("w0")).cast("long") / F.lit(7)).cast("long"),
    )
    cells = hll_cells_by(
        tagged.filter(F.col("wk_idx").isin(0, 3)),
        ["wk_idx"],
        "user_id",
        p=_SKQ_P,
    )
    est = hll_estimate_by(cells, ["wk_idx"], p=_SKQ_P)
    a = est.filter(F.col("wk_idx") == 0).select(
        F.col("est_micros").alias("n_week1_micros")
    )
    b = est.filter(F.col("wk_idx") == 3).select(
        F.col("est_micros").alias("n_week4_micros")
    )
    ucells = cells.groupBy("bucket").agg(F.max("max_rho").alias("max_rho"))
    u = hll_estimate(ucells, p=_SKQ_P).select(
        F.col("est_micros").alias("n_union_micros")
    )
    return (
        a.crossJoin(F.broadcast(b))
        .crossJoin(F.broadcast(u))
        .select(
            "n_week1_micros",
            "n_week4_micros",
            "n_union_micros",
            (
                F.col("n_week1_micros")
                + F.col("n_week4_micros")
                - F.col("n_union_micros")
            ).alias("overlap_est_micros"),
        )
    )


# Herfindahl-Hirschman concentration of supplier revenue within each
# part type — the market-concentration standard (HHI > 2500 =
# concentrated). One fact aggregate on (type, supplier); shares
# square inside exact decimals against the per-type total (window
# over the tiny type x supplier relation), one double division per
# type at the end; share^2 terms are quantized BEFORE the sum so
# partition order can't drift the total.
@register(
    "q_hhi",
    f"""
    WITH rev AS (
      SELECT p_type, l_suppkey,
             CAST(SUM({_MICROS_SQL.format(expr='l_extendedprice')}) AS HUGEINT)
               AS r
      FROM lineitem JOIN part ON l_partkey = p_partkey
      GROUP BY 1, 2
    ), tot AS (
      SELECT p_type, r, SUM(r) OVER (PARTITION BY p_type) AS t FROM rev
    )
    SELECT p_type,
           CAST(SUM(CAST(FLOOR(CAST(r AS DOUBLE) / CAST(t AS DOUBLE)
                          * CAST(r AS DOUBLE) / CAST(t AS DOUBLE)
                * 10000000000 + 0.5) AS BIGINT)) AS BIGINT)
             AS hhi_micropoints
    FROM tot GROUP BY p_type
    """,
)
def q_hhi(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    dec = "decimal(38,0)"
    rev = (
        li.join(p, F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_type", "l_suppkey")
        .agg(F.sum(_micros(F.col("l_extendedprice"))).cast(dec).alias("r"))
    )
    w = Window.partitionBy("p_type")
    tot = rev.select(
        "p_type", "r", F.sum("r").over(w).alias("t")
    )
    # per-term quantization BEFORE the sum: summing raw share^2
    # doubles would drift with partition order (the standard micros
    # rule); 1e10 scale = HHI micro-points on the 0..10000 scale
    share = F.col("r").cast("double") / F.col("t").cast("double")
    return tot.groupBy("p_type").agg(
        F.sum(
            F.floor(share * share * 10_000_000_000 + 0.5).cast("long")
        ).alias("hhi_micropoints")
    )


# Weekday-adjusted daily revenue: divide each day by its day-of-week
# seasonal index (mean-of-weekday / grand mean) — the de-seasonalized
# series trend analyses want. Both the daily series and the 7-row
# index are aggregates; the adjustment joins the tiny index back
# broadcast; index and adjusted values are micros-quantized ratios of
# exact integers.
@register(
    "q_seasonal_adjust",
    f"""
    WITH daily AS (
      SELECT CAST(date_trunc('day', o_orderdate) AS TIMESTAMP) AS day,
             dayofweek(o_orderdate) AS dow,
             CAST(SUM({_MICROS_SQL.format(expr='o_totalprice')}) AS BIGINT)
               AS rev
      FROM orders GROUP BY 1, 2
    ), idx AS (
      SELECT dow,
             CAST(FLOOR(
               (SUM(rev) * 1.0 / COUNT(*))
               / ((SELECT SUM(rev) FROM daily) * 1.0
                  / (SELECT COUNT(*) FROM daily))
               * 1000000 + 0.5) AS BIGINT) AS index_micros
      FROM daily GROUP BY dow
    )
    SELECT day, rev,
           index_micros,
           CAST((CAST(rev AS HUGEINT) * 1000000 + index_micros // 2)
                // index_micros AS BIGINT) AS adj_rev_micros
    FROM daily JOIN idx USING (dow)
    """,
)
def q_seasonal_adjust(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    # align numbering with DuckDB dayofweek (see q_weekday_profile) —
    # here dow is only a JOIN key, so any consistent numbering works,
    # but the column is part of the grouping on both sides
    dow = F.dayofweek(F.col("o_orderdate")) - 1
    daily = o.groupBy(
        F.date_trunc("day", F.col("o_orderdate")).alias("day"),
        dow.alias("dow"),
    ).agg(F.sum(_micros(F.col("o_totalprice"))).alias("rev"))
    grand = daily.agg(
        F.sum("rev").alias("g_sum"), F.count(F.lit(1)).alias("g_n")
    )
    idx = (
        daily.groupBy("dow")
        .agg(F.sum("rev").alias("d_sum"), F.count(F.lit(1)).alias("d_n"))
        .crossJoin(F.broadcast(grand))
        .select(
            "dow",
            _micros(
                (F.col("d_sum") * 1.0 / F.col("d_n"))
                / (F.col("g_sum") * 1.0 / F.col("g_n"))
            ).alias("index_micros"),
        )
    )
    # PURE integer rounding division on both engines: rev * 1e6
    # overflows the double mantissa at sf0.1 daily sums, and DuckDB
    # parses 1000000.0 as DECIMAL — mixed float/decimal arithmetic
    # diverged by 1 micro on boundary rows (caught at sf0.1)
    return daily.join(F.broadcast(idx), "dow").select(
        "day",
        "rev",
        "index_micros",
        F.expr(
            "CAST((CAST(rev AS DECIMAL(38,0)) * 1000000 "
            "+ index_micros DIV 2) DIV index_micros AS BIGINT)"
        ).alias("adj_rev_micros"),
    )


# Heaps' law exponent: vocabulary size vs corpus size in doc order —
# the companion corpus law to q_zipf (natural text: V ~ k*N^beta,
# beta ~ 0.4-0.8). First occurrences come from one min-doc-per-token
# aggregate (never a scan of history per doc); both cumulative series
# ride the STAGED prefix sum over the per-doc relation; the log-log
# OLS closes in exact decimal moments over micros-quantized lns.
@register(
    "q_heaps",
    f"""
    WITH toks AS (
      SELECT doc_id, unnest({_TOKENS_SQL}) AS tok FROM documents
    ), per_doc AS (
      SELECT doc_id, COUNT(*) AS n_toks FROM toks GROUP BY doc_id
    ), firsts AS (
      SELECT MIN(doc_id) AS doc_id, COUNT(*) AS dummy_tok
      FROM toks GROUP BY tok
    ), new_per_doc AS (
      SELECT doc_id, COUNT(*) AS n_new FROM firsts GROUP BY doc_id
    ), series AS (
      SELECT p.doc_id,
             SUM(p.n_toks) OVER (ORDER BY p.doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_toks,
             SUM(coalesce(n.n_new, 0)) OVER (ORDER BY p.doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_vocab
      FROM per_doc p LEFT JOIN new_per_doc n ON p.doc_id = n.doc_id
    ), pts AS (
      SELECT CAST(FLOOR(ln(cum_toks) * 1000000 + 0.5) AS BIGINT) AS x,
             CAST(FLOOR(ln(cum_vocab) * 1000000 + 0.5) AS BIGINT) AS y
      FROM series
    ), m AS (
      SELECT COUNT(*) AS n,
             SUM(CAST(x AS HUGEINT)) AS sx, SUM(CAST(y AS HUGEINT)) AS sy,
             SUM(CAST(x AS HUGEINT) * x) AS sxx,
             SUM(CAST(x AS HUGEINT) * y) AS sxy
      FROM pts
    )
    SELECT CAST(n AS BIGINT) AS n_docs,
           CAST(FLOOR(CAST(n * sxy - sx * sy AS DOUBLE)
                / CAST(n * sxx - sx * sx AS DOUBLE)
                * 1000000 + 0.5) AS BIGINT) AS heaps_beta_micros
    FROM m
    """,
)
def q_heaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = core_ops.spread(load_table(spark, sf_dir, "documents"))
    toks = docs.select(
        "doc_id", F.explode(text_fns.tokens(F.col("text"))).alias("tok")
    )
    per_doc = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_toks"))
    firsts = toks.groupBy("tok").agg(F.min("doc_id").alias("doc_id"))
    new_per_doc = firsts.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_new")
    )
    base = per_doc.join(new_per_doc, "doc_id", "left").select(
        "doc_id",
        "n_toks",
        F.coalesce(F.col("n_new"), F.lit(0)).alias("n_new"),
    )
    s1 = grouped_prefix_sum(
        base, [], ["doc_id"], "n_toks", cum_col="cum_toks", stage=True
    )
    series = grouped_prefix_sum(
        s1, [], ["doc_id"], "n_new", cum_col="cum_vocab", stage=True
    )
    pts = series.select(
        _micros(F.log("cum_toks")).alias("x"),
        _micros(F.log("cum_vocab")).alias("y"),
    )
    dec = "decimal(38,0)"
    m = pts.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("x").cast(dec)).alias("sx"),
        F.sum(F.col("y").cast(dec)).alias("sy"),
        F.sum(F.col("x").cast(dec) * F.col("x")).alias("sxx"),
        F.sum(F.col("x").cast(dec) * F.col("y")).alias("sxy"),
    )
    num = (F.col("n").cast(dec) * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    den = (F.col("n").cast(dec) * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    return m.select(
        F.col("n").cast("long").alias("n_docs"),
        F.floor(num / den * 1000000 + 0.5).cast("long").alias(
            "heaps_beta_micros"
        ),
    )


# Lorenz curve (revenue share by customer decile) — the plot behind
# q_gini_revenue. Deciles come from the two-phase rank's arithmetic
# (ntile_from_rank); per-decile micros sums are exact; shares divide
# against a 1-row total broadcast.
@register(
    "q_lorenz_points",
    f"""
    WITH per_cust AS (
      SELECT o_custkey,
             CAST(SUM({_MICROS_SQL.format(expr='o_totalprice')}) AS BIGINT)
               AS spend
      FROM orders GROUP BY 1
    ), ranked AS (
      SELECT spend, NTILE(10) OVER (ORDER BY spend, o_custkey) AS decile
      FROM per_cust
    ), tot AS (SELECT SUM(spend) AS t FROM per_cust)
    SELECT CAST(decile AS BIGINT) AS decile,
           CAST(SUM(spend) AS BIGINT) AS spend_micros,
           CAST(FLOOR(SUM(spend) * 1.0 / t * 1000000 + 0.5) AS BIGINT)
             AS share_micros
    FROM ranked CROSS JOIN tot
    GROUP BY decile, t
    """,
)
def q_lorenz_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    per_cust = o.groupBy("o_custkey").agg(
        F.sum(_micros(F.col("o_totalprice"))).alias("spend")
    )
    ranked = grouped_rank(
        per_cust,
        [],
        ["spend", "o_custkey"],
        rank_col="rn",
        count_col="n",
        stage=True,  # per_cust is shuffle-fed
    )
    decile = ntile_from_rank(F.col("rn"), F.col("n"), 10)
    tot = per_cust.agg(F.sum("spend").alias("t"))
    return (
        ranked.select(decile.alias("decile"), "spend")
        .groupBy("decile")
        .agg(F.sum("spend").alias("spend_micros"))
        .crossJoin(F.broadcast(tot))
        .select(
            "decile",
            "spend_micros",
            _micros(F.col("spend_micros") * 1.0 / F.col("t")).alias(
                "share_micros"
            ),
        )
    )


# PMI collocations: adjacent token pairs that co-occur far above
# chance — classic phrase extraction. Bigrams build POSITIONALLY in
# the scan stage (zip of the token array with its tail — no
# posexplode self-join, same trick as q_bigram_logprob); unigram
# marginals join back; PMI = ln(N * n_ab / (n_a * n_b)) over exact
# longs, micros-quantized; min-count filter keeps the tail noise out.
@register(
    "q_collocations",
    f"""
    WITH toks AS (
      SELECT {_TOKENS_SQL} AS ts FROM documents
    ), bigrams AS (
      SELECT unnest(list_zip(ts[1:-2], ts[2:-1])) AS bg FROM toks
    ), bg AS (
      SELECT bg[1] AS w1, bg[2] AS w2, COUNT(*) AS n_ab
      FROM bigrams GROUP BY 1, 2
    ), uni AS (
      SELECT unnest(ts) AS w FROM toks
    ), uc AS (
      SELECT w, COUNT(*) AS n FROM uni GROUP BY w
    ), tot AS (SELECT SUM(n) AS t FROM uc)
    SELECT w1, w2, CAST(n_ab AS BIGINT) AS n_ab,
           CAST(FLOOR(ln(t * 1.0 * n_ab / (u1.n * 1.0 * u2.n)) * 1000000
                + 0.5) AS BIGINT) AS pmi_micros
    FROM bg JOIN uc u1 ON u1.w = w1 JOIN uc u2 ON u2.w = w2 CROSS JOIN tot
    WHERE n_ab >= 10
    """,
)
def q_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = core_ops.spread(load_table(spark, sf_dir, "documents"))
    ts = text_fns.tokens(F.col("text"))
    bigrams = docs.select(
        F.explode(
            F.zip_with(
                F.slice(ts, 1, F.size(ts) - 1),
                F.slice(ts, 2, F.size(ts) - 1),
                lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
            )
        ).alias("bg")
    )
    bg = bigrams.groupBy(
        F.col("bg.w1").alias("w1"), F.col("bg.w2").alias("w2")
    ).agg(F.count(F.lit(1)).alias("n_ab"))
    uc = docs.select(F.explode(ts).alias("w")).groupBy("w").agg(
        F.count(F.lit(1)).alias("n")
    )
    tot = uc.agg(F.sum("n").alias("t"))
    u1 = uc.select(F.col("w").alias("w1"), F.col("n").alias("n1"))
    u2 = uc.select(F.col("w").alias("w2"), F.col("n").alias("n2"))
    pmi = F.log(
        F.col("t") * 1.0 * F.col("n_ab") / (F.col("n1") * 1.0 * F.col("n2"))
    )
    return (
        bg.filter(F.col("n_ab") >= 10)
        .join(u1, "w1")
        .join(u2, "w2")
        .crossJoin(F.broadcast(tot))
        .select("w1", "w2", "n_ab", _micros(pmi).alias("pmi_micros"))
    )


# Decile lift table: users ranked into spend deciles, heavy-buyer
# rate per decile vs the base rate — the targeting-model evaluation
# standard. Per-user rollup first; deciles from the STAGED two-phase
# rank; rates and lift divide exact longs, micros-quantized.
@register(
    "q_decile_lift",
    """
    WITH per_user AS (
      SELECT user_id,
             CAST(SUM(CASE WHEN event_type = 'purchase'
                  THEN CAST(FLOOR(value * 1000000 + 0.5) AS BIGINT)
                  ELSE 0 END) AS BIGINT) AS spend,
             CASE WHEN SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                       >= 10 THEN 1 ELSE 0 END AS heavy
      FROM events GROUP BY user_id
    ), ranked AS (
      SELECT spend, heavy,
             NTILE(10) OVER (ORDER BY spend DESC, user_id) AS decile
      FROM per_user
    ), base AS (
      SELECT SUM(heavy) * 1.0 / COUNT(*) AS base_rate FROM per_user
    )
    SELECT CAST(decile AS BIGINT) AS decile,
           CAST(COUNT(*) AS BIGINT) AS n_users,
           CAST(SUM(heavy) AS BIGINT) AS n_heavy,
           CAST(FLOOR(SUM(heavy) * 1.0 / COUNT(*) / base_rate * 1000000
                + 0.5) AS BIGINT) AS lift_micros
    FROM ranked CROSS JOIN base
    GROUP BY decile, base_rate
    """,
)
def q_decile_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    is_p = F.col("event_type") == "purchase"
    per_user = ev.groupBy("user_id").agg(
        F.sum(
            F.when(is_p, _micros(F.col("value"))).otherwise(0)
        ).alias("spend"),
        F.when(F.sum(F.when(is_p, 1).otherwise(0)) >= 10, 1)
        .otherwise(0)
        .alias("heavy"),
    )
    ranked = grouped_rank(
        per_user,
        [],
        [F.col("spend").desc(), F.col("user_id")],
        rank_col="rn",
        count_col="n",
        stage=True,
    )
    decile = ntile_from_rank(F.col("rn"), F.col("n"), 10)
    base = per_user.agg(
        (F.sum("heavy") * 1.0 / F.count(F.lit(1))).alias("base_rate")
    )
    return (
        ranked.select(decile.alias("decile"), "heavy")
        .groupBy("decile")
        .agg(
            F.count(F.lit(1)).alias("n_users"),
            F.sum("heavy").alias("n_heavy"),
        )
        .crossJoin(F.broadcast(base))
        .select(
            "decile",
            "n_users",
            "n_heavy",
            _micros(
                F.col("n_heavy") * 1.0 / F.col("n_users") / F.col("base_rate")
            ).alias("lift_micros"),
        )
    )


# Corpus token entropy + effective vocabulary (exp H) — "how many
# tokens does this corpus really use": the one-number diversity
# summary next to q_zipf/q_heaps. p ln p terms over exact counts,
# nano-quantized before the sum; exp stays at the caller's edge
# (effective vocab reported as H itself plus the plain count).
@register(
    "q_token_entropy",
    f"""
    WITH uc AS (
      SELECT tok, COUNT(*) AS n
      FROM (SELECT unnest({_TOKENS_SQL}) AS tok FROM documents)
      GROUP BY tok
    ), tot AS (SELECT SUM(n) AS t, COUNT(*) AS v FROM uc)
    SELECT CAST(v AS BIGINT) AS vocab_size,
           CAST(t AS BIGINT) AS n_tokens,
           CAST(SUM(CAST(FLOOR(-(n * 1.0 / t) * ln(n * 1.0 / t)
                * 1000000000 + 0.5) AS BIGINT)) AS BIGINT)
             AS entropy_nanos_sum
    FROM uc CROSS JOIN tot
    GROUP BY t, v
    """,
)
def q_token_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = core_ops.spread(load_table(spark, sf_dir, "documents"))
    uc = docs.select(
        F.explode(text_fns.tokens(F.col("text"))).alias("tok")
    ).groupBy("tok").agg(F.count(F.lit(1)).alias("n"))
    tot = uc.agg(F.sum("n").alias("t"), F.count(F.lit(1)).alias("v"))
    p = F.col("n") * 1.0 / F.col("t")
    term = F.floor(-p * F.log(p) * 1_000_000_000 + 0.5).cast("long")
    return (
        uc.crossJoin(F.broadcast(tot))
        .groupBy("t", "v")
        .agg(F.sum(term).alias("entropy_nanos_sum"))
        .select(
            F.col("v").cast("long").alias("vocab_size"),
            F.col("t").cast("long").alias("n_tokens"),
            "entropy_nanos_sum",
        )
    )


# Where does a $200k order sit in each segment's distribution?
# Percentile-of-value WITHOUT any ranking: one conditional aggregate
# per group (count below / total) — the O(1)-extra-work dual of the
# quantile queries, exact longs, micros-quantized ratio.
@register(
    "q_value_percentile",
    """
    SELECT c_mktsegment,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CASE WHEN o_totalprice < 200000 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_below,
           CAST(FLOOR(SUM(CASE WHEN o_totalprice < 200000 THEN 1 ELSE 0 END)
                * 1.0 / COUNT(*) * 1000000 + 0.5) AS BIGINT)
             AS percentile_micros
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY c_mktsegment
    """,
)
def q_value_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    below = F.sum(
        F.when(F.col("o_totalprice") < 200000, 1).otherwise(0)
    )
    return (
        o.join(c, F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n"),
            below.alias("n_below"),
            _micros(below * 1.0 / F.count(F.lit(1))).alias(
                "percentile_micros"
            ),
        )
    )


# Calendar heatmap grid: (week index, day-of-week) event counts +
# micros revenue — the report.histogram feed for activity calendars.
# One map-side-combined groupBy on two derived integers.
@register(
    "q_calendar_heatmap",
    """
    WITH b AS (SELECT MIN(CAST(date_trunc('week', ts) AS TIMESTAMP)) AS w0
               FROM events)
    SELECT CAST(date_diff('day', w0, CAST(date_trunc('week', ts) AS TIMESTAMP))
                // 7 AS BIGINT) AS week_idx,
           CAST(dayofweek(CAST(ts AS TIMESTAMP)) AS BIGINT) AS dow,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(FLOOR(value * 1000000 + 0.5) AS BIGINT)) AS BIGINT)
             AS value_micros
    FROM events CROSS JOIN b
    GROUP BY 1, 2
    """,
)
def q_calendar_heatmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    wk = F.date_trunc("week", F.col("ts"))
    b = ev.agg(F.min(wk).alias("w0"))
    return (
        ev.crossJoin(F.broadcast(b))
        .groupBy(
            F.expr(
                "CAST(datediff(date_trunc('week', ts), w0) DIV 7 AS BIGINT)"
            ).alias("week_idx"),
            (F.dayofweek(F.col("ts")) - 1).cast("long").alias("dow"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(_micros(F.col("value"))).alias("value_micros"),
        )
    )


# Tukey-fence outlier share per segment: the boxplot rule (outside
# [q1 - 1.5 IQR, q3 + 1.5 IQR]) as a data-quality gate. Grouped
# quartiles in exact micros (percentile over integers interpolates
# bit-identically in both engines), fences in exact integer halves
# (x2 scaling avoids fractional micros), broadcast back onto one
# conditional aggregate per segment.
@register(
    "q_tukey_outliers",
    f"""
    WITH j AS (
      SELECT c_mktsegment AS g, {_MICROS_SQL.format(expr='o_totalprice')} AS v
      FROM orders JOIN customer ON o_custkey = c_custkey
    ), q AS (
      SELECT g,
             CAST(2 * quantile_cont(v, 0.25) AS BIGINT) AS q1_2,
             CAST(2 * quantile_cont(v, 0.75) AS BIGINT) AS q3_2
      FROM j GROUP BY g
    )
    SELECT g AS c_mktsegment,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CASE WHEN 2 * v < q1_2 - 3 * (q3_2 - q1_2) / 2
                          OR 2 * v > q3_2 + 3 * (q3_2 - q1_2) / 2
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
    FROM j JOIN q USING (g)
    GROUP BY g
    """,
)
def q_tukey_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    j = o.join(
        c, F.col("o_custkey") == F.col("c_custkey")
    ).select(
        F.col("c_mktsegment").alias("g"),
        _micros(F.col("o_totalprice")).alias("v"),
    )
    q = j.groupBy("g").agg(
        (2 * F.expr("percentile(v, 0.25)")).cast("long").alias("q1_2"),
        (2 * F.expr("percentile(v, 0.75)")).cast("long").alias("q3_2"),
    )
    iqr3_2 = 3 * (F.col("q3_2") - F.col("q1_2")) / 2
    is_out = (2 * F.col("v") < F.col("q1_2") - iqr3_2) | (
        2 * F.col("v") > F.col("q3_2") + iqr3_2
    )
    return (
        j.join(F.broadcast(q), "g")
        .groupBy("g")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.when(is_out, 1).otherwise(0)).alias("n_outliers"),
        )
        .select(
            F.col("g").alias("c_mktsegment"), "n", "n_outliers"
        )
    )


# Revenue time-concentration: how many of the busiest days carry 80%
# of all revenue (the "effective season length"). Daily sums ordered
# descending through the STAGED prefix sum; the answer is the first
# rank whose cumulative share clears 80% — an exact-integer filter
# (5*cum >= 4*total), one orderBy-limit over the tiny daily relation.
@register(
    "q_days_to_80pct",
    f"""
    WITH daily AS (
      SELECT CAST(date_trunc('day', o_orderdate) AS TIMESTAMP) AS day,
             CAST(SUM({_MICROS_SQL.format(expr='o_totalprice')}) AS BIGINT)
               AS rev
      FROM orders GROUP BY 1
    ), cum AS (
      SELECT day, rev,
             SUM(rev) OVER (ORDER BY rev DESC, day
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c,
             SUM(rev) OVER () AS t,
             ROW_NUMBER() OVER (ORDER BY rev DESC, day) AS rn
      FROM daily
    )
    SELECT CAST(MIN(rn) AS BIGINT) AS days_to_80pct,
           CAST(MIN(t) AS BIGINT) AS total_micros,
           CAST(COUNT(*) AS BIGINT) AS qualifying_days
    FROM cum WHERE 5 * c >= 4 * t
    """,
)
def q_days_to_80pct(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    daily = o.groupBy(
        F.date_trunc("day", F.col("o_orderdate")).alias("day")
    ).agg(F.sum(_micros(F.col("o_totalprice"))).alias("rev"))
    cum = grouped_prefix_sum(
        daily,
        [],
        [F.col("rev").desc(), F.col("day")],
        "rev",
        cum_col="c",
        total_col="t",
        stage=True,  # daily is shuffle-fed
    )
    ranked = grouped_rank(
        daily,
        [],
        [F.col("rev").desc(), F.col("day")],
        rank_col="rn",
        count_col="_n",
        stage=True,
    ).select("day", "rn")
    return (
        cum.join(ranked, "day")
        .filter(5 * F.col("c") >= 4 * F.col("t"))
        .agg(
            F.min("rn").cast("long").alias("days_to_80pct"),
            F.min("t").cast("long").alias("total_micros"),
            F.count(F.lit(1)).alias("qualifying_days"),
        )
    )


# ---------------------------------------------------------------------------
# Substring-level exact dedup (Lee et al. 2022 ExactSubstr semantics
# at fixed span granularity): every non-first occurrence of a
# corpus-wide repeated 8-token span is excised from its document.
# The Spark shape is the inverted-index ladder (dedup/substring.py);
# the oracle mirrors it span-for-span, rebuilding each document with
# a coverage anti-join + ordered string_agg.
# ---------------------------------------------------------------------------
@register(
    "q_substring_dedup",
    """
    WITH toks AS (
      SELECT doc_id, list_filter(regexp_split_to_array(text, ' +'), x -> x <> '') AS t
      FROM documents
    ),
    grams AS (
      SELECT doc_id, i AS pos,
             md5(array_to_string(t[i+1:i+8], ' ')) AS h,
             doc_id * 1000000 + i AS okey
      FROM toks, unnest(range(0, greatest(len(t) - 7, 0))) AS u(i)
    ),
    canon AS (
      SELECT h, COUNT(*) AS c, MIN(okey) AS first_key
      FROM grams GROUP BY h HAVING COUNT(*) >= 2
    ),
    dups AS (
      SELECT g.doc_id, g.pos
      FROM grams g JOIN canon c USING (h)
      WHERE g.okey <> c.first_key
    ),
    tok_rows AS (
      SELECT doc_id, generate_subscripts(t, 1) - 1 AS i, unnest(t) AS tok
      FROM toks
    ),
    covered AS (
      SELECT DISTINCT r.doc_id, r.i
      FROM tok_rows r JOIN dups d
        ON d.doc_id = r.doc_id AND r.i BETWEEN d.pos AND d.pos + 7
    )
    SELECT r.doc_id,
           COUNT(*) AS n_tokens,
           CAST(COUNT(c.i) AS BIGINT) AS n_removed,
           COALESCE(string_agg(CASE WHEN c.i IS NULL THEN r.tok END, ' ' ORDER BY r.i), '') AS clean_text
    FROM tok_rows r LEFT JOIN covered c ON c.doc_id = r.doc_id AND c.i = r.i
    GROUP BY r.doc_id
    """,
)
def q_substring_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from frames_spark.dedup.substring import excise_repeated_ngrams

    docs = load_table(spark, sf_dir, "documents")
    return excise_repeated_ngrams(docs, "doc_id", "text", n=8, min_count=2)


# ---------------------------------------------------------------------------
# Conditional entropy of the event-transition process: H(next | cur)
# per current event type — how predictable the next step is (the
# information-theoretic refinement of q_transitions' raw matrix).
# Transition counts are one lead-window pass + one map-side-combined
# groupBy; entropy terms are nano-quantized per transition BEFORE the
# sum (the q_token_entropy idiom — partition-order float drift cannot
# reach the artifact).
# ---------------------------------------------------------------------------
@register(
    "q_cond_entropy",
    """
    WITH seq AS (
      SELECT event_type AS cur,
             LEAD(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS nxt
      FROM events
    ), cnt AS (
      SELECT cur, nxt, COUNT(*) AS n
      FROM seq WHERE nxt IS NOT NULL GROUP BY cur, nxt
    ), tot AS (SELECT cur, SUM(n) AS t FROM cnt GROUP BY cur)
    SELECT c.cur,
           CAST(t.t AS BIGINT) AS n_trans,
           CAST(SUM(CAST(FLOOR(-(n * 1.0 / t.t) * ln(n * 1.0 / t.t)
                * 1000000000 + 0.5) AS BIGINT)) AS BIGINT)
             AS entropy_nanos_sum
    FROM cnt c JOIN tot t ON c.cur = t.cur
    GROUP BY c.cur, t.t
    """,
)
def q_cond_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    cnt = (
        ev.select(
            F.col("event_type").alias("cur"),
            F.lead("event_type").over(w).alias("nxt"),
        )
        .filter(F.col("nxt").isNotNull())
        .groupBy("cur", "nxt")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    tot = cnt.groupBy("cur").agg(F.sum("n").alias("t"))
    p = F.col("n") * 1.0 / F.col("t")
    term = F.floor(-p * F.log(p) * 1_000_000_000 + 0.5).cast("long")
    # tot is one row per event type — schema-bounded broadcast
    return (
        cnt.join(F.broadcast(tot), "cur")
        .groupBy("cur", "t")
        .agg(F.sum(term).alias("entropy_nanos_sum"))
        .select(
            "cur",
            F.col("t").cast("long").alias("n_trans"),
            F.col("entropy_nanos_sum").cast("long").alias("entropy_nanos_sum"),
        )
    )


# ---------------------------------------------------------------------------
# Burstiness (Fano factor) of daily event arrivals per type:
# var/mean of the observed-day counts — 1 for a Poisson process,
# larger = bursty traffic. Exact integer moments in DECIMAL(38)/
# HUGEINT, closed by the pure integer rounding division (the
# q_seasonal_adjust idiom — no float in the artifact at all).
# Defined over OBSERVED days (days with >= 1 event of the type).
# ---------------------------------------------------------------------------
@register(
    "q_burstiness",
    """
    WITH daily AS (
      SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
             COUNT(*) AS c
      FROM events GROUP BY 1, 2
    ), m AS (
      SELECT event_type, COUNT(*) AS d,
             SUM(CAST(c AS HUGEINT)) AS s1,
             SUM(CAST(c AS HUGEINT) * c) AS s2
      FROM daily GROUP BY event_type
    )
    SELECT event_type,
           CAST(d AS BIGINT) AS n_days,
           CAST(s1 AS BIGINT) AS n_events,
           CAST(((d * s2 - s1 * s1) * 1000000 + (d * s1) // 2)
                // (d * s1) AS BIGINT) AS fano_micros
    FROM m
    """,
)
def q_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.date_trunc("day", F.col("ts")).cast("date").alias("day")
    ).agg(F.count(F.lit(1)).alias("c"))
    dec = "decimal(38,0)"
    m = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("d"),
        F.sum(F.col("c").cast(dec)).alias("s1"),
        F.sum(F.col("c").cast(dec) * F.col("c")).alias("s2"),
    )
    return m.select(
        "event_type",
        F.col("d").cast("long").alias("n_days"),
        F.col("s1").cast("long").alias("n_events"),
        F.expr(
            "CAST(((CAST(d AS DECIMAL(38,0)) * s2 - s1 * s1) * 1000000 "
            "+ (CAST(d AS DECIMAL(38,0)) * s1) DIV 2) "
            "DIV (CAST(d AS DECIMAL(38,0)) * s1) AS BIGINT)"
        ).alias("fano_micros"),
    )


# ---------------------------------------------------------------------------
# Order-of-magnitude histogram of order values: log-scale binning
# WITHOUT ln() — the bin is the digit count of the integer part
# (exact and portable; a power-of-ten boundary value can never flip
# bins on float rounding, the trap a floor(log10(x)) formulation
# carries). One map-side-combined groupBy on a derived integer.
# ---------------------------------------------------------------------------
@register(
    "q_hist_log",
    f"""
    SELECT LENGTH(CAST(CAST(FLOOR(o_totalprice) AS BIGINT) AS VARCHAR)) AS digits,
           COUNT(*) AS n,
           CAST(SUM({_MICROS_SQL.format(expr='o_totalprice')}) AS BIGINT)
             AS sum_micros
    FROM orders
    GROUP BY 1
    """,
)
def q_hist_log(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    digits = (
        F.length(F.floor(F.col("o_totalprice")).cast("long").cast("string"))
        .cast("long")
        .alias("digits")
    )
    return o.groupBy(digits).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(_micros(F.col("o_totalprice"))).alias("sum_micros"),
    )


# ---------------------------------------------------------------------------
# Theil-Sen robust trend: median of all pairwise slopes of the daily
# revenue series. The pair relation is bounded by the CALENDAR (d
# days -> d(d-1)/2 pairs), not by SF, so the inequality self-join and
# the global median rank never touch fact-scale data; the slope is
# one IEEE division of exact integer micros by exact day deltas
# (identical operands both engines -> bit-stable double).
# ---------------------------------------------------------------------------
@register(
    "q_theil_sen",
    f"""
    WITH daily AS (
      SELECT CAST(date_trunc('day', o_orderdate) AS DATE) AS day,
             CAST(SUM({_MICROS_SQL.format(expr='o_totalprice')}) AS BIGINT)
               AS rev
      FROM orders GROUP BY 1
    ), pairs AS (
      SELECT a.day AS da, b.day AS db,
             CAST(b.rev - a.rev AS DOUBLE)
               / CAST(b.day - a.day AS DOUBLE) AS slope
      FROM daily a JOIN daily b ON b.day > a.day
    ), ranked AS (
      SELECT slope,
             ROW_NUMBER() OVER (ORDER BY slope, da, db) AS rn,
             COUNT(*) OVER () AS np
      FROM pairs
    )
    SELECT (SELECT COUNT(*) FROM daily) AS n_days,
           CAST(np AS BIGINT) AS n_pairs,
           slope AS slope_micros_per_day
    FROM ranked WHERE rn = (np + 1) // 2
    """,
)
def q_theil_sen(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    o = load_table(spark, sf_dir, "orders")
    daily = o.groupBy(
        F.date_trunc("day", F.col("o_orderdate")).cast("date").alias("day")
    ).agg(F.sum(_micros(F.col("o_totalprice"))).alias("rev"))
    # Pair generation WITHOUT a nested-loop join: index the daily
    # series (window over the aggregated calendar-bounded relation),
    # explode each day j into its i < j predecessors in the scan
    # stage, and hash-join the broadcast day index back — ~3x faster
    # than the BroadcastNestedLoopJoin inequality join at the same
    # pair count.
    from pyspark.sql import Window

    idx = daily.select(
        F.row_number().over(Window.orderBy("day")).alias("j"),
        F.col("day").alias("db"),
        F.col("rev").alias("rb"),
    )
    lhs = idx.select(
        F.col("j").alias("i"), F.col("db").alias("da"), F.col("rb").alias("ra")
    )
    pairs = (
        idx.filter(F.col("j") >= 2)
        .withColumn("i", F.explode(F.sequence(F.lit(1), F.col("j") - 1)))
        .join(F.broadcast(lhs), "i")
        .select(
            "da",
            "db",
            (
                (F.col("rb") - F.col("ra")).cast("double")
                / F.datediff("db", "da").cast("double")
            ).alias("slope"),
        )
    )
    # the median rank over the d(d-1)/2 pairs rides the two-phase
    # distributed rank — even a calendar-bounded pair set is millions
    # of rows, and a partition-less window would sort them on ONE task
    ranked = grouped_rank(
        pairs, [], ["slope", "da", "db"], rank_col="rn", count_col="np"
    ).select("slope", "rn", "np")
    nd = daily.agg(F.count(F.lit(1)).alias("n_days"))
    return (
        ranked.filter(F.col("rn") == F.expr("(np + 1) DIV 2"))
        .crossJoin(F.broadcast(nd))
        .select(
            F.col("n_days").cast("long").alias("n_days"),
            F.col("np").cast("long").alias("n_pairs"),
            F.col("slope").alias("slope_micros_per_day"),
        )
    )


# ---------------------------------------------------------------------------
# Bollinger bands on daily revenue: 7-day trailing mean +/- 2 sigma,
# flagged entirely in EXACT integer arithmetic — the band test
# (x - s/n)^2 > 4 sigma^2 multiplies out to (n x - s)^2 > 4(n ss - s^2),
# so no division, no sqrt, no float ever enters the artifact. Whole
# currency units (micros DIV 1e6) keep every product far inside
# DECIMAL(38)/HUGEINT through sf1e6 daily sums. The trailing window
# runs over the calendar-bounded daily aggregate only.
# ---------------------------------------------------------------------------
@register(
    "q_bollinger",
    f"""
    WITH daily AS (
      SELECT CAST(date_trunc('day', o_orderdate) AS TIMESTAMP) AS day,
             CAST(SUM({_MICROS_SQL.format(expr='o_totalprice')}) AS BIGINT)
               // 1000000 AS rev_units
      FROM orders GROUP BY 1
    ), w AS (
      SELECT day, rev_units,
             COUNT(*) OVER win AS n_win,
             SUM(CAST(rev_units AS HUGEINT)) OVER win AS s,
             SUM(CAST(rev_units AS HUGEINT) * rev_units) OVER win AS ss
      FROM daily
      WINDOW win AS (ORDER BY day ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
    )
    SELECT day, rev_units,
           CAST(n_win AS BIGINT) AS n_win,
           (CAST(n_win AS HUGEINT) * rev_units - s < 0 AND
            (CAST(n_win AS HUGEINT) * rev_units - s)
              * (CAST(n_win AS HUGEINT) * rev_units - s)
              > 4 * (n_win * ss - s * s)) AS is_low,
           (CAST(n_win AS HUGEINT) * rev_units - s > 0 AND
            (CAST(n_win AS HUGEINT) * rev_units - s)
              * (CAST(n_win AS HUGEINT) * rev_units - s)
              > 4 * (n_win * ss - s * s)) AS is_high
    FROM w
    """,
)
def q_bollinger(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    o = load_table(spark, sf_dir, "orders")
    daily = o.groupBy(
        F.date_trunc("day", F.col("o_orderdate")).alias("day")
    ).agg(
        F.expr(
            f"CAST(SUM({_MICROS_SQL.format(expr='o_totalprice')}) AS BIGINT) "
            "DIV 1000000"
        ).alias("rev_units")
    )
    win = Window.orderBy("day").rowsBetween(-6, 0)
    dec = "decimal(38,0)"
    w = daily.select(
        "day",
        "rev_units",
        F.count(F.lit(1)).over(win).alias("n_win"),
        F.sum(F.col("rev_units").cast(dec)).over(win).alias("s"),
        F.sum(F.col("rev_units").cast(dec) * F.col("rev_units")).over(win).alias("ss"),
    )
    dev = F.col("n_win").cast(dec) * F.col("rev_units") - F.col("s")
    band = 4 * (F.col("n_win").cast(dec) * F.col("ss") - F.col("s") * F.col("s"))
    return w.select(
        "day",
        "rev_units",
        F.col("n_win").cast("long").alias("n_win"),
        ((dev < 0) & (dev * dev > band)).alias("is_low"),
        ((dev > 0) & (dev * dev > band)).alias("is_high"),
    )


# ---------------------------------------------------------------------------
# Per-document keyword extraction: top-3 terms by tf x idf where idf
# is micros-quantized ONCE per term in the vocabulary relation
# (floor(ln(N/df) * 1e6 + 0.5)) — the score tf * idf_micros is then
# an exact integer, so the per-doc ranking is bit-stable across
# engines. Differs from q_tfidf (top-1 by raw (tf, df) order): this
# is the scored extraction a search/indexing pipeline ships.
# ---------------------------------------------------------------------------
@register(
    "q_doc_keywords",
    f"""
    WITH tok AS (
      SELECT doc_id, unnest({_TOKENS_SQL}) AS term FROM documents
    ), tf AS (
      SELECT doc_id, term, COUNT(*) AS tf FROM tok
      WHERE term <> '' GROUP BY doc_id, term
    ), df AS (
      SELECT term, COUNT(DISTINCT doc_id) AS df FROM tok
      WHERE term <> '' GROUP BY term
    ), n AS (SELECT COUNT(*) AS nd FROM documents),
    idf AS (
      SELECT term, df,
             CAST(FLOOR(ln(nd * 1.0 / df) * 1000000 + 0.5) AS BIGINT)
               AS idf_micros
      FROM df CROSS JOIN n
    )
    SELECT doc_id, term, CAST(score AS BIGINT) AS score,
           CAST(rk AS BIGINT) AS rk
    FROM (
      SELECT tf.doc_id, tf.term, tf.tf * idf.idf_micros AS score,
             ROW_NUMBER() OVER (PARTITION BY tf.doc_id
                                ORDER BY tf.tf * idf.idf_micros DESC,
                                         tf.term) AS rk
      FROM tf JOIN idf USING (term)
    ) WHERE rk <= 3
    """,
)
def q_doc_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = core_ops.spread(load_table(spark, sf_dir, "documents"))
    tok = docs.select(
        "doc_id", F.explode(text_fns.tokens(F.col("text"))).alias("term")
    ).filter(F.col("term") != "")
    tf = tok.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    df_ = tok.groupBy("term").agg(F.countDistinct("doc_id").alias("df"))
    nd = docs.agg(F.count(F.lit(1)).alias("nd"))
    idf = df_.crossJoin(F.broadcast(nd)).select(
        "term",
        F.floor(F.log(F.col("nd") * 1.0 / F.col("df")) * 1_000_000 + 0.5)
        .cast("long")
        .alias("idf_micros"),
    )
    scored = tf.join(idf, "term").select(
        "doc_id", "term", (F.col("tf") * F.col("idf_micros")).alias("score")
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), "term")
    return (
        scored.withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= 3)
        .select("doc_id", "term", F.col("score").cast("long").alias("score"), "rk")
    )


# ---------------------------------------------------------------------------
# Rank movers: customers whose revenue RANK changed most between 1995
# and 1996 — the leaderboard-delta analysis. Per-year ranks ride the
# two-phase distributed rank (never a single-task global window over
# per-customer rollups); the yearly relations then equi-join on
# customer and the top movers come off a TakeOrdered (orderBy+limit),
# which is a per-partition top-k + driver merge, not a global sort.
# ---------------------------------------------------------------------------
@register(
    "q_topk_movers",
    f"""
    WITH yearly AS (
      SELECT o_custkey, EXTRACT(year FROM o_orderdate) AS yr,
             CAST(SUM({_MICROS_SQL.format(expr='o_totalprice')}) AS BIGINT)
               AS rev
      FROM orders
      WHERE EXTRACT(year FROM o_orderdate) IN (1995, 1996)
      GROUP BY 1, 2
    ), ranked AS (
      SELECT o_custkey, yr,
             ROW_NUMBER() OVER (PARTITION BY yr
                                ORDER BY rev DESC, o_custkey) AS rn
      FROM yearly
    )
    SELECT a.o_custkey AS c_custkey,
           CAST(a.rn AS BIGINT) AS rank_1995,
           CAST(b.rn AS BIGINT) AS rank_1996,
           CAST(a.rn - b.rn AS BIGINT) AS rank_delta
    FROM ranked a JOIN ranked b ON a.o_custkey = b.o_custkey
    WHERE a.yr = 1995 AND b.yr = 1996
    ORDER BY ABS(a.rn - b.rn) DESC, a.o_custkey
    LIMIT 10
    """,
)
def q_topk_movers(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    yearly = (
        o.withColumn("yr", F.year("o_orderdate"))
        .filter(F.col("yr").isin(1995, 1996))
        .groupBy("o_custkey", "yr")
        .agg(F.sum(_micros(F.col("o_totalprice"))).alias("rev"))
    )
    ranked = grouped_rank(
        yearly, ["yr"], [F.col("rev").desc(), F.col("o_custkey")], rank_col="rn"
    ).select("o_custkey", "yr", "rn")
    a = ranked.filter(F.col("yr") == 1995).select(
        F.col("o_custkey").alias("c_custkey"), F.col("rn").alias("rank_1995")
    )
    b = ranked.filter(F.col("yr") == 1996).select(
        F.col("o_custkey").alias("c_custkey"), F.col("rn").alias("rank_1996")
    )
    return (
        a.join(b, "c_custkey")
        .select(
            "c_custkey",
            "rank_1995",
            "rank_1996",
            (F.col("rank_1995") - F.col("rank_1996")).alias("rank_delta"),
        )
        .orderBy(F.abs(F.col("rank_delta")).desc(), "c_custkey")
        .limit(10)
    )


# ---------------------------------------------------------------------------
# Centered two-pass exact moments, shared by the grouped skewness /
# kurtosis / Jarque-Bera family (r14 sf10 find — see q_group_kurtosis
# for the full story): the old raw-moment combinations were
# catastrophic cancellations (~4 decades at 10x density) that
# amplified one input-cast ULP into wrong-sign results, and two of
# the three hand-expanded formulas also carried stray factors of n.
# Pass 1 takes (n, Σx) per group and derives the exact integer pivot
# c = Σx div n; pass 2 sums EXACT integer centered powers y = x − c
# (Σy = δ ∈ [0, n), so all cancellation happens in exact integer
# arithmetic and the closing double corrections are scaled by
# μ = δ/n < 1 — no large-term cancellation anywhere). The double
# finish uses +,−,*,/,sqrt only: every op is IEEE-correctly-rounded,
# so identical expression trees are bit-identical cross-engine.
# ---------------------------------------------------------------------------
def _central_moments_sql(scale: int, hi: int) -> str:
    """Two-pass centered-moment CTE chain (x -> p1 -> piv -> y -> m):
    exact integer n, δ=Σy, Σy²(..Σy^hi) about the per-group integer
    pivot. Interpolated by the skewness/kurtosis/JB oracles, mirroring
    the Spark helper _central_moments — same pivot (floor division on
    nonnegative sums), same exact integer sums."""
    pows = {
        2: "SUM(CAST(y AS HUGEINT) * y) AS d2",
        3: "SUM(CAST(y AS HUGEINT) * y * y) AS d3",
        4: "SUM(CAST(y AS HUGEINT) * y * y * y) AS d4",
    }
    sums = ",\n             ".join(pows[k] for k in range(2, hi + 1))
    return f"""
    x AS (
      SELECT c_mktsegment,
             CAST(FLOOR(o_totalprice * {scale} + 0.5) AS BIGINT) AS x
      FROM orders JOIN customer ON o_custkey = c_custkey
    ),
    p1 AS (SELECT c_mktsegment, COUNT(*) AS n, SUM(x) AS s1
           FROM x GROUP BY 1),
    piv AS (SELECT c_mktsegment, n, s1 // n AS c FROM p1),
    y AS (
      SELECT x.c_mktsegment, piv.n, x.x - piv.c AS y
      FROM x JOIN piv ON x.c_mktsegment = piv.c_mktsegment
    ),
    m AS (
      SELECT c_mktsegment, MAX(n) AS n, SUM(y) AS dlt,
             {sums}
      FROM y GROUP BY c_mktsegment
    )"""


def _central_moments(spark: SparkSession, sf_dir: str, scale: int, hi: int) -> DataFrame:
    """Spark twin of _central_moments_sql: one row per segment with
    (n, dlt, d2[, d3[, d4]]) — exact LONG/DECIMAL(38) sums of centered
    powers. The pivot join is a broadcast of the 5-row pass-1 dim."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    x = F.floor(F.col("o_totalprice") * scale + 0.5).cast("long")
    xdf = join_ops.dim_join(
        o, c, F.col("o_custkey") == F.col("c_custkey")
    ).select("c_mktsegment", x.alias("x"))
    p1 = xdf.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n"), F.sum("x").alias("s1")
    )
    piv = p1.select("c_mktsegment", "n", F.expr("s1 div n").alias("c"))
    dec = "decimal(38,0)"
    y = F.col("x") - F.col("c")
    aggs = [
        F.max("n").alias("n"),
        F.sum(y).alias("dlt"),
        F.sum(y.cast(dec) * y).alias("d2"),
    ]
    if hi >= 3:
        aggs.append(F.sum(y.cast(dec) * y * y).alias("d3"))
    if hi >= 4:
        aggs.append(F.sum(y.cast(dec) * y * y * y).alias("d4"))
    return (
        xdf.join(F.broadcast(piv), "c_mktsegment")
        .groupBy("c_mktsegment")
        .agg(*aggs)
    )


# ---------------------------------------------------------------------------
# Grouped skewness (Fisher g1) of order values per segment: third
# standardized moment over the exact centered cents moments (cents
# keep Σ|y|³ inside 38 digits through sf100; the two-pass pivot and
# non-cancelling double finish are _central_moments' — r14).
# g1 = m3 / (m2·sqrt(m2)) closes in double with an identical
# expression tree on both engines, micros-quantized at the end.
# ---------------------------------------------------------------------------
@register(
    "q_group_skewness",
    f"""
    WITH {_central_moments_sql(100, 3)}
    SELECT c_mktsegment, CAST(n AS BIGINT) AS n,
           CAST(FLOOR(m3 / (m2 * sqrt(m2)) * 1000000 + 0.5) AS BIGINT)
             AS skew_micros
    FROM (
      SELECT c_mktsegment, n,
             (CAST(d2 AS DOUBLE) - CAST(dlt AS DOUBLE) * mu) / CAST(n AS DOUBLE) AS m2,
             (CAST(d3 AS DOUBLE) - 3.0 * mu * CAST(d2 AS DOUBLE)
              + 2.0 * CAST(dlt AS DOUBLE) * mu * mu) / CAST(n AS DOUBLE) AS m3
      FROM (SELECT *, CAST(dlt AS DOUBLE) / CAST(n AS DOUBLE) AS mu FROM m)
    )
    """,
)
def q_group_skewness(spark: SparkSession, sf_dir: str) -> DataFrame:
    m = _central_moments(spark, sf_dir, scale=100, hi=3)
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    mu = d("dlt") / d("n")
    m2 = (d("d2") - d("dlt") * mu) / d("n")
    m3 = (d("d3") - 3.0 * mu * d("d2") + 2.0 * d("dlt") * mu * mu) / d("n")
    return m.select(
        "c_mktsegment",
        F.col("n").cast("long").alias("n"),
        F.floor(m3 / (m2 * F.sqrt(m2)) * 1_000_000 + 0.5)
        .cast("long")
        .alias("skew_micros"),
    )


# ---------------------------------------------------------------------------
# Source drift vs the corpus: KL(p_source || p_corpus) over unigram
# distributions — the mixture-quality diagnostic a corpus curator
# watches per ingest source. All counts exact; each term's
# p_s * ln(p_s / p_c) contribution is nano-quantized BEFORE the sum
# (per-term quantization: partition-order float drift cannot reach
# the artifact), and the source totals join back onto the
# vocabulary-sized relation.
# ---------------------------------------------------------------------------
@register(
    "q_kl_source",
    f"""
    WITH tok AS (
      SELECT source, unnest({_TOKENS_SQL}) AS term FROM documents
    ), st AS (
      SELECT source, term, COUNT(*) AS n FROM tok
      WHERE term <> '' GROUP BY source, term
    ), ct AS (
      SELECT term, SUM(n) AS ct FROM st GROUP BY term
    ), stot AS (
      SELECT source, SUM(n) AS ns FROM st GROUP BY source
    ), tot AS (SELECT SUM(n) AS nc FROM st)
    SELECT st.source,
           CAST(stot.ns AS BIGINT) AS n_tokens,
           CAST(SUM(CAST(FLOOR(
             (st.n * 1.0 / stot.ns)
             * ln((st.n * 1.0 / stot.ns) / (ct.ct * 1.0 / tot.nc))
             * 1000000000 + 0.5) AS BIGINT)) AS BIGINT) AS kl_nanos_sum
    FROM st
    JOIN ct USING (term)
    JOIN stot USING (source)
    CROSS JOIN tot
    GROUP BY st.source, stot.ns
    """,
)
def q_kl_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = core_ops.spread(load_table(spark, sf_dir, "documents"))
    tok = docs.select(
        "source", F.explode(text_fns.tokens(F.col("text"))).alias("term")
    ).filter(F.col("term") != "")
    st = tok.groupBy("source", "term").agg(F.count(F.lit(1)).alias("n"))
    ct = st.groupBy("term").agg(F.sum("n").alias("ct"))
    stot = st.groupBy("source").agg(F.sum("n").alias("ns"))
    tot = st.agg(F.sum("n").alias("nc"))
    ps = F.col("n") * 1.0 / F.col("ns")
    pc = F.col("ct") * 1.0 / F.col("nc")
    term = F.floor(ps * F.log(ps / pc) * 1_000_000_000 + 0.5).cast("long")
    # ct joins on the vocabulary relation (un-hinted, AQE-sized);
    # stot/tot are per-source / 1-row aggregates — bounded broadcasts
    return (
        st.join(ct, "term")
        .join(F.broadcast(stot), "source")
        .crossJoin(F.broadcast(tot))
        .groupBy("source", "ns")
        .agg(F.sum(term).alias("kl_nanos_sum"))
        .select(
            "source",
            F.col("ns").cast("long").alias("n_tokens"),
            F.col("kl_nanos_sum").cast("long").alias("kl_nanos_sum"),
        )
    )


# ---------------------------------------------------------------------------
# Kruskal-Wallis H across ALL market segments (the k-group
# generalization of q_mann_whitney): doubled midranks come from the
# per-distinct-value counts via the two-phase prefix sum — no per-row
# global ranking anywhere — and every rank sum, the H numerator terms
# (R2_g^2 DIV 4n_g, exact integer division: deterministic on both
# engines) and the tie-correction sum are exact DECIMAL(38)/HUGEINT
# integers. Only the final H / tie-corrected H close in double,
# micros-quantized. Headroom: R2_g^2 stays inside 38 digits through
# ~sf1000 row counts.
# ---------------------------------------------------------------------------
@register(
    "q_kruskal_wallis",
    f"""
    WITH seg AS (
      SELECT c_mktsegment AS g, {_MICROS_SQL.format(expr='o_totalprice')} AS v
      FROM orders JOIN customer ON o_custkey = c_custkey
    ), gv AS (
      SELECT g, v, COUNT(*) AS cgv FROM seg GROUP BY g, v
    ), vals AS (
      SELECT v, SUM(cgv) AS cnt FROM gv GROUP BY v
    ), cum AS (
      SELECT v, cnt, SUM(cnt) OVER (ORDER BY v
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c
      FROM vals
    ), mr AS (
      SELECT v, 2 * (c - cnt) + cnt + 1 AS mr2 FROM cum
    ), rg AS (
      SELECT g, SUM(CAST(cgv AS HUGEINT) * mr2) AS r2,
             SUM(CAST(cgv AS HUGEINT)) AS ng
      FROM gv JOIN mr USING (v) GROUP BY g
    ), terms AS (
      SELECT SUM((r2 * r2) // (4 * ng)) AS s,
             SUM(ng) AS n, COUNT(*) AS k
      FROM rg
    ), ties AS (
      SELECT SUM(CAST(cnt AS HUGEINT) * cnt * cnt - cnt) AS tsum FROM vals
    )
    SELECT CAST(n AS BIGINT) AS n, CAST(k AS BIGINT) AS k,
           CAST(FLOOR(
             (12.0 * CAST(s AS DOUBLE)
              / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 1.0))
              - 3.0 * (CAST(n AS DOUBLE) + 1.0)) * 1000000 + 0.5) AS BIGINT)
             AS h_micros,
           CAST(FLOOR(
             (12.0 * CAST(s AS DOUBLE)
              / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 1.0))
              - 3.0 * (CAST(n AS DOUBLE) + 1.0))
             / (1.0 - CAST(tsum AS DOUBLE)
                / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
                   - CAST(n AS DOUBLE)))
             * 1000000 + 0.5) AS BIGINT) AS h_tie_micros
    FROM terms CROSS JOIN ties
    """,
)
def q_kruskal_wallis(spark: SparkSession, sf_dir: str) -> DataFrame:
    from frames_spark.operators.ranking import grouped_prefix_sum

    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    dec = "decimal(38,0)"
    seg = join_ops.dim_join(o, c, F.col("o_custkey") == F.col("c_custkey")).select(
        F.col("c_mktsegment").alias("g"),
        _micros(F.col("o_totalprice")).alias("v"),
    )
    gv = seg.groupBy("g", "v").agg(F.count(F.lit(1)).alias("cgv"))
    vals = gv.groupBy("v").agg(F.sum("cgv").alias("cnt"))
    # vals is shuffle-fed; grouped_prefix_sum auto-stages (ranking.py)
    cum = grouped_prefix_sum(vals, [], ["v"], "cnt", cum_col="c")
    mr = cum.select(
        "v", (2 * (F.col("c") - F.col("cnt")) + F.col("cnt") + 1).alias("mr2")
    )
    rg = (
        gv.join(mr, "v")
        .groupBy("g")
        .agg(
            F.sum(F.col("cgv").cast(dec) * F.col("mr2")).alias("r2"),
            F.sum(F.col("cgv").cast(dec)).alias("ng"),
        )
    )
    terms = rg.agg(
        F.sum(F.expr("(r2 * r2) DIV (4 * ng)")).alias("s"),
        F.sum("ng").alias("n"),
        F.count(F.lit(1)).alias("k"),
    )
    ties = vals.agg(
        F.sum(
            F.col("cnt").cast(dec) * F.col("cnt") * F.col("cnt") - F.col("cnt")
        ).alias("tsum")
    )
    d = lambda col: F.col(col).cast("double")  # noqa: E731
    h = (
        12.0 * d("s") / (d("n") * (d("n") + 1.0))
        - 3.0 * (d("n") + 1.0)
    )
    tie_c = 1.0 - d("tsum") / (d("n") * d("n") * d("n") - d("n"))
    return terms.crossJoin(F.broadcast(ties)).select(
        F.col("n").cast("long").alias("n"),
        F.col("k").cast("long").alias("k"),
        F.floor(h * 1_000_000 + 0.5).cast("long").alias("h_micros"),
        F.floor(h / tie_c * 1_000_000 + 0.5).cast("long").alias("h_tie_micros"),
    )


# ---------------------------------------------------------------------------
# ANN quality metric: Mean Reciprocal Rank of the bucketed LSH path
# against the exact nearest neighbor — the retrieval-eval companion
# to q_embed_lsh_recall (recall measures the pair SET; MRR measures
# where the true neighbor LANDS in the ranked list). BOTH sides are
# modeled in the oracle (exact top-1 as the brute-force join, LSH
# top-10 via the deterministic-plane reproduction), and the
# reciprocal ranks are exact integers (1e6 DIV rank), so the metric
# VALUE is driver-checkable, not just pinned.
# ---------------------------------------------------------------------------
_ANN_MRR_ORACLE = f"""
    WITH fixed AS ({_FIXED_SQL.format(corpus="SELECT vec_id, embedding FROM embeddings")}),
    norms AS (SELECT vec_id, SUM(e * e) AS n2 FROM fixed GROUP BY vec_id),
    bf_dots AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, SUM(q.e * c.e) AS dot
      FROM fixed q JOIN fixed c ON q.i = c.i AND q.vec_id <> c.vec_id
      WHERE q.vec_id < 10
      GROUP BY 1, 2
    ),
    exact AS (
      SELECT query_id, neighbor_id AS true_nn FROM (
        SELECT query_id, neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY
                 CAST(dot AS DOUBLE) / (sqrt(CAST(nq.n2 AS DOUBLE)) * sqrt(CAST(nc.n2 AS DOUBLE))) DESC,
                 neighbor_id) AS rn
        FROM bf_dots
        JOIN norms nq ON query_id = nq.vec_id
        JOIN norms nc ON neighbor_id = nc.vec_id
      ) WHERE rn = 1
    ),
    planes(p, i, c) AS (VALUES {{planes}}),
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
    pairs AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id
      FROM buckets q JOIN buckets c ON q.bucket = c.bucket
      WHERE q.vec_id < 10 AND c.vec_id <> q.vec_id
    ),
    lsh_dots AS (
      SELECT query_id, neighbor_id, SUM(a.e * b.e) AS dot
      FROM pairs
      JOIN fixed a ON a.vec_id = query_id
      JOIN fixed b ON b.vec_id = neighbor_id AND b.i = a.i
      GROUP BY query_id, neighbor_id
    ),
    lsh AS (
      SELECT query_id, neighbor_id, rn AS rank FROM (
        SELECT query_id, neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY
                 CAST(dot AS DOUBLE) / (sqrt(CAST(nq.n2 AS DOUBLE)) * sqrt(CAST(nc.n2 AS DOUBLE))) DESC,
                 neighbor_id) AS rn
        FROM lsh_dots
        JOIN norms nq ON query_id = nq.vec_id
        JOIN norms nc ON neighbor_id = nc.vec_id
      ) WHERE rn <= 10
    ),
    rr AS (
      SELECT e.query_id,
             COALESCE(MAX(CASE WHEN l.neighbor_id = e.true_nn
                                THEN 1000000 // l.rank END), 0) AS rrm
      FROM exact e LEFT JOIN lsh l ON l.query_id = e.query_id
      GROUP BY e.query_id
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_queries,
           CAST(SUM(CASE WHEN rrm > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_hits,
           CAST((SUM(rrm) + COUNT(*) // 2) // COUNT(*) AS BIGINT) AS mrr_micros
    FROM rr
"""


@register("q_ann_mrr", _ANN_MRR_ORACLE.format(planes=_ANN_PLANES_VALUES))
def q_ann_mrr(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 10)
    exact1 = ann_ops.brute_force_topk(emb, q, "vec_id", "embedding", k=1).select(
        "query_id", F.col("neighbor_id").alias("true_nn")
    )
    lsh10 = ann_ops.lsh_topk(
        emb, q, "vec_id", "embedding", k=10, num_planes=4
    ).select("query_id", "neighbor_id", "rank")
    rr = (
        exact1.join(lsh10, "query_id", "left")
        .groupBy("query_id")
        .agg(
            F.coalesce(
                F.max(
                    F.when(
                        F.col("neighbor_id") == F.col("true_nn"),
                        F.expr("1000000 DIV rank"),
                    )
                ),
                F.lit(0).cast("long"),
            ).alias("rrm")
        )
    )
    return rr.agg(
        F.count(F.lit(1)).cast("long").alias("n_queries"),
        F.sum(F.when(F.col("rrm") > 0, 1).otherwise(0)).cast("long").alias("n_hits"),
        F.expr(
            "CAST((SUM(rrm) + COUNT(*) DIV 2) DIV COUNT(*) AS BIGINT)"
        ).alias("mrr_micros"),
    )


# ---------------------------------------------------------------------------
# Rolling correlation between daily revenue and daily order count
# (28-day trailing window): is growth volume-driven or ticket-size-
# driven, day by day? The window runs over the calendar-bounded daily
# aggregate only; moments accumulate exactly (units x counts in
# DECIMAL(38)/HUGEINT) and close in one double expression with
# nullif guards for zero-variance windows (ANSI mode raises on /0).
# ---------------------------------------------------------------------------
@register(
    "q_rolling_corr",
    f"""
    WITH daily AS (
      SELECT CAST(date_trunc('day', o_orderdate) AS TIMESTAMP) AS day,
             CAST(SUM({_MICROS_SQL.format(expr='o_totalprice')}) AS BIGINT)
               // 1000000 AS x,
             COUNT(*) AS y
      FROM orders GROUP BY 1
    ), w AS (
      SELECT day, x, y,
             COUNT(*) OVER win AS n,
             SUM(CAST(x AS HUGEINT)) OVER win AS sx,
             SUM(CAST(y AS HUGEINT)) OVER win AS sy,
             SUM(CAST(x AS HUGEINT) * x) OVER win AS sxx,
             SUM(CAST(y AS HUGEINT) * y) OVER win AS syy,
             SUM(CAST(x AS HUGEINT) * y) OVER win AS sxy
      FROM daily
      WINDOW win AS (ORDER BY day ROWS BETWEEN 27 PRECEDING AND CURRENT ROW)
    )
    SELECT day, CAST(n AS BIGINT) AS n_win,
           CAST(FLOOR(
             CAST(n * sxy - sx * sy AS DOUBLE)
             / nullif(sqrt(CAST(n * sxx - sx * sx AS DOUBLE)), 0.0)
             / nullif(sqrt(CAST(n * syy - sy * sy AS DOUBLE)), 0.0)
             * 1000000 + 0.5) AS BIGINT) AS corr_micros
    FROM w
    """,
)
def q_rolling_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    o = load_table(spark, sf_dir, "orders")
    daily = o.groupBy(
        F.date_trunc("day", F.col("o_orderdate")).alias("day")
    ).agg(
        F.expr(
            f"CAST(SUM({_MICROS_SQL.format(expr='o_totalprice')}) AS BIGINT) "
            "DIV 1000000"
        ).alias("x"),
        F.count(F.lit(1)).alias("y"),
    )
    win = Window.orderBy("day").rowsBetween(-27, 0)
    dec = "decimal(38,0)"
    w = daily.select(
        "day",
        F.count(F.lit(1)).over(win).alias("n"),
        F.sum(F.col("x").cast(dec)).over(win).alias("sx"),
        F.sum(F.col("y").cast(dec)).over(win).alias("sy"),
        F.sum(F.col("x").cast(dec) * F.col("x")).over(win).alias("sxx"),
        F.sum(F.col("y").cast(dec) * F.col("y")).over(win).alias("syy"),
        F.sum(F.col("x").cast(dec) * F.col("y")).over(win).alias("sxy"),
    )
    nd = F.col("n").cast(dec)
    num = (nd * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    vx = F.sqrt((nd * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double"))
    vy = F.sqrt((nd * F.col("syy") - F.col("sy") * F.col("sy")).cast("double"))
    return w.select(
        "day",
        F.col("n").cast("long").alias("n_win"),
        F.floor(
            num / F.nullif(vx, F.lit(0.0)) / F.nullif(vy, F.lit(0.0)) * 1_000_000
            + 0.5
        )
        .cast("long")
        .alias("corr_micros"),
    )


# ---------------------------------------------------------------------------
# N-gram novelty per document: what fraction of a doc's 8-token
# spans exists NOWHERE else in the corpus? The inverse diagnostic of
# q_substring_dedup's excision (and the per-doc refinement of
# q_boilerplate's corpus score) — a curator sorts ascending to find
# templated/boilerplate docs. Same span-hash inverted index, one
# map-side-combined shuffle; docs shorter than 8 tokens report NULL
# novelty (no spans to judge).
# ---------------------------------------------------------------------------
@register(
    "q_gram_novelty",
    """
    WITH toks AS (
      SELECT doc_id, list_filter(regexp_split_to_array(text, ' +'), x -> x <> '') AS t
      FROM documents
    ),
    grams AS (
      SELECT doc_id, md5(array_to_string(t[i+1:i+8], ' ')) AS h
      FROM toks, unnest(range(0, greatest(len(t) - 7, 0))) AS u(i)
    ),
    freq AS (SELECT h, COUNT(*) AS c FROM grams GROUP BY h),
    per_doc AS (
      SELECT g.doc_id,
             COUNT(*) AS n_grams,
             SUM(CASE WHEN f.c = 1 THEN 1 ELSE 0 END) AS n_unique
      FROM grams g JOIN freq f USING (h)
      GROUP BY g.doc_id
    )
    SELECT t.doc_id,
           CAST(COALESCE(p.n_grams, 0) AS BIGINT) AS n_grams,
           CAST(COALESCE(p.n_unique, 0) AS BIGINT) AS n_unique,
           CAST(FLOOR(p.n_unique * 1.0 / p.n_grams * 1000000 + 0.5) AS BIGINT)
             AS novelty_micros
    FROM toks t LEFT JOIN per_doc p ON p.doc_id = t.doc_id
    """,
)
def q_gram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        F.col("doc_id"),
        F.expr("filter(split(text, ' +'), x -> x != '')").alias("_toks"),
    )
    grams = toks.select(
        "doc_id",
        F.explode(
            F.expr(
                "CASE WHEN size(_toks) >= 8 THEN "
                "transform(sequence(0, size(_toks) - 8), "
                "i -> md5(concat_ws(' ', slice(_toks, i + 1, 8)))) "
                "ELSE array() END"
            )
        ).alias("h"),
    )
    freq = grams.groupBy("h").agg(F.count(F.lit(1)).alias("c"))
    per_doc = (
        grams.join(freq, "h")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum(F.when(F.col("c") == 1, 1).otherwise(0)).alias("n_unique"),
        )
    )
    return toks.join(per_doc, "doc_id", "left").select(
        "doc_id",
        F.coalesce(F.col("n_grams"), F.lit(0)).cast("long").alias("n_grams"),
        F.coalesce(F.col("n_unique"), F.lit(0)).cast("long").alias("n_unique"),
        F.floor(
            F.col("n_unique") * 1.0 / F.col("n_grams") * 1_000_000 + 0.5
        )
        .cast("long")
        .alias("novelty_micros"),
    )


# ---------------------------------------------------------------------------
# Embedding norm profile per label: mean / spread of L2 norms — the
# first sanity check on an embedding table (un-normalized vectors,
# collapsed clusters and scale drift between labels all show up
# here). Norms are micros-quantized per ROW from the exact
# fixed-point squared norm (identical integer operand -> identical
# sqrt double on both engines), then the per-label moments are exact
# integers closed by rounding division / one sqrt.
# ---------------------------------------------------------------------------
@register(
    "q_embed_norm_stats",
    """
    WITH n2s AS (
      SELECT label,
             (SELECT SUM(e * e) FROM (
                SELECT CAST(FLOOR(CAST(x AS DOUBLE) * 1048576 + 0.5) AS BIGINT) AS e
                FROM unnest(embedding) AS u(x)
              )) AS n2
      FROM embeddings
    ), norms AS (
      SELECT label,
             CAST(FLOOR(sqrt(CAST(n2 AS DOUBLE)) / 1048576 * 1000000 + 0.5)
                  AS BIGINT) AS nm
      FROM n2s
    ), m AS (
      SELECT label, COUNT(*) AS n,
             SUM(CAST(nm AS HUGEINT)) AS s1,
             SUM(CAST(nm AS HUGEINT) * nm) AS s2
      FROM norms GROUP BY label
    )
    SELECT label, CAST(n AS BIGINT) AS n,
           CAST((s1 + n // 2) // n AS BIGINT) AS mean_norm_micros,
           CAST(FLOOR(sqrt(CAST(n * s2 - s1 * s1 AS DOUBLE))
                      / CAST(n AS DOUBLE) + 0.5) AS BIGINT)
             AS std_norm_micros
    FROM m
    """,
)
def q_embed_norm_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = core_ops.spread(load_table(spark, sf_dir, "embeddings"))
    n2 = F.expr(
        "aggregate(transform(embedding, "
        "x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1048576 + 0.5) AS BIGINT)), "
        "CAST(0 AS BIGINT), (acc, e) -> acc + e * e)"
    )
    nm = F.floor(
        F.sqrt(n2.cast("double")) / 1048576 * 1_000_000 + 0.5
    ).cast("long")
    dec = "decimal(38,0)"
    m = emb.select("label", nm.alias("nm")).groupBy("label").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("nm").cast(dec)).alias("s1"),
        F.sum(F.col("nm").cast(dec) * F.col("nm")).alias("s2"),
    )
    return m.select(
        "label",
        F.col("n").cast("long").alias("n"),
        F.expr(
            "CAST((s1 + CAST(n AS DECIMAL(38,0)) DIV 2) "
            "DIV CAST(n AS DECIMAL(38,0)) AS BIGINT)"
        ).alias("mean_norm_micros"),
        F.floor(
            F.sqrt(
                (
                    F.col("n").cast(dec) * F.col("s2")
                    - F.col("s1") * F.col("s1")
                ).cast("double")
            )
            / F.col("n").cast("double")
            + 0.5
        )
        .cast("long")
        .alias("std_norm_micros"),
    )


# ---------------------------------------------------------------------------
# ROC AUC of account balance as a churn predictor (churn = customer
# with orders before 1997 but none after): AUC is exactly the
# Mann-Whitney U statistic normalized by n1*n0, so it reuses the
# doubled-midrank machinery — per-distinct-value counts, two-phase
# prefix sum, EXACT integer rank sums — and closes with one pure
# integer rounding division. No sort of the fact table, no float
# until nothing is left to compute.
# ---------------------------------------------------------------------------
@register(
    "q_auc",
    """
    WITH lab AS (
      SELECT c.c_custkey,
             CAST(FLOOR(c.c_acctbal * 100 + 0.5) AS BIGINT) AS v,
             CASE WHEN MAX(o.o_orderdate) < TIMESTAMP '1997-01-01 00:00:00'
                  THEN 1 ELSE 0 END AS churned
      FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey
      GROUP BY c.c_custkey, c.c_acctbal
    ), vals AS (
      SELECT v, COUNT(*) AS cnt, SUM(churned) AS cnt_p
      FROM lab GROUP BY v
    ), cum AS (
      SELECT v, cnt, cnt_p,
             SUM(cnt) OVER (ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c
      FROM vals
    ), tots AS (
      SELECT CAST(SUM(cnt_p) AS BIGINT) AS n1,
             CAST(SUM(cnt) - SUM(cnt_p) AS BIGINT) AS n0
      FROM vals
    ), r AS (
      SELECT CAST(SUM(cnt_p * (2 * (c - cnt) + cnt + 1)) AS BIGINT) AS r2_p
      FROM cum
    )
    SELECT n1 AS n_churned, n0 AS n_retained,
           CAST(((r2_p - n1 * (n1 + 1)) * 1000000 + (2 * n1 * n0) // 2)
                // (2 * n1 * n0) AS BIGINT) AS auc_micros
    FROM r CROSS JOIN tots
    """,
)
def q_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    from frames_spark.operators.ranking import grouped_prefix_sum

    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    lab = (
        join_ops.dim_join(o, c, F.col("o_custkey") == F.col("c_custkey"))
        .groupBy(
            "c_custkey",
            F.floor(F.col("c_acctbal") * 100 + 0.5).cast("long").alias("v"),
        )
        .agg(
            F.when(
                F.max("o_orderdate") < F.lit("1997-01-01").cast("timestamp"), 1
            )
            .otherwise(0)
            .alias("churned")
        )
    )
    vals = lab.groupBy("v").agg(
        F.count(F.lit(1)).alias("cnt"), F.sum("churned").alias("cnt_p")
    )
    cum = grouped_prefix_sum(vals, [], ["v"], "cnt", cum_col="c")
    tots = vals.agg(
        F.sum("cnt_p").alias("n1"),
        (F.sum("cnt") - F.sum("cnt_p")).alias("n0"),
    )
    r = cum.agg(
        F.sum(
            F.col("cnt_p") * (2 * (F.col("c") - F.col("cnt")) + F.col("cnt") + 1)
        ).alias("r2_p")
    )
    return r.crossJoin(F.broadcast(tots)).select(
        F.col("n1").cast("long").alias("n_churned"),
        F.col("n0").cast("long").alias("n_retained"),
        F.expr(
            "CAST(((r2_p - n1 * (n1 + 1)) * 1000000 + (2 * n1 * n0) DIV 2) "
            "DIV (2 * n1 * n0) AS BIGINT)"
        ).alias("auc_micros"),
    )


# ---------------------------------------------------------------------------
# Mann-Kendall trend test on daily revenue — the significance
# companion to q_theil_sen's slope estimate: S = sum of pairwise
# sign comparisons (EXACT integer via the same explode-join pair
# generation, no nested loop), tie-corrected variance exact, one
# final z expression in double. The pair set is calendar-bounded.
# ---------------------------------------------------------------------------
@register(
    "q_mann_kendall",
    f"""
    WITH daily AS (
      SELECT CAST(date_trunc('day', o_orderdate) AS DATE) AS day,
             CAST(SUM({_MICROS_SQL.format(expr='o_totalprice')}) AS BIGINT)
               AS rev
      FROM orders GROUP BY 1
    ), s AS (
      SELECT SUM(CASE WHEN b.rev > a.rev THEN 1
                      WHEN b.rev < a.rev THEN -1 ELSE 0 END) AS s,
             COUNT(*) AS np
      FROM daily a JOIN daily b ON b.day > a.day
    ), n AS (SELECT COUNT(*) AS nd FROM daily),
    ties AS (
      SELECT COALESCE(SUM(CAST(c AS HUGEINT) * (c - 1) * (2 * c + 5)), 0) AS tsum
      FROM (SELECT rev, COUNT(*) AS c FROM daily GROUP BY rev HAVING COUNT(*) > 1)
    )
    SELECT CAST(nd AS BIGINT) AS n_days,
           CAST(s AS BIGINT) AS s,
           CAST(FLOOR(
             (CAST(s AS DOUBLE) - CASE WHEN s > 0 THEN 1.0
                                       WHEN s < 0 THEN -1.0 ELSE 0.0 END)
             / sqrt((CAST(nd AS DOUBLE) * (CAST(nd AS DOUBLE) - 1.0)
                     * (2.0 * CAST(nd AS DOUBLE) + 5.0)
                     - CAST(tsum AS DOUBLE)) / 18.0)
             * 1000000 + 0.5) AS BIGINT) AS z_micros
    FROM s CROSS JOIN n CROSS JOIN ties
    """,
)
def q_mann_kendall(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    o = load_table(spark, sf_dir, "orders")
    daily = o.groupBy(
        F.date_trunc("day", F.col("o_orderdate")).cast("date").alias("day")
    ).agg(F.sum(_micros(F.col("o_totalprice"))).alias("rev"))
    idx = daily.select(
        F.row_number().over(Window.orderBy("day")).alias("j"),
        F.col("rev").alias("rb"),
    )
    lhs = idx.select(F.col("j").alias("i"), F.col("rb").alias("ra"))
    sgn = (
        idx.filter(F.col("j") >= 2)
        .withColumn("i", F.explode(F.sequence(F.lit(1), F.col("j") - 1)))
        .join(F.broadcast(lhs), "i")
        .agg(
            F.sum(
                F.when(F.col("rb") > F.col("ra"), 1)
                .when(F.col("rb") < F.col("ra"), -1)
                .otherwise(0)
            ).alias("s"),
            F.count(F.lit(1)).alias("np"),
        )
    )
    nd = daily.agg(F.count(F.lit(1)).alias("nd"))
    dec = "decimal(38,0)"
    ties = (
        daily.groupBy("rev")
        .agg(F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") > 1)
        .agg(
            F.coalesce(
                F.sum(
                    F.col("c").cast(dec) * (F.col("c") - 1) * (2 * F.col("c") + 5)
                ),
                F.lit(0).cast(dec),
            ).alias("tsum")
        )
    )
    d = lambda col: F.col(col).cast("double")  # noqa: E731
    z = (
        d("s")
        - F.when(F.col("s") > 0, 1.0).when(F.col("s") < 0, -1.0).otherwise(0.0)
    ) / F.sqrt(
        (d("nd") * (d("nd") - 1.0) * (2.0 * d("nd") + 5.0) - d("tsum")) / 18.0
    )
    return (
        sgn.crossJoin(F.broadcast(nd))
        .crossJoin(F.broadcast(ties))
        .select(
            F.col("nd").cast("long").alias("n_days"),
            F.col("s").cast("long").alias("s"),
            F.floor(z * 1_000_000 + 0.5).cast("long").alias("z_micros"),
        )
    )
