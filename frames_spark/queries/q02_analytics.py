"""q02_analytics — query registry, module 2 of 9: data-quality
expectations, funnels, SCD2 and point-in-time joins, sampling,
chunking/decontamination, PII redaction, table diffs and the
TPC-H-style analytic reports.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from frames_spark.functions import text as text_fns
from frames_spark.functions.hashing import hash60_sql
from frames_spark.operators import joins as join_ops
from frames_spark.operators import window as win_ops
from frames_spark.operators.asof import asof_join
from frames_spark.queries.q01_core_ops import (
    _MICROS_SQL,
    _SHINGLES_SQL,
    _TOKENS_SQL,
    _micros,
    _tokens_col,
    register,
)
from frames_spark.sources.tables import load_table


# ---------------------------------------------------------------------------
# Data-quality expectations (operators/expectations.py): violation
# queries an ingest pipeline gates on. Profile is one full-scan agg
# for ALL columns together; orphan checks are key-only anti-joins.
# ---------------------------------------------------------------------------

from frames_spark.operators import expectations as exp_ops  # noqa: E402


@register(
    "q_profile",
    """
    SELECT 'o_custkey' AS column, COUNT(*) AS n_rows,
           CAST(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
           COUNT(DISTINCT o_custkey) AS n_distinct
    FROM orders
    UNION ALL
    SELECT 'o_orderstatus', COUNT(*),
           CAST(SUM(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END) AS BIGINT),
           COUNT(DISTINCT o_orderstatus)
    FROM orders
    UNION ALL
    SELECT 'o_totalprice', COUNT(*),
           CAST(SUM(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END) AS BIGINT),
           COUNT(DISTINCT o_totalprice)
    FROM orders
    """,
)
def q_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return exp_ops.profile(o, ["o_custkey", "o_orderstatus", "o_totalprice"])


@register(
    "q_check_unique",
    """
    SELECT o_custkey, COUNT(*) AS n_rows FROM orders
    GROUP BY o_custkey HAVING COUNT(*) > 1
    """,
)
def q_check_unique(spark: SparkSession, sf_dir: str) -> DataFrame:
    return exp_ops.duplicate_keys(load_table(spark, sf_dir, "orders"), ["o_custkey"])


# The testdata has full referential integrity, so the check runs
# against the URGENT-order subset to produce actual violations
# (customers with no urgent order) — same plan shape as a true FK
# check: key-only distinct + broadcast anti-join.
@register(
    "q_check_orphans",
    """
    SELECT c_custkey, c_mktsegment FROM customer
    WHERE c_custkey NOT IN (SELECT o_custkey FROM orders
                            WHERE o_orderpriority = '1-URGENT')
    """,
)
def q_check_orphans(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT"
    )
    return exp_ops.orphans(c, "c_custkey", o, "o_custkey").select(
        "c_custkey", "c_mktsegment"
    )


# ---------------------------------------------------------------------------
# TPC-H decorrelation shapes (Q4/Q13/Q15/Q17/Q18/Q22). Correlated
# subqueries re-expressed as the join shapes Catalyst would
# decorrelate them to — written directly so the plan is explicit:
# EXISTS -> semi join with residual condition, scalar-per-group
# subquery -> pre-aggregated join, scalar-global subquery -> 1-row
# broadcast, NOT EXISTS -> anti join. All money/qty math in exact
# integers (micros / bigint) so both engines hash identically.
# ---------------------------------------------------------------------------


# Q4 shape: orders with at least one late-shipped line (EXISTS with a
# correlated non-equi predicate). Semi join keeps the orders payload
# out of the shuffle; lineitem ships only (orderkey, shipdate).
@register(
    "q_late_exists",
    """
    SELECT o_orderpriority, COUNT(*) AS n_orders
    FROM orders o
    WHERE o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1995-07-01 00:00:00'
      AND EXISTS (SELECT 1 FROM lineitem l
                  WHERE l.l_orderkey = o.o_orderkey
                    AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY)
    GROUP BY o_orderpriority
    """,
)
def q_late_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1995-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1995-07-01").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    cond = (li["l_orderkey"] == o["o_orderkey"]) & (
        li["l_shipdate"] > o["o_orderdate"] + F.expr("INTERVAL 60 DAYS")
    )
    return (
        o.join(li, cond, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )


# Q13 shape: customer order-count distribution. The left join is
# replaced by a fact-side pre-aggregation (orders collapse to one row
# per customer BEFORE touching the customer table) + coalesce(0) for
# customers with no match — same result, |orders| -> |customers|
# join input.
@register(
    "q_cust_order_dist",
    """
    SELECT n_orders, COUNT(*) AS n_custs FROM (
      SELECT c_custkey, COUNT(o_orderkey) AS n_orders
      FROM customer LEFT JOIN orders
        ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
      GROUP BY c_custkey)
    GROUP BY n_orders
    """,
)
def q_cust_order_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    per_cust = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") != "1-URGENT")
        .groupBy(F.col("o_custkey").alias("c_custkey"))
        .agg(F.count(F.lit(1)).alias("__n"))
    )
    return (
        load_table(spark, sf_dir, "customer")
        .select("c_custkey")
        .join(per_cust, "c_custkey", "left")
        .select(F.coalesce(F.col("__n"), F.lit(0)).alias("n_orders"))
        .groupBy("n_orders")
        .agg(F.count(F.lit(1)).alias("n_custs"))
    )


# Q15 shape: supplier(s) with the maximum revenue — a global scalar
# subquery. The scalar max is a 1-row aggregate broadcast back onto
# the per-supplier revenue (equi-join on the value); Spark reuses the
# rev exchange for both branches instead of scanning lineitem twice.
@register(
    "q_top_supplier",
    f"""
    WITH rev AS (
      SELECT l_suppkey,
             CAST(SUM({_MICROS_SQL.format(expr='l_extendedprice * (1 - l_discount)')}) AS BIGINT) AS rev_micros
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND l_shipdate <  TIMESTAMP '1996-04-01 00:00:00'
      GROUP BY l_suppkey
    )
    SELECT s_suppkey, s_name, rev_micros
    FROM rev JOIN supplier ON s_suppkey = l_suppkey
    WHERE rev_micros = (SELECT MAX(rev_micros) FROM rev)
    """,
)
def q_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    rev = li.groupBy("l_suppkey").agg(
        F.sum(_micros(F.col("l_extendedprice") * (1 - F.col("l_discount")))).alias(
            "rev_micros"
        )
    )
    mx = rev.agg(F.max("rev_micros").alias("__mx"))
    sup = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        rev.join(F.broadcast(mx), rev["rev_micros"] == mx["__mx"])
        .join(sup, rev["l_suppkey"] == sup["s_suppkey"])
        .select("s_suppkey", "s_name", "rev_micros")
    )


# Q17 shape: lines below 20% of their part's average quantity — a
# correlated scalar aggregate per group. Decorrelated: per-part
# (sum, count) pre-agg joined back on partkey; the 0.2*avg compare
# becomes exact integer math (5*qty*n < sum). The small-part filter
# broadcasts and prunes lineitem before the per-part join.
@register(
    "q_small_qty_revenue",
    f"""
    WITH pa AS (
      SELECT l_partkey AS pa_partkey,
             SUM(CAST(l_quantity AS BIGINT)) AS sum_qty,
             COUNT(*) AS n_li
      FROM lineitem GROUP BY l_partkey
    )
    SELECT p_brand,
           CAST(SUM({_MICROS_SQL.format(expr='l_extendedprice')}) AS BIGINT) AS rev_micros,
           COUNT(*) AS n_small
    FROM lineitem
    JOIN pa   ON pa_partkey = l_partkey
    JOIN part ON p_partkey = l_partkey
    WHERE p_size <= 5
      AND 5 * CAST(l_quantity AS BIGINT) * n_li < sum_qty
    GROUP BY p_brand
    """,
)
def q_small_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    pa = li.groupBy(F.col("l_partkey").alias("pa_partkey")).agg(
        F.sum(F.col("l_quantity").cast("long")).alias("sum_qty"),
        F.count(F.lit(1)).alias("n_li"),
    )
    small_parts = (
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_size") <= 5)
        .select("p_partkey", "p_brand")
    )
    return (
        join_ops.dim_join(li, small_parts, li["l_partkey"] == small_parts["p_partkey"])
        .join(pa, li["l_partkey"] == pa["pa_partkey"])
        .filter(
            5 * F.col("l_quantity").cast("long") * F.col("n_li") < F.col("sum_qty")
        )
        .groupBy("p_brand")
        .agg(
            F.sum(_micros(F.col("l_extendedprice"))).alias("rev_micros"),
            F.count(F.lit(1)).alias("n_small"),
        )
    )


# Q18 shape: large-volume orders (HAVING over a fact pre-agg, then
# dims attached). The qty sum happens on lineitem alone — the join
# fan-in is only the ~0.1% of orders that survive the HAVING.
@register(
    "q_big_orders",
    """
    SELECT c_name, o_orderkey, o_orderdate, sum_qty
    FROM (
      SELECT l_orderkey, CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
      FROM lineitem GROUP BY l_orderkey
      HAVING SUM(CAST(l_quantity AS BIGINT)) > 270
    ) big
    JOIN orders   ON o_orderkey = l_orderkey
    JOIN customer ON c_custkey = o_custkey
    """,
)
def q_big_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    big = (
        load_table(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(F.sum(F.col("l_quantity").cast("long")).alias("sum_qty"))
        .filter(F.col("sum_qty") > 270)
    )
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate"
    )
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_name")
    return (
        big.join(o, big["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .select("c_name", "o_orderkey", "o_orderdate", "sum_qty")
    )


# Q22 shape: above-average-balance customers with no recent orders.
# Global scalar subquery -> 1-row broadcast compared in exact cents
# (bal*n > sum); NOT EXISTS -> anti join on the pruned recent-order
# key set.
@register(
    "q_rich_inactive",
    f"""
    WITH stats AS (
      SELECT SUM({_MICROS_SQL.format(expr='c_acctbal')}) AS sum_micros,
             COUNT(*) AS n
      FROM customer WHERE c_acctbal > 0
    )
    SELECT c_custkey, c_acctbal
    FROM customer, stats
    WHERE {_MICROS_SQL.format(expr='c_acctbal')} * n > sum_micros
      AND NOT EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey
                        AND o_orderdate >= TIMESTAMP '2000-01-01 00:00:00')
    """,
)
def q_rich_inactive(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    stats = c.filter(F.col("c_acctbal") > 0).agg(
        F.sum(_micros(F.col("c_acctbal"))).alias("sum_micros"),
        F.count(F.lit(1)).alias("n"),
    )
    recent = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") >= F.lit("2000-01-01").cast("timestamp"))
        .select(F.col("o_custkey").alias("c_custkey"))
        .distinct()
    )
    return (
        c.crossJoin(F.broadcast(stats))
        .filter(_micros(F.col("c_acctbal")) * F.col("n") > F.col("sum_micros"))
        .join(F.broadcast(recent), "c_custkey", "left_anti")
        .select("c_custkey", "c_acctbal")
    )


# ---------------------------------------------------------------------------
# Ordered event funnel (operators/funnel.py): first-touch
# view -> click -> purchase. Step k = min event time strictly after
# the user's step k-1 time; every shuffle keyed by user so the
# exchange layout is reused down the chain.
# ---------------------------------------------------------------------------

from frames_spark.operators import funnel as funnel_ops  # noqa: E402

_FUNNEL_STAGES_SQL = """
    WITH s0 AS (
      SELECT user_id, MIN(ts) AS step_0_ts FROM events
      WHERE event_type = 'view' GROUP BY user_id
    ),
    s1 AS (
      SELECT e.user_id, MIN(ts) AS step_1_ts
      FROM events e JOIN s0 ON e.user_id = s0.user_id
      WHERE event_type = 'click' AND ts > step_0_ts
      GROUP BY e.user_id
    ),
    s2 AS (
      SELECT e.user_id, MIN(ts) AS step_2_ts
      FROM events e JOIN s1 ON e.user_id = s1.user_id
      WHERE event_type = 'purchase' AND ts > step_1_ts
      GROUP BY e.user_id
    ),
    stages AS (
      SELECT s0.user_id, step_0_ts, step_1_ts, step_2_ts
      FROM s0 LEFT JOIN s1 ON s0.user_id = s1.user_id
              LEFT JOIN s2 ON s0.user_id = s2.user_id
    )
"""


@register(
    "q_funnel_stages",
    _FUNNEL_STAGES_SQL + "SELECT * FROM stages",
)
def q_funnel_stages(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return funnel_ops.funnel_stages(ev, ["view", "click", "purchase"])


@register(
    "q_funnel_counts",
    _FUNNEL_STAGES_SQL
    + """
    SELECT 0 AS step_idx, 'view' AS step, COUNT(step_0_ts) AS n_users FROM stages
    UNION ALL
    SELECT 1, 'click', COUNT(step_1_ts) FROM stages
    UNION ALL
    SELECT 2, 'purchase', COUNT(step_2_ts) FROM stages
    """,
)
def q_funnel_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return funnel_ops.funnel_counts(ev, ["view", "click", "purchase"])


# Per-group OLS fit y = intercept + slope*x (x=quantity, y=price):
# same exact-DECIMAL moment sums as q_corr, then slope/intercept as
# one float expression each — identical arithmetic both engines, so
# bit-stable. regr_slope()/regr_intercept() would drift with
# partition order like bare corr().
@register(
    "q_regression",
    f"""
    WITH m AS (
      SELECT l_returnflag,
             CAST({_MICROS_SQL.format(expr='l_quantity')} AS HUGEINT) AS x,
             CAST({_MICROS_SQL.format(expr='l_extendedprice')} AS HUGEINT) AS y
      FROM lineitem
    ), s AS (
      SELECT l_returnflag, COUNT(*) AS n,
             SUM(x) AS sx, SUM(y) AS sy,
             SUM(x*y) AS sxy, SUM(x*x) AS sxx
      FROM m GROUP BY l_returnflag
    ), fit AS (
      SELECT l_returnflag, n, sx, sy,
             (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
             / NULLIF(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE), 0) AS slope
      FROM s
    )
    SELECT l_returnflag, slope,
           (CAST(sy AS DOUBLE) / 1000000 - slope * (CAST(sx AS DOUBLE) / 1000000)) / CAST(n AS DOUBLE) AS intercept
    FROM fit
    """,
)
def q_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    x = _micros(F.col("l_quantity")).cast("decimal(18,0)")
    y = _micros(F.col("l_extendedprice")).cast("decimal(18,0)")
    s = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(x).alias("sx"),
        F.sum(y).alias("sy"),
        F.sum(x * y).alias("sxy"),
        F.sum(x * x).alias("sxx"),
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    slope = (d("n") * d("sxy") - d("sx") * d("sy")) / F.nullif(
        d("n") * d("sxx") - d("sx") * d("sx"), F.lit(0.0)
    )
    fit = s.select("l_returnflag", "n", "sx", "sy", slope.alias("slope"))
    intercept = (
        d("sy") / F.lit(1000000.0) - F.col("slope") * (d("sx") / F.lit(1000000.0))
    ) / d("n")
    return fit.select("l_returnflag", "slope", intercept.alias("intercept"))


# Per-group dispersion from the same exact moments: population
# variance/stddev over micros-scaled values, one float expression at
# the end (stddev_pop() drifts with partition order).
@register(
    "q_group_stats",
    f"""
    WITH m AS (
      SELECT o_orderpriority,
             CAST({_MICROS_SQL.format(expr='o_totalprice')} AS HUGEINT) AS x
      FROM orders
    ), s AS (
      SELECT o_orderpriority, COUNT(*) AS n, SUM(x) AS sx, SUM(x*x) AS sxx
      FROM m GROUP BY o_orderpriority
    )
    SELECT o_orderpriority, n,
           (CAST(sxx AS DOUBLE) / CAST(n AS DOUBLE)
            - (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)) * (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)))
           / 1000000000000 AS var_price,
           sqrt((CAST(sxx AS DOUBLE) / CAST(n AS DOUBLE)
                 - (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)) * (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)))
                / 1000000000000) AS std_price
    FROM s
    """,
)
def q_group_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    x = _micros(F.col("o_totalprice")).cast("decimal(18,0)")
    s = o.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(x).alias("sx"),
        F.sum(x * x).alias("sxx"),
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    var = (
        d("sxx") / d("n") - (d("sx") / d("n")) * (d("sx") / d("n"))
    ) / F.lit(1000000000000.0)
    return s.select(
        "o_orderpriority", "n", var.alias("var_price"), F.sqrt(var).alias("std_price")
    )


# ---------------------------------------------------------------------------
# Per-label embedding centroids (similarity/centroid.py): posexplode
# -> one (label, pos) aggregate with exact integer-micros sums, one
# float division at the end. Long form so the hash compare sees
# scalars.
# ---------------------------------------------------------------------------

from frames_spark.operators.rangejoin import interval_concurrency  # noqa: E402
from frames_spark.operators.sampling import (  # noqa: E402
    _race_key_sql,
    weighted_sample,
)
from frames_spark.similarity import centroid as centroid_ops  # noqa: E402


@register(
    "q_embed_centroids",
    """
    SELECT label, pos, CAST(SUM(vm) AS DOUBLE) / 1000000 / COUNT(*) AS mean
    FROM (
      SELECT label, generate_subscripts(embedding, 1) - 1 AS pos,
             CAST(FLOOR(CAST(unnest(embedding) AS DOUBLE) * 1000000 + 0.5) AS BIGINT) AS vm
      FROM embeddings
    )
    GROUP BY label, pos
    """,
)
def q_embed_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return centroid_ops.component_means(emb, "label")


# Deterministic weighted sampling without replacement (A-ES race,
# operators/sampling.py): P(select) ~ n_chars, reproducible on any
# partition layout, winners via one top-k. The float race key never
# leaves the plan (ranking only), so cross-engine ulp drift can't
# reach the hash compare.
@register(
    "q_weighted_sample",
    f"""
    SELECT doc_id, n_chars FROM documents
    WHERE n_chars > 0
    ORDER BY {_race_key_sql("doc_id", "n_chars", seed="ws")} DESC, doc_id
    LIMIT 100
    """,
)
def q_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    return weighted_sample(docs, "doc_id", "n_chars", k=100, seed="ws")


# Sweep-line concurrency: users active in the last 30 minutes at
# every change point. The oracle is the textbook single global
# running sum; the Spark side is the two-phase bucketed prefix sum
# (operators/rangejoin.py) — same numbers, no single-partition scan.
@register(
    "q_concurrency",
    """
    WITH iv AS (SELECT ts AS s, ts + INTERVAL 30 MINUTE AS e FROM events),
    deltas AS (
      SELECT s AS t, 1 AS d FROM iv
      UNION ALL
      SELECT e AS t, -1 AS d FROM iv
    ),
    per_t AS (SELECT t, SUM(d) AS net FROM deltas GROUP BY t)
    SELECT t, CAST(SUM(net) OVER (ORDER BY t ROWS UNBOUNDED PRECEDING) AS BIGINT) AS concurrent
    FROM per_t
    """,
)
def q_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        "ts", (F.col("ts") + F.expr("INTERVAL 30 MINUTES")).alias("te")
    )
    return interval_concurrency(ev, "ts", "te", bucket="day")


# ---------------------------------------------------------------------------
# SCD2 versioning, per-key EWMA, edit-distance-1 pairs.
# ---------------------------------------------------------------------------

from frames_spark.dedup.editdist import edit1_pairs  # noqa: E402
from frames_spark.operators.grouped import ewma_per_key  # noqa: E402
from frames_spark.operators.scd import scd2_collapse  # noqa: E402


# SCD type-2 dimension built from the order stream: one row per
# PRIORITY VERSION per customer with [valid_from, valid_to) ranges —
# lag to detect changes, lead to close intervals, one shuffle total
# (operators/scd.py).
@register(
    "q_scd2",
    """
    WITH flagged AS (
      SELECT o_custkey, o_orderpriority, o_orderdate AS valid_from,
             LAG(o_orderpriority) OVER (
               PARTITION BY o_custkey
               ORDER BY o_orderdate, o_orderpriority) AS prev,
             ROW_NUMBER() OVER (
               PARTITION BY o_custkey
               ORDER BY o_orderdate, o_orderpriority) AS rn
      FROM orders
    ),
    vers AS (
      SELECT o_custkey, o_orderpriority, valid_from
      FROM flagged
      WHERE rn = 1 OR o_orderpriority IS DISTINCT FROM prev
    )
    SELECT o_custkey, o_orderpriority, valid_from,
           LEAD(valid_from) OVER (
             PARTITION BY o_custkey
             ORDER BY valid_from, o_orderpriority) AS valid_to
    FROM vers
    """,
)
def q_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderpriority", "o_orderdate"
    )
    return scd2_collapse(o, "o_custkey", "o_orderdate", ["o_orderpriority"])


# Per-user EWMA of event values — order-dependent recursion (row t
# needs row t-1's OUTPUT), the one legitimate applyInPandas case
# (operators/grouped.py). Rows-only check: the recursion is not
# expressible in portable SQL; exactness vs pandas is pinned in
# tests/test_grouped_scd.py.
# Full oracle (upgraded from rows-only): pandas ewm(adjust=False)
# computes (1-a)*prev + a*x in IEEE doubles WITH a fixpoint
# short-circuit — when the incoming value equals the running average
# exactly, pandas keeps the average untouched instead of computing
# (1-a)*x + a*x, which is NOT x in floating point (0.7*2.61 + 0.3*
# 2.61 = 2.6099999999999994). The r12 sf1 sweep caught exactly this:
# users whose first two values collide (2-decimal values make that
# likely) diverged in the last ulp. The CTE mirrors the
# short-circuit with a CASE; otherwise it replays the identical
# operation sequence per key — order is total because (user_id, ts)
# has no ties in this data. Exact pandas parity of this formulation
# is pinned over 200k values + the equal-run edge in
# tests/test_grouped_scd.py. If the driver's hash ever disagrees
# here, suspect FMA contraction differences first.
@register(
    "q_ewma",
    """
    WITH RECURSIVE base AS (
      SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value,
             ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts) AS rn
      FROM events
    ),
    rec AS (
      SELECT user_id, ts, value, rn, value AS ewma FROM base WHERE rn = 1
      UNION ALL
      SELECT b.user_id, b.ts, b.value, b.rn,
             CASE WHEN b.value = r.ewma THEN r.ewma
                  ELSE (1 - 0.3) * r.ewma + 0.3 * b.value END
      FROM base b JOIN rec r ON b.user_id = r.user_id AND b.rn = r.rn + 1
    )
    SELECT user_id, ts, value, ewma FROM rec
    """,
)
def q_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select("user_id", "ts", "value")
    return ewma_per_key(ev, "user_id", "ts", "value", alpha=0.3)


# Edit-distance-1 token pairs via deletion neighborhoods (SymSpell
# shape, dedup/editdist.py): explode |s|+1 variants, one groupBy,
# in-bucket pair expansion, levenshtein verify.
@register(
    "q_typo_pairs",
    f"""
    WITH toks AS (
      SELECT unnest({_TOKENS_SQL}) AS t FROM documents
    ),
    vocab AS (
      -- corpus tokens plus planted single-deletion typos (synthetic
      -- vocab has no natural typos; this makes the 0-row case a test
      -- failure instead of a vacuous pass)
      SELECT DISTINCT s FROM (
        SELECT t AS s FROM toks WHERE len(t) >= 4
        UNION ALL
        SELECT substr(t, 2, len(t)) FROM toks WHERE len(t) >= 5
      )
    ),
    variants AS (
      SELECT DISTINCT s, variant FROM (
        SELECT s, unnest(list_prepend(s,
          list_transform(range(1, len(s) + 1),
                         i -> substr(s, 1, i - 1) || substr(s, i + 1, len(s))))
        ) AS variant
        FROM vocab
      )
    )
    SELECT DISTINCT v1.s AS a, v2.s AS b
    FROM variants v1 JOIN variants v2
      ON v1.variant = v2.variant AND v1.s < v2.s
    WHERE levenshtein(v1.s, v2.s) <= 1
    """,
)
def q_typo_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(F.explode(text_fns.tokens(F.col("text"))).alias("tok"))
    typos = toks.filter(F.length("tok") >= 5).select(
        F.col("tok").substr(F.lit(2), F.length("tok")).alias("tok")
    )
    return edit1_pairs(toks.unionAll(typos), "tok", min_len=4, max_bucket=None)


# Winsorized per-group stats: clip at the group's [p05, p95] and
# aggregate the clipped values. Bounds are FLOORED to whole micros so
# the clip, the sum, and the clipped-row counts are all exact integer
# math — the winsorized mean is one float division at the end. Plan:
# bounds aggregate per group (tiny) broadcast back onto the fact.
@register(
    "q_winsorize",
    f"""
    WITH m AS (
      SELECT o_orderpriority, {_MICROS_SQL.format(expr='o_totalprice')} AS xm
      FROM orders
    ),
    b AS (
      SELECT o_orderpriority,
             CAST(FLOOR(quantile_cont(xm, 0.05)) AS BIGINT) AS lo,
             CAST(FLOOR(quantile_cont(xm, 0.95)) AS BIGINT) AS hi
      FROM m GROUP BY o_orderpriority
    )
    SELECT m.o_orderpriority,
           CAST(SUM(LEAST(GREATEST(xm, lo), hi)) AS BIGINT) AS wsum_micros,
           CAST(SUM(CASE WHEN xm < lo THEN 1 ELSE 0 END) AS BIGINT) AS n_clip_lo,
           CAST(SUM(CASE WHEN xm > hi THEN 1 ELSE 0 END) AS BIGINT) AS n_clip_hi,
           CAST(SUM(LEAST(GREATEST(xm, lo), hi)) AS DOUBLE) / 1000000 / COUNT(*) AS wmean
    FROM m JOIN b ON m.o_orderpriority = b.o_orderpriority
    GROUP BY m.o_orderpriority
    """,
)
def q_winsorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    m = o.select("o_orderpriority", _micros(F.col("o_totalprice")).alias("xm"))
    b = m.groupBy("o_orderpriority").agg(
        F.floor(F.percentile(F.col("xm"), F.lit(0.05))).cast("long").alias("lo"),
        F.floor(F.percentile(F.col("xm"), F.lit(0.95))).cast("long").alias("hi"),
    )
    clipped = F.least(F.greatest(F.col("xm"), F.col("lo")), F.col("hi"))
    return (
        m.join(F.broadcast(b), "o_orderpriority")
        .groupBy("o_orderpriority")
        .agg(
            F.sum(clipped).alias("wsum_micros"),
            F.sum((F.col("xm") < F.col("lo")).cast("long")).alias("n_clip_lo"),
            F.sum((F.col("xm") > F.col("hi")).cast("long")).alias("n_clip_hi"),
            (
                F.sum(clipped).cast("double") / F.lit(1000000.0) / F.count(F.lit(1))
            ).alias("wmean"),
        )
    )


# ---------------------------------------------------------------------------
# Cohort retention + chi-square independence — product-analytics
# staples from exact integer counts.
# ---------------------------------------------------------------------------


# Cohort retention: users grouped by first-activity week; cell
# (cohort, offset) = distinct users active offset weeks later. Two
# shuffles: first-seen agg per user, then the (cohort, offset)
# distinct count. The self-join the textbook SQL implies is replaced
# by attaching the cohort to each event via the per-user first-seen
# broadcast... at 100 TB the per-user table shuffles on user_id —
# the same key as the event agg, so AQE coalesces into one exchange
# chain.
@register(
    "q_cohort_retention",
    """
    WITH first_seen AS (
      SELECT user_id, MIN(CAST(date_trunc('week', ts) AS TIMESTAMP)) AS cohort
      FROM events GROUP BY user_id
    ),
    activity AS (
      SELECT DISTINCT e.user_id, f.cohort,
             CAST(date_diff('day', f.cohort,
                            CAST(date_trunc('week', e.ts) AS TIMESTAMP)) / 7 AS BIGINT) AS week_offset
      FROM events e JOIN first_seen f ON e.user_id = f.user_id
    )
    SELECT cohort, week_offset, COUNT(*) AS n_users
    FROM activity GROUP BY cohort, week_offset
    """,
)
def q_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select("user_id", "ts")
    first_seen = ev.groupBy("user_id").agg(
        F.min(F.date_trunc("week", F.col("ts"))).alias("cohort")
    )
    offset = (
        F.datediff(F.date_trunc("week", F.col("ts")), F.col("cohort")) / 7
    ).cast("long")
    return (
        ev.join(first_seen, "user_id")
        .select("user_id", "cohort", offset.alias("week_offset"))
        .distinct()
        .groupBy("cohort", "week_offset")
        .agg(F.count(F.lit(1)).alias("n_users"))
    )


# Chi-square independence of two categoricals: contingency counts
# and margins are exact ints (one groupBy + window margins), the
# statistic is float arithmetic applied identically in both engines.
@register(
    "q_chi_square",
    """
    WITH joined AS (
      SELECT o_orderpriority AS a, c_mktsegment AS b
      FROM orders JOIN customer ON o_custkey = c_custkey
    ),
    cells AS (SELECT a, b, COUNT(*) AS n_ab FROM joined GROUP BY a, b),
    m AS (
      SELECT a, b, n_ab,
             SUM(n_ab) OVER (PARTITION BY a) AS n_a,
             SUM(n_ab) OVER (PARTITION BY b) AS n_b,
             SUM(n_ab) OVER () AS n
      FROM cells
    )
    SELECT CAST(SUM(CAST(FLOOR(
             (CAST(n_ab AS DOUBLE) - CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE) / CAST(n AS DOUBLE))
             * (CAST(n_ab AS DOUBLE) - CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE) / CAST(n AS DOUBLE))
             / (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE) / CAST(n AS DOUBLE))
             * 1000000 + 0.5) AS BIGINT)) AS DOUBLE) / 1000000 AS chi2,
           COUNT(*) AS n_cells
    FROM m
    """,
)
def q_chi_square(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    o = load_table(spark, sf_dir, "orders").select("o_custkey", "o_orderpriority")
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    cells = (
        join_ops.dim_join(o, c, o["o_custkey"] == c["c_custkey"])
        .groupBy(
            F.col("o_orderpriority").alias("a"), F.col("c_mktsegment").alias("b")
        )
        .agg(F.count(F.lit(1)).alias("n_ab"))
    )
    d = lambda c_: F.col(c_).cast("double")  # noqa: E731
    m = cells.select(
        "a", "b", "n_ab",
        F.sum("n_ab").over(Window.partitionBy("a")).alias("n_a"),
        F.sum("n_ab").over(Window.partitionBy("b")).alias("n_b"),
        F.sum("n_ab").over(Window.partitionBy()).alias("n"),
    )
    expected = d("n_a") * d("n_b") / d("n")
    # each cell's term is bit-stable (pure float expr over exact
    # ints), but a float SUM over cells drifts with partition order —
    # quantize per-cell to integer micros and sum longs instead
    term = (d("n_ab") - expected) * (d("n_ab") - expected) / expected
    term_q = F.floor(term * 1000000 + 0.5).cast("long")
    return m.agg(
        (F.sum(term_q).cast("double") / 1000000).alias("chi2"),
        F.count(F.lit(1)).alias("n_cells"),
    )


# Robust outliers by MAD (median absolute deviation): per-group
# median and MAD over exact micros, flag |x - med| > 3 * MAD.
# Unlike the z-score gate (q_zscore), one wild value can't drag the
# threshold — the standard robust quality gate. Two grouped
# percentile passes (median, then MAD over the broadcast-joined
# deviations); all comparisons in exact integer micros.
@register(
    "q_mad_outliers",
    f"""
    WITH m AS (
      SELECT event_type, event_id,
             {_MICROS_SQL.format(expr='value')} AS xm
      FROM events
    ),
    med AS (
      SELECT event_type,
             CAST(FLOOR(quantile_cont(xm, 0.5)) AS BIGINT) AS med
      FROM m GROUP BY event_type
    ),
    dev AS (
      SELECT m.event_type, event_id, xm, med, ABS(xm - med) AS ad
      FROM m JOIN med ON m.event_type = med.event_type
    ),
    mad AS (
      SELECT event_type,
             CAST(FLOOR(quantile_cont(ad, 0.5)) AS BIGINT) AS mad
      FROM dev GROUP BY event_type
    )
    SELECT d.event_type, event_id,
           CAST(xm AS DOUBLE) / 1000000 AS value
    FROM dev d JOIN mad ON d.event_type = mad.event_type
    WHERE ad > 3 * mad
    """,
)
def q_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    m = ev.select("event_type", "event_id", _micros(F.col("value")).alias("xm"))
    med = m.groupBy("event_type").agg(
        F.floor(F.percentile(F.col("xm"), F.lit(0.5))).cast("long").alias("med")
    )
    dev = m.join(F.broadcast(med), "event_type").withColumn(
        "ad", F.abs(F.col("xm") - F.col("med"))
    )
    mad = dev.groupBy("event_type").agg(
        F.floor(F.percentile(F.col("ad"), F.lit(0.5))).cast("long").alias("mad")
    )
    return (
        dev.join(F.broadcast(mad), "event_type")
        .filter(F.col("ad") > 3 * F.col("mad"))
        .select(
            "event_type", "event_id",
            (F.col("xm").cast("double") / 1000000).alias("value"),
        )
    )


# Day-over-day revenue change: daily sums in exact micros, LAG for
# the previous day, pct change as one float division of exact ints.
@register(
    "q_day_over_day",
    f"""
    WITH daily AS (
      SELECT CAST(date_trunc('day', o_orderdate) AS TIMESTAMP) AS day,
             CAST(SUM({_MICROS_SQL.format(expr='o_totalprice')}) AS BIGINT) AS rev_micros
      FROM orders GROUP BY 1
    )
    SELECT day, rev_micros,
           LAG(rev_micros) OVER (ORDER BY day) AS prev_micros,
           CAST(rev_micros - LAG(rev_micros) OVER (ORDER BY day) AS DOUBLE)
             / NULLIF(CAST(LAG(rev_micros) OVER (ORDER BY day) AS DOUBLE), 0) AS pct_change
    FROM daily
    """,
)
def q_day_over_day(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    o = load_table(spark, sf_dir, "orders")
    daily = o.groupBy(
        F.date_trunc("day", F.col("o_orderdate")).alias("day")
    ).agg(F.sum(_micros(F.col("o_totalprice"))).alias("rev_micros"))
    # one row per DAY — the global window is over the tiny aggregated
    # relation, not the fact table (the same two-level shape as the
    # bucketed prefix sum in interval_concurrency)
    w = Window.orderBy("day")
    prev = F.lag("rev_micros").over(w)
    return daily.select(
        "day", "rev_micros", prev.alias("prev_micros"),
        (
            (F.col("rev_micros") - prev).cast("double")
            / F.nullif(prev.cast("double"), F.lit(0.0))
        ).alias("pct_change"),
    )


# Gaps-and-islands: longest consecutive-day activity streak per
# user. island id = active_day - row_number (constant within a run
# of consecutive days); one distinct + two windows, all keyed by
# user.
@register(
    "q_streaks",
    """
    WITH days AS (
      SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS DATE) AS d
      FROM events
    ),
    islands AS (
      SELECT user_id, d,
             d - CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY d) AS INTEGER) AS island
      FROM days
    ),
    streaks AS (
      SELECT user_id, island, COUNT(*) AS len
      FROM islands GROUP BY user_id, island
    )
    SELECT user_id, MAX(len) AS max_streak FROM streaks GROUP BY user_id
    """,
)
def q_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    days = ev.select(
        "user_id", F.to_date(F.date_trunc("day", F.col("ts"))).alias("d")
    ).distinct()
    rn = F.row_number().over(Window.partitionBy("user_id").orderBy("d"))
    islands = days.withColumn("island", F.date_sub(F.col("d"), rn))
    return (
        islands.groupBy("user_id", "island")
        .agg(F.count(F.lit(1)).alias("len"))
        .groupBy("user_id")
        .agg(F.max("len").alias("max_streak"))
    )


# TPC-H Q7 shape: revenue volume between nation pairs by year. The
# dim chain (nation -> customer / supplier) broadcasts; the only
# shuffles are the fact joins on their natural keys. Exercises the
# full star schema including region/nation.
@register(
    "q_nation_volume",
    f"""
    SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
           EXTRACT(year FROM l_shipdate) AS l_year,
           CAST(SUM({_MICROS_SQL.format(expr='l_extendedprice * (1 - l_discount)')}) AS BIGINT) AS volume_micros
    FROM lineitem
    JOIN orders   ON o_orderkey = l_orderkey
    JOIN customer ON c_custkey = o_custkey
    JOIN supplier ON s_suppkey = l_suppkey
    JOIN nation sn ON sn.n_nationkey = s_nationkey
    JOIN nation cn ON cn.n_nationkey = c_nationkey
    WHERE sn.n_name IN ('NATION_1', 'NATION_2')
      AND cn.n_name IN ('NATION_1', 'NATION_2')
      AND sn.n_name <> cn.n_name
    GROUP BY sn.n_name, cn.n_name, EXTRACT(year FROM l_shipdate)
    """,
)
def q_nation_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    nations = load_table(spark, sf_dir, "nation").filter(
        F.col("n_name").isin("NATION_1", "NATION_2")
    )
    # nation filter applied BEFORE joining: customer/supplier prune
    # to the two nations via a broadcast of the 25-row nation table
    # (schema-bounded), then join the facts UN-hinted — the pruned
    # dims still scale with SF, so AQE sizes those broadcasts
    cust = (
        load_table(spark, sf_dir, "customer")
        .join(
            F.broadcast(nations.select(
                F.col("n_nationkey").alias("c_nationkey"),
                F.col("n_name").alias("cust_nation"),
            )),
            "c_nationkey",
        )
        .select("c_custkey", "cust_nation")
    )
    supp = (
        load_table(spark, sf_dir, "supplier")
        .join(
            F.broadcast(nations.select(
                F.col("n_nationkey").alias("s_nationkey"),
                F.col("n_name").alias("supp_nation"),
            )),
            "s_nationkey",
        )
        .select("s_suppkey", "supp_nation")
    )
    rev = _micros(F.col("l_extendedprice") * (1 - F.col("l_discount")))
    return (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(cust, o["o_custkey"] == cust["c_custkey"])
        .join(supp, li["l_suppkey"] == supp["s_suppkey"])
        .filter(F.col("supp_nation") != F.col("cust_nation"))
        .groupBy(
            "supp_nation", "cust_nation",
            F.year("l_shipdate").cast("long").alias("l_year"),
        )
        .agg(F.sum(rev).alias("volume_micros"))
    )


# TPC-H Q2 shape: argmin per group with join-back — the supplier
# offering each part's minimum price. Pre-agg min per part (partial
# map-side), equi-join back on (part, price) — no window over the
# fact, no correlated subquery at runtime.
@register(
    "q_cheapest_supplier",
    f"""
    WITH px AS (
      SELECT l_partkey, l_suppkey,
             MIN({_MICROS_SQL.format(expr='l_extendedprice / l_quantity')}) AS unit_micros
      FROM lineitem GROUP BY l_partkey, l_suppkey
    ),
    best AS (
      SELECT l_partkey, MIN(unit_micros) AS best_micros
      FROM px GROUP BY l_partkey
    )
    SELECT px.l_partkey, MIN(l_suppkey) AS best_suppkey, best_micros
    FROM px JOIN best
      ON px.l_partkey = best.l_partkey AND unit_micros = best_micros
    GROUP BY px.l_partkey, best_micros
    """,
)
def q_cheapest_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    unit = _micros(F.col("l_extendedprice") / F.col("l_quantity"))
    px = li.groupBy("l_partkey", "l_suppkey").agg(F.min(unit).alias("unit_micros"))
    best = px.groupBy(F.col("l_partkey").alias("b_partkey")).agg(
        F.min("unit_micros").alias("best_micros")
    )
    return (
        px.join(
            best,
            (px["l_partkey"] == best["b_partkey"])
            & (px["unit_micros"] == best["best_micros"]),
        )
        .groupBy("l_partkey", "best_micros")
        .agg(F.min("l_suppkey").alias("best_suppkey"))
        .select("l_partkey", "best_suppkey", "best_micros")
    )


# CDC compaction: latest record per key (deterministic (ts, id)
# tie-break) — the upsert-merge read path for an append-only change
# log. One window keyed by the entity; at scale this is the
# compaction job that keeps a changelog queryable without a
# transactional table format.
@register(
    "q_latest_per_key",
    """
    SELECT user_id, event_id, ts, value FROM (
      SELECT user_id, event_id, ts, value,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY ts DESC, event_id DESC) AS rn
      FROM events
    ) WHERE rn = 1
    """,
)
def q_latest_per_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.desc("ts"), F.desc("event_id")
    )
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "event_id", "ts", "value")
    )


# Session-level rollup on top of sessionization: duration, event
# count, and revenue per (user, session). The session assignment is
# the same two-window pass as q_sessionize; the rollup adds ONE more
# aggregate on (user, session) — same partitioning key prefix, so
# the sort from the window carries into the agg.
@register(
    "q_session_stats",
    f"""
    WITH sess AS (
      SELECT event_id, user_id, ts, value, event_type,
             SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
      FROM (
        SELECT event_id, user_id, ts, value, event_type,
               CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                         OR date_diff('second',
                                      CAST(lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS TIMESTAMP),
                                      CAST(ts AS TIMESTAMP)) > 1800
                    THEN 1 ELSE 0 END AS is_new
        FROM events
      )
    )
    SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
           COUNT(*) AS n_events,
           CAST(date_diff('microsecond', MIN(CAST(ts AS TIMESTAMP)), MAX(CAST(ts AS TIMESTAMP))) AS BIGINT) AS duration_us,
           CAST(SUM({_MICROS_SQL.format(expr='value')}) AS BIGINT) AS value_micros,
           CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS n_purchases
    FROM sess GROUP BY user_id, session_id
    """,
)
def q_session_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    sess = win_ops.sessionize(ev, "user_id", "ts", 1800, order_tiebreak=["event_id"])
    dur = (
        F.unix_micros(F.max("ts")) - F.unix_micros(F.min("ts"))
    ).alias("duration_us")
    return sess.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        dur,
        F.sum(_micros(F.col("value"))).alias("value_micros"),
        F.sum((F.col("event_type") == "purchase").cast("long")).alias("n_purchases"),
    )


# First/last value per group in one window pass — the "entry and
# exit state" idiom (first page, last page, net change).
@register(
    "q_first_last",
    """
    SELECT DISTINCT user_id,
           first_value(event_type) OVER w AS first_type,
           last_value(event_type)  OVER w AS last_type,
           first_value(value) OVER w AS first_value,
           last_value(value)  OVER w AS last_value
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
    """,
)
def q_first_last(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return ev.select(
        "user_id",
        F.first("event_type").over(w).alias("first_type"),
        F.last("event_type").over(w).alias("last_type"),
        F.first("value").over(w).alias("first_value"),
        F.last("value").over(w).alias("last_value"),
    ).distinct()


# ---------------------------------------------------------------------------
# Training-corpus mechanics: chunking, packing, decontamination
# (pipelines/chunking.py, dedup/contamination.py).
# ---------------------------------------------------------------------------

from frames_spark.dedup.contamination import contaminated_docs  # noqa: E402
from frames_spark.pipelines.chunking import chunk_text, pack_docs  # noqa: E402


# Overlapping ~50-token chunks, stride 40 — pure array expressions
# in the scan stage (tokenize once, sequence+slice; no token
# explode). Chunk text compared by md5 to keep compare rows small.
@register(
    "q_chunk_docs",
    f"""
    WITH chunked AS (
      SELECT doc_id,
             unnest(list_transform(
               range(1, greatest(len({_TOKENS_SQL}), 1) + 1, 40),
               s -> {{'idx': CAST((s - 1) / 40 AS BIGINT),
                      'toks': list_slice({_TOKENS_SQL}, s, s + 49)}}
             )) AS c
      FROM documents
    )
    SELECT doc_id, c.idx AS chunk_idx,
           md5(array_to_string(c.toks, ' ')) AS chunk_fp,
           len(c.toks) AS n_chunk_tokens
    FROM chunked WHERE len(c.toks) > 0
    """,
)
def q_chunk_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    out = chunk_text(docs, max_tokens=50, overlap=10)
    return out.select(
        "doc_id",
        F.col("chunk_idx").cast("long").alias("chunk_idx"),
        F.md5(F.col("chunk_text")).alias("chunk_fp"),
        "n_chunk_tokens",
    )


# Contiguous packing into 2048-token context windows per source
# shard: bin = floor(exclusive prefix token count / capacity), one
# window pass keyed by source — never a global cumsum.
@register(
    "q_pack_docs",
    """
    SELECT source, doc_id, n_tokens,
           CAST(FLOOR(prefix / 2048) AS BIGINT) AS bin,
           CAST(prefix % 2048 AS BIGINT) AS bin_offset
    FROM (
      SELECT source, doc_id, n_tokens,
             COALESCE(SUM(n_tokens) OVER (
               PARTITION BY source ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prefix
      FROM (
        SELECT source, doc_id, len({tokens}) AS n_tokens FROM documents
      )
    )
    """.replace("{tokens}", _TOKENS_SQL),
)
def q_pack_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    with_tokens = docs.select(
        "source", "doc_id",
        F.size(text_fns.tokens(F.col("text"))).cast("long").alias("n_tokens"),
    )
    return pack_docs(with_tokens, "source", "doc_id", "n_tokens", capacity=2048)


# Decontamination: corpus docs sharing >= 3 distinct word trigrams
# with a (pseudo) benchmark set — the benchmark shingle index
# broadcasts, the corpus never shuffles. (Production would use
# 8-13-grams; the synthetic corpus is too short for those to
# collide at all.)
@register(
    "q_decontaminate",
    f"""
    WITH corp AS (
      SELECT doc_id, text FROM documents WHERE doc_id >= 20
    ),
    bench AS (
      SELECT doc_id, text FROM documents WHERE doc_id < 20
    ),
    corp_sh AS ({_SHINGLES_SQL.format(tokens="list_slice(" + _TOKENS_SQL + ", 1, len(" + _TOKENS_SQL + "))", corpus="SELECT * FROM corp")}),
    bench_sh AS ({_SHINGLES_SQL.format(tokens="list_slice(" + _TOKENS_SQL + ", 1, len(" + _TOKENS_SQL + "))", corpus="SELECT * FROM bench")})
    SELECT c.doc AS doc, b.doc AS bench_doc, COUNT(*) AS n_shared
    FROM corp_sh c JOIN bench_sh b ON c.shingle = b.shingle
    GROUP BY 1, 2 HAVING COUNT(*) >= 3
    """,
)
def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("doc_id") >= 20)
    bench = docs.filter(F.col("doc_id") < 20)
    return contaminated_docs(corpus, bench, n=3, min_shared=3)


# ---------------------------------------------------------------------------
# SQL surface parity: the SAME ANSI string runs through spark.sql()
# over registered views AND as the DuckDB oracle — no translation
# layer. Proves the engine is usable as a SQL endpoint, not only via
# the DataFrame API, and that the dialect subset used is genuinely
# portable.
# ---------------------------------------------------------------------------

from frames_spark.sources.tables import register_views  # noqa: E402

_ANSI_JOIN_SQL = """
    SELECT c_name, o_orderkey, o_orderdate, sum_qty
    FROM (
      SELECT l_orderkey, CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
      FROM lineitem GROUP BY l_orderkey
      HAVING SUM(CAST(l_quantity AS BIGINT)) > 270
    ) big
    JOIN orders   ON o_orderkey = l_orderkey
    JOIN customer ON c_custkey = o_custkey
"""

_ANSI_WINDOW_SQL = """
    SELECT user_id, event_id, ts, value FROM (
      SELECT user_id, event_id, ts, value,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY ts DESC, event_id DESC) AS rn
      FROM events
    ) latest WHERE rn = 1
"""


@register("q_sql_ansi_join", _ANSI_JOIN_SQL)
def q_sql_ansi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir)
    return spark.sql(_ANSI_JOIN_SQL)


@register("q_sql_ansi_window", _ANSI_WINDOW_SQL)
def q_sql_ansi_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir)
    return spark.sql(_ANSI_WINDOW_SQL)


# TPC-H Q5 shape: revenue from LOCAL supply chains (customer and
# supplier in the same nation). The same-nation predicate is a join
# condition between two broadcast dims — the facts never see it
# until the final residual filter on the joined row.
@register(
    "q_local_volume",
    f"""
    SELECT n_name,
           CAST(SUM({_MICROS_SQL.format(expr='l_extendedprice * (1 - l_discount)')}) AS BIGINT) AS revenue_micros
    FROM lineitem
    JOIN orders   ON o_orderkey = l_orderkey
    JOIN customer ON c_custkey = o_custkey
    JOIN supplier ON s_suppkey = l_suppkey AND s_nationkey = c_nationkey
    JOIN nation   ON n_nationkey = c_nationkey
    WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
    GROUP BY n_name
    """,
)
def q_local_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    ).select("o_orderkey", "o_custkey")
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    rev = _micros(F.col("l_extendedprice") * (1 - F.col("l_discount")))
    return (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        # customer/supplier scale with SF: un-hinted, AQE-sized joins;
        # nation (25 rows, schema-bounded) keeps the forced hint
        .join(c, o["o_custkey"] == c["c_custkey"])
        .join(
            s,
            (li["l_suppkey"] == s["s_suppkey"])
            & (s["s_nationkey"] == c["c_nationkey"]),
        )
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .groupBy("n_name")
        .agg(F.sum(rev).alias("revenue_micros"))
    )


# TPC-H Q10 shape: top customers by revenue from RETURNED items —
# returnflag filter prunes lineitem at the scan, then one shuffle
# per fact join, top-k at the end.
@register(
    "q_returned_revenue",
    f"""
    SELECT c_custkey, c_name,
           CAST(SUM({_MICROS_SQL.format(expr='l_extendedprice * (1 - l_discount)')}) AS BIGINT) AS revenue_micros
    FROM lineitem
    JOIN orders   ON o_orderkey = l_orderkey
    JOIN customer ON c_custkey = o_custkey
    WHERE l_returnflag = 'R'
    GROUP BY c_custkey, c_name
    ORDER BY revenue_micros DESC, c_custkey
    LIMIT 20
    """,
)
def q_returned_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_returnflag") == "R"
    )
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_name")
    rev = _micros(F.col("l_extendedprice") * (1 - F.col("l_discount")))
    return (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .groupBy("c_custkey", "c_name")
        .agg(F.sum(rev).alias("revenue_micros"))
        .orderBy(F.desc("revenue_micros"), "c_custkey")
        .limit(20)
    )


# Hopping (sliding) window rollup: 1-hour windows every 15 minutes —
# each event lands in 4 overlapping windows. Spark's window() emits
# the expansion natively; the oracle reproduces it by generating the
# 4 candidate starts per event.
@register(
    "q_hopping_window",
    """
    WITH expanded AS (
      -- integer-micros bucket math: epoch() is a DOUBLE whose 16th
      -- significant digit rounds the microseconds, which can flip
      -- membership exactly at a window edge; epoch_us is exact
      SELECT e.*, CAST(to_timestamp(s // 1000000) AS TIMESTAMP) AS w_start
      FROM (
        SELECT *, unnest(list_transform(range(0, 4),
          i -> (epoch_us(CAST(ts AS TIMESTAMP)) // 900000000) * 900000000
               - i * 900000000)) AS s
        FROM events
      ) e
      WHERE epoch_us(CAST(ts AS TIMESTAMP)) >= s
        AND epoch_us(CAST(ts AS TIMESTAMP)) < s + 3600000000
    )
    SELECT w_start, event_type, COUNT(*) AS n,
           CAST(SUM(CAST(FLOOR(value * 1000000 + 0.5) AS BIGINT)) AS BIGINT) AS value_micros
    FROM expanded GROUP BY w_start, event_type
    """,
)
def q_hopping_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.window("ts", "1 hour", "15 minutes").alias("w"), "event_type"
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(_micros(F.col("value"))).alias("value_micros"),
        )
        .select(F.col("w.start").alias("w_start"), "event_type", "n", "value_micros")
    )


# Point-in-time (PIT) join against the SCD2 dimension: each event
# reads the customer's priority version valid AT THE EVENT TIME.
# Because SCD2 versions partition time (valid_to = next valid_from),
# the between-join the textbook writes is exactly an AS-OF join on
# valid_from — one shuffle via the union-window asof operator, no
# range join. Updates are deduped to one per (key, date) first so
# versions have strictly increasing valid_from (no empty intervals,
# no tie ambiguity).
def _scd2_pit_sql(orders_where: str = "", events_where: str = "") -> str:
    """The SCD2 point-in-time oracle, optionally key-restricted on
    both sides (the subset-witness twin cuts o_custkey/user_id at the
    same deterministic bound — the join is an equality on that key,
    so the restricted result IS the full result's restriction)."""
    return f"""
    WITH upd AS (
      SELECT o_custkey, o_orderpriority, o_orderdate FROM (
        SELECT o_custkey, o_orderpriority, o_orderdate,
               ROW_NUMBER() OVER (PARTITION BY o_custkey, o_orderdate
                                  ORDER BY o_orderpriority, o_orderkey) AS rn
        FROM orders {orders_where}
      ) WHERE rn = 1
    ),
    flagged AS (
      SELECT o_custkey, o_orderpriority, o_orderdate AS valid_from,
             LAG(o_orderpriority) OVER (
               PARTITION BY o_custkey ORDER BY o_orderdate) AS prev,
             ROW_NUMBER() OVER (
               PARTITION BY o_custkey ORDER BY o_orderdate) AS rn
      FROM upd
    ),
    vers AS (
      SELECT o_custkey, o_orderpriority, valid_from,
             LEAD(valid_from) OVER (
               PARTITION BY o_custkey ORDER BY valid_from) AS valid_to
      FROM flagged WHERE rn = 1 OR o_orderpriority IS DISTINCT FROM prev
    )
    SELECT e.event_id, e.user_id, e.ts, v.o_orderpriority AS prio_at_event
    FROM (SELECT * FROM events {events_where}) e LEFT JOIN vers v
      ON v.o_custkey = e.user_id
     AND v.valid_from <= e.ts
     AND (v.valid_to IS NULL OR e.ts < v.valid_to)
    """


def _scd2_pit_frame(o: DataFrame, ev: DataFrame) -> DataFrame:
    """SCD2 collapse + as-of enrichment over already-restricted
    orders/events (shared by q_scd2_pit and its subset twin)."""
    from pyspark.sql import Window

    rn = F.row_number().over(
        Window.partitionBy("o_custkey", "o_orderdate").orderBy(
            "o_orderpriority", "o_orderkey"
        )
    )
    upd = (
        o.withColumn("rn", rn)
        .filter(F.col("rn") == 1)
        .select("o_custkey", "o_orderpriority", "o_orderdate")
    )
    vers = scd2_collapse(upd, "o_custkey", "o_orderdate", ["o_orderpriority"])
    dim = vers.select(
        F.col("o_custkey").alias("user_id"),
        F.col("valid_from").alias("ts"),
        F.col("o_orderpriority").alias("prio_at_event"),
    )
    # constant tiebreak: after the (key, date) dedup no two versions
    # share a valid_from, so ordering needs no real tie column
    dim = dim.withColumn("tb", F.lit(0))
    return asof_join(
        ev.select("event_id", "user_id", "ts"), dim, key="user_id", ts="ts",
        value_cols=["prio_at_event"], right_tiebreak="tb",
    ).select("event_id", "user_id", "ts", "prio_at_event")


@register("q_scd2_pit", _scd2_pit_sql())
def q_scd2_pit(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _scd2_pit_frame(
        load_table(spark, sf_dir, "orders"),
        load_table(spark, sf_dir, "events"),
    )


# Total covered time per user: merge overlapping activity intervals
# (gaps-and-islands over [s, e) spans: island breaks where a span
# starts after the running max of previous ends), then sum island
# extents. All arithmetic in integer epoch-micros; every window
# keyed by user. The "device online time" op — naive sum of span
# lengths double-counts overlaps.
@register(
    "q_covered_time",
    """
    WITH iv AS (
      SELECT user_id,
             epoch_us(CAST(ts AS TIMESTAMP)) AS s,
             epoch_us(CAST(ts AS TIMESTAMP)) + 1800000000 AS e
      FROM events
    ),
    runs AS (
      SELECT user_id, s, e,
             MAX(e) OVER (PARTITION BY user_id ORDER BY s, e
                          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_max_e
      FROM iv
    ),
    islands AS (
      SELECT user_id, s, e,
             SUM(CASE WHEN prev_max_e IS NULL OR s > prev_max_e THEN 1 ELSE 0 END)
               OVER (PARTITION BY user_id ORDER BY s, e
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
      FROM runs
    ),
    merged AS (
      SELECT user_id, island, MAX(e) - MIN(s) AS covered_us
      FROM islands GROUP BY user_id, island
    )
    SELECT user_id, CAST(SUM(covered_us) AS BIGINT) AS covered_us,
           COUNT(*) AS n_islands
    FROM merged GROUP BY user_id
    """,
)
def q_covered_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    iv = ev.select(
        "user_id",
        F.unix_micros(F.col("ts")).alias("s"),
        (F.unix_micros(F.col("ts")) + 1800000000).alias("e"),
    )
    wp = Window.partitionBy("user_id").orderBy("s", "e")
    prev_max = F.max("e").over(wp.rowsBetween(Window.unboundedPreceding, -1))
    runs = iv.withColumn("prev_max_e", prev_max)
    new_island = (
        F.col("prev_max_e").isNull() | (F.col("s") > F.col("prev_max_e"))
    ).cast("long")
    islands = runs.withColumn(
        "island",
        F.sum(new_island).over(wp.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return (
        islands.groupBy("user_id", "island")
        .agg((F.max("e") - F.min("s")).alias("covered_us"))
        .groupBy("user_id")
        .agg(
            F.sum("covered_us").alias("covered_us"),
            F.count(F.lit(1)).alias("n_islands"),
        )
    )


# Stratified weighted sampling: k A-ES winners per market segment —
# the per-stratum window form of q_weighted_sample.
from frames_spark.operators.sampling import weighted_sample_stratified  # noqa: E402


@register(
    "q_weighted_stratified",
    f"""
    SELECT c_mktsegment, c_custkey, c_acctbal FROM (
      SELECT c_mktsegment, c_custkey, c_acctbal,
             ROW_NUMBER() OVER (
               PARTITION BY c_mktsegment
               ORDER BY {_race_key_sql("c_custkey", "c_acctbal", seed="wst")} DESC,
                        c_custkey) AS rn
      FROM customer WHERE c_acctbal > 0
    ) WHERE rn <= 10
    """,
)
def q_weighted_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer").select(
        "c_mktsegment", "c_custkey", "c_acctbal"
    )
    return weighted_sample_stratified(
        c, "c_mktsegment", "c_custkey", "c_acctbal", k=10, seed="wst"
    )


# K-fold cross-validation assignment: fold = content hash % k —
# layout-invariant like all sampling here, and every entity keeps
# its fold across reruns and engines. Output is the fold size table
# (the assignment itself is a scan expression).
@register(
    "q_kfold",
    f"""
    SELECT {hash60_sql("CAST(c_custkey AS VARCHAR)", seed="fold")} % 5 AS fold,
           COUNT(*) AS n, CAST(SUM({_MICROS_SQL.format(expr='c_acctbal')}) AS BIGINT) AS bal_micros
    FROM customer GROUP BY 1
    """,
)
def q_kfold(spark: SparkSession, sf_dir: str) -> DataFrame:
    from frames_spark.functions.hashing import hash60

    c = load_table(spark, sf_dir, "customer")
    fold = (hash60(F.col("c_custkey").cast("string"), seed="fold") % 5).alias("fold")
    return c.groupBy(fold).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(_micros(F.col("c_acctbal"))).alias("bal_micros"),
    )


# Abandonment: clicks with NO purchase by the same user within the
# following hour — the anti form of the range join (funnel breakage
# detail view). Purchase keys prune to (user, ts) before the anti
# join; the residual time bound rides on the join condition.
@register(
    "q_abandoned",
    """
    SELECT c.event_id AS click_id, c.user_id, c.ts AS click_ts
    FROM events c
    WHERE c.event_type = 'click'
      AND NOT EXISTS (
        SELECT 1 FROM events p
        WHERE p.event_type = 'purchase'
          AND p.user_id = c.user_id
          AND p.ts >= c.ts
          AND p.ts <= c.ts + INTERVAL 1 HOUR
      )
    """,
)
def q_abandoned(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"), "user_id",
        F.col("ts").alias("click_ts"),
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"), F.col("ts").alias("p_ts")
    )
    cond = (
        (clicks["user_id"] == purchases["p_user"])
        & (purchases["p_ts"] >= clicks["click_ts"])
        & (purchases["p_ts"] <= clicks["click_ts"] + F.expr("INTERVAL 1 HOUR"))
    )
    return clicks.join(purchases, cond, "left_anti")


# Share-of-total: each segment's revenue share — the percent is a
# window over the ALREADY-AGGREGATED 5-row relation, never the fact
# table; exact micros ratio.
@register(
    "q_share_of_total",
    f"""
    WITH seg AS (
      SELECT c_mktsegment,
             CAST(SUM({_MICROS_SQL.format(expr='o_totalprice')}) AS BIGINT) AS rev_micros
      FROM orders JOIN customer ON o_custkey = c_custkey
      GROUP BY c_mktsegment
    )
    SELECT c_mktsegment, rev_micros,
           CAST(rev_micros AS DOUBLE) / CAST(SUM(rev_micros) OVER () AS DOUBLE) AS share
    FROM seg
    """,
)
def q_share_of_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    seg = (
        join_ops.dim_join(o, c, o["o_custkey"] == c["c_custkey"])
        .groupBy("c_mktsegment")
        .agg(F.sum(_micros(F.col("o_totalprice"))).alias("rev_micros"))
    )
    total = F.sum("rev_micros").over(Window.partitionBy())
    return seg.select(
        "c_mktsegment", "rev_micros",
        (F.col("rev_micros").cast("double") / total.cast("double")).alias("share"),
    )


# PII redaction (functions/redact.py): plant synthetic emails/phones
# on a deterministic subset (the corpus has no natural PII), scrub,
# and account — counts + md5 of the scrubbed text, all one scan.
from frames_spark.functions import redact as redact_fns  # noqa: E402

_PII_CORPUS_SQL = """
    SELECT doc_id,
           CASE WHEN doc_id % 7 = 0
                THEN text || ' contact: user' || CAST(doc_id AS VARCHAR)
                     || '@example.com or +1-555-0' || CAST(doc_id % 100 AS VARCHAR) || '99'
                ELSE text END AS text
    FROM documents
"""


@register(
    "q_redact_pii",
    f"""
    SELECT doc_id, {", ".join(redact_fns.pii_counts_sql("text"))},
           md5({redact_fns.redact_sql("text")}) AS redacted_fp
    FROM ({_PII_CORPUS_SQL})
    """,
)
def q_redact_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    planted = docs.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 7 == 0,
            F.concat(
                F.col("text"),
                F.lit(" contact: user"),
                F.col("doc_id").cast("string"),
                F.lit("@example.com or +1-555-0"),
                (F.col("doc_id") % 100).cast("string"),
                F.lit("99"),
            ),
        ).otherwise(F.col("text")).alias("text"),
    )
    return planted.select(
        "doc_id",
        *redact_fns.pii_counts(F.col("text")),
        F.md5(redact_fns.redact(F.col("text"))).alias("redacted_fp"),
    )


# Table diff (operators/diff.py): one full-outer join on the keys
# with per-side scan-time row hashes. Diffed here: orders vs a
# modified snapshot (urgent orders re-priced, some dropped, some
# added) — the CI shape for pipeline-output regression testing.
from frames_spark.operators.diff import table_diff  # noqa: E402

_DIFF_B_SQL = """
    SELECT o_orderkey, o_custkey, o_orderstatus,
           CASE WHEN o_orderpriority = '1-URGENT'
                THEN o_totalprice + 1 ELSE o_totalprice END AS o_totalprice,
           o_orderdate, o_orderpriority
    FROM orders WHERE o_orderkey % 97 <> 0
    UNION ALL
    SELECT o_orderkey + 100000000, o_custkey, o_orderstatus,
           o_totalprice, o_orderdate, o_orderpriority
    FROM orders WHERE o_orderkey % 101 = 0
"""


@register(
    "q_table_diff",
    f"""
    WITH b AS ({_DIFF_B_SQL})
    SELECT COALESCE(a.o_orderkey, b.o_orderkey) AS o_orderkey,
           CASE WHEN a.o_orderkey IS NULL THEN 'added'
                WHEN b.o_orderkey IS NULL THEN 'removed'
                WHEN a.o_totalprice <> b.o_totalprice
                  OR a.o_custkey <> b.o_custkey
                  OR a.o_orderstatus <> b.o_orderstatus
                  OR a.o_orderdate <> b.o_orderdate
                  OR a.o_orderpriority <> b.o_orderpriority THEN 'changed'
           END AS change
    FROM orders a FULL OUTER JOIN b ON a.o_orderkey = b.o_orderkey
    WHERE a.o_orderkey IS NULL OR b.o_orderkey IS NULL
       OR a.o_totalprice <> b.o_totalprice
       OR a.o_custkey <> b.o_custkey
       OR a.o_orderstatus <> b.o_orderstatus
       OR a.o_orderdate <> b.o_orderdate
       OR a.o_orderpriority <> b.o_orderpriority
    """,
)
def q_table_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    modified = o.filter(F.col("o_orderkey") % 97 != 0).withColumn(
        "o_totalprice",
        F.when(
            F.col("o_orderpriority") == "1-URGENT", F.col("o_totalprice") + 1
        ).otherwise(F.col("o_totalprice")),
    )
    added = o.filter(F.col("o_orderkey") % 101 == 0).withColumn(
        "o_orderkey", F.col("o_orderkey") + 100000000
    )
    b = modified.unionByName(added)
    return table_diff(o, b, ["o_orderkey"])


# Shannon entropy of the event-type mix per user — distribution
# skew/diversity metric from exact counts. p*log2(p) terms are the
# same float expression over exact ints on both engines, quantized
# to micros before the final sum (partition-order-proof, the
# chi-square lesson).
@register(
    "q_entropy",
    """
    WITH c AS (
      SELECT user_id, event_type, COUNT(*) AS n FROM events
      GROUP BY user_id, event_type
    ),
    t AS (
      SELECT user_id, event_type, n, SUM(n) OVER (PARTITION BY user_id) AS total
      FROM c
    )
    SELECT user_id,
           CAST(SUM(CAST(FLOOR(
             -(CAST(n AS DOUBLE) / CAST(total AS DOUBLE))
              * log2(CAST(n AS DOUBLE) / CAST(total AS DOUBLE)) * 1000000 + 0.5
           ) AS BIGINT)) AS DOUBLE) / 1000000 AS entropy,
           COUNT(*) AS n_types
    FROM t GROUP BY user_id
    """,
)
def q_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    c = ev.groupBy("user_id", "event_type").agg(F.count(F.lit(1)).alias("n"))
    t = c.withColumn("total", F.sum("n").over(Window.partitionBy("user_id")))
    p = F.col("n").cast("double") / F.col("total").cast("double")
    term_q = F.floor(-p * F.log2(p) * 1000000 + 0.5).cast("long")
    return t.groupBy("user_id").agg(
        (F.sum(term_q).cast("double") / 1000000).alias("entropy"),
        F.count(F.lit(1)).alias("n_types"),
    )


# Association rules over user "baskets" (event types performed):
# support / confidence / lift from exact counts. Baskets gather with
# one groupBy + sorted collect_set; the i<j pair expansion happens
# IN-ARRAY (the minhash/LSH idiom) so there is no self-join of the
# distinct-pairs relation; all ratios are one float expression over
# exact longs.
@register(
    "q_assoc_rules",
    """
    WITH ut AS (SELECT DISTINCT user_id, event_type FROM events),
    n_users AS (SELECT COUNT(DISTINCT user_id) AS nu FROM ut),
    item AS (SELECT event_type, COUNT(*) AS n_item FROM ut GROUP BY event_type),
    pair AS (
      SELECT a.event_type AS ante, b.event_type AS cons, COUNT(*) AS n_pair
      FROM ut a JOIN ut b ON a.user_id = b.user_id
                        AND a.event_type < b.event_type
      GROUP BY 1, 2
    )
    SELECT ante, cons, n_pair,
           CAST(n_pair AS DOUBLE) / nu AS support,
           CAST(n_pair AS DOUBLE) / ia.n_item AS confidence,
           CAST(n_pair AS DOUBLE) / ia.n_item / ic.n_item * nu AS lift
    FROM pair
    JOIN item ia ON ante = ia.event_type
    JOIN item ic ON cons = ic.event_type
    CROSS JOIN n_users
    """,
)
def q_assoc_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    ut = ev.select("user_id", "event_type").distinct()
    baskets = ut.groupBy("user_id").agg(
        F.sort_array(F.collect_set("event_type")).alias("items")
    )
    pairs_expr = F.expr(
        "flatten(transform(items, (x, i) ->"
        " transform(slice(items, i + 2, size(items)),"
        " y -> struct(x AS ante, y AS cons))))"
    )
    pair = (
        baskets.select(F.explode(pairs_expr).alias("p"))
        .groupBy(F.col("p.ante").alias("ante"), F.col("p.cons").alias("cons"))
        .agg(F.count(F.lit(1)).alias("n_pair"))
    )
    item = ut.groupBy(F.col("event_type").alias("ante")).agg(
        F.count(F.lit(1)).alias("n_item")
    )
    # n_users as a 1-row aggregate broadcast into the plan (the same
    # CROSS JOIN n_users the oracle uses) — no driver-side .count()
    # job, no synchronization barrier, one lazy plan end-to-end.
    nu_df = ut.agg(F.count_distinct("user_id").alias("_nu"))
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    out = (
        pair.join(F.broadcast(item), "ante")
        .join(
            F.broadcast(item.select(F.col("ante").alias("cons"),
                                    F.col("n_item").alias("n_cons"))),
            "cons",
        )
        .crossJoin(F.broadcast(nu_df))
        .select(
            "ante", "cons", "n_pair",
            (d("n_pair") / d("_nu")).alias("support"),
            (d("n_pair") / d("n_item")).alias("confidence"),
            (d("n_pair") / d("n_item") / d("n_cons") * d("_nu")).alias("lift"),
        )
    )
    return out


# Time-to-convert distribution: percentiles of (purchase - first
# view) over converted users — funnel stages composed with the
# bit-stable micros percentile. One extra tiny aggregate over the
# per-user stage table.
@register(
    "q_conversion_time",
    _FUNNEL_STAGES_SQL
    + """
    SELECT COUNT(*) AS n_converted,
           CAST(FLOOR(quantile_cont(dt_us, 0.5)) AS BIGINT) AS p50_us,
           CAST(FLOOR(quantile_cont(dt_us, 0.9)) AS BIGINT) AS p90_us
    FROM (
      SELECT epoch_us(CAST(step_2_ts AS TIMESTAMP))
             - epoch_us(CAST(step_0_ts AS TIMESTAMP)) AS dt_us
      FROM stages WHERE step_2_ts IS NOT NULL
    )
    """,
)
def q_conversion_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    stages = funnel_ops.funnel_stages(ev, ["view", "click", "purchase"])
    dt = (
        F.unix_micros(F.col("step_2_ts")) - F.unix_micros(F.col("step_0_ts"))
    ).alias("dt_us")
    return (
        stages.filter(F.col("step_2_ts").isNotNull())
        .select(dt)
        .agg(
            F.count(F.lit(1)).alias("n_converted"),
            F.floor(F.percentile(F.col("dt_us"), F.lit(0.5))).cast("long").alias("p50_us"),
            F.floor(F.percentile(F.col("dt_us"), F.lit(0.9))).cast("long").alias("p90_us"),
        )
    )


# ---------------------------------------------------------------------------
# TPC-H plan-shape extensions (Q8/Q12/Q14/Q16/Q19/Q20/Q21 adapted to
# the columns this star schema carries — no partsupp, no shipmode, no
# commit/receipt dates). Each exercises a distinct physical shape:
# conditional aggregation over a star join, delay bucketing, distinct
# counting with an exclusion anti-join, OR-of-ANDs pushdown, and
# fact-side pre-aggregation feeding a tiny dimension join.
# ---------------------------------------------------------------------------


# TPC-H Q8 shape: market share of one supplier nation per year within
# a consumer region. All five dims broadcast; the fact table shuffles
# once for the aggregate. Share = double division of two exact
# integer-micros sums (bit-stable across engines).
@register(
    "q_market_share",
    f"""
    SELECT EXTRACT(year FROM o_orderdate) AS o_year,
           CAST(SUM(CASE WHEN sn.n_name = 'NATION_1'
                         THEN {_MICROS_SQL.format(expr='l_extendedprice * (1 - l_discount)')}
                         ELSE 0 END) AS BIGINT) AS nation_micros,
           CAST(SUM({_MICROS_SQL.format(expr='l_extendedprice * (1 - l_discount)')}) AS BIGINT) AS total_micros,
           CAST(SUM(CASE WHEN sn.n_name = 'NATION_1'
                         THEN {_MICROS_SQL.format(expr='l_extendedprice * (1 - l_discount)')}
                         ELSE 0 END) AS DOUBLE)
             / CAST(SUM({_MICROS_SQL.format(expr='l_extendedprice * (1 - l_discount)')}) AS DOUBLE) AS mkt_share
    FROM lineitem
    JOIN part     ON p_partkey = l_partkey AND p_type = 'PROMO'
    JOIN orders   ON o_orderkey = l_orderkey
    JOIN customer ON c_custkey = o_custkey
    JOIN nation cn ON cn.n_nationkey = c_nationkey
    JOIN region   ON r_regionkey = cn.n_regionkey AND r_name = 'EUROPE'
    JOIN supplier ON s_suppkey = l_suppkey
    JOIN nation sn ON sn.n_nationkey = s_nationkey
    WHERE o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY 1
    """,
)
def q_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").filter(F.col("p_type") == "PROMO")
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1995-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    supp = load_table(spark, sf_dir, "supplier")
    # customer-side nation chain prunes to one region BEFORE broadcast
    cn = (
        nation.join(
            F.broadcast(region),
            nation["n_regionkey"] == region["r_regionkey"],
        )
        .select(F.col("n_nationkey").alias("cn_key"))
    )
    sn = nation.select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    )
    vol = _micros(F.col("l_extendedprice") * (1 - F.col("l_discount")))
    joined = (
        li.join(part, li["l_partkey"] == part["p_partkey"])
        .join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(cust, orders["o_custkey"] == cust["c_custkey"])
        .join(F.broadcast(cn), cust["c_nationkey"] == F.col("cn_key"))
        .join(supp, li["l_suppkey"] == supp["s_suppkey"])
        .join(F.broadcast(sn), supp["s_nationkey"] == F.col("sn_key"))
    )
    is_n1 = F.col("supp_nation") == "NATION_1"
    return (
        joined.select(
            F.year("o_orderdate").cast("bigint").alias("o_year"),
            F.when(is_n1, vol).otherwise(F.lit(0)).alias("nv"),
            vol.alias("tv"),
        )
        .groupBy("o_year")
        .agg(
            F.sum("nv").alias("nation_micros"),
            F.sum("tv").alias("total_micros"),
            (
                F.sum("nv").cast("double") / F.sum("tv").cast("double")
            ).alias("mkt_share"),
        )
    )


# TPC-H Q12 shape: order-priority mix by shipping-delay bucket.
# One fact-fact join keyed on the order key, then a conditional
# aggregate over a handful of buckets — partial agg map-side.
@register(
    "q_ship_delay",
    """
    SELECT LEAST(date_diff('day', CAST(o_orderdate AS TIMESTAMP),
                           CAST(l_shipdate AS TIMESTAMP)) // 30, 6) AS delay_bucket,
           CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_high,
           CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_low
    FROM lineitem JOIN orders ON o_orderkey = l_orderkey
    WHERE l_shipdate >= o_orderdate
    GROUP BY 1
    """,
)
def q_ship_delay(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    bucket = F.least(
        F.floor(F.datediff(F.col("l_shipdate"), F.col("o_orderdate")) / 30),
        F.lit(6),
    )
    return (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .filter(F.col("l_shipdate") >= F.col("o_orderdate"))
        .select(
            bucket.alias("delay_bucket"),
            F.when(high, 1).otherwise(0).alias("h"),
            F.when(high, 0).otherwise(1).alias("l"),
        )
        .groupBy("delay_bucket")
        .agg(
            F.sum("h").cast("long").alias("n_high"),
            F.sum("l").cast("long").alias("n_low"),
        )
    )


# TPC-H Q14 shape: promo revenue share per month — conditional
# aggregate over one broadcast dim join; share from exact ints.
@register(
    "q_promo_share",
    f"""
    SELECT CAST(date_trunc('month', l_shipdate) AS TIMESTAMP) AS month,
           CAST(SUM(CASE WHEN p_type = 'PROMO'
                         THEN {_MICROS_SQL.format(expr='l_extendedprice * (1 - l_discount)')}
                         ELSE 0 END) AS BIGINT) AS promo_micros,
           CAST(SUM({_MICROS_SQL.format(expr='l_extendedprice * (1 - l_discount)')}) AS BIGINT) AS total_micros
    FROM lineitem JOIN part ON p_partkey = l_partkey
    GROUP BY 1
    """,
)
def q_promo_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    vol = _micros(F.col("l_extendedprice") * (1 - F.col("l_discount")))
    return (
        li.join(part, li["l_partkey"] == part["p_partkey"])
        .select(
            F.date_trunc("month", F.col("l_shipdate")).alias("month"),
            F.when(F.col("p_type") == "PROMO", vol).otherwise(F.lit(0)).alias("pv"),
            vol.alias("tv"),
        )
        .groupBy("month")
        .agg(
            F.sum("pv").alias("promo_micros"),
            F.sum("tv").alias("total_micros"),
        )
    )


# TPC-H Q16 shape: supplier variety per (brand, size) with an
# exclusion list — the exclusion is a tiny broadcast anti-join BEFORE
# the distinct count, so excluded suppliers never enter the shuffle.
@register(
    "q_supplier_variety",
    """
    SELECT p_brand, p_size,
           COUNT(DISTINCT l_suppkey) AS n_suppliers
    FROM lineitem
    JOIN part ON p_partkey = l_partkey
    WHERE p_brand <> 'Brand#2' AND p_size <= 25
      AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
    GROUP BY p_brand, p_size
    """,
)
def q_supplier_variety(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#2") & (F.col("p_size") <= 25)
    )
    bad = (
        load_table(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") < 0)
        .select("s_suppkey")
    )
    return (
        li.join(bad, li["l_suppkey"] == bad["s_suppkey"], "left_anti")
        .join(part, li["l_partkey"] == part["p_partkey"])
        .groupBy("p_brand", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("n_suppliers"))
    )


# TPC-H Q19 shape: disjunctive brand/size/quantity predicates. The
# OR-of-ANDs sits in ONE join condition over a broadcast part dim —
# a single scan of the fact table, no union of three subqueries.
@register(
    "q_special_revenue",
    f"""
    SELECT CAST(SUM({_MICROS_SQL.format(expr='l_extendedprice * (1 - l_discount)')}) AS BIGINT) AS revenue_micros,
           COUNT(*) AS n_items
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE (p_brand = 'Brand#11' AND p_size BETWEEN 1 AND 10
           AND l_quantity BETWEEN 1 AND 15)
       OR (p_brand = 'Brand#22' AND p_size BETWEEN 11 AND 25
           AND l_quantity BETWEEN 10 AND 25)
       OR (p_brand = 'Brand#15' AND p_size BETWEEN 26 AND 50
           AND l_quantity BETWEEN 20 AND 35)
    """,
)
def q_special_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    qty = F.col("l_quantity")
    size = F.col("p_size")
    brand = F.col("p_brand")
    cond = (
        ((brand == "Brand#11") & size.between(1, 10) & qty.between(1, 15))
        | ((brand == "Brand#22") & size.between(11, 25) & qty.between(10, 25))
        | ((brand == "Brand#15") & size.between(26, 50) & qty.between(20, 35))
    )
    vol = _micros(F.col("l_extendedprice") * (1 - F.col("l_discount")))
    return (
        li.join(part, li["l_partkey"] == part["p_partkey"])
        .filter(cond)
        .agg(
            F.sum(vol).alias("revenue_micros"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


# TPC-H Q20 shape (no partsupp): outsized suppliers — those who
# shipped more than TWICE a part's fair share (qty * n_suppliers >
# 2 * part total, exact integers; parts here spread over ~27
# suppliers, so absolute majority never occurs). Two fact-side
# pre-aggregates reusing the same (part, supplier) grouping;
# supplier dim joins LAST, against the already-tiny dominated set.
@register(
    "q_dominant_supplier",
    """
    WITH ps AS (
      SELECT l_partkey AS partkey, l_suppkey AS suppkey,
             CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty_ps
      FROM lineitem GROUP BY 1, 2
    ),
    pt AS (
      SELECT partkey, CAST(SUM(qty_ps) AS BIGINT) AS qty_p,
             COUNT(*) AS n_supp
      FROM ps GROUP BY 1
    )
    SELECT s_suppkey, s_name, COUNT(*) AS n_dominated
    FROM ps JOIN pt USING (partkey)
    JOIN supplier ON s_suppkey = suppkey
    WHERE n_supp >= 2 AND qty_ps * n_supp > 2 * qty_p
    GROUP BY s_suppkey, s_name
    """,
)
def q_dominant_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    supp = load_table(spark, sf_dir, "supplier")
    ps = (
        li.groupBy(
            F.col("l_partkey").alias("partkey"), F.col("l_suppkey").alias("suppkey")
        )
        .agg(F.sum(F.col("l_quantity").cast("long")).alias("qty_ps"))
    )
    pt = ps.groupBy("partkey").agg(
        F.sum("qty_ps").alias("qty_p"), F.count(F.lit(1)).alias("n_supp")
    )
    dominated = (
        ps.join(pt, "partkey")
        .filter(
            (F.col("n_supp") >= 2)
            & (F.col("qty_ps") * F.col("n_supp") > 2 * F.col("qty_p"))
        )
    )
    return (
        dominated.join(supp, dominated["suppkey"] == supp["s_suppkey"])
        .groupBy("s_suppkey", "s_name")
        .agg(F.count(F.lit(1)).alias("n_dominated"))
    )


# TPC-H Q21 shape: the sole offender — multi-supplier orders where
# exactly ONE supplier shipped late (> 60 days after the order).
# The whole EXISTS / NOT-EXISTS pair collapses into one per-order
# aggregate (distinct suppliers vs distinct late suppliers), so the
# fact table shuffles once on the order key; the supplier dim joins
# against the per-supplier counts at the end.
@register(
    "q_sole_delayed",
    """
    WITH per_order AS (
      SELECT l_orderkey,
             COUNT(DISTINCT l_suppkey) AS n_supp,
             COUNT(DISTINCT CASE WHEN l_shipdate > o_orderdate + INTERVAL 60 DAY
                                 THEN l_suppkey END) AS n_late,
             MAX(CASE WHEN l_shipdate > o_orderdate + INTERVAL 60 DAY
                      THEN l_suppkey END) AS late_supp
      FROM lineitem JOIN orders ON o_orderkey = l_orderkey
      GROUP BY l_orderkey
    )
    SELECT s_suppkey, s_name, COUNT(*) AS n_sole_late
    FROM per_order JOIN supplier ON s_suppkey = late_supp
    WHERE n_supp >= 2 AND n_late = 1
    GROUP BY s_suppkey, s_name
    """,
)
def q_sole_delayed(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    supp = load_table(spark, sf_dir, "supplier")
    late = F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")
    # Two-level aggregate instead of two COUNT(DISTINCT)s in one agg:
    # distinct (order, supplier) pairs first, then plain counts — no
    # Expand operator doubling the shuffle input.
    pairs = (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .groupBy("l_orderkey", "l_suppkey")
        .agg(F.max(F.when(late, 1).otherwise(0)).alias("any_late"))
    )
    per_order = (
        pairs.groupBy("l_orderkey")
        .agg(
            F.count(F.lit(1)).alias("n_supp"),
            F.sum("any_late").alias("n_late"),
            F.max(F.when(F.col("any_late") == 1, F.col("l_suppkey"))).alias(
                "late_supp"
            ),
        )
        .filter((F.col("n_supp") >= 2) & (F.col("n_late") == 1))
    )
    return (
        per_order.join(supp, per_order["late_supp"] == supp["s_suppkey"])
        .groupBy("s_suppkey", "s_name")
        .agg(F.count(F.lit(1)).alias("n_sole_late"))
    )


# ---------------------------------------------------------------------------
# Corpus-statistics operators for training-data curation: mixture
# accounting, corpus-LM quality scoring, boilerplate span detection,
# and cross-source duplication — each one or two scan-side aggregates,
# no driver loops, no floats before micros quantization.
# ---------------------------------------------------------------------------


# Training-mixture accounting: per (source, lang) doc/char/token
# volumes + each cell's share of corpus tokens. The share window runs
# over the aggregated (source x lang) relation — tiny — never the
# corpus.
@register(
    "q_corpus_mixture",
    f"""
    WITH cell AS (
      SELECT source, lang, COUNT(*) AS n_docs,
             CAST(SUM(n_chars) AS BIGINT) AS total_chars,
             CAST(SUM(len(list_filter({_TOKENS_SQL}, t -> t <> ''))) AS BIGINT)
               AS total_tokens
      FROM documents GROUP BY source, lang
    )
    SELECT source, lang, n_docs, total_chars, total_tokens,
           CAST(total_tokens AS DOUBLE)
             / CAST(SUM(total_tokens) OVER () AS DOUBLE) AS token_share
    FROM cell
    """,
)
def q_corpus_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    ntok = F.size(F.filter(_tokens_col(), lambda t: t != "")).cast("long")
    cell = docs.groupBy("source", "lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
        F.sum(ntok).alias("total_tokens"),
    )
    return cell.withColumn(
        "token_share",
        F.col("total_tokens").cast("double")
        / F.sum("total_tokens").over(Window.partitionBy()).cast("double"),
    )
