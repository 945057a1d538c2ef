"""q01_core_ops — query registry, module 1 of 9: ``register``, the
QUERIES/ORACLES dicts, the shared SQL-fragment and corpus helpers the
later modules import, and the Frames-parity core (folds, joins,
reshapes, windows, dedup, ANN) that fills the driver's 50-key window.

Cross-engine determinism: double-typed aggregates are computed over
exact DECIMAL casts (order-independent), then cast back to DOUBLE —
plain double sums vary in the last ulps with partition order, which
would break the driver's value-hash. See SURVEY.md §4.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from frames_spark.operators import aggregate as agg_ops
from frames_spark.operators import categorical as cat_ops
from frames_spark.operators import core as core_ops
from frames_spark.operators import joins as join_ops
from frames_spark.operators import melt as melt_ops
from frames_spark.operators import missing as missing_ops
from frames_spark.operators import window as win_ops
from frames_spark.operators.ranking import grouped_rank, ntile_from_rank
from frames_spark.sources.tables import load_table

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLES: dict[str, str] = {}


def register(name: str, oracle: str | None = None):
    def deco(fn):
        if name in QUERIES:
            raise ValueError(f"query key {name!r} is already registered")
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


# ---------------------------------------------------------------------------
# Flagship: grouped multi-aggregate fold (TPC-H Q1 shape).
# Frames ref: benchmarks/InsuranceBench.hs (fused folds per group).
# ---------------------------------------------------------------------------

# Exact DECIMAL sums; the handoff to DOUBLE goes through BIGINT
# micros (sum*1e6 is integral — inputs have <= 6 decimals), because
# engines round a >16-digit DECIMAL -> DOUBLE cast differently
# (caught at sf0.1: identical decimal sums, last-ulp double drift).
# int64 -> double is IEEE round-to-nearest everywhere.
_Q1_ORACLE = """
SELECT l_returnflag, l_linestatus,
       CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) * 1000000 AS BIGINT) AS DOUBLE) / 1000000 AS sum_qty,
       CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) * 1000000 AS BIGINT) AS DOUBLE) / 1000000 AS sum_base_price,
       CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))
                * (1 - CAST(l_discount AS DECIMAL(8,6)))) * 1000000 AS BIGINT) AS DOUBLE) / 1000000 AS sum_disc_price,
       CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))
                * (1 - CAST(l_discount AS DECIMAL(8,6)))
                * (1 + CAST(l_tax AS DECIMAL(8,6)))) * 1000000 AS BIGINT) AS DOUBLE) / 1000000 AS sum_charge,
       CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) * 1000000 AS BIGINT) AS DOUBLE) / 1000000 / COUNT(*) AS avg_qty,
       CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) * 1000000 AS BIGINT) AS DOUBLE) / 1000000 / COUNT(*) AS avg_price,
       CAST(CAST(SUM(CAST(l_discount AS DECIMAL(8,6))) * 1000000 AS BIGINT) AS DOUBLE) / 1000000 / COUNT(*) AS avg_disc,
       COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
"""


@register("q_group_fold", _Q1_ORACLE)
def q_group_fold(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    qty = F.col("l_quantity").cast("decimal(18,6)")
    price = F.col("l_extendedprice").cast("decimal(18,6)")
    disc = F.col("l_discount").cast("decimal(8,6)")
    tax = F.col("l_tax").cast("decimal(8,6)")
    n = F.count(F.lit(1))

    def dbl(dec_sum: F.Column) -> F.Column:
        # exact decimal -> integral micros (inputs have <= 6 decimals)
        # -> int64 -> double: deterministic across engines, unlike a
        # direct >16-digit decimal->double cast
        return (dec_sum * 1000000).cast("long").cast("double") / F.lit(1000000.0)

    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dbl(F.sum(qty)).alias("sum_qty"),
            dbl(F.sum(price)).alias("sum_base_price"),
            dbl(F.sum(price * (1 - disc))).alias("sum_disc_price"),
            dbl(F.sum(price * (1 - disc) * (1 + tax))).alias("sum_charge"),
            (dbl(F.sum(qty)) / n).alias("avg_qty"),
            (dbl(F.sum(price)) / n).alias("avg_price"),
            (dbl(F.sum(disc)) / n).alias("avg_disc"),
            n.alias("count_order"),
        )
    )


# Non-decimal variant used by bench.py — on a real deployment doubles
# are fine (the decimal casts above exist for cross-engine hashing).
def q1_bench(spark: SparkSession, sf_dir: str) -> DataFrame:
    return agg_ops.group_fold(load_table(spark, sf_dir, "lineitem"))


# ---------------------------------------------------------------------------
# §2a Frames parity — simple folds / row-column algebra
# ---------------------------------------------------------------------------

# Mean of a per-row ratio (test/UncurryFold.hs: avg income/prestige).
# Arbitrary quotient doubles land on decimal-rounding ties (e.g.
# x.4796875), which Spark and DuckDB break differently — so the
# portable rounding is floor(x*1e6 + 0.5) as an exact integer of
# micro-units: pure IEEE ops, identical in both engines, and the
# bigint sum is order-independent.
def _micros(col: F.Column) -> F.Column:
    return F.floor(col * 1000000 + 0.5).cast("long")


_MICROS_SQL = "CAST(FLOOR({expr} * 1000000 + 0.5) AS BIGINT)"


@register(
    "q_mean_ratio",
    f"""
    SELECT CAST(SUM({_MICROS_SQL.format(expr='l_extendedprice / l_quantity')}) AS DOUBLE)
           / 1000000 / COUNT(*) AS mean_ratio
    FROM lineitem
    """,
)
def q_mean_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    ratio = F.col("l_extendedprice") / F.col("l_quantity")
    return li.agg(
        (F.sum(_micros(ratio)).cast("double") / 1000000 / F.count(F.lit(1))).alias(
            "mean_ratio"
        )
    )


# Fused multi-column means in one pass (benchmarks/panda.py, BenchDemo.hs).
@register(
    "q_col_means",
    f"""
    SELECT CAST(SUM({_MICROS_SQL.format(expr='value')}) AS DOUBLE)
           / 1000000 / COUNT(value) AS mean_value,
           CAST(SUM({_MICROS_SQL.format(expr='user_id')}) AS DOUBLE)
           / 1000000 / COUNT(user_id) AS mean_user_id
    FROM events
    """,
)
def q_col_means(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")

    def dmean(c):
        return (
            F.sum(_micros(F.col(c))).cast("double") / 1000000 / F.count(c)
        ).alias(f"mean_{c}")

    return ev.agg(dmean("value"), dmean("user_id"))


# filterFrame + rcast (InCore.hs:222, Exploration.hs:47): predicate and
# projection both push into the parquet scan.
@register(
    "q_filter_project",
    """
    SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1995-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1996-01-01 00:00:00'
      AND l_discount > 0.05
    """,
)
def q_filter_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return core_ops.project(
        core_ops.filter_rows(
            li,
            (F.col("l_shipdate") >= F.lit("1995-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_discount") > 0.05),
        ),
        ["l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice"],
    )


# rputField / frameCons (Rec.hs): derived column, per-row IEEE double
# arithmetic — bit-identical across engines, no decimal needed.
@register(
    "q_mutate",
    """
    SELECT o_orderkey, o_totalprice,
           o_totalprice * 0.9 AS discounted,
           CASE WHEN o_totalprice > 200000 THEN 'big' ELSE 'small' END AS size_class
    FROM orders
    """,
)
def q_mutate(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return core_ops.mutate(
        o.select("o_orderkey", "o_totalprice"),
        discounted=F.col("o_totalprice") * 0.9,
        size_class=F.when(F.col("o_totalprice") > 200000, F.lit("big")).otherwise(
            F.lit("small")
        ),
    )


# takeRows (Exploration.hs:120) — deterministic under a total order.
@register(
    "q_take",
    """
    SELECT l_orderkey, l_linenumber, l_quantity
    FROM lineitem
    ORDER BY l_orderkey, l_linenumber, l_partkey, l_suppkey, l_quantity
    LIMIT 100
    """,
)
def q_take(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    # (l_orderkey, l_linenumber) is NOT unique in this corpus — the
    # order must be total or the boundary rows are engine-dependent.
    return core_ops.take_rows(
        li.select(
            "l_orderkey", "l_linenumber", "l_partkey", "l_suppkey", "l_quantity"
        ),
        100,
        ["l_orderkey", "l_linenumber", "l_partkey", "l_suppkey", "l_quantity"],
    ).select("l_orderkey", "l_linenumber", "l_quantity")


# dropRows (Exploration.hs:125).
@register(
    "q_drop",
    """
    SELECT l_orderkey, l_linenumber, l_quantity
    FROM lineitem
    ORDER BY l_orderkey, l_linenumber, l_partkey, l_suppkey, l_quantity
    OFFSET 55000
    """,
)
def q_drop(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return core_ops.drop_rows(
        li.select(
            "l_orderkey", "l_linenumber", "l_partkey", "l_suppkey", "l_quantity"
        ),
        55000,
        ["l_orderkey", "l_linenumber", "l_partkey", "l_suppkey", "l_quantity"],
    ).select("l_orderkey", "l_linenumber", "l_quantity")


# maximumBy (demo/Kata04.hs): row achieving the max, total-order tiebreak.
@register(
    "q_argmax",
    """
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 1
    """,
)
def q_argmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return agg_ops.argmax(
        o.select("o_orderkey", "o_custkey", "o_totalprice"),
        "o_totalprice",
        ["o_orderkey"],
    )


# Record equality / distinct (test/Overlap.hs idiom).
@register(
    "q_distinct",
    "SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem",
)
def q_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.select("l_returnflag", "l_linestatus").distinct()


# Sorted head (Ord row instances; TakeOrderedAndProject physical op).
@register(
    "q_sort",
    """
    SELECT o_orderkey, o_totalprice, o_orderpriority
    FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 100
    """,
)
def q_sort(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return core_ops.take_rows(
        o.select("o_orderkey", "o_totalprice", "o_orderpriority"),
        100,
        [F.col("o_totalprice").desc(), F.col("o_orderkey")],
    )


# ---------------------------------------------------------------------------
# §2a Frames parity — joins (src/Frames/Joins.hs; benchmarks/pandas_joins.py)
# ---------------------------------------------------------------------------

def _order_stats(spark, sf_dir):
    """Per-customer order stats; the 'summary' side of the reference's
    left ⋈ left_summary joins (benchmarks/pandas_joins.py)."""
    o = load_table(spark, sf_dir, "orders")
    return o.groupBy(F.col("o_custkey").alias("c_custkey")).agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(F.col("o_totalprice").cast("decimal(18,6)"))
        .cast("double")
        .alias("spend"),
    )


_ORDER_STATS_SQL = """
    SELECT o_custkey AS c_custkey, COUNT(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS spend
    FROM orders GROUP BY o_custkey
"""


# innerJoin (Joins.hs:56) — merged USING key. customer is SF-scaled,
# so the dim side stays UN-hinted: AQE broadcasts while it fits and
# demotes to shuffle at cluster scale (forced hints OOM instead).
@register(
    "q_join_inner",
    """
    SELECT o_custkey, o_orderkey, o_totalprice, c_name, c_mktsegment
    FROM orders JOIN customer ON o_custkey = c_custkey
    """,
)
def q_join_inner(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    joined = join_ops.inner_join(o, c, [("o_custkey", "c_custkey")])
    return joined.select(
        "o_custkey", "o_orderkey", "o_totalprice", "c_name", "c_mktsegment"
    )


# Multi-key join (Joins.hs composite fs; pandas_joins.py on
# ("policyID","county")): fact joined to its own 2-key summary.
@register(
    "q_join_multi",
    """
    WITH summary AS (
      SELECT l_orderkey, l_partkey, COUNT(*) AS n_lines,
             CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS group_qty
      FROM lineitem GROUP BY l_orderkey, l_partkey
    )
    SELECT l.l_orderkey, l.l_partkey, l.l_linenumber, s.n_lines, s.group_qty
    FROM lineitem l JOIN summary s
      ON l.l_orderkey = s.l_orderkey AND l.l_partkey = s.l_partkey
    WHERE l.l_orderkey % 7 = 0
    """,
)
def q_join_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    summary = li.groupBy("l_orderkey", "l_partkey").agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.sum(F.col("l_quantity").cast("decimal(18,6)"))
        .cast("double")
        .alias("group_qty"),
    )
    joined = join_ops.inner_join(li, summary, ["l_orderkey", "l_partkey"])
    return joined.filter(F.col("l_orderkey") % 7 == 0).select(
        "l_orderkey", "l_partkey", "l_linenumber", "n_lines", "group_qty"
    )


# leftJoin (Joins.hs:223): right-side columns become Maybe (nullable).
@register(
    "q_join_left",
    f"""
    SELECT c_custkey, c_name, n_orders, spend
    FROM customer LEFT JOIN ({_ORDER_STATS_SQL}) USING (c_custkey)
    """,
)
def q_join_left(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    return join_ops.left_join(c, _order_stats(spark, sf_dir), ["c_custkey"]).select(
        "c_custkey", "c_name", "n_orders", "spend"
    )


# rightJoin (Joins.hs:169).
@register(
    "q_join_right",
    f"""
    SELECT c_custkey, c_name, n_orders, spend
    FROM ({_ORDER_STATS_SQL}) RIGHT JOIN customer USING (c_custkey)
    """,
)
def q_join_right(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    return join_ops.right_join(_order_stats(spark, sf_dir), c, ["c_custkey"]).select(
        "c_custkey", "c_name", "n_orders", "spend"
    )


# outerJoin (Joins.hs:112): both sides null-extendable, coalesced key.
@register(
    "q_join_outer",
    f"""
    WITH building AS (
      SELECT c_custkey, c_name FROM customer WHERE c_mktsegment = 'BUILDING'
    )
    SELECT c_custkey, c_name, n_orders, spend
    FROM building FULL JOIN ({_ORDER_STATS_SQL}) USING (c_custkey)
    """,
)
def q_join_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    building = c.filter(F.col("c_mktsegment") == "BUILDING").select(
        "c_custkey", "c_name"
    )
    return join_ops.outer_join(building, _order_stats(spark, sf_dir), ["c_custkey"])


# Membership filters — semi/anti ship only keys, never payload.
@register(
    "q_semi_join",
    """
    SELECT c_custkey, c_name, c_acctbal FROM customer
    WHERE EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey AND o_totalprice > 300000)
    """,
)
def q_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    return join_ops.semi_join(
        c.select("c_custkey", "c_name", "c_acctbal"),
        o.filter(F.col("o_totalprice") > 300000),
        [("c_custkey", "o_custkey")],
    )


@register(
    "q_anti_join",
    """
    SELECT c_custkey, c_name, c_acctbal FROM customer
    WHERE NOT EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
    """,
)
def q_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    return join_ops.anti_join(
        c.select("c_custkey", "c_name", "c_acctbal"),
        o.filter(F.col("o_orderpriority") == "1-URGENT"),
        [("c_custkey", "o_custkey")],
    )


# ---------------------------------------------------------------------------
# §2a Frames parity — reshape / categorical / missing / zip
# ---------------------------------------------------------------------------

# melt wide→long (src/Frames/Melt.hs:104): narrow per-row expansion,
# no shuffle — unpivot happens inside the scan's stage.
_MELT_VALUES = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]

@register(
    "q_melt",
    " UNION ALL ".join(
        f"""
        SELECT l_orderkey, l_linenumber, '{v}' AS variable,
               CAST({v} AS DOUBLE) AS value
        FROM lineitem WHERE l_orderkey % 10 = 0
        """
        for v in _MELT_VALUES
    ),
)
def q_melt(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") % 10 == 0)
    return melt_ops.melt(li, ["l_orderkey", "l_linenumber"], _MELT_VALUES)


# pivot long→wide (inverse of melt; explicit value list, no discovery
# scan). Cell agg is an exact decimal sum cast back to double.
@register(
    "q_pivot",
    """
    SELECT l_returnflag,
           CAST(SUM(CASE WHEN l_linestatus = 'O'
                    THEN CAST(l_quantity AS DECIMAL(18,6)) END) AS DOUBLE) AS O,
           CAST(SUM(CASE WHEN l_linestatus = 'F'
                    THEN CAST(l_quantity AS DECIMAL(18,6)) END) AS DOUBLE) AS F
    FROM lineitem GROUP BY l_returnflag
    """,
)
def q_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    piv = melt_ops.pivot(
        li,
        ["l_returnflag"],
        "l_linestatus",
        ["O", "F"],
        F.sum(F.col("l_quantity").cast("decimal(18,6)")),
    )
    return piv.select(
        "l_returnflag",
        F.col("O").cast("double").alias("O"),
        F.col("F").cast("double").alias("F"),
    )


# declareCategorical (src/Frames/Categorical.hs:66): category set with
# stable dense codes.
@register(
    "q_categorical",
    """
    SELECT category, CAST(DENSE_RANK() OVER (ORDER BY category) - 1 AS BIGINT) AS code
    FROM (SELECT DISTINCT o_orderpriority AS category FROM orders)
    """,
)
def q_categorical(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    cats = cat_ops.categories(o, "o_orderpriority")
    return cats.select("category", F.col("code").cast("long").alias("code"))


# Default-fill over Maybe columns (demo/MissingData.hs): nulls from a
# left join filled with per-column defaults.
@register(
    "q_missing_fill",
    f"""
    SELECT c_custkey, COALESCE(n_orders, 0) AS n_orders,
           COALESCE(spend, 0.0) AS spend
    FROM customer LEFT JOIN ({_ORDER_STATS_SQL}) USING (c_custkey)
    """,
)
def q_missing_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    joined = join_ops.left_join(c, _order_stats(spark, sf_dir), ["c_custkey"])
    filled = missing_ops.fill_defaults(joined, {"n_orders": 0, "spend": 0.0})
    return filled.select("c_custkey", "n_orders", "spend")


# Keep-missing filter (test/UncurryFoldPartialData.hs: the reference
# blanks `prestige` where type=NA, keeps rows where it failed to
# parse, and projects `income`). Here: blank c_acctbal where negative,
# keep the now-missing rows, project the remaining columns.
@register(
    "q_missing_drop",
    """
    SELECT c_custkey, c_name, c_mktsegment
    FROM (SELECT *, CASE WHEN c_acctbal < 0 THEN NULL ELSE c_acctbal END AS bal
          FROM customer)
    WHERE bal IS NULL
    """,
)
def q_missing_drop(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    maybe = missing_ops.with_nulls(
        c.withColumn("bal", F.col("c_acctbal")), "bal", F.col("c_acctbal") < 0
    )
    return missing_ops.keep_missing(maybe, "bal").select(
        "c_custkey", "c_name", "c_mktsegment"
    )


# zipFrames positional concat (src/Frames/Frame.hs:68) — requires an
# explicit total order per side (see operators/core.py scale note).
@register(
    "q_zip_frames",
    """
    WITH lhs AS (
      SELECT c_custkey, c_name,
             ROW_NUMBER() OVER (ORDER BY c_acctbal DESC, c_custkey) AS rn
      FROM customer
    ), rhs AS (
      SELECT o_orderkey, o_totalprice,
             ROW_NUMBER() OVER (ORDER BY o_totalprice DESC, o_orderkey) AS rn
      FROM orders
    )
    SELECT c_custkey, c_name, o_orderkey, o_totalprice
    FROM lhs JOIN rhs USING (rn) WHERE rn <= 200
    """,
)
def q_zip_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    lhs = core_ops.take_rows(
        c.select("c_custkey", "c_name", "c_acctbal"),
        200,
        [F.col("c_acctbal").desc(), F.col("c_custkey")],
    )
    rhs = core_ops.take_rows(
        o.select("o_orderkey", "o_totalprice"),
        200,
        [F.col("o_totalprice").desc(), F.col("o_orderkey")],
    )
    return core_ops.zip_frames(
        lhs,
        rhs,
        [F.col("c_acctbal").desc(), F.col("c_custkey")],
        [F.col("o_totalprice").desc(), F.col("o_orderkey")],
    ).select("c_custkey", "c_name", "o_orderkey", "o_totalprice")


# ---------------------------------------------------------------------------
# §2b Window / analytic operators (operators/window.py)
# ---------------------------------------------------------------------------

# Top-k per group: per-segment top 3 orders.
@register(
    "q_topk_per_group",
    """
    SELECT c_mktsegment, o_orderkey, o_totalprice, CAST(rank_in_group AS BIGINT) AS rank_in_group
    FROM (
      SELECT c_mktsegment, o_orderkey, o_totalprice,
             ROW_NUMBER() OVER (PARTITION BY c_mktsegment
                                ORDER BY o_totalprice DESC, o_orderkey) AS rank_in_group
      FROM orders JOIN customer ON o_custkey = c_custkey
    ) WHERE rank_in_group <= 3
    """,
)
def q_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    # customer is SF-scaled: un-hinted join, AQE sizes the broadcast.
    joined = join_ops.inner_join(o, c, [("o_custkey", "c_custkey")])
    top = win_ops.topk_per_group(
        joined.select("c_mktsegment", "o_orderkey", "o_totalprice"),
        ["c_mktsegment"],
        [F.col("o_totalprice").desc(), F.col("o_orderkey")],
        3,
    )
    return top.withColumn("rank_in_group", F.col("rank_in_group").cast("long"))


# Running sum per supplier over ship order (decimal-exact prefix sums).
@register(
    "q_running_sum",
    """
    SELECT l_suppkey, l_orderkey, l_linenumber,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,6)))
                OVER (PARTITION BY l_suppkey
                      ORDER BY l_shipdate, l_orderkey, l_linenumber,
                               l_partkey, l_suppkey, l_quantity
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS DOUBLE) AS running_qty
    FROM lineitem WHERE l_suppkey <= 20
    """,
)
def q_running_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_suppkey") <= 20)
    run = win_ops.running_sum(
        li,
        ["l_suppkey"],
        ["l_shipdate", "l_orderkey", "l_linenumber",
         "l_partkey", "l_suppkey", "l_quantity"],
        F.col("l_quantity").cast("decimal(18,6)"),
        alias="running_qty",
    )
    return run.select(
        "l_suppkey",
        "l_orderkey",
        "l_linenumber",
        F.col("running_qty").cast("double").alias("running_qty"),
    )


# Gap-based sessionization (batch twin of streaming session_window).
@register(
    "q_sessionize",
    """
    SELECT event_id, user_id, CAST(session_id AS BIGINT) AS session_id
    FROM (
      SELECT event_id, user_id,
             SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
      FROM (
        SELECT event_id, user_id, ts,
               CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                         OR date_diff('second',
                                      CAST(lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS TIMESTAMP),
                                      CAST(ts AS TIMESTAMP)) > 1800
                    THEN 1 ELSE 0 END AS is_new
        FROM events
      )
    )
    """,
)
def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    sess = win_ops.sessionize(ev, "user_id", "ts", 1800, order_tiebreak=["event_id"])
    return sess.select("event_id", "user_id", "session_id")


# Tumbling-window rollup on the event stream (batch form; the
# streaming twin lives in frames_spark/streaming/events.py).
@register(
    "q_events_window",
    f"""
    SELECT CAST(time_bucket(INTERVAL '1 hour', CAST(ts AS TIMESTAMP)) AS TIMESTAMP) AS bucket,
           event_type,
           COUNT(*) AS n_events,
           CAST(SUM({_MICROS_SQL.format(expr='value')}) AS DOUBLE) / 1000000 AS total_value
    FROM events GROUP BY 1, 2
    """,
)
def q_events_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            (F.sum(_micros(F.col("value"))).cast("double") / 1000000).alias(
                "total_value"
            ),
        )
        .select(F.col("w.start").alias("bucket"), "event_type", "n_events", "total_value")
    )


# ---------------------------------------------------------------------------
# §2b Text analysis (frames_spark/functions/text.py)
# ---------------------------------------------------------------------------

from frames_spark.dedup import cluster as cluster_ops  # noqa: E402
from frames_spark.dedup import embedding as embed_ops  # noqa: E402
from frames_spark.dedup import exact as exact_ops  # noqa: E402
from frames_spark.dedup import jaccard as jac_ops  # noqa: E402
from frames_spark.dedup import minhash as mh_ops  # noqa: E402
from frames_spark.dedup import simhash as simh_ops  # noqa: E402
from frames_spark.functions import text as text_fns  # noqa: E402
from frames_spark.functions.hashing import hash60_sql  # noqa: E402
from frames_spark.similarity import ann as ann_ops  # noqa: E402

# Shared SQL fragments: normalized text and its whitespace tokens.
_NORM_SQL = "trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))"
_TOKENS_SQL = f"string_split({_NORM_SQL}, ' ')"


# Length/token/punctuation/stopword quality metrics — one scan.
@register(
    "q_text_stats",
    f"""
    SELECT doc_id,
           length(text) AS n_chars_raw,
           len({_TOKENS_SQL}) AS n_tokens,
           CAST(length(regexp_replace(lower(text), '[a-z0-9 ]', '', 'g')) AS DOUBLE)
             / greatest(length(text), 1) AS punct_ratio,
           CAST(length(replace({_NORM_SQL}, ' ', '')) AS DOUBLE)
             / len({_TOKENS_SQL}) AS avg_token_len
    FROM documents
    """,
)
def q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = core_ops.spread(load_table(spark, sf_dir, "documents"))
    text = F.col("text")
    norm = text_fns.normalize(text)
    ntok = text_fns.n_tokens(text)
    return docs.select(
        "doc_id",
        F.length(text).cast("long").alias("n_chars_raw"),
        ntok.cast("long").alias("n_tokens"),
        text_fns.punct_ratio(text).alias("punct_ratio"),
        (
            F.length(F.replace(norm, F.lit(" "), F.lit(""))).cast("double")
            / ntok
        ).alias("avg_token_len"),
    )


# Stopword-hit language-ID scoring (functions/text.py LANG_STOPWORDS):
# per-language marker-token counts + argmax prediction. The pipeline is
# the real operator; swap bigger lists / a Pandas-UDF model at will.
def _lang_case(lang: str) -> str:
    toks = ", ".join(f"'{t}'" for t in text_fns.LANG_STOPWORDS[lang])
    # CAST: DuckDB SUM(int) yields HUGEINT; Spark emits BIGINT and the
    # driver's value hash is type-sensitive, so pin the oracle to BIGINT.
    return f"CAST(SUM(CASE WHEN tok IN ({toks}) THEN 1 ELSE 0 END) AS BIGINT) AS score_{lang}"


@register(
    "q_langid",
    f"""
    WITH toks AS (
      SELECT doc_id, unnest({_TOKENS_SQL}) AS tok FROM documents
    ), scores AS (
      SELECT doc_id, {", ".join(_lang_case(lang) for lang in ["en", "de", "fr", "es", "zh"])}
      FROM toks GROUP BY doc_id
    )
    SELECT doc_id, score_en, score_de, score_fr, score_es, score_zh,
           CASE WHEN score_en >= score_de AND score_en >= score_fr
                     AND score_en >= score_es AND score_en >= score_zh THEN 'en'
                WHEN score_de >= score_fr AND score_de >= score_es
                     AND score_de >= score_zh THEN 'de'
                WHEN score_fr >= score_es AND score_fr >= score_zh THEN 'fr'
                WHEN score_es >= score_zh THEN 'es'
                ELSE 'zh' END AS predicted
    FROM scores
    """,
)
def q_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    from frames_spark.functions.langid import language_scores

    docs = core_ops.spread(load_table(spark, sf_dir, "documents"))
    return language_scores(docs, "doc_id", "text")


# Document fingerprint: md5 of normalized text (portable, SURVEY §4).
@register(
    "q_fingerprint",
    f"SELECT doc_id, md5({_NORM_SQL}) AS fp FROM documents",
)
def q_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = core_ops.spread(load_table(spark, sf_dir, "documents"))
    return docs.select("doc_id", text_fns.fingerprint(F.col("text")).alias("fp"))


# BPE-ish token estimate: regex token classes; ~4 chars per BPE token.
@register(
    "q_tokens_bpe",
    f"""
    WITH toks AS (
      SELECT doc_id,
             unnest(regexp_extract_all({_NORM_SQL}, '{text_fns.TOKEN_REGEX}')) AS tok
      FROM documents
    )
    SELECT doc_id, COUNT(*) AS n_regex_tokens,
           CAST(SUM(CAST(ceil(length(tok) / 4.0) AS BIGINT)) AS BIGINT) AS bpe_tokens
    FROM toks GROUP BY doc_id
    """,
)
def q_tokens_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    # pure scan expressions — no explode, no per-token shuffle
    docs = core_ops.spread(load_table(spark, sf_dir, "documents"))
    toks = text_fns.regex_tokens(text_fns.normalize(F.col("text")))
    return docs.select(
        "doc_id",
        F.size(toks).cast("long").alias("n_regex_tokens"),
        F.aggregate(
            F.transform(toks, lambda t: F.ceil(F.length(t) / 4.0).cast("long")),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ).alias("bpe_tokens"),
    )


# ---------------------------------------------------------------------------
# §2b Deduplication (frames_spark/dedup/*)
#
# The synthetic corpus has no natural duplicates, so each dedup query
# plants them deterministically (same derivation in Spark and SQL):
# exact copies / drop-last-word near-copies / one-component-perturbed
# embeddings, ids offset by 1_000_000.
# ---------------------------------------------------------------------------

_DUP_OFFSET = 1_000_000


def _with_exact_copies(docs: DataFrame) -> DataFrame:
    copies = docs.select(
        (F.col("doc_id") + _DUP_OFFSET).alias("doc_id"), "text"
    )
    return docs.select("doc_id", "text").unionAll(copies)


_EXACT_CORPUS_SQL = f"""
    SELECT doc_id, text FROM documents
    UNION ALL SELECT doc_id + {_DUP_OFFSET} AS doc_id, text FROM documents
"""


def _with_near_copies(docs: DataFrame) -> DataFrame:
    toks = text_fns.tokens(F.col("text"))
    clipped = F.array_join(F.slice(toks, 1, F.size(toks) - 1), " ")
    copies = docs.select(
        (F.col("doc_id") + _DUP_OFFSET).alias("doc_id"), clipped.alias("text")
    )
    return docs.select("doc_id", "text").unionAll(copies)


def _near_corpus_sql(where: str = "") -> str:
    """The drop-last-word near-copy corpus over ``documents``
    (optionally WHERE-restricted — the subset-witness twins pass a
    deterministic doc_id cutoff)."""
    return f"""
    SELECT doc_id, text FROM documents {where}
    UNION ALL
    SELECT doc_id + {_DUP_OFFSET} AS doc_id,
           array_to_string(list_slice({_TOKENS_SQL}, 1, len({_TOKENS_SQL}) - 1), ' ') AS text
    FROM documents {where}
"""


_NEAR_CORPUS_SQL = _near_corpus_sql()

# Distinct word-trigram shingles of a (doc_id, text) relation, in SQL.
_SHINGLES_SQL = """
    SELECT DISTINCT doc_id AS doc,
           unnest(list_transform(range(1, greatest(len(toks) - 1, 1)),
                                 i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS shingle
    FROM (SELECT doc_id, {tokens} AS toks FROM ({corpus}))
"""

# Stop-shingle guard shared by every posting-list dedup oracle:
# jaccard.py drops shingles with document frequency above this BEFORE
# pair generation (bounding posting lists and pair fan-out), and each
# oracle mirrors it with a HAVING df <= guard CTE.
_SHINGLE_MAX_DF = jac_ops.DEFAULT_MAX_DF


# Exact dedup: md5-fingerprint groupBy (dedup/exact.py).
@register(
    "q_dedup_exact",
    f"""
    SELECT md5({_NORM_SQL}) AS fp, MIN(doc_id) AS canonical_id,
           COUNT(*) AS n_copies
    FROM ({_EXACT_CORPUS_SQL}) GROUP BY 1
    """,
)
def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return exact_ops.exact_dedup_groups(
        _with_exact_copies(docs), "doc_id", "text"
    ).select("fp", "canonical_id", "n_copies")


# The GOVERNED twin of q_dedup_ngram (further down): max_df="auto"
# derives the stop-shingle cap from a one-aggregate corpus-size
# pre-flight (suggest_max_df — boilerplate is a rate, not a count; the r12 sf1 sweep showed the fixed df<=64
# cap stops every shingle at 10x and silently empties the pair set).
# The oracle mirrors the governor exactly, interpolating the SAME
# constants suggest_max_df defaults to (DEFAULT_MAX_DF floor +
# DEFAULT_MAX_DF_RATE_PPM rate), so the value check certifies the
# derived cap cross-engine at whatever SF the sweep runs and the two
# formulations cannot silently desynchronize (r12 ADVICE).
@register(
    "q_dedup_ngram_auto",
    f"""
    WITH corpus AS ({_NEAR_CORPUS_SQL}),
    gov AS (SELECT GREATEST({jac_ops.DEFAULT_MAX_DF},
                            COUNT(*) * {jac_ops.DEFAULT_MAX_DF_RATE_PPM} // 1000000) AS max_df
            FROM corpus),
    shingled0 AS ({_SHINGLES_SQL.format(tokens=_TOKENS_SQL, corpus="SELECT * FROM corpus")}),
    rare AS (
      SELECT shingle FROM shingled0 GROUP BY shingle
      HAVING COUNT(*) <= (SELECT max_df FROM gov)
    ),
    shingled AS (SELECT s.* FROM shingled0 s JOIN rare USING (shingle)),
    sizes AS (SELECT doc, COUNT(*) AS n_shingles FROM shingled GROUP BY doc),
    inter AS (
      SELECT a.doc AS doc_a, b.doc AS doc_b, COUNT(*) AS n_common
      FROM shingled a JOIN shingled b ON a.shingle = b.shingle AND a.doc < b.doc
      GROUP BY 1, 2
    )
    SELECT doc_a, doc_b,
           CAST(n_common AS DOUBLE)
             / CAST(sa.n_shingles + sb.n_shingles - n_common AS DOUBLE) AS jaccard
    FROM inter
    JOIN sizes sa ON doc_a = sa.doc
    JOIN sizes sb ON doc_b = sb.doc
    WHERE CAST(n_common AS DOUBLE)
          / CAST(sa.n_shingles + sb.n_shingles - n_common AS DOUBLE) >= 0.6
    """,
)
def q_dedup_ngram_auto(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return jac_ops.jaccard_pairs(
        _with_near_copies(docs), "doc_id", "text", n=3, threshold=0.6,
        max_df="auto", guard="off",
    )


# MinHash signatures + banded LSH candidates (dedup/minhash.py).
_MH_K, _MH_BANDS, _MH_ROWS = 8, 4, 2

# Candidate-pair SQL (doc_a, doc_b), reused as the edge list of the
# clustering oracle below. Nested WITH so it stays one self-contained
# subquery. The CTE prefix is shared with the accuracy eval, which
# additionally needs `sigs` and `shingled` in scope.
def _mh_ctes_sql(corpus_sql: str) -> str:
    """The MinHash CTE chain (corpus -> shingled -> hashed -> sigs ->
    banded) over an arbitrary (doc_id, text) corpus relation — the
    subset-witness twin passes a doc_id-restricted near corpus."""
    return f"""
    WITH corpus AS ({corpus_sql}),
    shingled AS ({_SHINGLES_SQL.format(tokens=_TOKENS_SQL, corpus="SELECT * FROM corpus")}),
    hashed AS (
      SELECT doc, {hash60_sql("shingle", seed="mh")} % {mh_ops.MINHASH_P} AS base
      FROM shingled
    ),
    sigs AS (
      SELECT doc,
             {", ".join(f"MIN(({a} * base + {b}) % {mh_ops.MINHASH_P}) AS sig_{i}" for i, (a, b) in enumerate(mh_ops._mix_consts(i) for i in range(_MH_K)))}
      FROM hashed GROUP BY doc
    ),
    banded AS (
      {" UNION ALL ".join(f"SELECT doc, {band} AS band, " + " || ',' || ".join(f"CAST(sig_{band * _MH_ROWS + r} AS VARCHAR)" for r in range(_MH_ROWS)) + " AS band_key FROM sigs" for band in range(_MH_BANDS))}
    )
"""


_MH_CTES = _mh_ctes_sql(_NEAR_CORPUS_SQL)

_MH_PAIRS_SELECT = """
    SELECT DISTINCT a.doc AS doc_a, b.doc AS doc_b
    FROM banded a JOIN banded b
      ON a.band = b.band AND a.band_key = b.band_key AND a.doc < b.doc
"""

_MINHASH_PAIRS_SQL = _MH_CTES + _MH_PAIRS_SELECT


@register("q_dedup_minhash", _MINHASH_PAIRS_SQL)
def q_dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    sigs = mh_ops.minhash_signatures(
        _with_near_copies(docs), "doc_id", "text", n=3, num_hashes=_MH_K
    )
    return mh_ops.lsh_candidate_pairs(sigs, _MH_BANDS, _MH_ROWS)


# Duplicate CLUSTERS from the minhash pairs: connected components by
# min-label propagation (dedup/cluster.py). The oracle computes the
# same fixpoint as a recursive CTE (min reachable node id); the
# Spark side iterates joins with lineage truncation. Output is one
# row per edge-involved doc: its component = smallest doc id in its
# duplicate group (the canonical survivor).
@register(
    "q_dedup_clusters",
    f"""
    WITH RECURSIVE pairs AS ({_MINHASH_PAIRS_SQL}),
    edges AS (
      SELECT doc_a AS src, doc_b AS dst FROM pairs
      UNION SELECT doc_b, doc_a FROM pairs
    ),
    reach(node, label) AS (
      SELECT src, src FROM edges
      UNION
      SELECT e.dst, r.label FROM reach r JOIN edges e ON e.src = r.node
    )
    SELECT node, MIN(label) AS component FROM reach GROUP BY node
    """,
)
def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    sigs = mh_ops.minhash_signatures(
        _with_near_copies(docs), "doc_id", "text", n=3, num_hashes=_MH_K
    )
    pairs = mh_ops.lsh_candidate_pairs(sigs, _MH_BANDS, _MH_ROWS)
    return cluster_ops.connected_components(pairs, "doc_a", "doc_b")


# SimHash 60-bit fingerprints (dedup/simhash.py).
@register(
    "q_dedup_simhash",
    f"""
    WITH shingled AS ({_SHINGLES_SQL.format(tokens=_TOKENS_SQL, corpus="SELECT doc_id, text FROM documents")}),
    hashed AS (
      SELECT doc, {hash60_sql("shingle", seed="sh")} AS h FROM shingled
    ),
    votes AS (
      SELECT doc, b.bit, SUM(CASE WHEN (h >> b.bit) & 1 = 1 THEN 1 ELSE -1 END) AS votes
      FROM hashed, range(0, 60) b(bit) GROUP BY doc, b.bit
    )
    SELECT doc, CAST(SUM(CASE WHEN votes > 0 THEN (CAST(1 AS BIGINT) << bit) ELSE 0 END) AS BIGINT) AS simhash
    FROM votes GROUP BY doc
    """,
)
def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return simh_ops.simhash(docs, "doc_id", "text")


# Embedding-cosine near-dup pairs, fixed-point exact (dedup/embedding.py).
def _emb_corpus_sql(where: str = "") -> str:
    return f"""
    SELECT vec_id, embedding FROM embeddings {where}
    UNION ALL
    SELECT vec_id + {_DUP_OFFSET} AS vec_id,
           list_transform(list_zip(embedding, range(1, len(embedding) + 1)),
                          x -> CASE WHEN x[2] = 1
                                    THEN CAST(x[1] AS FLOAT) + CAST(0.125 AS FLOAT)
                                    ELSE CAST(x[1] AS FLOAT) END) AS embedding
    FROM embeddings {where}
"""


_EMB_CORPUS_SQL = _emb_corpus_sql()


def _with_perturbed_copies(emb: DataFrame) -> DataFrame:
    perturbed = F.transform(
        F.arrays_zip(
            F.col("embedding"),
            F.sequence(F.lit(1), F.size("embedding")),
        ),
        lambda x: F.when(
            x["1"] == 1,
            (x["embedding"].cast("float") + F.lit(0.125).cast("float")).cast("float"),
        ).otherwise(x["embedding"].cast("float")),
    )
    copies = emb.select(
        (F.col("vec_id") + _DUP_OFFSET).alias("vec_id"),
        perturbed.alias("embedding"),
    )
    return emb.select("vec_id", "embedding").unionAll(copies)


_FIXED_SQL = """
    SELECT vec_id, i,
           CAST(FLOOR(CAST(embedding[i] AS DOUBLE) * 1048576 + 0.5) AS BIGINT) AS e
    FROM ({corpus}), range(1, 65) t(i)
"""


def _emb_exact_oracle(corpus_sql: str) -> str:
    """All-pairs exact threshold-cosine SQL over ``corpus_sql`` —
    the reference semantics LSH approximates."""
    return f"""
    WITH fixed AS ({_FIXED_SQL.format(corpus=corpus_sql)}),
    norms AS (SELECT vec_id, SUM(e * e) AS n2 FROM fixed GROUP BY vec_id),
    dots AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b, SUM(a.e * b.e) AS dot
      FROM fixed a JOIN fixed b ON a.i = b.i AND a.vec_id < b.vec_id
      GROUP BY 1, 2
    ),
    cos AS (
      SELECT id_a, id_b,
             CAST(dot AS DOUBLE) / (sqrt(CAST(na.n2 AS DOUBLE)) * sqrt(CAST(nb.n2 AS DOUBLE))) AS cosine
      FROM dots JOIN norms na ON id_a = na.vec_id JOIN norms nb ON id_b = nb.vec_id
    )
    SELECT id_a, id_b, cosine FROM cos WHERE cosine >= 0.9
    """


# Faithful LSH oracle: the planes are deterministic md5-derived ±1
# constants (embedding.plane_components), so the DuckDB twin
# reproduces the sign buckets bit-for-bit from a generated VALUES
# literal (planes x 64 dims), bands via ordered string_agg, the same
# max_bucket guard, and the same exact fixed-point cosine verify.
# Because the oracle models the EXACT candidate generation the Spark
# side runs — including band misses and max_bucket drops — the gate
# is deterministic under data regeneration, where an all-pairs
# oracle against a probabilistic plan has a ~4e-6/pair flake budget
# (ADVICE r3). Exactness vs the all-pairs semantics is witnessed
# quantitatively by q_embed_lsh_recall instead.
def _lsh_planes_values(total_planes: int) -> str:
    return ",".join(
        f"({p},{i + 1},{c})"
        for p in range(total_planes)
        for i, c in enumerate(embed_ops.plane_components(p, 64))
    )


def _gov_np_sql(count_sql: str, max_bucket: int, headroom: int) -> str:
    """dedup.embedding.suggest_num_planes replayed in SQL, as a
    parenthesized one-row derived table ``(np)``: the smallest p in
    [DEFAULT_MIN_PLANES, DEFAULT_MAX_PLANES] with (n >> p) at or
    below max_bucket/4, where n comes from ``count_sql``. Interpolates
    the SAME module constants the governor defaults to (they cannot
    desync), and raises via error() past the plane ``headroom`` the
    caller's VALUES table covers — never silently banding truncated
    plane rows. Shared by every governed-geometry oracle twin."""
    return f"""(
      SELECT CASE WHEN np > {headroom}
                  THEN CAST(error('governed oracle: derived num_planes '
                       || np || ' exceeds the VALUES plane headroom') AS BIGINT)
                  ELSE np END AS np
      FROM (
        SELECT COALESCE(
          (SELECT MIN(range)
           FROM range({embed_ops.DEFAULT_MIN_PLANES}, {embed_ops.DEFAULT_MAX_PLANES} + 1)
           WHERE (({count_sql}) >> range) <= GREATEST(1, {max_bucket} // 4)),
          {embed_ops.DEFAULT_MAX_PLANES}) AS np
      )
    )"""


# Embedding-miner geometry: planes per table, tables, bucket cap and
# top-k of the hard-negative / triplet miners (q_hard_negatives_auto
# below; the pinned miners and q_triplet_mining_auto in q09_privacy).
_HN_PLANES = 4
_HN_TABLES = 8
_HN_MAXB = 4000
_HN_K = 3


# ---------------------------------------------------------------------------
# GOVERNED-GEOMETRY miner twins (r12 verdict #2): num_planes derived from a
# one-aggregate corpus-size pre-flight via suggest_num_planes instead
# of the pinned _HN_PLANES — the sf1 evidence showed the pinned 4-plane
# geometry is the suite's one super-linear scaler (bucket sizes grow
# linearly with the corpus under a fixed plane count; the governor
# holds expected bucket size at max_bucket/4). The oracle replays the
# governor IN SQL over the same corpus count (the q_dedup_ngram_auto
# gov-CTE pattern), interpolating the SAME constants the library
# defaults to (DEFAULT_MIN/MAX_PLANES), so the derived plane count is
# value-certified cross-engine at whatever SF the sweep runs: at the
# 500/2000-vector tiers the governor sits at the 4-plane floor (same
# result set as the pinned twins), at sf1's 20k vectors it derives 5.
# ---------------------------------------------------------------------------

# VALUES plane-table headroom: 12 planes/table covers corpora to ~2M
# vectors (np > 12 needs n >> 11 > max_bucket/4). Past that the gov
# CTE raises via error() instead of silently banding with truncated
# plane rows.
_HN_ORACLE_MAX_PLANES = 12


def _gov_banded_ctes() -> str:
    """The governed banding CTE prefix shared by the *_auto miner
    oracles: gov replays suggest_num_planes via the shared
    _gov_np_sql builder over COUNT(*) of the same
    corpus the Spark side pre-flights; signs/banded use only the
    first np planes per table out of the 12-plane VALUES headroom."""
    return f"""
    fixed AS ({_FIXED_SQL.format(corpus="SELECT vec_id, embedding FROM embeddings")}),
    lab AS (SELECT vec_id, label FROM embeddings),
    gov AS {_gov_np_sql("SELECT COUNT(*) FROM embeddings", _HN_MAXB, _HN_ORACLE_MAX_PLANES)},
    planes(p, i, c) AS (VALUES {_lsh_planes_values(_HN_TABLES * _HN_ORACLE_MAX_PLANES)}),
    signs AS (
      SELECT vec_id, p,
             CASE WHEN SUM(e * c) >= 0 THEN '1' ELSE '0' END AS sign
      FROM fixed JOIN planes USING (i)
      WHERE p < {_HN_TABLES} * (SELECT np FROM gov)
      GROUP BY vec_id, p
    ),
    banded AS (
      SELECT vec_id, p // (SELECT np FROM gov) AS tbl,
             string_agg(sign, '' ORDER BY p) AS bucket
      FROM signs GROUP BY vec_id, p // (SELECT np FROM gov)
    ),
    ok_buckets AS (
      SELECT tbl, bucket FROM banded
      GROUP BY tbl, bucket HAVING COUNT(*) BETWEEN 2 AND {_HN_MAXB}
    )"""


def _emb_lsh_oracle(
    num_planes: int, num_tables: int, max_bucket: int, corpus_sql: str
) -> str:
    return f"""
    WITH fixed AS ({_FIXED_SQL.format(corpus=corpus_sql)}),
    planes(p, i, c) AS (VALUES {_lsh_planes_values(num_planes * num_tables)}),
    signs AS (
      SELECT vec_id, p,
             CASE WHEN SUM(e * c) >= 0 THEN '1' ELSE '0' END AS sign
      FROM fixed JOIN planes USING (i)
      GROUP BY vec_id, p
    ),
    banded AS (
      SELECT vec_id, p // {num_planes} AS tbl,
             string_agg(sign, '' ORDER BY p) AS bucket
      FROM signs GROUP BY vec_id, p // {num_planes}
    ),
    ok_buckets AS (
      SELECT tbl, bucket FROM banded
      GROUP BY tbl, bucket HAVING COUNT(*) BETWEEN 2 AND {max_bucket}
    ),
    cand AS (
      SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
      FROM banded a
      JOIN ok_buckets ob ON a.tbl = ob.tbl AND a.bucket = ob.bucket
      JOIN banded b ON b.tbl = a.tbl AND b.bucket = a.bucket
                   AND a.vec_id < b.vec_id
    ),
    vecs AS MATERIALIZED (
      SELECT vec_id, list(e ORDER BY i) AS v, SUM(e * e) AS n2
      FROM fixed GROUP BY vec_id
    ),
    dots AS (
      -- list_inner_product instead of a per-dimension i-join: every
      -- partial (e*e ~ 2^40, 64-term sums < 2^47) is an integer-
      -- valued double below 2^53, so the float accumulation is EXACT
      -- in any order — bit-identical to the integer SUM formulation
      -- (verified both SFs, r10) at ~22x less oracle time; this is
      -- what lets q_dedup_embed run UNEXCLUDED in the sf0.1 sweep.
      SELECT id_a, id_b, list_inner_product(a.v, b.v) AS dot,
             a.n2 AS na2, b.n2 AS nb2
      FROM cand JOIN vecs a ON a.vec_id = id_a
                JOIN vecs b ON b.vec_id = id_b
    )
    SELECT id_a, id_b,
           CAST(dot AS DOUBLE) / (sqrt(CAST(na2 AS DOUBLE)) * sqrt(CAST(nb2 AS DOUBLE))) AS cosine
    FROM dots
    WHERE CAST(dot AS DOUBLE) / (sqrt(CAST(na2 AS DOUBLE)) * sqrt(CAST(nb2 AS DOUBLE))) >= 0.9
"""


# Governed hard-negative miner: per anchor, the _HN_K most-similar
# DIFFERENT-label vectors over the governed banding above. Its
# pinned-geometry twin q_hard_negatives is in q09_privacy.
@register(
    "q_hard_negatives_auto",
    f"""
    WITH {_gov_banded_ctes()},
    cand AS (
      SELECT DISTINCT a.vec_id AS anchor_id, b.vec_id AS cand_id
      FROM banded a
      JOIN ok_buckets ob ON a.tbl = ob.tbl AND a.bucket = ob.bucket
      JOIN banded b ON b.tbl = a.tbl AND b.bucket = a.bucket
                   AND a.vec_id != b.vec_id
      JOIN lab la ON la.vec_id = a.vec_id
      JOIN lab lb ON lb.vec_id = b.vec_id
      WHERE la.label != lb.label
    ),
    vecs AS MATERIALIZED (
      SELECT vec_id, list(e ORDER BY i) AS v, SUM(e * e) AS n2
      FROM fixed GROUP BY vec_id
    ),
    cos AS (
      SELECT anchor_id, cand_id,
             CAST(list_inner_product(a.v, b.v) AS DOUBLE)
               / (sqrt(CAST(a.n2 AS DOUBLE)) * sqrt(CAST(b.n2 AS DOUBLE)))
               AS cosine
      FROM cand JOIN vecs a ON a.vec_id = anchor_id
                JOIN vecs b ON b.vec_id = cand_id
    ),
    ranked AS (
      SELECT anchor_id, cand_id, cosine,
             ROW_NUMBER() OVER (PARTITION BY anchor_id
                                ORDER BY cosine DESC, cand_id) AS rank
      FROM cos
    )
    SELECT anchor_id, cand_id AS neg_id, cosine, CAST(rank AS BIGINT) AS rank
    FROM ranked WHERE rank <= {_HN_K}
    """,
)
def q_hard_negatives_auto(spark: SparkSession, sf_dir: str) -> DataFrame:
    from frames_spark.similarity.negatives import hard_negatives_lsh

    emb = load_table(spark, sf_dir, "embeddings")
    # num_planes omitted -> the suggest_num_planes governor over a
    # one-aggregate pre-flight; everything else matches the pinned twin
    return hard_negatives_lsh(
        emb,
        "vec_id",
        "embedding",
        "label",
        k=_HN_K,
        num_tables=_HN_TABLES,
        max_bucket=_HN_MAXB,
    )


@register("q_dedup_embed_lsh", _emb_lsh_oracle(8, 4, 2000, _EMB_CORPUS_SQL))
def q_dedup_embed_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return embed_ops.near_dup_pairs_lsh(
        _with_perturbed_copies(emb), "vec_id", "embedding",
        threshold=0.9, num_planes=8, num_tables=4, max_bucket=2000,
        guard="off",
    )


# Bounded-subset witness for q_dedup_embed: the SAME operator with
# the SAME parameters (4 planes x 16 tables) over a deterministic
# vec_id < 2000 subset + perturbed copies. Historically this was the
# 10x sweep's stand-in while q_dedup_embed's oracle was excluded as
# too slow; since the list_inner_product dots rewrite (r10) the full
# query sweeps UNEXCLUDED at sf0.1 and this stays as the
# subset-invariance witness (same answer independent of corpus size
# below the cutoff).
_EMB_SMALL_SQL = _emb_corpus_sql("WHERE vec_id < 2000")


@register("q_dedup_embed_small", _emb_lsh_oracle(4, 16, 4000, _EMB_SMALL_SQL))
def q_dedup_embed_small(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 2000)
    return embed_ops.near_dup_pairs_lsh(
        _with_perturbed_copies(emb), "vec_id", "embedding",
        threshold=0.9, num_planes=4, num_tables=16, max_bucket=4000,
        guard="off",
    )


# Quantitative recall witness for the LSH dedup path: on a fixed
# deterministic subset (vec_id < 200 plus their perturbed copies),
# compare the LSH pair set against the EXACT all-pairs threshold
# cosine and report recall. Both sides are modeled in the oracle —
# the exact side as the all-pairs join, the LSH side bit-for-bit —
# so the metric itself is deterministic and driver-checkable. The
# subset all-pairs join is a broadcast nested-loop over ~400 rows by
# construction: this is the witness query, not the scale path.
_EMB_SUBSET_SQL = _emb_corpus_sql("WHERE vec_id < 200")


@register(
    "q_embed_lsh_recall",
    f"""
    WITH exact AS ({_emb_exact_oracle(_EMB_SUBSET_SQL)}),
    lsh AS (
      SELECT id_a, id_b FROM ({_emb_lsh_oracle(4, 16, 4000, _EMB_SUBSET_SQL)})
    )
    SELECT (SELECT COUNT(*) FROM exact) AS n_exact,
           (SELECT COUNT(*) FROM exact JOIN lsh USING (id_a, id_b)) AS n_found,
           CAST((SELECT COUNT(*) FROM exact JOIN lsh USING (id_a, id_b)) AS DOUBLE)
             / (SELECT COUNT(*) FROM exact) AS recall
    """,
)
def q_embed_lsh_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 200)
    subset = _with_perturbed_copies(emb)
    exact = embed_ops.cosine_pairs(subset, "vec_id", "embedding", 0.9)
    lsh = embed_ops.near_dup_pairs_lsh(
        subset, "vec_id", "embedding",
        threshold=0.9, num_planes=4, num_tables=16, max_bucket=4000,
        guard="off",
    )
    found = exact.join(lsh.select("id_a", "id_b"), ["id_a", "id_b"], "left_semi")
    n_exact = exact.agg(F.count(F.lit(1)).alias("n_exact"))
    n_found = found.agg(F.count(F.lit(1)).alias("n_found"))
    return n_exact.crossJoin(F.broadcast(n_found)).select(
        "n_exact",
        "n_found",
        (F.col("n_found").cast("double") / F.col("n_exact").cast("double")).alias(
            "recall"
        ),
    )


# ---------------------------------------------------------------------------
# §2b Similarity search (frames_spark/similarity/ann.py)
# ---------------------------------------------------------------------------

_ANN_BF_ORACLE = f"""
    WITH fixed AS ({_FIXED_SQL.format(corpus="SELECT vec_id, embedding FROM embeddings")}),
    norms AS (SELECT vec_id, SUM(e * e) AS n2 FROM fixed GROUP BY vec_id),
    dots AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, SUM(q.e * c.e) AS dot
      FROM fixed q JOIN fixed c ON q.i = c.i AND q.vec_id <> c.vec_id
      WHERE q.vec_id < 3
      GROUP BY 1, 2
    ),
    scored AS (
      SELECT query_id, neighbor_id,
             CAST(dot AS DOUBLE) / (sqrt(CAST(nq.n2 AS DOUBLE)) * sqrt(CAST(nc.n2 AS DOUBLE))) AS cosine
      FROM dots JOIN norms nq ON query_id = nq.vec_id
                JOIN norms nc ON neighbor_id = nc.vec_id
    )
    SELECT query_id, neighbor_id, cosine, rank FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY cosine DESC, neighbor_id) AS rank
      FROM scored
    ) WHERE rank <= 5
"""


@register("q_ann_bruteforce", _ANN_BF_ORACLE)
def q_ann_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return ann_ops.brute_force_topk(
        emb, emb.filter(F.col("vec_id") < 3), "vec_id", "embedding", k=5
    )


# Bucketed ANN scale path. Full SQL oracle (same deterministic-plane
# reproduction as q_dedup_embed_lsh): queries probe only their own
# sign bucket, exact fixed-point cosine ranks within it.
_ANN_PLANES_VALUES = ",".join(
    f"({p},{i + 1},{c})"
    for p in range(4)
    for i, c in enumerate(embed_ops.plane_components(p, 64))
)

_ANN_LSH_ORACLE = f"""
    WITH fixed AS ({_FIXED_SQL.format(corpus="SELECT vec_id, embedding FROM embeddings")}),
    planes(p, i, c) AS (VALUES {_ANN_PLANES_VALUES}),
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
      WHERE q.vec_id < 3 AND c.vec_id <> q.vec_id
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
"""


@register("q_ann_lsh", _ANN_LSH_ORACLE)
def q_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return ann_ops.lsh_topk(
        emb, emb.filter(F.col("vec_id") < 3), "vec_id", "embedding",
        k=5, num_planes=4,
    )


# ---------------------------------------------------------------------------
# §2b More OLAP coverage: as-of join, cube/rollup, distinct counts,
# quantiles
# ---------------------------------------------------------------------------

from frames_spark.operators.asof import asof_join  # noqa: E402


# As-of join: attach each 'click' event's latest preceding 'purchase'
# value per user. Spark lacks a native as-of join; operators/asof.py
# is the one-shuffle union-window formulation.
@register(
    "q_asof_join",
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
            WHERE r.user_id = l.user_id AND r.ts <= l.ts
            ORDER BY r.ts DESC, r.event_id DESC LIMIT 1) AS last_purchase_value
    FROM l
    """,
)
def q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    left = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    right = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("r_event_id"), "user_id", "ts",
        F.col("value").alias("last_purchase_value"),
    )
    out = asof_join(
        left.withColumnRenamed("event_id", "l_event_id"),
        right,
        key="user_id",
        ts="ts",
        value_cols=["last_purchase_value"],
        right_tiebreak="r_event_id",
    )
    return out.select(
        F.col("l_event_id").alias("event_id"), "user_id", "last_purchase_value"
    )


# CUBE: all grouping-set totals (Frames has no native cube; standard
# OLAP surface for this engine). NULL marks the rolled-up dimension.
@register(
    "q_cube",
    """
    SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS sum_qty
    FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
)
def q_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.cube("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("l_quantity").cast("decimal(18,6)")).cast("double").alias(
            "sum_qty"
        ),
    )


@register(
    "q_rollup",
    """
    SELECT o_orderpriority, o_orderstatus, COUNT(*) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS spend
    FROM orders GROUP BY ROLLUP (o_orderpriority, o_orderstatus)
    """,
)
def q_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return o.rollup("o_orderpriority", "o_orderstatus").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("o_totalprice").cast("decimal(18,6)")).cast("double").alias(
            "spend"
        ),
    )


# Exact distinct counts (the portable twin of approx_count_distinct —
# see q_approx_distinct below for the sketch used at 100 TB).
@register(
    "q_count_distinct",
    """
    SELECT l_returnflag,
           COUNT(DISTINCT l_partkey) AS n_parts,
           COUNT(DISTINCT l_suppkey) AS n_supps
    FROM lineitem GROUP BY l_returnflag
    """,
)
def q_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.countDistinct("l_partkey").alias("n_parts"),
        F.countDistinct("l_suppkey").alias("n_supps"),
    )


# HyperLogLog estimate (operators/sketches.py hll_cells + hll_estimate)
# against the exact distinct count; the oracle replays the register
# relation bit-for-bit (see q_hll_cells in q08_sketch_select).
@register(
    "q_hll_estimate",
    f"""
    WITH h AS (
      SELECT {hash60_sql("CAST(user_id AS VARCHAR)", "hll")} AS h FROM events
    ), keyed AS (
      SELECT h % 64 AS bucket, (h - (h % 64)) // 64 AS rem FROM h
    ), cells AS (
      SELECT bucket,
             MAX(CASE WHEN rem = 0 THEN 55
                      ELSE 54 - length(bin(rem)) + 1 END) AS max_rho
      FROM keyed GROUP BY bucket
    ), agg AS (
      SELECT SUM(power(2.0, -max_rho)) AS z, COUNT(*) AS nb FROM cells
    )
    , r AS (
      SELECT {0.709 * 64 * 64} / (z + CAST(64 - nb AS DOUBLE)) AS raw,
             CAST(64 - nb AS DOUBLE) AS empty, nb
      FROM agg
    )
    SELECT CAST(FLOOR(CASE WHEN raw <= {2.5 * 64} AND empty > 0
                           THEN CAST(64 AS DOUBLE) * ln(CAST(64 AS DOUBLE) / empty)
                           ELSE raw END * 1000000 + 0.5) AS BIGINT) AS est_micros,
           CAST(FLOOR(raw * 1000000 + 0.5) AS BIGINT) AS raw_micros,
           CAST(64 - nb AS BIGINT) AS n_empty,
           (SELECT COUNT(DISTINCT user_id) FROM events) AS exact_distinct
    FROM r
    """,
)
def q_hll_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from frames_spark.operators.sketches import hll_cells, hll_estimate

    ev = load_table(spark, sf_dir, "events")
    est = hll_estimate(hll_cells(ev, "user_id"))
    exact = ev.agg(F.countDistinct("user_id").alias("exact_distinct"))
    return est.crossJoin(F.broadcast(exact))


# Quantiles over integer micro-units: identical sort + identical
# linear-interpolation arithmetic on both engines (the raw-double
# version risks ulp drift in (1-f)*a + f*b; micros make a and b exact
# integers so the expression is bit-stable).
@register(
    "q_quantiles",
    f"""
    SELECT o_orderpriority,
           quantile_cont({_MICROS_SQL.format(expr='o_totalprice')}, 0.5) / 1000000 AS p50,
           quantile_cont({_MICROS_SQL.format(expr='o_totalprice')}, 0.9) / 1000000 AS p90
    FROM orders GROUP BY o_orderpriority
    """,
)
def q_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    micros = _micros(F.col("o_totalprice"))
    return o.groupBy("o_orderpriority").agg(
        (F.percentile(micros, F.lit(0.5)) / 1000000).alias("p50"),
        (F.percentile(micros, F.lit(0.9)) / 1000000).alias("p90"),
    )


# Mergeable HISTOGRAM quantile parts — the numeric twin of
# q_sketch_users' HLL story: store per-day fixed-width bin counts
# (O(days x bins) rows, written once per ingest window), answer any
# date-range quantile by MERGING parts (a groupBy over the tiny parts
# relation) — the event table is scanned once to build parts and never
# again at query time. Estimates are bin lower bounds, deterministic
# integers, so unlike percentile_approx this sketch has a FULL SQL
# oracle. Bin width 100 currency units = 1e8 micros.
@register(
    "q_hist_quantiles",
    f"""
    WITH parts AS (
      SELECT CAST(date_trunc('day', o_orderdate) AS TIMESTAMP) AS day,
             {_MICROS_SQL.format(expr='o_totalprice')} // 100000000 AS bin,
             COUNT(*) AS cnt
      FROM orders GROUP BY 1, 2
    ), merged AS (
      SELECT bin, CAST(SUM(cnt) AS BIGINT) AS cnt FROM parts GROUP BY bin
    ), cum AS (
      SELECT bin, cnt,
             CAST(SUM(cnt) OVER (ORDER BY bin) AS BIGINT) AS cum,
             CAST(SUM(cnt) OVER () AS BIGINT) AS n
      FROM merged
    )
    SELECT p, n, CAST(MIN(bin) * 100000000 AS BIGINT) AS est_lo_micros
    FROM cum CROSS JOIN (
      SELECT CAST(p AS DOUBLE) AS p
      FROM (VALUES (0.25), (0.5), (0.75), (0.9), (0.99)) v(p)
    ) v
    WHERE cum >= ceil(p * n)
    GROUP BY p, n
    """,
)
def q_hist_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    o = load_table(spark, sf_dir, "orders")
    day = F.date_trunc("day", F.col("o_orderdate"))
    parts = o.groupBy(
        day.alias("day"),
        F.expr(
            f"{_MICROS_SQL.format(expr='o_totalprice')} DIV 100000000"
        ).alias("bin"),
    ).agg(F.count(F.lit(1)).alias("cnt"))
    merged = parts.groupBy("bin").agg(F.sum("cnt").alias("cnt"))
    # windows over the MERGED bin relation only (~thousands of rows),
    # never the fact table
    cum = merged.select(
        "bin",
        F.sum("cnt").over(Window.orderBy("bin")).alias("cum"),
        F.sum("cnt").over(Window.partitionBy()).alias("n"),
    )
    ps = F.explode(
        F.array(*[F.lit(p) for p in (0.25, 0.5, 0.75, 0.9, 0.99)])
    ).alias("p")
    return (
        cum.crossJoin(F.broadcast(cum.sparkSession.range(1).select(ps)))
        .filter(F.col("cum") >= F.ceil(F.col("p") * F.col("n")))
        .groupBy("p", "n")
        .agg((F.min("bin") * F.lit(100000000)).cast("long").alias("est_lo_micros"))
    )


# Range join: every purchase within 1 hour after a click by the same
# user. operators/rangejoin.py turns the non-equi range condition into
# a bucketed equi-join (one shuffle, 2x right amplification) instead
# of a per-key product.
from frames_spark.operators.rangejoin import range_join  # noqa: E402


@register(
    "q_range_join",
    """
    SELECT l.event_id AS click_id, l.user_id,
           r.event_id AS purchase_id, r.value AS purchase_value
    FROM (SELECT * FROM events WHERE event_type = 'click') l
    JOIN (SELECT * FROM events WHERE event_type = 'purchase') r
      ON l.user_id = r.user_id
     AND r.ts >= l.ts AND r.ts <= l.ts + INTERVAL 1 HOUR
    """,
)
def q_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"), "user_id",
        F.col("ts").alias("click_ts"),
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"), "user_id",
        F.col("ts").alias("purchase_ts"),
        F.col("value").alias("purchase_value"),
    )
    out = range_join(
        clicks, purchases, key="user_id",
        left_ts="click_ts", right_ts="purchase_ts", window_seconds=3600,
    )
    return out.select("click_id", "user_id", "purchase_id", "purchase_value")


# N-gram Jaccard near-dup pairs via shingle inverted index, with the
# pinned stop-shingle guard mirrored in the oracle's `rare` CTE (the
# governed twin is q_dedup_ngram_auto).
@register(
    "q_dedup_ngram",
    f"""
    WITH corpus AS ({_NEAR_CORPUS_SQL}),
    shingled0 AS ({_SHINGLES_SQL.format(tokens=_TOKENS_SQL, corpus="SELECT * FROM corpus")}),
    rare AS (
      SELECT shingle FROM shingled0 GROUP BY shingle
      HAVING COUNT(*) <= {_SHINGLE_MAX_DF}
    ),
    shingled AS (SELECT s.* FROM shingled0 s JOIN rare USING (shingle)),
    sizes AS (SELECT doc, COUNT(*) AS n_shingles FROM shingled GROUP BY doc),
    inter AS (
      SELECT a.doc AS doc_a, b.doc AS doc_b, COUNT(*) AS n_common
      FROM shingled a JOIN shingled b ON a.shingle = b.shingle AND a.doc < b.doc
      GROUP BY 1, 2
    )
    SELECT doc_a, doc_b,
           CAST(n_common AS DOUBLE)
             / CAST(sa.n_shingles + sb.n_shingles - n_common AS DOUBLE) AS jaccard
    FROM inter
    JOIN sizes sa ON doc_a = sa.doc
    JOIN sizes sb ON doc_b = sb.doc
    WHERE CAST(n_common AS DOUBLE)
          / CAST(sa.n_shingles + sb.n_shingles - n_common AS DOUBLE) >= 0.6
    """,
)
def q_dedup_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    # Explicit pin (the library default is now "auto"): this oracle's
    # rare CTE hardcodes df <= _SHINGLE_MAX_DF, so the Spark side must
    # pin the same cap. The governed twin is q_dedup_ngram_auto.
    return jac_ops.jaccard_pairs(
        _with_near_copies(docs), "doc_id", "text", n=3, threshold=0.6,
        max_df=_SHINGLE_MAX_DF, guard="off",
    )


# Pinned-geometry embedding near-dup pairs (the formulation witness
# for _emb_lsh_oracle; the governed twin is q_dedup_embed_auto).
@register("q_dedup_embed", _emb_lsh_oracle(4, 16, 4000, _EMB_CORPUS_SQL))
def q_dedup_embed(spark: SparkSession, sf_dir: str) -> DataFrame:
    # BUCKETED path: hyperplane-LSH candidates, exact fixed-point
    # cosine inside buckets; the O(n^2) all-pairs form never appears
    # in an execution plan. Short 4-plane bands x 16 tables: per-band
    # collision at the 0.9 threshold is (1 - acos(0.9)/pi)^4 ~ 0.54,
    # so 16 independent bands give ~0.99999 per-pair recall at the
    # decision boundary (and ~1.0 for the near-identical copies dedup
    # actually targets). The oracle models THIS candidate generation
    # bit-for-bit (see _emb_lsh_oracle), so the gate cannot flake on
    # a boundary miss after a data regeneration; recall vs the exact
    # all-pairs semantics is measured by q_embed_lsh_recall.
    emb = load_table(spark, sf_dir, "embeddings")
    return embed_ops.near_dup_pairs_lsh(
        _with_perturbed_copies(emb), "vec_id", "embedding",
        threshold=0.9, num_planes=4, num_tables=16, max_bucket=4000,
        guard="off",
    )


# HLL sketch distinct — tolerance-boolean value gate (r10 verdict
# #3): the estimate itself is engine-native by design (Spark's
# HLL++, deterministic for fixed input but unreproducible in SQL),
# so the compared columns are the key, the EXACT count, and
# within_tol = |approx - exact| <= 10% of exact — 4x margin over the
# ~2.4-2.7% error the default rsd=0.05 sketch shows on this data at
# both SFs. The oracle computes the exact side and pins the boolean
# TRUE; a broken sketch flips the boolean and fails the value hash.
@register(
    "q_approx_distinct",
    """
    SELECT l_returnflag,
           COUNT(DISTINCT l_partkey) AS n_parts_exact,
           TRUE AS within_tol
    FROM lineitem GROUP BY l_returnflag
    """,
)
def q_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_partkey").alias("n_parts_approx"),
        F.countDistinct("l_partkey").alias("n_parts_exact"),
    ).select(
        "l_returnflag",
        "n_parts_exact",
        (
            F.abs(F.col("n_parts_approx") - F.col("n_parts_exact"))
            * 10
            <= F.col("n_parts_exact")
        ).alias("within_tol"),
    )


# Sketch quantiles for the 100 TB path — tolerance-boolean value
# gate (r10 verdict #3): percentile_approx (GK, accuracy=10000,
# rank error <= n/10000) is engine-native, so the compared columns
# are the key, the EXACT interpolated median in micros, and
# within_tol = approx inside the exact [p49.0, p51.0] value band —
# a 100x rank-error margin (measured: the sketch sits inside the
# +-0.5% band at both SFs). The oracle computes the exact side
# (quantile_cont over micros — the bit-stable q_quantiles
# arithmetic) and pins the boolean TRUE.
@register(
    "q_approx_quantiles",
    f"""
    SELECT o_orderpriority,
           CAST(quantile_cont({_MICROS_SQL.format(expr='o_totalprice')}, 0.5)
             AS BIGINT) AS p50_exact_micros,
           TRUE AS within_tol
    FROM orders GROUP BY o_orderpriority
    """,
)
def q_approx_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    micros = _micros(F.col("o_totalprice"))
    return o.groupBy("o_orderpriority").agg(
        F.percentile_approx("o_totalprice", F.lit(0.5), F.lit(10000)).alias(
            "p50_approx"
        ),
        F.percentile(micros, F.lit(0.5)).alias("p50_exact_f"),
        F.percentile("o_totalprice", F.lit(0.49)).alias("_lo"),
        F.percentile("o_totalprice", F.lit(0.51)).alias("_hi"),
    ).select(
        "o_orderpriority",
        F.col("p50_exact_f").cast("long").alias("p50_exact_micros"),
        F.col("p50_approx").between(F.col("_lo"), F.col("_hi")).alias(
            "within_tol"
        ),
    )


# IVF ANN over the DETERMINISTIC ±1 md5 codebook quantizer
# (similarity/ivf.py ivf_topk_det; r8 verdict #6): cell assignment
# and query routing are integer dot argmaxes over an equal-norm
# codebook, reproduced bit-for-bit in SQL from a VALUES literal —
# the whole assign→probe→score→top-k path is value-gated. The
# seeded-KMeans quantizer tier (build_ivf) stays the corpus-adapted
# production path, witnessed end-to-end by q_ann_ivf_fullprobe's
# brute-force oracle and tests/test_ivf.py.
from frames_spark.dedup.semdedup import centroid_components as _ivf_cents  # noqa: E402

_IVF_DET_K = 8
_IVF_CENTS_VALUES = ",".join(
    f"({c},{i + 1},{s})"
    for c in range(_IVF_DET_K)
    for i, s in enumerate(_ivf_cents(c, 64))
)

# Shared CTE prefix: fixed-point corpus, per-vector lists, codebook
# cell dots, and each vector's assigned cell.
_IVF_DET_PREFIX = f"""
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
    )
"""


def _ivf_det_probe_sql(nprobe: int, tag: str) -> str:
    """CTE pair: queries' nprobe nearest cells, then the cell-pruned
    exact-cosine top-5 — mirrors ivf_topk_det leg for leg."""
    return f"""
    probes{tag} AS (
      SELECT vec_id AS query_id, c AS cluster FROM (
        SELECT vec_id, c,
               ROW_NUMBER() OVER (PARTITION BY vec_id
                                  ORDER BY dot DESC, c ASC) AS rn
        FROM cdots WHERE vec_id < 3
      ) WHERE rn <= {nprobe}
    ),
    top{tag} AS (
      SELECT query_id, neighbor_id, cosine, rank FROM (
        SELECT query_id, neighbor_id, cosine,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY cosine DESC, neighbor_id) AS rank
        FROM (
          SELECT p.query_id, b.vec_id AS neighbor_id,
                 CAST(list_inner_product(qa.v, qb.v) AS DOUBLE)
                   / (sqrt(CAST(qa.n2 AS DOUBLE)) * sqrt(CAST(qb.n2 AS DOUBLE)))
                   AS cosine
          FROM probes{tag} p
          JOIN best b ON b.cluster = p.cluster AND b.vec_id <> p.query_id
          JOIN vecs qa ON qa.vec_id = p.query_id
          JOIN vecs qb ON qb.vec_id = b.vec_id
        )
      ) WHERE rank <= 5
    )"""


@register(
    "q_ann_ivf",
    f"""{_IVF_DET_PREFIX},
    {_ivf_det_probe_sql(3, "3")}
    SELECT query_id, neighbor_id, cosine, rank FROM top3
    """,
)
def q_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from frames_spark.similarity.ivf import ivf_topk_det

    emb = load_table(spark, sf_dir, "embeddings")
    return ivf_topk_det(
        emb, emb.filter(F.col("vec_id") < 3), "vec_id", "embedding",
        k=5, n_centroids=_IVF_DET_K, nprobe=3,
    )


# IVF at FULL probe: with nprobe == n_centroids every cell is
# searched, so the result is the exact top-k regardless of how the
# (iterative, seeded) quantizer trained — which is why THIS variant
# carries the brute-force SQL oracle even though its KMeans centroids
# are not SQL-expressible (q_ann_ivf's nprobe<K leg is value-gated
# separately via the deterministic codebook quantizer above). The
# driver witnesses the whole KMeans IVF code path (train -> assign ->
# probe -> score) end-to-end.
@register("q_ann_ivf_fullprobe", _ANN_BF_ORACLE)
def q_ann_ivf_fullprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    from frames_spark.similarity.ivf import ivf_topk

    emb = load_table(spark, sf_dir, "embeddings")
    return ivf_topk(
        emb, emb.filter(F.col("vec_id") < 3), "vec_id", "embedding",
        k=5, n_centroids=8, nprobe=8,
    )


# Quantitative witness for the nprobe<K probing path (the row the
# fullprobe twin can't cover): recall@5 vs the exact brute-force
# top-5 over the fixed query subset, PROFILED across nprobe — one
# row per nprobe in {1,3,5,8}, each a ratio of exact integer counts.
# Runs on the deterministic codebook quantizer, so the whole profile
# carries a FULL value oracle (r8 verdict #6: the former KMeans
# version was the rows-only tier); tests/test_ivf.py still pins the
# KMeans quantizer's profile separately. Note the synthetic
# near-uniform embeddings are IVF's worst case — neighbors scatter
# across cells, so partial-probe recall is structurally lower than
# on real clustered embedding corpora; the profile shape (monotone
# in nprobe, exactly 1.0 at full probe), not one point, is the
# contract.
def _ivf_recall_oracle() -> str:
    probe_blocks = ",\n".join(
        _ivf_det_probe_sql(p, str(p)) for p in (1, 3, 5, 8)
    )
    exact_cte = """
    exact AS MATERIALIZED (
      SELECT query_id, neighbor_id FROM (
        SELECT q.vec_id AS query_id, b.vec_id AS neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
                 CAST(list_inner_product(q.v, b.v) AS DOUBLE)
                   / (sqrt(CAST(q.n2 AS DOUBLE)) * sqrt(CAST(b.n2 AS DOUBLE)))
                 DESC, b.vec_id) AS rk
        FROM vecs q JOIN vecs b ON q.vec_id <> b.vec_id
        WHERE q.vec_id < 3
      ) WHERE rk <= 5
    )"""
    rows = "\n    UNION ALL\n".join(
        f"""    SELECT CAST({p} AS BIGINT) AS nprobe,
           (SELECT COUNT(*) FROM exact) AS n_exact,
           (SELECT COUNT(*) FROM exact e
             JOIN top{p} t ON e.query_id = t.query_id
                          AND e.neighbor_id = t.neighbor_id) AS n_found,
           CAST((SELECT COUNT(*) FROM exact e
             JOIN top{p} t ON e.query_id = t.query_id
                          AND e.neighbor_id = t.neighbor_id) AS DOUBLE)
             / CAST((SELECT COUNT(*) FROM exact) AS DOUBLE) AS recall_at_5"""
        for p in (1, 3, 5, 8)
    )
    return f"{_IVF_DET_PREFIX},\n    {exact_cte},\n    {probe_blocks}\n{rows}"


@register("q_ann_ivf_recall", _ivf_recall_oracle())
def q_ann_ivf_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    from frames_spark.similarity.ivf import ivf_topk_det

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 3)
    exact = (
        ann_ops.brute_force_topk(emb, queries, "vec_id", "embedding", k=5)
        .select("query_id", "neighbor_id")
        .persist()  # tiny (|queries| x 5); reused by every nprobe branch
    )
    parts = []
    for nprobe in (1, 3, 5, 8):
        ivf = ivf_topk_det(
            emb, queries, "vec_id", "embedding",
            k=5, n_centroids=_IVF_DET_K, nprobe=nprobe,
        ).select("query_id", "neighbor_id")
        found = exact.join(ivf, ["query_id", "neighbor_id"], "left_semi")
        n_exact = exact.agg(F.count(F.lit(1)).alias("n_exact"))
        n_found = found.agg(F.count(F.lit(1)).alias("n_found"))
        parts.append(
            n_exact.crossJoin(F.broadcast(n_found)).select(
                F.lit(nprobe).cast("long").alias("nprobe"),
                "n_exact",
                "n_found",
                (
                    F.col("n_found").cast("double") / F.col("n_exact").cast("double")
                ).alias("recall_at_5"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionAll(p)
    from frames_spark.operators.caching import tie_cache

    return tie_cache(out, exact)


# ---------------------------------------------------------------------------
# Training-corpus cleaning pipeline (pipelines/pretrain.py): quality
# gate -> language gate -> exact dedup -> minhash near-dup drop, as
# one lazy plan with an exact end-to-end SQL oracle.
# ---------------------------------------------------------------------------

_PUNCT_SQL = (
    "CAST(length(regexp_replace(lower(text), '[a-z0-9 ]', '', 'g')) AS DOUBLE)"
    " / greatest(length(text), 1)"
)

_PIPELINE_ORACLE = f"""
    WITH quality AS (
      SELECT doc_id, text FROM documents
      WHERE len({_TOKENS_SQL}) >= 10 AND {_PUNCT_SQL} <= 0.2
    ),
    toks AS (
      SELECT doc_id, unnest({_TOKENS_SQL}) AS tok FROM quality
    ),
    scores AS (
      SELECT doc_id, {", ".join(_lang_case(lang) for lang in ["en", "de", "fr", "es", "zh"])}
      FROM toks GROUP BY doc_id
    ),
    lang AS (
      SELECT doc_id FROM scores
      WHERE score_en >= score_de AND score_en >= score_fr
        AND score_en >= score_es AND score_en >= score_zh
    ),
    gated AS (
      SELECT q.* FROM quality q WHERE q.doc_id IN (SELECT doc_id FROM lang)
    ),
    canon AS (
      SELECT MIN(doc_id) AS doc_id FROM gated GROUP BY md5({_NORM_SQL})
    ),
    uniq AS (
      SELECT g.* FROM gated g WHERE g.doc_id IN (SELECT doc_id FROM canon)
    ),
    shingled AS ({_SHINGLES_SQL.format(tokens=_TOKENS_SQL, corpus="SELECT * FROM uniq")}),
    hashed AS (
      SELECT doc, {hash60_sql("shingle", seed="mh")} % {mh_ops.MINHASH_P} AS base
      FROM shingled
    ),
    sigs AS (
      SELECT doc,
             {", ".join(f"MIN(({a} * base + {b}) % {mh_ops.MINHASH_P}) AS sig_{i}" for i, (a, b) in enumerate(mh_ops._mix_consts(i) for i in range(_MH_K)))}
      FROM hashed GROUP BY doc
    ),
    banded AS (
      {" UNION ALL ".join(f"SELECT doc, {band} AS band, " + " || ',' || ".join(f"CAST(sig_{band * _MH_ROWS + r} AS VARCHAR)" for r in range(_MH_ROWS)) + " AS band_key FROM sigs" for band in range(_MH_BANDS))}
    ),
    dropped AS (
      SELECT DISTINCT b.doc AS doc_id
      FROM banded a JOIN banded b
        ON a.band = b.band AND a.band_key = b.band_key AND a.doc < b.doc
    )
    SELECT doc_id, len({_TOKENS_SQL}) AS n_tokens
    FROM uniq WHERE doc_id NOT IN (SELECT doc_id FROM dropped)
"""


_PIPELINE_CC_ORACLE = _PIPELINE_ORACLE.replace(
    "WITH quality AS", "WITH RECURSIVE quality AS"
).replace(
    """    dropped AS (
      SELECT DISTINCT b.doc AS doc_id
      FROM banded a JOIN banded b
        ON a.band = b.band AND a.band_key = b.band_key AND a.doc < b.doc
    )""",
    """    pairs AS (
      SELECT DISTINCT a.doc AS doc_a, b.doc AS doc_b
      FROM banded a JOIN banded b
        ON a.band = b.band AND a.band_key = b.band_key AND a.doc < b.doc
    ),
    edges AS (
      SELECT doc_a AS src, doc_b AS dst FROM pairs
      UNION SELECT doc_b, doc_a FROM pairs
    ),
    reach(node, label) AS (
      SELECT src, src FROM edges
      UNION
      SELECT e.dst, r.label FROM reach r JOIN edges e ON e.src = r.node
    ),
    comp AS (SELECT node, MIN(label) AS component FROM reach GROUP BY node),
    dropped AS (SELECT node AS doc_id FROM comp WHERE node <> component)""",
)
assert "RECURSIVE" in _PIPELINE_CC_ORACLE and "reach" in _PIPELINE_CC_ORACLE


# Transitive-dedup variant: connected components over the candidate
# pairs, keep each cluster's min doc id (pipelines/pretrain.py
# clean_corpus_cc). Greedy pair-drop keeps members that never appear
# as a pair's higher id; the component view collapses whole chains.
@register("q_pipeline_clean_cc", _PIPELINE_CC_ORACLE)
def q_pipeline_clean_cc(spark: SparkSession, sf_dir: str) -> DataFrame:
    from frames_spark.pipelines.pretrain import clean_corpus_cc

    docs = load_table(spark, sf_dir, "documents")
    return clean_corpus_cc(
        docs, min_tokens=10, max_punct=0.2, lang="en",
        shingle_n=3, num_hashes=_MH_K, bands=_MH_BANDS,
        rows_per_band=_MH_ROWS,
    )


@register("q_pipeline_clean", _PIPELINE_ORACLE)
def q_pipeline_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    from frames_spark.pipelines.pretrain import clean_corpus

    docs = load_table(spark, sf_dir, "documents")
    return clean_corpus(
        docs, min_tokens=10, max_punct=0.2, lang="en",
        shingle_n=3, num_hashes=_MH_K, bands=_MH_BANDS,
        rows_per_band=_MH_ROWS,
    )


# JSON column extraction: typed from_json over the events.props
# payload (the semi-structured column every event pipeline carries).
# Catalyst prunes the parse to the single referenced field.
@register(
    "q_json_extract",
    """
    SELECT event_type,
           CAST(SUM(CAST(props->>'k' AS BIGINT)) AS BIGINT) AS sum_k,
           COUNT(CAST(props->>'k' AS BIGINT)) AS n_k
    FROM events GROUP BY event_type
    """,
)
def q_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    k = F.from_json(F.col("props"), "k LONG").getField("k")
    return ev.groupBy("event_type").agg(
        F.sum(k).alias("sum_k"), F.count(k).alias("n_k")
    )


# Time-range window: per-user rolling 1-hour revenue (RANGE frame over
# event time, not row count). Micros keep the in-frame float sum exact
# on both engines.
@register(
    "q_running_sum_time",
    f"""
    SELECT event_id, user_id,
           CAST(SUM({_MICROS_SQL.format(expr='value')}) OVER (
             PARTITION BY user_id ORDER BY epoch_us(CAST(ts AS TIMESTAMP))
             RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW
           ) AS DOUBLE) / 1000000 AS rolling_value
    FROM events
    """,
)
def q_running_sum_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    # order the RANGE frame by integer MICROSECONDS on both engines:
    # unix_timestamp() truncates to whole seconds while DuckDB's
    # epoch() keeps fractions, so boundary events ~3600s apart joined
    # the frame on one engine only (caught at sf0.1 density)
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_micros("ts"))
        .rangeBetween(-3600000000, Window.currentRow)
    )
    return ev.select(
        "event_id",
        "user_id",
        (F.sum(_micros(F.col("value"))).over(w).cast("double") / 1000000).alias(
            "rolling_value"
        ),
    )


# GROUPING SETS — the general form of cube/rollup: exactly the
# requested grouping combinations, one pass, partial agg map-side.
@register(
    "q_grouping_sets",
    """
    SELECT l_returnflag, l_linestatus, COUNT(*) AS n
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), (l_returnflag, l_linestatus))
    """,
)
def q_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupingSets(
        [["l_returnflag"], ["l_linestatus"], ["l_returnflag", "l_linestatus"]],
        "l_returnflag",
        "l_linestatus",
    ).agg(F.count(F.lit(1)).alias("n"))


# Pearson correlation from EXACT integer moment sums: micros-scaled
# values accumulate as DECIMAL(38,0) (order-independent), and the
# final corr is one float expression over those exact sums — the
# same arithmetic in both engines, so it is bit-stable. A bare
# corr() would drift in the last ulps with partition order.
@register(
    "q_corr",
    f"""
    WITH m AS (
      SELECT l_returnflag,
             CAST({_MICROS_SQL.format(expr='l_quantity')} AS HUGEINT) AS x,
             CAST({_MICROS_SQL.format(expr='l_extendedprice')} AS HUGEINT) AS y
      FROM lineitem
    ), s AS (
      SELECT l_returnflag, COUNT(*) AS n,
             SUM(x) AS sx, SUM(y) AS sy,
             SUM(x*y) AS sxy, SUM(x*x) AS sxx, SUM(y*y) AS syy
      FROM m GROUP BY l_returnflag
    )
    SELECT l_returnflag,
           (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
           / NULLIF(sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                    * sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)), 0) AS corr_qty_price
    FROM s
    """,
)
def q_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    x = _micros(F.col("l_quantity")).cast("decimal(18,0)")
    y = _micros(F.col("l_extendedprice")).cast("decimal(18,0)")
    s = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(x).alias("sx"),
        F.sum(y).alias("sy"),
        F.sum(x * y).alias("sxy"),
        F.sum(x * x).alias("sxx"),
        F.sum(y * y).alias("syy"),
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    # nullif-guarded: a constant or single-row group has a zero
    # denominator, which ANSI mode turns into a runtime error rather
    # than an IEEE inf — corr is NULL there on both engines.
    denom = F.sqrt(d("n") * d("sxx") - d("sx") * d("sx")) * F.sqrt(
        d("n") * d("syy") - d("sy") * d("sy")
    )
    corr = (d("n") * d("sxy") - d("sx") * d("sy")) / F.nullif(denom, F.lit(0.0))
    return s.select("l_returnflag", corr.alias("corr_qty_price"))


# Decile assignment per group — ntile over a total order.
@register(
    "q_ntile",
    """
    SELECT o_orderkey,
           NTILE(10) OVER (PARTITION BY o_orderpriority
                           ORDER BY o_totalprice, o_orderkey) AS decile
    FROM orders
    """,
)
def q_ntile(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Two-phase ranking (operators/ranking.py): a direct
    # `ntile() OVER (PARTITION BY o_orderpriority ...)` caps
    # parallelism at the 5 distinct priorities — each task would sort
    # 1/5 of the fact table at any cluster size. The strict
    # (o_totalprice, o_orderkey) order makes NTILE pure arithmetic on
    # an exact distributed rank.
    o = load_table(spark, sf_dir, "orders")
    ranked = grouped_rank(
        o.select("o_orderkey", "o_orderpriority", "o_totalprice"),
        ["o_orderpriority"],
        ["o_totalprice", "o_orderkey"],
    )
    return ranked.select(
        "o_orderkey",
        ntile_from_rank(F.col("rn"), F.col("group_cnt"), 10).alias("decile"),
    )


# ---------------------------------------------------------------------------
# Deterministic sampling / splitting (operators/sampling.py).
# Membership is a content-hash predicate: pure scan-stage filter, no
# shuffle, reproducible on any partitioning or engine — unlike
# df.sample(), which changes with physical layout.
# ---------------------------------------------------------------------------

from frames_spark.operators import sampling as sample_ops  # noqa: E402


@register(
    "q_sample_hash",
    f"""
    SELECT o_orderkey, o_totalprice
    FROM orders
    WHERE {sample_ops.hash_sample_sql("o_orderkey", 0.05, seed="smp")}
    """,
)
def q_sample_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return sample_ops.hash_sample(o, "o_orderkey", 0.05, seed="smp").select(
        "o_orderkey", "o_totalprice"
    )


@register(
    "q_train_test_split",
    f"""
    SELECT CASE WHEN {sample_ops.hash_sample_sql("doc_id", 0.1, seed="split")}
                THEN 'test' ELSE 'train' END AS split,
           COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS total_chars
    FROM documents
    GROUP BY 1
    """,
)
def q_train_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return (
        sample_ops.train_test_split(docs, "doc_id", 0.1, seed="split")
        .groupBy("split")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.sum("n_chars").alias("total_chars"))
    )


_STRATA_FRACS = {"AUTOMOBILE": 0.5, "BUILDING": 0.1, "MACHINERY": 0.02}


@register(
    "q_sample_stratified",
    f"""
    SELECT c_mktsegment, COUNT(*) AS n
    FROM customer
    WHERE {sample_ops.stratified_hash_sample_sql("c_mktsegment", "c_custkey",
                                                 _STRATA_FRACS, 0.01, seed="st")}
    GROUP BY c_mktsegment
    """,
)
def q_sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    return (
        sample_ops.stratified_hash_sample(
            c, "c_mktsegment", "c_custkey", _STRATA_FRACS, 0.01, seed="st"
        )
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n"))
    )


# ---------------------------------------------------------------------------
# TPC-H Q3 shape: 3-table join + grouped revenue + top-k. The segment
# filter prunes customer BEFORE the join (predicate pushdown), the
# pruned customer side broadcasts, and only orders x lineitem shuffles
# on the join key. Revenue in micros for a bit-stable top-10 order.
# ---------------------------------------------------------------------------


@register(
    "q_top_unshipped",
    f"""
    SELECT l_orderkey,
           CAST(SUM({_MICROS_SQL.format(expr='l_extendedprice * (1 - l_discount)')})
                AS DOUBLE) / 1000000 AS revenue,
           o_orderdate, o_orderpriority
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1995-03-15 00:00:00'
      AND l_shipdate  > TIMESTAMP '1995-03-15 00:00:00'
    GROUP BY l_orderkey, o_orderdate, o_orderpriority
    ORDER BY revenue DESC, l_orderkey
    LIMIT 10
    """,
)
def q_top_unshipped(spark: SparkSession, sf_dir: str) -> DataFrame:
    cutoff = F.lit("1995-03-15").cast("timestamp")
    cust = (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_mktsegment") == "BUILDING")
        .select("c_custkey")
    )
    orders = load_table(spark, sf_dir, "orders").filter(F.col("o_orderdate") < cutoff)
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > cutoff)
    rev = _micros(F.col("l_extendedprice") * (1 - F.col("l_discount")))
    return (
        join_ops.dim_join(orders, cust, orders.o_custkey == cust.c_custkey)
        .join(li, li.l_orderkey == orders.o_orderkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg((F.sum(rev).cast("double") / 1000000).alias("revenue"))
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
        .orderBy(F.desc("revenue"), "l_orderkey")
        .limit(10)
    )


# ---------------------------------------------------------------------------
# Inter-event gaps: lag over (user, time) — the Frames idiom of a
# stateful fold over ordered rows, as one window pass + one agg.
# Gap sums stay integer microseconds end-to-end; the mean is one
# float division over exact ints (bit-stable both engines).
# ---------------------------------------------------------------------------


@register(
    "q_user_gaps",
    """
    WITH d AS (
      SELECT user_id,
             epoch_us(CAST(ts AS TIMESTAMP))
               - lag(epoch_us(CAST(ts AS TIMESTAMP)))
                 OVER (PARTITION BY user_id ORDER BY ts, event_id) AS gap_us
      FROM events
    )
    SELECT user_id, COUNT(gap_us) AS n_gaps,
           CAST(SUM(gap_us) AS DOUBLE) / NULLIF(COUNT(gap_us), 0) / 1000000
             AS mean_gap_s
    FROM d GROUP BY user_id
    """,
)
def q_user_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros(F.col("ts"))
    gaps = ev.select(
        "user_id", (us - F.lag(us).over(w)).alias("gap_us")
    )
    n = F.count("gap_us")
    return gaps.groupBy("user_id").agg(
        n.alias("n_gaps"),
        (F.sum("gap_us").cast("double") / F.nullif(n, F.lit(0)) / 1000000).alias(
            "mean_gap_s"
        ),
    )


# ---------------------------------------------------------------------------
# Per-group mode (most frequent value): two-level aggregate — count per
# (group, value) shuffles once on the composite key, then the argmax is
# a window over the (small) distinct-pair set. Deterministic tie-break
# by value. Frames ref: fold-built frequency maps (Exploration.hs).
# ---------------------------------------------------------------------------


@register(
    "q_mode",
    """
    WITH c AS (
      SELECT user_id, event_type, COUNT(*) AS n FROM events
      GROUP BY user_id, event_type
    )
    SELECT user_id, event_type AS mode_event, n FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
                                   ORDER BY n DESC, event_type) AS rk
      FROM c
    ) WHERE rk = 1
    """,
)
def q_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    counts = ev.groupBy("user_id", "event_type").agg(F.count(F.lit(1)).alias("n"))
    w = Window.partitionBy("user_id").orderBy(F.desc("n"), "event_type")
    return (
        counts.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select("user_id", F.col("event_type").alias("mode_event"), "n")
    )


# ---------------------------------------------------------------------------
# Corpus statistics: corpus-wide top tokens and per-doc TF-IDF.
# Both are explode-then-aggregate shapes — the shuffle key is the
# token, partial aggregation combines map-side, and the result set
# is vocabulary-sized (tiny next to the corpus).
# ---------------------------------------------------------------------------

_NORM_WS_SPARK = None  # tokens: lowercase, whitespace-normalized, split on ' '


def _tokens_col() -> "F.Column":
    return F.split(F.regexp_replace(F.trim(F.lower(F.col("text"))), r"\s+", " "), " ")


_TOKENS_SQL = "string_split(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g'), ' ')"


@register(
    "q_top_tokens",
    f"""
    SELECT token, COUNT(*) AS n
    FROM (SELECT unnest({_TOKENS_SQL}) AS token FROM documents)
    WHERE token <> ''
    GROUP BY token
    ORDER BY n DESC, token
    LIMIT 50
    """,
)
def q_top_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(F.explode(_tokens_col()).alias("token"))
        .filter(F.col("token") != "")
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), "token")
        .limit(50)
    )


# Per-doc top TF-IDF term WITHOUT floats: ranking by (tf DESC, df ASC,
# term ASC) is order-equivalent to tf/df scoring for fixed tf and
# avoids cross-engine libm drift in log(); the integers themselves are
# exact on both engines.
@register(
    "q_tfidf",
    f"""
    WITH tok AS (
      SELECT doc_id, unnest({_TOKENS_SQL}) AS token FROM documents
    ), tf AS (
      SELECT doc_id, token, COUNT(*) AS tf FROM tok
      WHERE token <> '' GROUP BY doc_id, token
    ), df AS (
      SELECT token, COUNT(DISTINCT doc_id) AS df FROM tok
      WHERE token <> '' GROUP BY token
    )
    SELECT doc_id, token AS top_term, tf, df FROM (
      SELECT tf.doc_id, tf.token, tf.tf, df.df,
             ROW_NUMBER() OVER (PARTITION BY tf.doc_id
                                ORDER BY tf.tf DESC, df.df ASC, tf.token) AS rk
      FROM tf JOIN df USING (token)
    ) WHERE rk = 1
    """,
)
def q_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    tok = (
        docs.select("doc_id", F.explode(_tokens_col()).alias("token"))
        .filter(F.col("token") != "")
    )
    tf = tok.groupBy("doc_id", "token").agg(F.count(F.lit(1)).alias("tf"))
    df = tok.groupBy("token").agg(F.count_distinct("doc_id").alias("df"))
    w = Window.partitionBy("doc_id").orderBy(F.desc("tf"), F.asc("df"), "token")
    return (
        tf.join(df, "token")
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select("doc_id", F.col("token").alias("top_term"), "tf", "df")
    )


# Token-repetition ratio: a Gopher-style quality signal. Integer
# counts; the ratio is one float division over exact ints.
@register(
    "q_repetition",
    f"""
    WITH t AS (
      SELECT doc_id, list_filter({_TOKENS_SQL}, x -> x <> '') AS toks
      FROM documents
    )
    SELECT doc_id, len(toks) AS n_tokens,
           len(list_distinct(toks)) AS n_distinct,
           1 - CAST(len(list_distinct(toks)) AS DOUBLE)
               / NULLIF(len(toks), 0) AS repetition
    FROM t
    """,
)
def q_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = F.filter(_tokens_col(), lambda x: x != "")
    n = F.size(toks)
    nd = F.size(F.array_distinct(toks))
    return docs.select(
        "doc_id",
        n.cast("long").alias("n_tokens"),
        nd.cast("long").alias("n_distinct"),
        (1 - nd.cast("double") / F.nullif(n, F.lit(0))).alias("repetition"),
    )


# ---------------------------------------------------------------------------
# Outlier flagging: per-type z-score from EXACT integer moment sums
# (same technique as q_corr). The tiny per-type stats table broadcasts
# back onto the stream — never a window over a whole event_type
# partition, which would put one hot type on one executor.
# ---------------------------------------------------------------------------


@register(
    "q_zscore",
    f"""
    WITH m AS (
      SELECT event_type, event_id,
             CAST({_MICROS_SQL.format(expr='value')} AS HUGEINT) AS v
      FROM events
    ), s AS (
      SELECT event_type, COUNT(*) AS n, SUM(v) AS sv, SUM(v*v) AS svv
      FROM m GROUP BY event_type
    )
    SELECT m.event_id,
           (CAST(m.v AS DOUBLE) - CAST(s.sv AS DOUBLE) / s.n)
           / NULLIF(sqrt(CAST(s.svv AS DOUBLE) / s.n
                    - (CAST(s.sv AS DOUBLE) / s.n) * (CAST(s.sv AS DOUBLE) / s.n)), 0)
             AS z,
           ABS((CAST(m.v AS DOUBLE) - CAST(s.sv AS DOUBLE) / s.n))
           > 2 * sqrt(CAST(s.svv AS DOUBLE) / s.n
                      - (CAST(s.sv AS DOUBLE) / s.n) * (CAST(s.sv AS DOUBLE) / s.n))
             AS is_outlier
    FROM m JOIN s USING (event_type)
    """,
)
def q_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    m = ev.select(
        "event_type", "event_id", _micros(F.col("value")).cast("decimal(38,0)").alias("v")
    )
    s = m.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("v").alias("sv"),
        F.sum(F.col("v") * F.col("v")).alias("svv"),
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    mean = d("sv") / F.col("n")
    var = d("svv") / F.col("n") - mean * mean
    std = F.sqrt(var)
    z = (d("v") - mean) / F.nullif(std, F.lit(0.0))
    return (
        m.join(F.broadcast(s), "event_type")
        .select(
            "event_id",
            z.alias("z"),
            (F.abs(d("v") - mean) > 2 * std).alias("is_outlier"),
        )
    )


# Fixed-bound histogram: integer bucket ids from one scan — the
# 100 TB-safe histogram (no sort, no sketch needed for fixed bounds).
@register(
    "q_histogram",
    """
    SELECT LEAST(GREATEST(CAST(FLOOR(value / 25) AS BIGINT), 0), 19) AS bucket,
           COUNT(*) AS n
    FROM events
    GROUP BY 1
    """,
)
def q_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    bucket = F.least(
        F.greatest(F.floor(F.col("value") / 25).cast("long"), F.lit(0)), F.lit(19)
    )
    return ev.groupBy(bucket.alias("bucket")).agg(F.count(F.lit(1)).alias("n"))


# Set algebra over keyed row sets (Frames' Rec equality idiom):
# urgent-but-never-low customers (EXCEPT), both-priorities customers
# (INTERSECT) — tagged and unioned into one result.
@register(
    "q_set_ops",
    """
    WITH u AS (SELECT DISTINCT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'),
         l AS (SELECT DISTINCT o_custkey FROM orders WHERE o_orderpriority = '5-LOW')
    SELECT 'urgent_only' AS op, o_custkey FROM (SELECT * FROM u EXCEPT SELECT * FROM l)
    UNION ALL
    SELECT 'both' AS op, o_custkey FROM (SELECT * FROM u INTERSECT SELECT * FROM l)
    """,
)
def q_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    u = o.filter(F.col("o_orderpriority") == "1-URGENT").select("o_custkey").distinct()
    low = o.filter(F.col("o_orderpriority") == "5-LOW").select("o_custkey").distinct()
    return (
        u.exceptAll(low).select(F.lit("urgent_only").alias("op"), "o_custkey")
        .unionAll(low.intersect(u).select(F.lit("both").alias("op"), "o_custkey"))
    )


# Distribution position per row: cume_dist and percent_rank share the
# same closed-form definitions in every engine (counts over counts),
# so the doubles are bit-stable.
@register(
    "q_cume_dist",
    """
    SELECT o_orderkey,
           cume_dist() OVER (PARTITION BY o_orderpriority
                             ORDER BY o_totalprice, o_orderkey) AS cd,
           percent_rank() OVER (PARTITION BY o_orderpriority
                                ORDER BY o_totalprice, o_orderkey) AS pr
    FROM orders
    """,
)
def q_cume_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Same two-phase ranking rationale as q_ntile: under the strict
    # (o_totalprice, o_orderkey) order, cume_dist = rn/cnt and
    # percent_rank = (rn-1)/(cnt-1) exactly.
    o = load_table(spark, sf_dir, "orders")
    ranked = grouped_rank(
        o.select("o_orderkey", "o_orderpriority", "o_totalprice"),
        ["o_orderpriority"],
        ["o_totalprice", "o_orderkey"],
    )
    cnt = F.col("group_cnt")
    rn = F.col("rn")
    return ranked.select(
        "o_orderkey",
        (rn.cast("double") / cnt.cast("double")).alias("cd"),
        F.when(cnt == 1, F.lit(0.0))
        .otherwise((rn - 1).cast("double") / (cnt - 1).cast("double"))
        .alias("pr"),
    )
