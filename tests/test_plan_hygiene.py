"""Blanket plan audit: every registered query's physical plan is
free of accidental cross products, and scan-heavy queries keep
their filters pushed down. Catches a regression in ANY query the
moment it plans a cartesian join."""

from __future__ import annotations

import pytest

import __spark_entry__ as entry
from frames_spark.plans.explain import formatted_plan

QUERIES = entry.queries()

# 1-row scalar broadcasts legitimately plan BroadcastNestedLoopJoin;
# nothing should ever plan CartesianProduct.
FORBIDDEN = "CartesianProduct"


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_no_cartesian_product(spark, sf_dir, name):
    df = QUERIES[name](spark, sf_dir)
    plan = formatted_plan(df)
    assert FORBIDDEN not in plan, f"{name} plans a cartesian product"


# Distributed-ranking guard: q_ntile / q_cume_dist must NOT plan the
# naive `ntile()/cume_dist() OVER (PARTITION BY o_orderpriority)` —
# a 5-value partition key caps the fact-table sort at 5 tasks at any
# cluster size. The two-phase form (operators/ranking.py) shows a
# SPARK_PARTITION_ID projection and no rank-SQL window function.
@pytest.mark.parametrize("name", ["q_ntile", "q_cume_dist"])
def test_two_phase_ranking(spark, sf_dir, name):
    plan = formatted_plan(QUERIES[name](spark, sf_dir))
    low = plan.lower()
    # since r12 the range-partitioned slice is ALWAYS staged
    # (ranking._auto_stage), so the spark_partition_id() projection
    # sits behind the localCheckpoint boundary; the staged signature
    # is the _pid column carried out of the checkpointed scan
    assert "spark_partition_id" in low or (
        "_pid" in low and "existingrdd" in low
    ), f"{name} lost the two-phase rank"
    for fn in ("ntile(", "cume_dist(", "percent_rank("):
        assert fn not in low, f"{name} fell back to a fact-wide {fn} window"


# Pushdown + broadcast proofs for the new TPC-H shapes: a Q6 whose
# predicates don't reach the scan, or a star join that shuffles its
# dims, is wrong at 100 TB even when the rows match.
def test_q6_pushdown(spark, sf_dir):
    from frames_spark.plans.explain import formatted_plan, has_pushed_filters

    df = QUERIES["q_forecast_revenue"](spark, sf_dir)
    assert has_pushed_filters(df)
    plan = formatted_plan(df)
    assert "l_shipdate" in plan.split("PushedFilters")[1][:400]


# q_boilerplate must count span frequency with a map-side-combining
# groupBy, never a `count() over (partition by span)` window — a hot
# span (crawl-wide footer in 1e8 docs) lands entirely on one reducer
# under the window form.
def test_boilerplate_no_span_window(spark, sf_dir):
    plan = formatted_plan(QUERIES["q_boilerplate"](spark, sf_dir))
    low = plan.lower()
    assert "window" not in low, "q_boilerplate regressed to a span window"
    assert "hashaggregate" in low


@pytest.mark.parametrize(
    "name", ["q_market_share", "q_profit_by_nation", "q_promo_share",
             "q_supplier_variety", "q_special_revenue"]
)
def test_star_joins_broadcast_dims(spark, sf_dir, name):
    from frames_spark.plans.explain import formatted_plan

    plan = formatted_plan(QUERIES[name](spark, sf_dir))
    assert "BroadcastHashJoin" in plan, f"{name} lost its dim broadcasts"
    # the fact table must never sort-merge against a dimension
    assert plan.count("SortMergeJoin") <= 1, f"{name} shuffles its dims"


# The triangle probe carries neighbour arrays on both join sides: a
# broadcast of either side (AQE demotes small shuffle joins at
# runtime) ran a 4g driver out of memory at sf0.1, so the probe is
# pinned to a shuffled hash join. And the plan caches nothing: the
# adjacency's shuffle is shared through exchange reuse instead.
@pytest.mark.parametrize("name", ["q_triangle_count", "q_clustering_coeff"])
def test_triangle_probe_never_broadcasts_arrays(spark, sf_dir, name):
    from frames_spark.plans.advisor import _node_depth

    df = QUERIES[name](spark, sf_dir)
    df.collect()
    # executed plan: the AQE final plan once the frame has run
    lines = df._jdf.queryExecution().executedPlan().toString().splitlines()
    assert not any(
        "InMemoryRelation" in ln or "InMemoryTableScan" in ln for ln in lines
    ), f"{name} caches a relation"
    for i, line in enumerate(lines):
        if "BroadcastExchange" not in line:
            continue
        depth = _node_depth(line)
        stage_cut = None
        for child in lines[i + 1 :]:
            d = _node_depth(child)
            if d <= depth:
                break
            if stage_cut is not None and d > stage_cut:
                continue
            stage_cut = d if "QueryStage" in child or "Exchange" in child else None
            assert "Generate" not in child, (
                f"{name} broadcasts a side that explodes an array:\n{line}\n{child}"
            )
