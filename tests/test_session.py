"""get_spark's codegen settings: each generated class compiles once per
JVM. Compiles are counted with plans.explain.codegen_compiles (every
Janino compile is a codegen cache miss)."""

from __future__ import annotations

import re

from pyspark.sql import functions as F

from frames_spark.plans.explain import codegen_compiles


def _pipeline(spark, i: int):
    """A one-stage pipeline whose generated source differs per ``i``
    (the constants are inlined into the source)."""
    return spark.range(0, 20, 1, 1).select((F.col("id") * i + 7).alias("v"))


def _compiles(spark, run) -> int:
    before = codegen_compiles(spark)[0]
    run()
    return codegen_compiles(spark)[0] - before


def test_rerun_after_more_than_100_pipelines_compiles_nothing(spark):
    """Spark's default cache holds 100 classes, so 100 other classes
    compiled in between would evict the first pipeline's."""
    def rerun():
        _pipeline(spark, 1_000_003).collect()

    rerun()
    filled = _compiles(
        spark, lambda: [_pipeline(spark, 1_000_010 + i).collect() for i in range(60)]
    )
    assert filled > 100
    assert _compiles(spark, rerun) == 0


def test_pipeline_at_two_stage_ids_compiles_once(spark):
    """Run alone, a pipeline is codegen stage 1; as the second leg of a
    union it is stage 2. The class compiled for stage 1 serves both."""
    prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        p = _pipeline(spark, 2_000_003)
        q = _pipeline(spark, 2_000_005)
        both = q.union(p)
        p_at = r"\*\((\d)\) Project \[\(\(id#\d+L \* 2000003\)"
        alone = p._jdf.queryExecution().executedPlan().toString()
        second = both._jdf.queryExecution().executedPlan().toString()
        assert re.search(p_at, alone).group(1) == "1", alone
        assert re.search(p_at, second).group(1) == "2", second
        p.collect()
        q.collect()
        assert _compiles(spark, both.collect) == 0
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", prev)
