"""Physical-plan inspection helpers.

The scale posture (SURVEY.md §6) is enforced, not hoped for: tests
assert that filters/projections reach the parquet scan, small dims
broadcast, and nothing cartesian-joins by accident. These helpers
expose the formatted plan as a string for those assertions and for
interactive `.explain`-driven tuning.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def formatted_plan(df: DataFrame) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
        df._jdf.queryExecution(), "formatted"
    )


def analyzed_plan(df: DataFrame) -> str:
    """Analyzed LOGICAL plan string — the only plan where broadcast
    hints are still visible as ResolvedHint nodes (the physical plan
    shows BroadcastHashJoin whether the broadcast was forced by a
    hint or chosen by AQE's size estimate, which is exactly the
    distinction the BROADCAST_SCALED advisor rule needs)."""
    return df._jdf.queryExecution().analyzed().toString()  # noqa: SLF001


def has_pushed_filters(df: DataFrame) -> bool:
    plan = formatted_plan(df)
    return "PushedFilters: [" in plan and "PushedFilters: []" not in plan


def scan_read_schema(df: DataFrame) -> list[str]:
    """ReadSchema column lists of every parquet scan in the plan."""
    plan = formatted_plan(df)
    out = []
    for line in plan.splitlines():
        line = line.strip()
        if line.startswith("ReadSchema:"):
            out.append(line.removeprefix("ReadSchema:").strip())
    return out


def uses_broadcast_join(df: DataFrame) -> bool:
    return "BroadcastHashJoin" in formatted_plan(df) or "BroadcastNestedLoopJoin" in formatted_plan(df)


def has_cartesian(df: DataFrame) -> bool:
    return "CartesianProduct" in formatted_plan(df)


def whole_stage_codegen_spans(df: DataFrame) -> int:
    """Number of WholeStageCodegen subtrees — wider/fewer is better.

    NOTE: under AQE the pre-execution plan hides codegen subtrees;
    callers must build ``df`` with spark.sql.adaptive.enabled=false
    (see tests/test_plans.py) or execute first.
    """
    plan = df._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
        df._jdf.queryExecution(), "codegen"
    )
    head = plan.splitlines()[0] if plan else ""
    # "Found N WholeStageCodegen subtrees."
    for tok in head.split():
        if tok.isdigit():
            return int(tok)
    return 0


def codegen_compiles(spark: SparkSession) -> tuple[int, float]:
    """(classes compiled, compile milliseconds) so far in the driver
    JVM: every Janino compile, i.e. every codegen cache miss, since the
    JVM started. Take it before and after a workload and subtract. In
    local mode the executors share the driver's JVM and its cache, so
    their compiles count too; on a cluster each executor compiles into
    its own JVM, which this does not see."""
    jvm = spark.sparkContext._jvm  # noqa: SLF001
    n = jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME().getCount()
    ns = jvm.org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime()
    return int(n), ns / 1e6


def n_parquet_scans(df: DataFrame) -> int:
    """Distinct parquet-scan NODES in the plan (the formatted string
    prints each node twice: once in the tree, once in the details)."""
    import re

    return len(set(re.findall(r"\((\d+)\) Scan parquet", formatted_plan(df))))
