"""The benchmark's workloads: which operations run, on which inputs,
and how each operation's output is checked.

An operation builds a DataFrame (``build``), materializes it
(``write``: the noop sink for registered queries, a parquet writer
for ingest) and is checked against a DuckDB oracle over the same
generated inputs: ``result`` collects a query's rows, or reads back
what an ingest operation wrote, for :func:`compare`.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from frames_spark import queries as Q
from frames_spark.pipelines import pretrain
from frames_spark.sources import csv as csv_src
from frames_spark.sources import jsonl as jsonl_src
from frames_spark.sources import sink
from tools.check_oracle import normalize, type_mismatches, values_close

SHARDS = 16
LINEITEM_PARTITIONS = ["l_returnflag", "l_linestatus"]


@dataclass(frozen=True)
class Inputs:
    data_dir: str  # generated parquet tables (tools/gen_testdata.py)
    out_dir: str  # where ingest operations write

    @property
    def docs_jsonl(self) -> str:
        return os.path.join(self.data_dir, "documents.jsonl")

    @property
    def lineitem_csv(self) -> str:
        return os.path.join(self.data_dir, "lineitem.csv")


@dataclass
class Result:
    """What an operation produced, as the check sees it."""

    rows: list[tuple]
    cols: list[str]
    dtypes: list[tuple[str, str]]
    problems: list[str] = field(default_factory=list)


def compare(got: Result, oracle) -> list[str]:
    """Problems found comparing an operation's result with the oracle's
    (columns, types, rows), by the rules of tools/check_oracle.py."""
    rows, cols, dtypes = got.rows, got.cols, got.dtypes
    dcols, dtypes_duck, drows = oracle
    problems = list(got.problems)
    if sorted(cols) != sorted(dcols):
        problems.append(f"schema spark={sorted(cols)} oracle={sorted(dcols)}")
    problems.extend(type_mismatches(dtypes_duck, dcols, dtypes))
    if len(rows) != len(drows):
        problems.append(f"rows spark={len(rows)} oracle={len(drows)}")
    if not problems:
        bad = sum(
            1
            for rs, rd in zip(normalize(rows, cols), normalize(drows, dcols))
            if not all(values_close(a, b) for a, b in zip(rs, rd))
        )
        if bad:
            problems.append(f"{bad} mismatched rows")
    return problems


class QueryOp:
    """A registered query, materialized through the noop sink."""

    writes_output = False

    def __init__(self, key: str) -> None:
        self.name = key

    def build(self, spark: SparkSession, inp: Inputs) -> DataFrame:
        return Q.QUERIES[self.name](spark, inp.data_dir)

    def write(self, df: DataFrame, inp: Inputs) -> None:
        df.write.format("noop").mode("overwrite").save()

    def oracle_sql(self, inp: Inputs) -> str:
        return Q.ORACLES[self.name]

    def result(self, spark: SparkSession, df: DataFrame, inp: Inputs) -> Result:
        return Result([tuple(r) for r in df.collect()], list(df.columns), df.dtypes)


class CorpusShardsOp:
    """Documents as JSONL -> read_jsonl -> clean_corpus(keep_text) ->
    write_training_shards; checked against q_pipeline_clean's oracle."""

    name = "jsonl_clean_shards"
    writes_output = True

    def out(self, inp: Inputs) -> str:
        return os.path.join(inp.out_dir, self.name)

    def build(self, spark: SparkSession, inp: Inputs) -> DataFrame:
        from frames_spark.queries.q01_core_ops import _MH_BANDS, _MH_K, _MH_ROWS

        docs = jsonl_src.read_jsonl(spark, inp.docs_jsonl, permissive=False)
        # the parameters q_pipeline_clean registers, so its oracle applies
        return pretrain.clean_corpus(
            docs, min_tokens=10, max_punct=0.2, lang="en", shingle_n=3,
            num_hashes=_MH_K, bands=_MH_BANDS, rows_per_band=_MH_ROWS,
            keep_text=True,
        )

    def write(self, df: DataFrame, inp: Inputs) -> None:
        sink.write_training_shards(df, self.out(inp), n_shards=SHARDS)

    def oracle_sql(self, inp: Inputs) -> str:
        return (
            "SELECT o.doc_id, o.n_tokens, d.text FROM ("
            + Q.ORACLES["q_pipeline_clean"]
            + ") o JOIN documents d USING (doc_id)"
        )

    def result(self, spark: SparkSession, df, inp: Inputs) -> Result:
        back = spark.read.parquet(self.out(inp))
        n_shards = back.select("shard").distinct().count()
        got = back.select("doc_id", "n_tokens", "text")
        return Result(
            [tuple(r) for r in got.collect()], got.columns, got.dtypes,
            [] if 0 < n_shards <= SHARDS else [f"{n_shards} shards"],
        )


class CsvPartitionedOp:
    """Lineitem as CSV -> read_csv (prefix inference) ->
    write_partitioned; checked against the CSV's row count and sums."""

    name = "csv_partitioned"
    writes_output = True

    def out(self, inp: Inputs) -> str:
        return os.path.join(inp.out_dir, self.name)

    def build(self, spark: SparkSession, inp: Inputs) -> DataFrame:
        return csv_src.read_csv(spark, inp.lineitem_csv)

    def write(self, df: DataFrame, inp: Inputs) -> None:
        sink.write_partitioned(df, self.out(inp), LINEITEM_PARTITIONS)

    def oracle_sql(self, inp: Inputs) -> str:
        return f"""
            SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
                   CAST(SUM(l_orderkey) AS BIGINT) AS sum_orderkey,
                   CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_quantity,
                   CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
                     AS sum_price_cents,
                   CAST(COUNT(DISTINCT (l_returnflag, l_linestatus)) AS BIGINT)
                     AS n_partitions
            FROM read_csv('{inp.lineitem_csv}', header = true)
        """

    def result(self, spark: SparkSession, df, inp: Inputs) -> Result:
        got = spark.read.parquet(self.out(inp)).agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("l_orderkey").alias("sum_orderkey"),
            F.sum(F.col("l_quantity").cast("bigint")).alias("sum_quantity"),
            F.sum(F.round(F.col("l_extendedprice") * 100).cast("bigint")).alias(
                "sum_price_cents"
            ),
            F.countDistinct(*LINEITEM_PARTITIONS).alias("n_partitions"),
        )
        return Result([tuple(r) for r in got.collect()], got.columns, got.dtypes)


@dataclass(frozen=True)
class Workload:
    name: str
    sf: float  # scale factor handed to tools/gen_testdata.generate
    ops: tuple
    tables: tuple[str, ...]  # the inputs it reads, for the record
    nominal_pass_s: float  # one timed pass on 4 cores; sets passes per run


# The heaviest operation first: the check pass starts it first.
OLAP_KEYS = (
    "q_triangle_count", "q_group_fold", "q_filter_project", "q_join_inner",
    "q_join_multi", "q_topk_per_group", "q_events_window", "q_sessionize",
    "q_asof_join", "q_quantiles",
)
CURATION_KEYS = ("q_dedup_clusters", "q_hard_negatives")

WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            "olap", 0.01, tuple(QueryOp(k) for k in OLAP_KEYS),
            tuple(f"{t}.parquet" for t in (
                "region", "nation", "customer", "supplier", "part", "orders",
                "lineitem", "events")),
            nominal_pass_s=8.0,
        ),
        Workload(
            "curation", 0.01,
            (CorpusShardsOp(), CsvPartitionedOp(), *(QueryOp(k) for k in CURATION_KEYS)),
            ("documents.jsonl", "lineitem.csv", "documents.parquet",
             "embeddings.parquet"),
            nominal_pass_s=13.0,
        ),
    )
}
