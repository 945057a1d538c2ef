"""Star-schema loaders for the driver testdata.

Parquet is the native format (columnar, pushdown, stats) — the 100 TB
analog of Frames' in-core column vectors (reference:
src/Frames/InCore.hs). CSV ingest lives in sources/csv.py.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Dimension tables small enough to broadcast at any realistic scale
# factor (region/nation are fixed-size; supplier/part/customer grow
# with SF but stay far below fact tables — revisit per-deployment).
BROADCAST_DIMS = frozenset({"region", "nation", "supplier", "part"})


# Session confs that parquet schema inference reads. Read one by one:
# ``spark.conf.getAll`` costs tens of py4j round trips.
_INFERENCE_CONFS = (
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.fieldId.read.enabled",
    "spark.sql.parquet.mergeSchema",
    "spark.sql.parquet.respectSummaryFiles",
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.files.ignoreCorruptFiles",
    "spark.sql.files.ignoreMissingFiles",
    "spark.sql.caseSensitive",
)
_SCHEMAS: dict[tuple, T.StructType] = {}
_MAX_SCHEMAS = 256


def _file_stamps(spark: SparkSession, path: str) -> tuple:
    """(path, length, modification time) of every file ``path``
    resolves to — glob and directory included — listed through the
    Hadoop FileSystem, so any scheme Spark can read works here."""
    sc = spark.sparkContext
    hpath = sc._jvm.org.apache.hadoop.fs.Path(path)  # noqa: SLF001
    fs = hpath.getFileSystem(sc._jsc.hadoopConfiguration())  # noqa: SLF001
    stamps = []
    for root in fs.globStatus(hpath) or ():
        files = fs.listFiles(root.getPath(), True)
        while files.hasNext():
            f = files.next()
            stamps.append(
                (f.getPath().toString(), f.getLen(), f.getModificationTime())
            )
    return tuple(sorted(stamps))


def parquet_schema(spark: SparkSession, path: str) -> T.StructType:
    """The schema ``spark.read.parquet(path)`` infers, inferred once
    per process: Spark runs a job per inference (footer read), where
    Frames infers a table's row type once (Frames/TH.hs tableTypes).

    The memo key covers everything inference reads — each resolved
    file's path, length and modification time, and the parquet
    inference confs — so a rewritten file or a changed conf infers
    again. A path that resolves to no file is never memoized (the
    inference raises)."""
    confs = tuple(spark.conf.get(k, None) for k in _INFERENCE_CONFS)
    key = (_file_stamps(spark, path), confs)
    schema = _SCHEMAS.get(key)
    if schema is None:
        schema = spark.read.parquet(path).schema
        if len(_SCHEMAS) >= _MAX_SCHEMAS:
            _SCHEMAS.pop(next(iter(_SCHEMAS)))
        _SCHEMAS[key] = schema
    return schema


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    # The driver hands us an externally built SparkSession. Two session
    # confs must hold regardless of who built it: a pinned UTC timezone
    # (NTZ<->LTZ conversion and the DuckDB oracle comparison are only
    # exact under UTC) and nanos-as-long (in case the parquet writer
    # emits TIMESTAMP(NANOS), which Spark otherwise refuses to read).
    # Both are runtime-settable SQL confs.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    path = os.path.join(sf_dir, f"{name}.parquet")
    df = spark.read.schema(parquet_schema(spark, path)).parquet(path)
    # Normalize `ts` to the engine's native TIMESTAMP (LTZ micros),
    # whatever physical shape the writer chose:
    #   * TIMESTAMP(NANOS) -> epoch-nanos bigint (via nanosAsLong);
    #     integer-exact `div 1000` truncation matches DuckDB's
    #     TIMESTAMP_NS -> TIMESTAMP cast.
    #   * TIMESTAMP(MICROS, isAdjustedToUTC=false) -> TIMESTAMP_NTZ;
    #     cast to TIMESTAMP is exact under the pinned UTC session zone
    #     and matches DuckDB's naive TIMESTAMP bit-for-bit.
    # Keeping both branches makes the loader robust to the test data
    # being regenerated in either shape.
    for field in df.schema.fields:
        if field.name == "ts":
            kind = field.dataType.simpleString()
            if kind == "bigint":
                df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
            elif kind == "timestamp_ntz":
                df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in TABLE_NAMES}


def register_views(
    spark: SparkSession, sf_dir: str, prefix: str = ""
) -> list[str]:
    """Register every star-schema table as a temp view (through the
    same footer-probing loader, so timestamp normalization applies) —
    the two-line setup for an ad-hoc `spark.sql` session:

        register_views(spark, sf_dir)
        spark.sql("SELECT ... FROM orders JOIN customer ON ...")

    Returns the view names created."""
    names = []
    for t in TABLE_NAMES:
        name = f"{prefix}{t}"
        load_table(spark, sf_dir, t).createOrReplaceTempView(name)
        names.append(name)
    return names
