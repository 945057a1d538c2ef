"""Structured Streaming operators over the events stream.

Frames' streaming story is constant-memory pipes producers
(reference: src/Frames/CSV.hs ``readTableOpt``/pipes); Spark's is
Structured Streaming — same declarative transformations, incremental
execution, plus watermarks for late data. These builders return
running StreamingQuery objects writing to an in-memory sink so local
tests drive them to completion with ``processAllAvailable()``; a real
deployment swaps source/sink formats (kafka/delta) with the SAME
transformation graph.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from frames_spark.sources.tables import parquet_schema

# Logical event schema after ts normalization; the PHYSICAL schema is
# probed from the parquet footer at read time (the writer has shipped
# both TIMESTAMP(NANOS)->bigint and TIMESTAMP(MICROS,ntz) shapes).
EVENT_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType(), True),
        T.StructField("ts", T.TimestampType(), True),
        T.StructField("user_id", T.LongType(), True),
        T.StructField("event_type", T.StringType(), True),
        T.StructField("value", T.DoubleType(), True),
        T.StructField("props", T.StringType(), True),
    ]
)


def probe_event_schema(spark: SparkSession, path: str) -> T.StructType:
    """Physical schema of an events parquet file/dir, inferred from the
    parquet footer. The first probe of a file runs one Spark job (the
    footer read); later probes of the unchanged file reuse it through
    sources.tables.parquet_schema. File-stream sources require a
    declared schema; probing beats hard-coding the writer's current
    timestamp encoding, which has already shipped in two shapes."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    return parquet_schema(spark, path)


def normalize_ts(df: DataFrame, physical: T.StructType) -> DataFrame:
    """Same ts normalization as sources/tables.load_table: epoch-nanos
    bigint -> truncate to micros; TIMESTAMP_NTZ -> exact cast under the
    pinned UTC session zone. Works on batch and streaming frames."""
    ts_kind = {f.name: f.dataType.simpleString() for f in physical.fields}.get("ts")
    if ts_kind == "bigint":
        return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    if ts_kind == "timestamp_ntz":
        return df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def read_event_stream(
    spark: SparkSession, sf_dir: str, glob: str = "events.parquet"
) -> DataFrame:
    """Parquet-directory stream of the events table (one file = one
    micro-batch locally; kafka source in production)."""
    physical = probe_event_schema(spark, os.path.join(sf_dir, glob))
    # the file-stream source only accepts directories; glob-filter the
    # events file(s) out of the table directory
    raw = (
        spark.readStream.schema(physical)
        .format("parquet")
        .option("pathGlobFilter", glob)
        .load(sf_dir)
    )
    return normalize_ts(raw, physical)


def windowed_rollup(
    events: DataFrame,
    window: str = "1 hour",
    watermark: str = "2 hours",
    slide: str | None = None,
) -> DataFrame:
    """Tumbling-window counts/sums per event type with a watermark
    bounding state for late data — the streaming twin of
    queries.q_events_window. With ``slide`` the windows hop
    (streaming twin of q_hopping_window): each event lands in
    window/slide overlapping windows, state stays
    O(open windows x types)."""
    win = F.window("ts", window, slide) if slide else F.window("ts", window)
    return (
        events.withWatermark("ts", watermark)
        .groupBy(win.alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"), F.sum("value").alias("total_value"))
        .select(F.col("w.start").alias("bucket"), "event_type", "n_events", "total_value")
    )


def session_rollup(
    events: DataFrame,
    gap: str = "30 minutes",
    watermark: str = "2 hours",
) -> DataFrame:
    """Gap-based session windows per user (streaming twin of
    queries.q_sessionize's lag+cumsum batch form)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"), F.sum("value").alias("total_value"))
        .select(
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "user_id",
            "n_events",
            "total_value",
        )
    )


def run_to_memory(
    result: DataFrame, name: str, output_mode: str = "complete"
) -> "DataFrame":
    """Start → drain → stop against an in-memory table; returns the
    materialized result (batch DataFrame). Local test harness only.
    `complete` fits aggregations; row-level streams (dedup, maps)
    need `append`."""
    query = (
        result.writeStream.outputMode(output_mode)
        .format("memory")
        .queryName(name)
        .start()
    )
    try:
        query.processAllAvailable()
    finally:
        query.stop()
    return result.sparkSession.sql(f"SELECT * FROM {name}")


def stream_stream_click_purchase_join(
    events: DataFrame,
    window_seconds: int = 3600,
    watermark: str = "2 hours",
    how: str = "inner",
) -> DataFrame:
    """Stream-stream join: each click paired with purchases by
    the same user within ``window_seconds`` after it.

    Both sides carry watermarks and the join predicate carries the
    time bound, so state for either side is dropped once the
    watermark passes — bounded state, the streaming twin of
    operators/rangejoin.range_join.

    ``how="left_outer"`` additionally emits unconverted clicks with
    null purchase columns — but only once the watermark passes the
    click's join window (the engine can't declare "no purchase" until
    late purchases are impossible), so tail-of-stream clicks stay
    buffered until a later batch advances the watermark.
    """
    clicks = (
        events.filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", watermark)
    )
    purchases = (
        events.filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("purchase_ts"),
            F.col("value").alias("purchase_value"),
        )
        .withWatermark("purchase_ts", watermark)
    )
    cond = (
        (F.col("c_user") == F.col("p_user"))
        & (F.col("purchase_ts") >= F.col("click_ts"))
        & (
            F.col("purchase_ts")
            <= F.col("click_ts") + F.expr(f"INTERVAL {window_seconds} SECONDS")
        )
    )
    return clicks.join(purchases, cond, how).select(
        "click_id", F.col("c_user").alias("user_id"), "purchase_id", "purchase_value"
    )


def dedup_stream(
    events: DataFrame,
    keys: list[str] | None = None,
    watermark: str = "2 hours",
) -> DataFrame:
    """Streaming exact dedup: drop re-deliveries of the same event.

    `dropDuplicatesWithinWatermark` keys state by the dedup columns
    and EVICTS entries once the watermark passes them — state is
    O(events per watermark window), not O(stream history), which is
    the only formulation that survives an unbounded stream. A plain
    `dropDuplicates` on a stream never frees its state. The batch
    twin is queries.q_dedup_exact / dedup.exact.
    """
    keys = keys or ["event_id"]
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(keys)


def enrich_with_dim(events: DataFrame, dim: DataFrame, key: str) -> DataFrame:
    """Stream-static enrichment join: every micro-batch joins against
    the (batch) dimension — broadcast per batch, no streaming state at
    all. The standard shape for attaching user/customer attributes to
    an event stream."""
    return events.join(F.broadcast(dim), key)
