"""Sinks: partitioned parquet and bucketed tables.

Frames' output surface is writeCSV/writeDSV (reference:
src/Frames/CSV.hs:505,518 — covered by sources/csv.py write_csv).
At 100 TB the write layout IS the read plan for every downstream
query, so the engine's native sinks are:

- partition-by-natural-key parquet: partition pruning turns
  point/range predicates on the partition column into directory
  skips (no file even opened);
- bucketed tables on a join/agg key: both sides pre-hashed into the
  same bucket layout join with ZERO exchange — the single biggest
  shuffle saving available for repeated fact-fact joins.

``repartition(partition_cols)`` before a partitioned write keeps it
to one file per partition directory instead of
(input_partitions x partition_values) small files — the classic
small-files failure at scale.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def write_partitioned(
    df: DataFrame,
    path: str,
    partition_cols: Sequence[str],
    mode: str = "overwrite",
) -> None:
    """Parquet partitioned by ``partition_cols``, one file per
    partition value (repartitioned to avoid small-files explosion)."""
    (
        df.repartition(*partition_cols)
        .write.mode(mode)
        .partitionBy(*partition_cols)
        .parquet(path)
    )


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_col: str,
    n_buckets: int,
    sort_col: str | None = None,
    mode: str = "overwrite",
    path: str | None = None,
) -> None:
    """Save as a bucketed (optionally sorted) parquet table in the
    session catalog (external at ``path`` if given — the warehouse
    dir is static config and cannot move per-write). Joins and
    aggregations between tables bucketed the same way on the same
    key run shuffle-free."""
    w = df.write.mode(mode).format("parquet").bucketBy(n_buckets, bucket_col)
    if sort_col:
        w = w.sortBy(sort_col)
    if path:
        w = w.option("path", path)
    w.saveAsTable(table)


def read_table(spark: SparkSession, table: str) -> DataFrame:
    return spark.table(table)


# ---------------------------------------------------------------------------
# Incremental rollup (materialized-view maintenance): each ingest
# batch appends PARTIAL aggregate state (sum/count per key+window) —
# an append of O(distinct keys in batch) rows, never a rewrite of
# history — and readers merge partials with one small aggregate.
# sum/count are algebraic: merge(sum) = sum, merge(count) = sum, so
# avg is derived at read time. At 100 TB the raw events are written
# once and never re-scanned; the rollup table stays tiny and the
# merge cost is proportional to distinct (key, window), not events.
# ---------------------------------------------------------------------------


def append_rollup_increment(
    batch: DataFrame,
    path: str,
    keys: list[str],
    value: str,
    window: str = "1 day",
    ts: str = "ts",
) -> None:
    """Aggregate one ingest batch to partial (window, keys, sum,
    count) state and append it to the rollup table."""
    (
        batch.groupBy(F.window(ts, window).alias("w"), *keys)
        .agg(
            F.sum(value).alias("psum"),
            F.count(F.lit(1)).alias("pcount"),
        )
        .select(F.col("w.start").alias("w_start"), *keys, "psum", "pcount")
        .write.mode("append")
        .parquet(path)
    )


def read_rollup(spark: SparkSession, path: str, keys: list[str]) -> DataFrame:
    """Merge partial states: (w_start, keys, total, n, avg)."""
    partials = spark.read.parquet(path)
    return (
        partials.groupBy("w_start", *keys)
        .agg(F.sum("psum").alias("total"), F.sum("pcount").alias("n"))
        .withColumn("avg", F.col("total") / F.col("n").cast("double"))
    )


# ---------------------------------------------------------------------------
# Clustered (z-order-style) writes: interleave the bits of the
# cluster columns and range-sort by that key before writing, so each
# output file covers a tight hyper-rectangle of the cluster space.
# Parquet keeps per-file/row-group min-max stats; a point or range
# filter on ANY clustered column then prunes most files at scan time
# (data skipping) instead of reading everything. This is the
# open-source shape of Delta/Iceberg OPTIMIZE ZORDER.
# ---------------------------------------------------------------------------


def _interleave(ids: list, bits: int) -> F.Column:
    """Interleave ``bits``-bit non-negative ids, bit b of column ci
    landing at position b*len(ids)+ci."""
    parts = []
    for ci, v in enumerate(ids):
        for b in range(bits):
            parts.append(
                F.shiftleft(
                    F.shiftright(v, b).bitwiseAND(F.lit(1)), b * len(ids) + ci
                )
            )
    out = parts[0]
    for p in parts[1:]:
        out = out.bitwiseOR(p)
    return out


def write_clustered(
    df: DataFrame,
    path: str,
    cols: list[str],
    n_files: int = 8,
    bits_per_col: int = 6,
) -> None:
    """Range-sort by a z-value into ``n_files`` files so each file
    covers a tight hyper-rectangle of the cluster space.

    Dimensions are RANK-normalized before interleaving: each column
    maps to an equi-depth bucket id from approxQuantile boundaries
    (a driver-side list of <= 2^bits values — one sketch pass, no
    shuffle). Interleaving raw values instead would let the column
    with the widest magnitude dominate every split and leave the
    narrow columns unclustered — the same reason Delta's ZORDER uses
    range-partition ids, not raw bits.
    """
    n_buckets = 1 << bits_per_col
    ids = []
    for c in cols:
        qs = [i / n_buckets for i in range(1, n_buckets)]
        bounds = df.stat.approxQuantile(c, qs, 0.001)
        bucket = F.lit(0).cast("long")
        for b in sorted(set(bounds)):
            bucket = bucket + (F.col(c) > F.lit(b)).cast("long")
        ids.append(bucket)
    (
        df.withColumn("__z", _interleave(ids, bits_per_col))
        .repartitionByRange(n_files, "__z")
        .sortWithinPartitions("__z")
        .drop("__z")
        .write.mode("overwrite")
        .parquet(path)
    )


def compact(
    spark: SparkSession,
    path: str,
    out_path: str,
    target_file_mb: int = 128,
) -> int:
    """Rewrite a small-files parquet directory into ~target-sized
    files; returns the file count written. The streaming/incremental
    sinks above (foreachBatch, rollup appends) accumulate one file
    per batch — thousands of tiny files turn every downstream scan
    into a listing + open storm. Sizing from the ACTUAL input bytes
    (not row counts) keeps output files near the row-group sweet
    spot regardless of schema width.
    """
    import glob as _glob
    import os as _os

    files = _glob.glob(f"{path}/**/*.parquet", recursive=True)
    total_bytes = sum(_os.path.getsize(f) for f in files)
    n_files = max(1, round(total_bytes / (target_file_mb * 1024 * 1024)))
    (
        spark.read.parquet(path)
        .repartition(n_files)
        .write.mode("overwrite")
        .parquet(out_path)
    )
    return n_files


def merge_upsert(
    spark: SparkSession,
    target_path: str,
    updates: DataFrame,
    keys: list[str],
    staging_path: str | None = None,
) -> None:
    """MERGE INTO emulation for plain parquet: update-or-insert
    ``updates`` into the table at ``target_path`` by ``keys``.

    Updated rows replace matched target rows wholesale (the usual
    "WHEN MATCHED THEN UPDATE SET *" / "WHEN NOT MATCHED THEN
    INSERT *"). Without a transactional format the rewrite stages to
    a sibling directory and swaps, so a failed job never leaves a
    half-written target; on Delta/Iceberg this function is replaced
    by the native MERGE which rewrites only touched files.

    Scale shape: one left-anti join (surviving target rows) keyed by
    the merge keys + one union — the target's unmatched partitions
    stream through untouched.
    """
    target = spark.read.parquet(target_path)
    survivors = target.join(
        updates.select(*keys).distinct(), keys, "left_anti"
    )
    merged = survivors.unionByName(updates)
    staging = staging_path or _sibling_staging(target_path, "merge_stage")
    merged.write.mode("overwrite").parquet(staging)
    _swap_in(staging, target_path)


def _sibling_staging(target_path: str, prefix: str) -> str:
    """Staging directory NEXT TO the target (same filesystem), so the
    promote step in _swap_in is a true atomic os.rename. Staging on
    /tmp (the old tempfile.mkdtemp default) often crosses filesystems,
    where shutil.move degrades to copy+delete — a mid-copy crash then
    leaves a PARTIAL target directory and a rollback that can't
    rename over it."""
    import os
    import uuid

    parent = os.path.dirname(os.path.abspath(target_path)) or "."
    path = os.path.join(parent, f"{prefix}-{uuid.uuid4().hex[:8]}")
    os.makedirs(path, exist_ok=True)
    return path


def _swap_in(staging: str, target_path: str) -> None:
    """Retire-then-promote rename swap: the old table is moved aside
    (cheap metadata op) before the staged result takes its place, so
    no failure point leaves zero copies on disk — a crash between the
    renames leaves the retired directory recoverable by hand. True
    atomicity needs a transactional table format; this is the best
    plain-parquet-on-a-filesystem can do, and on an object store (no
    atomic dir rename) use Delta/Iceberg MERGE instead."""
    import os
    import shutil
    import uuid

    retired = f"{target_path}.retired-{uuid.uuid4().hex[:8]}"
    os.rename(target_path, retired)
    try:
        shutil.move(staging, target_path)
    except BaseException:
        # If the move crossed filesystems (caller-supplied staging on
        # another device), it may have died mid-copy leaving a PARTIAL
        # target — clear it or the rollback rename raises ENOTEMPTY
        # and the good copy stays stranded in the retired dir.
        if os.path.exists(target_path):
            shutil.rmtree(target_path, ignore_errors=True)
        os.rename(retired, target_path)  # roll back: old table intact
        raise
    shutil.rmtree(retired)


def delete_rows(
    spark: SparkSession,
    target_path: str,
    delete_keys: DataFrame,
    keys: list[str],
    staging_path: str | None = None,
) -> int:
    """Right-to-erasure / tombstone propagation for plain parquet:
    rewrite the table WITHOUT any row matching ``delete_keys`` —
    one broadcast-size anti-join streamed through, same
    retire-then-promote swap as merge_upsert. Returns rows deleted.

    Scale shape: the delete-key set (user ids under erasure) is tiny
    against the table, so the anti-join broadcasts it and every
    partition rewrites in parallel; a partitioned table whose
    partition column is among ``keys`` would instead prune to the
    affected partitions (partial rewrite) — that variant belongs to a
    transactional format's DELETE. At 100 TB run this as the same
    periodic compaction pass that merge_upsert rides."""
    from pyspark.sql import functions as F

    target = spark.read.parquet(target_path)
    dk = delete_keys.select(*keys).distinct()
    survivors = target.join(F.broadcast(dk), keys, "left_anti")
    n_before = target.count()
    staging = staging_path or _sibling_staging(target_path, "delete_stage")
    survivors.write.mode("overwrite").parquet(staging)
    n_after = spark.read.parquet(staging).count()
    _swap_in(staging, target_path)
    return n_before - n_after


def footer_stats(
    spark: SparkSession, path: str, cols: Sequence[str]
) -> dict[str, dict[str, object]]:
    """min/max/count per column answered from parquet FOOTERS — a
    metadata-only scan (PushedAggregation), no row groups read.
    Requires the v2 parquet reader + aggregate pushdown; both are
    enabled for this query and restored after. The 100 TB use:
    freshness/completeness checks over a whole table for the cost of
    a file listing.

    Pushdown only engages for un-filtered global aggregates; any
    predicate falls back to a normal scan (correct, just not free).
    """
    conf = spark.conf
    prev_push = conf.get("spark.sql.parquet.aggregatePushdown", "false")
    prev_v1 = conf.get("spark.sql.sources.useV1SourceList", None)
    conf.set("spark.sql.parquet.aggregatePushdown", "true")
    conf.set("spark.sql.sources.useV1SourceList", "")
    try:
        df = spark.read.parquet(path)
        aggs = [F.count(F.lit(1)).alias("__n")]
        for c in cols:
            aggs += [F.min(c).alias(f"__min_{c}"), F.max(c).alias(f"__max_{c}")]
        row = df.agg(*aggs).first()
        return {
            c: {"min": row[f"__min_{c}"], "max": row[f"__max_{c}"], "count": row["__n"]}
            for c in cols
        }
    finally:
        conf.set("spark.sql.parquet.aggregatePushdown", prev_push)
        if prev_v1 is None:
            conf.unset("spark.sql.sources.useV1SourceList")
        else:
            conf.set("spark.sql.sources.useV1SourceList", prev_v1)


# ---------------------------------------------------------------------------
# Histogram quantile parts: the numeric mergeable-summary sink.
# Each ingest batch appends per-(window, bin) counts; any date range
# answers any quantile by merging parts — the event stream is read
# once at ingest and NEVER re-scanned at query time (the storable
# form of queries.q_hist_quantiles, and the deterministic cousin of
# the HLL sketch parts: bin counts are exact ints, so estimates are
# reproducible and bounded by bin width).
# ---------------------------------------------------------------------------


def write_increment(
    parts: DataFrame, path: str, batch_id: int | None = None
) -> None:
    """Land one ingest batch's aggregated parts exactly once.

    Without ``batch_id`` the parts are appended. With it (the
    foreachBatch epoch) they land in a ``batch_id=`` partition under
    dynamic overwrite, so a REPLAYED batch replaces its own prior
    parts instead of double-counting — the exactly-once contract for
    non-transactional sinks. Readers merge all parts and are
    oblivious to the extra partition column. Shared by the histogram,
    sketch (CMS/HLL/KMV/AMS) and streaming dedup-probe sinks."""
    if batch_id is None:
        parts.write.mode("append").parquet(path)
        return
    (
        parts.withColumn("batch_id", F.lit(int(batch_id)))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch_id")
        .parquet(path)
    )


def append_histogram_increment(
    batch: DataFrame,
    path: str,
    value: str,
    bin_width_micros: int = 100_000_000,
    window: str = "1 day",
    ts: str = "ts",
    batch_id: int | None = None,
) -> None:
    """Aggregate one ingest batch to (window, bin, cnt) and append.

    With ``batch_id`` (the foreachBatch epoch) the parts land in a
    batch_id partition under dynamic overwrite, so a REPLAYED batch
    replaces its own prior parts instead of double-counting — the
    exactly-once contract for non-transactional sinks (same pattern
    as the foreachBatch order sink; read side merges by summation and
    is oblivious to the extra partition column)."""
    # Floor-division binning: Spark's integer DIV truncates toward
    # zero, which would collapse negative values into a double-width
    # bin straddling 0 and flip read_quantiles' bin-lower-bound
    # estimate into an upper bound for negative bins. pmod is always
    # non-negative, so (v - pmod(v, W)) DIV W is exact floor(v / W)
    # for any sign.
    micros = f"CAST(FLOOR({value} * 1000000 + 0.5) AS BIGINT)"
    parts = (
        batch.groupBy(
            F.window(ts, window).alias("w"),
            F.expr(
                f"({micros} - pmod({micros}, {bin_width_micros})) "
                f"DIV {bin_width_micros}"
            ).alias("bin"),
        )
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(F.col("w.start").alias("w_start"), "bin", "cnt")
    )
    write_increment(parts, path, batch_id)


def read_quantiles(
    spark: SparkSession,
    path: str,
    ps: list[float],
    bin_width_micros: int = 100_000_000,
    lo: "object | None" = None,
    hi: "object | None" = None,
) -> DataFrame:
    """Quantile estimates (bin lower bounds) for any window range by
    merging stored parts. The windows predicate prunes part files;
    everything downstream is the tiny bin relation."""
    from pyspark.sql import Window

    parts = spark.read.parquet(path)
    if lo is not None:
        parts = parts.filter(F.col("w_start") >= F.lit(lo))
    if hi is not None:
        parts = parts.filter(F.col("w_start") < F.lit(hi))
    merged = parts.groupBy("bin").agg(F.sum("cnt").alias("cnt"))
    cum = merged.select(
        "bin",
        F.sum("cnt").over(Window.orderBy("bin")).alias("cum"),
        F.sum("cnt").over(Window.partitionBy()).alias("n"),
    )
    pcol = F.explode(F.array(*[F.lit(p) for p in ps])).alias("p")
    return (
        cum.crossJoin(F.broadcast(spark.range(1).select(pcol)))
        .filter(F.col("cum") >= F.ceil(F.col("p") * F.col("n")))
        .groupBy("p", "n")
        .agg(
            (F.min("bin") * F.lit(bin_width_micros))
            .cast("long")
            .alias("est_lo_micros")
        )
    )


def write_bloom_filtered(
    df: DataFrame,
    path: str,
    bloom_cols: Sequence[str],
    expected_ndv: int = 1_000_000,
    mode: str = "overwrite",
) -> None:
    """Parquet with per-column BLOOM FILTERS for the named columns —
    data skipping for point lookups on high-cardinality values
    (content hashes, doc ids, user ids) where min/max stats are
    useless: every row group spans the whole hash range, so only a
    bloom probe can prove "this id is not in this row group" without
    reading it. parquet-mr consults the blooms at scan time for
    equality predicates; the cost is ~1.2 bytes/NDV of extra footer
    payload per row group (size the ndv hint honestly — an undersized
    bloom saturates and prunes nothing).
    """
    w = df.write.mode(mode)
    for c in bloom_cols:
        w = w.option(f"parquet.bloom.filter.enabled#{c}", "true").option(
            f"parquet.bloom.filter.expected.ndv#{c}", str(expected_ndv)
        )
    w.parquet(path)


def write_training_shards(
    df: DataFrame,
    path: str,
    id_col: str = "doc_id",
    n_shards: int = 16,
    seed: str = "shard",
    files_per_shard: int = 1,
) -> None:
    """The deterministic global shuffle a training run consumes:
    every row lands in shard ``pmod(hash60(id), n_shards)`` and rows
    inside a shard are ordered by their hash — both layout- and
    ingestion-order-invariant, so re-running the pipeline over a
    recompacted copy of the corpus produces BIT-IDENTICAL shards.
    Dynamic partition layout ``shard=K/``; q_shard_balance is the
    audit query for the resulting skew.

    ``files_per_shard=1`` writes one file per shard (one task owns a
    whole shard) — which caps write parallelism AND per-task sort
    size at n_shards tasks: at 100 TB / 16 shards one task would sort
    and write ~6 TB. ``files_per_shard=k`` removes that bound by
    range-splitting each shard's 60-bit hash space into k CONTIGUOUS,
    value-determined sub-ranges (``file_id = _h DIV ceil(2^60/k)`` —
    no sampling, so sub-file contents are still a pure function of
    the data): n_shards*k write tasks, layout
    ``shard=K/file_id=J/``, and concatenating a shard's file_id dirs
    in lexicographic order (ids are zero-padded) reproduces the
    single-file hash order bit-for-bit."""
    from frames_spark.functions.hashing import hash60

    h = hash60(F.col(id_col).cast("string"), seed=seed)
    out = df.withColumn("shard", F.pmod(h, F.lit(n_shards))).withColumn(
        "_h", h
    )
    if files_per_shard <= 1:
        (
            out.repartition(n_shards, F.col("shard"))
            .sortWithinPartitions("shard", "_h", id_col)
            .drop("_h")
            .write.mode("overwrite")
            .partitionBy("shard")
            .parquet(path)
        )
        return
    span = -(-(1 << 60) // files_per_shard)  # ceil(2^60 / k)
    (
        out.withColumn(
            "file_id", F.format_string("%05d", F.expr(f"_h DIV {span}"))
        )
        .repartition(
            n_shards * files_per_shard, F.col("shard"), F.col("file_id")
        )
        .sortWithinPartitions("shard", "file_id", "_h", id_col)
        .drop("_h")
        .write.mode("overwrite")
        .partitionBy("shard", "file_id")
        .parquet(path)
    )
