"""Tuned SparkSession builder.

Frames offers two execution modes — streaming (constant memory) and
in-core (reference: src/Frames/InCore.hs:152 ``inCoreSoA``). On Spark
both collapse into lazy DataFrame plans; the knobs that matter at
scale are AQE, Arrow transfer, shuffle partitioning, and a pinned UTC
session timezone (required for cross-engine oracle comparison).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

__all__ = ["get_spark", "DEFAULT_SHUFFLE_PARTITIONS"]

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def get_spark(
    app_name: str = "frames_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession tuned for this engine.

    Local mode here; on a real cluster the same confs apply, with
    ``shuffle_partitions`` sized to ~2-3x total executor cores and
    AQE coalescing down to actual data volume at runtime.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    # Topology-invariance knobs (r8 verdict #5): the grouped_rank
    # partition-id trap class only ever surfaced under a DIFFERENT
    # partition topology, so the exit checklist runs the full oracle
    # sweep once with SPARK_GRAFT_SHUFFLE_PARTITIONS=7 and
    # SPARK_GRAFT_AQE=0 — any result that depends on partition count,
    # partition ids, or AQE re-planning diverges from DuckDB there.
    env_shuffle = os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS")
    aqe = os.environ.get("SPARK_GRAFT_AQE", "1") != "0"
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        .config(
            "spark.sql.shuffle.partitions",
            str(
                shuffle_partitions
                or (int(env_shuffle) if env_shuffle else None)
                or DEFAULT_SHUFFLE_PARTITIONS
            ),
        )
        .config("spark.sql.adaptive.enabled", "true" if aqe else "false")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # AQE's coalescing floor (default 1 MiB) decides post-shuffle
        # parallelism from MAP OUTPUT BYTES, but several operators
        # amplify work after the shuffle read: the posting-list tiers
        # read ~10 MB of compact (shingle, docs) lists and explode
        # them to millions of candidate pairs, so the default floor
        # ran that expansion on 10 of 32 cores (measured r14). A
        # lower floor lets parallelismFirst actually reach the
        # cluster's default parallelism on compact-but-CPU-heavy
        # shuffles; it is scale-neutral (above ~cores x 1 MiB of
        # shuffle bytes the target size, total/parallelism, dominates
        # and the floor never binds). Env-overridable for A/B.
        .config(
            "spark.sql.adaptive.coalescePartitions.minPartitionSize",
            os.environ.get("SPARK_GRAFT_AQE_MIN_PARTITION", "64k"),
        )
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.compression.codec", "snappy")
        # Parquet TIMESTAMP(NANOS) has no Spark type; read as epoch-nanos
        # long and convert in the loader (sources/tables.py).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # Janino compiles generated classes into one JVM-wide LRU cache,
        # 100 classes by default. One pass over bench.py's 99 keys
        # compiles 1,451 distinct classes (sf0.01, local[4], with the
        # class-name setting below) and a pass over perfbench's olap and
        # curation operations 115 + 159, so the default evicted every
        # class before its next use and each timed perfbench pass
        # recompiled all 274. 4096 holds the registered-query working
        # set with ~2.8x headroom. A static conf: it takes effect only
        # when this call creates the JVM's first session; later
        # sessions share that cache.
        .config("spark.sql.codegen.cache.maxEntries", "4096")
        # The codegen stage id is part of the generated source, hence of
        # the cache key, and AQE numbers stages in the order they
        # materialize, which differs between runs of one query. With
        # ids kept and a 4096-entry cache, a second pass over the 99
        # keys still recompiled 114 classes and the first compiled
        # 1,727; without ids, 6 and 1,451. Plans and results do not
        # change, only which compiled class is reused.
        .config("spark.sql.codegen.useIdInClassName", "false")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
