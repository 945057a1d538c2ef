"""Persisted cross-run dedup index: the daily-crawl-increment shape.

The in-flight dedup tiers (minhash.py, jaccard.py) operate within one
corpus read. Production ingest is incremental: a new batch of
documents must dedup against EVERYTHING already ingested without
re-scanning it. This module stores the MinHash band-bucket index as a
VERSIONED parquet table (sources/versioned.py — snapshot isolation
means a probe running while another run appends still reads one
consistent snapshot, and history keeps every pre-append index
queryable), probes a new batch against it for candidate pairs, and
appends the batch's own rows as a new snapshot.

Two storage modes, probe shape identical:
- **upsert mode** (``probe_and_append``): versioned table, exact
  replace-semantics for re-appearing docs — but copy-on-write at
  table granularity, so each append rewrites the whole index. Right
  while the index is small relative to a rewrite budget.
- **increment mode** (``probe_increment`` + ``compact_index``): each
  batch lands as its own ``inc=<key>/`` partition dir — write cost
  O(batch) at ANY index size, replay-idempotent per key; re-crawled
  docs carry both signature sets (extra recall, never lost pairs)
  until a periodic compaction keeps each doc's latest. This is the
  100 TB daily shape.

Scale shape: the probe is an equi-join of the BATCH's (band,
band_key) rows against the stored index — shuffle keyed by band hash,
cost bounded by the arriving batch's bucket membership, never a
corpus re-scan. The proven invariant (tests/test_dedup_index.py and
the registered q_incremental_dedup, whose oracle is the FULL
recompute SQL): the union of every batch's probe pairs equals
lsh_candidate_pairs over the full corpus. ``max_bucket`` drops hot
buckets at probe time by the bucket's CURRENT union size (with a
guard the invariant becomes per-probe-time semantics: a bucket that
outgrows the cap stops yielding new pairs, but pairs already emitted
by earlier probes stand — exactly what an append-only pipeline wants).

The clustering side of incremental dedup is dedup/cluster.py's
update_components; together: probe_and_append -> update_components
bounds the whole daily increment by the batch size.

Frames ref: no equivalent (LLM-pipeline extension, SURVEY.md §2b).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from frames_spark.dedup.minhash import banded_signatures, minhash_signatures
from frames_spark.sources.sink import write_increment
from frames_spark.sources.versioned import (
    read_versioned,
    upsert_versioned,
    write_versioned,
)

__all__ = [
    "band_rows",
    "compact_index",
    "foreach_batch_probe",
    "probe_and_append",
    "probe_increment",
    "read_index",
    "read_pair_log",
]


def band_rows(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    num_hashes: int = 8,
    bands: int = 4,
    rows_per_band: int = 2,
) -> DataFrame:
    """(doc, band, band_key) — the storable banded-signature rows of a
    batch (bands * rows_per_band must equal num_hashes)."""
    sigs = minhash_signatures(df, id_col, text_col, n=n, num_hashes=num_hashes)
    return banded_signatures(sigs, bands, rows_per_band)


def read_index(spark: SparkSession, index_dir: str) -> DataFrame | None:
    """The published index snapshot, or None before the first batch."""
    try:
        return read_versioned(spark, index_dir)
    except FileNotFoundError:
        return None


def probe_and_append(
    spark: SparkSession,
    index_dir: str,
    batch: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 8,
    bands: int = 4,
    rows_per_band: int = 2,
    max_bucket: int | None = None,
) -> tuple[DataFrame, int]:
    """Dedup one arriving batch against the persisted index.

    Returns (candidate_pairs, new_index_version): every DISTINCT
    unordered pair (doc_a < doc_b) sharing a band bucket where at
    least one side is a batch document — new-vs-old AND new-vs-new —
    then appends the batch's banded rows as a new index snapshot
    (re-appearing doc ids REPLACE their old signatures: the upsert's
    left-anti keeps one signature set per doc).

    The pair relation must be materialized (or collected) BEFORE a
    later batch is appended if exact per-batch semantics matter —
    like every versioned read, it is lazily bound to the snapshot
    version current at call time, so it stays correct even then; the
    caveat is only that the probe cost then pays the newer snapshot's
    bucket sizes.
    """
    # persist the batch's band rows: the shingle->minhash lineage
    # would otherwise run twice (index write + the returned pair
    # plan); rows are 4/doc — tiny relative to text. The cache is
    # reclaimed by Spark's ContextCleaner once the caller drops the
    # pair DataFrame, so per-epoch streaming probes do not accumulate
    new = band_rows(
        batch,
        id_col,
        text_col,
        n=n,
        num_hashes=num_hashes,
        bands=bands,
        rows_per_band=rows_per_band,
    ).persist()
    from frames_spark.operators.caching import tie_cache

    old = read_index(spark, index_dir)
    pairs = _probe_pairs(new, old, max_bucket)
    if old is None:
        version = write_versioned(new, index_dir)
    else:
        version = upsert_versioned(spark, index_dir, new, keys=["doc"])
    return tie_cache(pairs, new), version


def _probe_pairs(
    new: DataFrame, old: DataFrame | None, max_bucket: int | None
) -> DataFrame:
    """DISTINCT (doc_a < doc_b) pairs sharing a band bucket where at
    least one side is a batch row — the shared probe of both index
    layouts."""
    union = new if old is None else old.unionByName(new)
    if max_bucket is not None:
        ok = (
            union.groupBy("band", "band_key")
            .agg(F.count(F.lit(1)).alias("sz"))
            .filter(F.col("sz") <= max_bucket)
            .select("band", "band_key")
        )
        union = union.join(ok, ["band", "band_key"], "left_semi")
        probe = new.join(ok, ["band", "band_key"], "left_semi")
    else:
        probe = new
    return (
        probe.alias("n")
        .join(union.alias("u"), ["band", "band_key"])
        .filter(F.col("n.doc") != F.col("u.doc"))
        .select(
            F.least(F.col("n.doc"), F.col("u.doc")).alias("doc_a"),
            F.greatest(F.col("n.doc"), F.col("u.doc")).alias("doc_b"),
        )
        .distinct()
    )


# --- append-only increment layout: the 100 TB daily shape ----------------
#
# upsert-mode probe_and_append is EXACT (re-appearing docs replace
# their signatures) but copy-on-write at table granularity: every
# append rewrites the whole index, so the daily cost grows with the
# INDEX, not the batch. The increment layout bounds the write by the
# batch: each increment lands as its own `inc=<key>/` partition dir
# (idempotent overwrite per key — a replayed day replaces itself),
# reads union all increments via partition discovery, and a periodic
# `compact_index` folds them (keeping each doc's rows from its
# LATEST increment, so re-crawled docs converge to one signature
# set). Between compactions a re-crawled doc carries both old and new
# signatures — extra recall, never lost pairs; callers wanting strict
# replace-semantics use upsert mode. Increment keys must be
# lexicographically increasing (the WARC-offset naming convention) so
# "latest" is well-defined.


def _read_increments(spark: SparkSession, index_dir: str) -> DataFrame | None:
    from pyspark.errors.exceptions.captured import AnalysisException

    try:
        # mergeSchema: pre-r8 increment dirs lack the inc0 column; a
        # single-footer inference picking one of those would silently
        # drop inc0 from compacted rows and break "latest wins"
        return spark.read.option("mergeSchema", "true").parquet(index_dir)
    except AnalysisException:
        return None


def probe_increment(
    spark: SparkSession,
    index_dir: str,
    batch: DataFrame,
    increment_key: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 8,
    bands: int = 4,
    rows_per_band: int = 2,
    max_bucket: int | None = None,
) -> DataFrame:
    """O(batch) probe+append against the increment-layout index:
    returns the batch's candidate pairs and lands its band rows under
    ``inc=<increment_key>/`` (overwrite — replays of the same key
    replace). See the layout note above for the semantics trade
    against upsert-mode ``probe_and_append``."""
    # The empty key would write a literal `inc=` partition, which
    # round-trips as a NULL inc column and silently breaks the
    # latest-wins comparisons (r9 advice #5).
    if (
        not increment_key
        or "/" in increment_key
        or increment_key.startswith((".", "_"))
    ):
        raise ValueError(f"invalid increment key: {increment_key!r}")
    if increment_key == COMPACTED_KEY:
        raise ValueError(
            f"increment key {increment_key!r} is reserved for compact_index"
        )
    # persisted for the same write+probe double-evaluation reason as
    # probe_and_append
    new = band_rows(
        batch,
        id_col,
        text_col,
        n=n,
        num_hashes=num_hashes,
        bands=bands,
        rows_per_band=rows_per_band,
    ).persist()
    old = _read_increments(spark, index_dir)
    if old is not None:
        # exclude THIS key's prior attempt: a replay probes the other
        # increments plus its own new rows (the first attempt's exact
        # semantics), and — critically — the partition filter prunes
        # the about-to-be-overwritten files out of the lazy pair
        # plan's scan, so the overwrite below cannot invalidate it
        old = old.filter(F.col("inc") != increment_key)
        if "inc0" in old.columns:
            # a replayed key may also live inside the compacted dir —
            # exclude by ORIGINAL key too (coalesce: pre-r8 rows carry
            # null inc0, and null != key would filter them out)
            old = old.filter(
                F.coalesce(F.col("inc0"), F.lit("")) != increment_key
            )
        old = old.drop("inc", "inc0")
    pairs = _probe_pairs(new, old, max_bucket)
    # inc0 mirrors the partition key as a DATA column: compaction folds
    # rows into one inc=compacted dir, and "latest increment wins" must
    # keep comparing the ORIGINAL keys (r7 advice: a compacted key that
    # sorts above later increment keys inverted the rule forever)
    new.withColumn("inc0", F.lit(increment_key)).write.mode(
        "overwrite"
    ).parquet(index_dir.rstrip("/") + f"/inc={increment_key}")
    from frames_spark.operators.caching import tie_cache

    return tie_cache(pairs, new)


# The single reserved increment key compaction folds into. Its sort
# position no longer matters: every row carries its ORIGINAL increment
# key in the inc0 data column, and "latest wins" compares inc0 — so a
# doc re-crawled after compaction (inc0='day-004') still beats its
# compacted rows (inc0='day-003') at the next compaction. (The old
# default 'zz-compacted' compared the DIRECTORY keys, so it sorted
# above every later 'day-NNN' increment and stale rows won forever.)
COMPACTED_KEY = "compacted"


def _effective_inc(df: DataFrame) -> F.Column:
    """The original increment key of a row: inc0 where present (rows
    written by probe_increment since r8, and all compacted rows),
    else the directory key (pre-r8 indexes)."""
    if "inc0" in df.columns:
        return F.coalesce(F.col("inc0"), F.col("inc"))
    return F.col("inc")


def compact_index(
    spark: SparkSession, index_dir: str, key: str = COMPACTED_KEY
) -> int:
    """Fold all increments into one ``inc=compacted`` dir, keeping each
    doc's rows from its LATEST original increment (re-crawled docs
    converge to one signature set). Each kept row keeps its original
    key in ``inc0``, so later increments still win per-doc at the next
    compaction regardless of how ``key`` sorts. Single-writer, like
    every sink in this repo; returns the number of rows kept."""
    from frames_spark.sources.versioned import _fs

    if not key or "/" in key or key.startswith((".", "_")):
        raise ValueError(f"invalid compaction key: {key!r}")
    df = _read_increments(spark, index_dir)
    if df is None:
        return 0
    eff = df.withColumn("inc0", _effective_inc(df))
    if key != COMPACTED_KEY:
        # A custom compaction key that collides with a LIVE original
        # increment key would make this compaction's output rows for
        # that key look fresh (inc == inc0) at the next compaction —
        # exactly the tie the structural rule below exists to break.
        # Refuse up front; one limit(1) probe against the index scan.
        if eff.filter(F.col("inc0") == key).limit(1).count():
            raise ValueError(
                f"compaction key {key!r} collides with an existing "
                "increment key"
            )
    # _pri: fresh increment dirs beat the compacted dir AT THE SAME
    # original key. A replayed key whose content CHANGED after its
    # rows were compacted would otherwise tie on inc0 and union the
    # stale compacted signatures with the fresh ones (r9 advice #1);
    # the replay is the latest attempt, so it wins the tie outright.
    # Priority is STRUCTURAL, not a key-literal test: fresh
    # probe_increment rows live in the directory named by their own
    # key (inc == inc0, with the pre-r8 null-inc0 coalesce), while
    # compacted rows live under the compaction key with inc0 carrying
    # the original (inc != inc0) — so compactions under ANY custom
    # key keep losing ties to fresh replays (r10 advice #2: the old
    # `inc.isin(key, COMPACTED_KEY)` literal test mis-ranked rows
    # from a PRIOR custom-key compaction as fresh).
    eff = eff.withColumn(
        "_pri",
        F.when(F.col("inc") == F.col("inc0"), F.lit(1)).otherwise(F.lit(0)),
    ).drop("inc")
    latest = (
        eff.groupBy("doc")
        .agg(F.max(F.struct("inc0", "_pri")).alias("_s"))
        .select("doc", "_s.inc0", "_s._pri")
    )
    # distinct: an UNCHANGED replayed pre-compaction key leaves the
    # same (doc, inc0, _pri) band rows twice — keep one copy
    kept = eff.join(latest, ["doc", "inc0", "_pri"]).drop("_pri").distinct()
    tmp = index_dir.rstrip("/") + "/_compact_tmp"
    kept.write.mode("overwrite").parquet(tmp)
    n_rows = spark.read.parquet(tmp).count()
    fs, jroot = _fs(spark, index_dir)
    for st in fs.listStatus(jroot):
        name = st.getPath().getName()
        if name.startswith("inc="):
            fs.delete(st.getPath(), True)
    _, jdst = _fs(spark, index_dir.rstrip("/") + f"/inc={key}")
    fs.rename(_fs(spark, tmp)[1], jdst)
    return n_rows


def foreach_batch_probe(
    index_dir: str,
    pairs_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    **params,
):
    """foreachBatch body for STREAMING incremental dedup: each
    microbatch probes the persisted index, lands its candidate pairs
    under a ``batch_id=`` partition with dynamic overwrite (the
    histogram-increment pattern: a REPLAYED epoch replaces its own
    prior parts instead of appending duplicates), then appends its
    signatures as a new index snapshot. probe_and_append itself is
    replay-idempotent (the re-probe yields the identical pair set and
    the upsert replaces), so a retried epoch converges regardless of
    where the previous attempt died.

    Usage::

        stream.writeStream.foreachBatch(
            foreach_batch_probe(index_dir, pairs_dir)
        ).trigger(availableNow=True).start()
    """

    def body(batch: DataFrame, batch_id: int) -> None:
        pairs, _ = probe_and_append(
            batch.sparkSession, index_dir, batch, id_col, text_col, **params
        )
        write_increment(pairs, pairs_dir, batch_id)

    return body


def read_pair_log(spark: SparkSession, pairs_dir: str) -> DataFrame:
    """Distinct candidate pairs accumulated by the streaming probe
    (the batch_id partition column is replay bookkeeping, not data)."""
    return spark.read.parquet(pairs_dir).select("doc_a", "doc_b").distinct()
