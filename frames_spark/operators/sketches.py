"""Mergeable distinct-count sketches (HyperLogLog++).

THE 100 TB distinct-counting pattern: you never re-scan history to
answer "distinct users this quarter". Each ingest window materializes
a tiny HLL sketch row (binary column, ~KB); any time range is
answered by UNIONING the stored sketches — mergeability is the whole
point, and it is exactly what `approx_count_distinct` (a one-shot
scalar) cannot do. Spark 4 exposes the Datasketches HLL family:
``hll_sketch_agg`` / ``hll_union_agg`` / ``hll_sketch_estimate``.

Pairs with the rollup sink (sources/sink.py): append one sketch row
per ingest batch, merge O(windows) rows at read — never O(events).

Sketch bytes are engine-specific, so registered queries over these
are rows-only; exactness bounds are pinned by tests
(tests/test_sketches.py) against exact distinct counts.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from frames_spark.sources.sink import write_increment


def sketch_parts(
    df: DataFrame,
    part_cols: Sequence[str],
    key_col: str,
    lgk: int = 12,
    sketch_col: str = "sketch",
) -> DataFrame:
    """One HLL sketch row per partition value — the storable form.
    lgk=12 -> ~2.5 KB per sketch, ~1.6% relative standard error."""
    return df.groupBy(*part_cols).agg(
        F.hll_sketch_agg(F.col(key_col), F.lit(lgk)).alias(sketch_col)
    )


def merge_sketches(
    parts: DataFrame,
    group_cols: Sequence[str] = (),
    sketch_col: str = "sketch",
    estimate_col: str = "n_distinct_est",
) -> DataFrame:
    """Union stored sketches (optionally re-grouped coarser) and
    estimate. Input is the tiny parts table, never the raw events."""
    grouped = (
        parts.groupBy(*group_cols) if group_cols else parts.groupBy()
    )
    merged = grouped.agg(F.hll_union_agg(F.col(sketch_col)).alias(sketch_col))
    return merged.select(
        *group_cols,
        F.hll_sketch_estimate(F.col(sketch_col)).alias(estimate_col),
    )


def mg_candidates(
    tokens: DataFrame, token_col: str = "tok", m: int = 256
) -> DataFrame:
    """Misra-Gries candidate heavy hitters, one summary per partition.

    The classic bounded-memory frequent-items sketch: m counters per
    partition; a token with partition frequency > n_p/(m+1) is
    guaranteed to survive its partition's summary, so the UNION of
    per-partition candidate sets contains every token with GLOBAL
    frequency > N/(m+1) (a global heavy hitter must clear the
    threshold in at least one partition). Output is tiny —
    O(m x partitions) rows — and partition-layout-DEPENDENT, which is
    why callers recount exactly (see heavy_hitters): the sketch only
    prunes, the recount decides.

    Runs as mapInPandas: Misra-Gries is inherently sequential state
    per partition — the legitimate Pandas case, and it touches each
    token once with O(m) memory.
    """

    def summarize(batches):
        import pandas as pd

        counters: dict[str, int] = {}
        for pdf in batches:
            for t in pdf[token_col]:
                if t in counters:
                    counters[t] += 1
                elif len(counters) < m:
                    counters[t] = 1
                else:
                    dead = []
                    for k in counters:
                        counters[k] -= 1
                        if counters[k] == 0:
                            dead.append(k)
                    for k in dead:
                        del counters[k]
        yield pd.DataFrame({token_col: list(counters)})

    return tokens.select(token_col).mapInPandas(
        summarize, f"{token_col} string"
    )


def heavy_hitters(
    tokens: DataFrame, token_col: str = "tok", phi: float = 0.02, m: int = 256
) -> DataFrame:
    """Exact phi-heavy hitters via MG pruning + exact recount.

    At 100 TB the naive `groupBy(token).count()` shuffles a partial
    row for every distinct token per mapper — the vocabulary, times
    the partition count. This path shuffles only the CANDIDATES:
    MG (above) yields a provable superset of the phi-heavy tokens for
    phi >= 1/(m+1); a broadcast semi-join keeps just candidate tokens
    for the exact recount, and the final threshold filter makes the
    output deterministic (exact counts, exact compare) no matter how
    the sketch partitioned. Requires phi > 1/(m+1).
    """
    if phi <= 1.0 / (m + 1):
        raise ValueError(f"phi={phi} needs m > {1.0 / phi - 1:.0f}")
    cands = mg_candidates(tokens, token_col, m).distinct()
    total = tokens.groupBy().agg(F.count(F.lit(1)).alias("n_total"))
    return (
        tokens.join(F.broadcast(cands), token_col, "left_semi")
        .groupBy(token_col)
        .agg(F.count(F.lit(1)).alias("cnt"))
        .crossJoin(F.broadcast(total))
        .filter(F.col("cnt") >= F.ceil(F.lit(phi) * F.col("n_total")))
        .select(token_col, "cnt", "n_total")
    )


# ---------------------------------------------------------------------------
# Count-Min sketch — the frequency-estimation companion of the HLL
# family. Unlike HLL's engine-opaque bytes, this CMS hashes with the
# portable md5-based hash60, so the ENTIRE sketch (and any estimate
# read from it) is reproducible bit-for-bit in the SQL oracle — a
# registered query over it gets a full value check, not rows-only.
# Representation: a (row, col, c) relation of depth×width cells;
# mergeable by union + re-aggregation (counts add), exactly the
# rollup-sink pattern. Estimates carry CMS's one-sided guarantee:
# est >= true, est <= true + eps·N with prob 1-delta
# (eps = e/width, delta = e^-depth).
# ---------------------------------------------------------------------------


def count_min_build(
    df: DataFrame, key_col: str, depth: int = 4, width: int = 256
) -> DataFrame:
    """(row, col, c): one map-side-combining aggregation over
    depth hashes per input row (the stream is never re-scanned per
    hash row — the 4 probes explode row-locally)."""
    from frames_spark.functions.hashing import hash60

    probes = F.array(
        *[
            F.struct(
                F.lit(j).alias("row"),
                (hash60(F.col(key_col), seed=f"cms{j}") % width).alias("col"),
            )
            for j in range(depth)
        ]
    )
    return (
        df.select(F.explode(probes).alias("b"))
        .groupBy(F.col("b.row").alias("row"), F.col("b.col").alias("col"))
        .agg(F.count(F.lit(1)).alias("c"))
    )


def count_min_merge(*sketches: DataFrame) -> DataFrame:
    """Merged sketch: counts add cell-wise (the mergeability that
    makes per-window sketch rows answer any time range)."""
    out = sketches[0]
    for s in sketches[1:]:
        out = out.unionByName(s)
    return out.groupBy("row", "col").agg(F.sum("c").alias("c"))


def count_min_estimate(
    sketch: DataFrame,
    keys: DataFrame,
    key_col: str,
    depth: int = 4,
    width: int = 256,
) -> DataFrame:
    """(key, est): min over the key's depth cells. The keys relation
    is the small side (a probe set) — broadcast onto the sketch."""
    from frames_spark.functions.hashing import hash60

    probes = keys.select(F.col(key_col).alias("key")).distinct().select(
        "key",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("row"),
                        (hash60(F.col("key"), seed=f"cms{j}") % width).alias(
                            "col"
                        ),
                    )
                    for j in range(depth)
                ]
            )
        ).alias("b"),
    ).select("key", F.col("b.row").alias("row"), F.col("b.col").alias("col"))
    return (
        probes.join(sketch, ["row", "col"], "left")
        .groupBy("key")
        .agg(F.min(F.coalesce(F.col("c"), F.lit(0))).alias("est"))
    )


def append_cms_increment(
    batch: DataFrame,
    path: str,
    key_col: str,
    depth: int = 4,
    width: int = 256,
    batch_id: int | None = None,
) -> None:
    """Count-Min increment sink: aggregate one ingest batch to its
    (row, col, c) cells and land them under a batch_id partition with
    dynamic overwrite — a REPLAYED foreachBatch epoch replaces its own
    prior parts instead of double-counting (the exactly-once contract
    for non-transactional sinks, same pattern as the histogram
    increment sink). ``read_cms`` merges by summation, oblivious to
    the partition column — the stored sketch answers any frequency
    probe without re-scanning history."""
    parts = count_min_build(batch, key_col, depth=depth, width=width)
    write_increment(parts, path, batch_id)


def read_cms(spark, path: str) -> DataFrame:
    """The merged sketch from every stored increment (counts add)."""
    return (
        spark.read.parquet(path)
        .groupBy("row", "col")
        .agg(F.sum("c").alias("c"))
    )


# ---------------------------------------------------------------------------
# HyperLogLog (Flajolet et al. 2007) with ORACLE-EXACT cells — the
# same portability trade count_min_build makes: the hash is the
# md5-based hash60, so the entire cell relation (bucket, max_rho) is
# reproducible bit-for-bit in any engine. Engine-native HLL (Spark's
# approx_count_distinct) stays available for raw speed; this one is
# for sketches that must be STORED, MERGED across systems, and
# value-checked. Merge = union + re-max, associative and idempotent,
# exactly like the CMS cell relation.
# ---------------------------------------------------------------------------
HLL_P = 6  # 2^6 = 64 buckets
HLL_ALPHA = 0.709  # the published alpha_64 constant


def hll_alpha(m: int) -> float:
    """The published bias-correction constant for m registers
    (Flajolet et al. 2007 §4): tabulated for m <= 64, the closed form
    0.7213 / (1 + 1.079 / m) above. A plain Python float so the SAME
    literal lands in Spark (F.lit) and any f-string oracle SQL —
    repr() round-trips doubles exactly."""
    if m <= 16:
        return 0.673
    if m <= 32:
        return 0.697
    if m <= 64:
        return HLL_ALPHA
    return 0.7213 / (1 + 1.079 / m)


def hll_cells(
    df: DataFrame, key_col: str, seed: str = "hll", p: int = HLL_P
) -> DataFrame:
    """(bucket, max_rho): the HLL register relation over the distinct
    values of ``key_col``. rho = 1 + leading zeros of the remaining
    60-p hash bits (bin() strips leading zeros identically in Spark
    and DuckDB, so rho = (60-p) - length(bin(rem)) + 1; rem = 0 means
    all remaining bits are zero -> rho 60-p+1). One groupBy, map-side
    combined."""
    from frames_spark.functions.hashing import hash60

    m = 1 << p
    h = hash60(F.col(key_col).cast("string"), seed=seed)
    keyed = df.select((h % m).alias("bucket"), h.alias("_h"))
    rem = (F.col("_h") - F.col("bucket")) / m
    rem = rem.cast("long")
    rho = F.when(rem == 0, F.lit(60 - p + 1)).otherwise(
        F.lit(60 - p) - F.length(F.bin(rem)) + 1
    )
    return (
        keyed.withColumn("rho", rho.cast("int"))
        .groupBy("bucket")
        .agg(F.max("rho").alias("max_rho"))
    )


def hll_merge(*cells: DataFrame) -> DataFrame:
    """Merge register relations: union + re-max (associative,
    idempotent — replay-safe)."""
    from functools import reduce

    merged = reduce(DataFrame.unionAll, cells)
    return merged.groupBy("bucket").agg(F.max("max_rho").alias("max_rho"))


def hll_estimate(cells: DataFrame, p: int = HLL_P) -> DataFrame:
    """(est_micros, raw_micros, n_empty): est applies the standard
    small-range linear-counting correction (raw HLL overshoots at
    n << m); raw is the uncorrected alpha * m^2 / (sum 2^-rho +
    n_empty). Every 2^-rho term is an exact dyadic double and the
    sum has <= m terms; one ln and one division close in double —
    deterministic on any engine, micros-quantized.

    Determinism caveat (r10 advice #3): the linear-counting branch's
    ln is the one operation here WITHOUT a correct-rounding
    guarantee — JVM Math.log is spec'd to 1 ulp (semi-monotonic),
    and DuckDB's std::log is whatever libm provides — so the two
    engines may disagree by 1 ulp on m * ln(m / empty), and
    floor(est * 1e6 + 0.5) flips iff that ulp lands within ~2 ulp of
    a .5 boundary (P ~ 1e-10 per evaluation at these magnitudes; the
    division and multiply are both correctly rounded, so the ln is
    the only source). If an HLL *_micros column ever mismatches by
    exactly +-1 in a sweep, this is the cause — not a logic bug; the
    four p=12 value-gated oracles (q_sketch_users,
    q_active_users_sketch, q_sketch_users_weekly, q_sketch_overlap)
    all ride this branch at current SFs."""
    m = 1 << p
    agg = cells.agg(
        F.sum(F.pow(F.lit(2.0), -F.col("max_rho"))).alias("z"),
        F.count(F.lit(1)).alias("nb"),
    )
    empty = (F.lit(m) - F.col("nb")).cast("double")
    raw = F.lit(hll_alpha(m) * m * m) / (F.col("z") + empty)
    # the standard small-range correction (Flajolet §4): below 2.5m
    # with empty registers, linear counting m*ln(m/empty) is the
    # unbiased regime — raw HLL overshoots badly at n << m
    corrected = F.when(
        (raw <= F.lit(2.5 * m)) & (empty > 0),
        F.lit(float(m)) * F.log(F.lit(float(m)) / empty),
    ).otherwise(raw)
    return agg.select(
        F.floor(corrected * 1_000_000 + F.lit(0.5)).cast("long").alias(
            "est_micros"
        ),
        F.floor(raw * 1_000_000 + F.lit(0.5)).cast("long").alias(
            "raw_micros"
        ),
        (F.lit(m) - F.col("nb")).cast("long").alias("n_empty"),
    )


# ---------------------------------------------------------------------------
# Bloom filter with ORACLE-EXACT bits (Bloom 1970) — same portability
# trade as hll_cells/count_min_build: positions come from k seeded
# md5 hash60 draws, so the bit-set RELATION (one row per set bit) is
# reproducible in any engine, mergeable by plain UNION (bitwise OR),
# and value-gateable. Spark's native DataFrameStatFunctions bloom
# stays the raw-speed option; this one is for filters that are
# stored, shipped across systems, and audited.
# ---------------------------------------------------------------------------
BLOOM_MBITS = 1 << 17
BLOOM_K = 7


def bloom_bits(
    df: DataFrame,
    key_col: str,
    mbits: int = BLOOM_MBITS,
    k: int = BLOOM_K,
    seed: str = "bf",
) -> DataFrame:
    """(pos): the distinct set-bit positions for the distinct values
    of ``key_col`` — k seeded hashes per key, one explode, one
    distinct. Merge of two filters = unionAll + distinct."""
    from frames_spark.functions.hashing import hash60

    s = F.col(key_col).cast("string")
    positions = F.array(
        *[hash60(s, seed=f"{seed}{j}") % mbits for j in range(k)]
    )
    return (
        df.select(F.explode(positions).alias("pos")).distinct()
    )


def bloom_probe(
    probes: DataFrame,
    bits: DataFrame,
    key_col: str,
    mbits: int = BLOOM_MBITS,
    k: int = BLOOM_K,
    seed: str = "bf",
) -> DataFrame:
    """(key, maybe_present): Bloom membership per DISTINCT probe key —
    maybe_present iff ALL k positions are set. The bit relation
    joins on pos (at most mbits rows, Aggregate-rooted: broadcast).
    Probe keys dedupe first: a key appearing d times would otherwise
    explode to d*k rows and the nset==k test would return a false
    NEGATIVE (r7 advice — Bloom filters must never false-negative)."""
    from frames_spark.functions.hashing import hash60

    s = F.col("key").cast("string")
    positions = F.array(
        *[hash60(s, seed=f"{seed}{j}") % mbits for j in range(k)]
    )
    exploded = probes.select(F.col(key_col).alias("key")).distinct().select(
        "key", F.explode(positions).alias("pos")
    )
    hits = (
        exploded.join(
            F.broadcast(bits.withColumn("_set", F.lit(1))), "pos", "left"
        )
        .groupBy("key")
        .agg(F.sum(F.coalesce("_set", F.lit(0))).alias("nset"))
    )
    return hits.select(
        "key", (F.col("nset") == k).alias("maybe_present")
    )


# ---------------------------------------------------------------------------
# KMV (K-Minimum-Values / bottom-k) sketch (Bar-Yossef et al. 2002;
# Beyer et al. SIGMOD'07 for the unbiased estimator and set ops) —
# the fourth oracle-exact sketch: the k smallest md5 hashes of the
# distinct keys form a RELATION reproducible in any engine. Merge =
# union + re-bottom-k; intersection/Jaccard estimates come from the
# bottom-k of the UNION (Beyer's K'th-minimum framework), which is
# why production systems ship KMV for cross-dataset overlap where
# HLL needs inclusion-exclusion gymnastics.
# ---------------------------------------------------------------------------
KMV_K = 256


def kmv_sketch(
    df: DataFrame, key_col: str, k: int = KMV_K, seed: str = "kmv"
) -> DataFrame:
    """(h): the k smallest hash values over the DISTINCT keys."""
    from frames_spark.functions.hashing import hash60

    h = hash60(F.col(key_col).cast("string"), seed=seed)
    return (
        df.select(h.alias("h"))
        .distinct()
        .orderBy("h")
        .limit(k)
    )


def kmv_merge(k: int, *sketches: DataFrame) -> DataFrame:
    """Bottom-k of the union — associative, idempotent."""
    from functools import reduce

    u = reduce(DataFrame.unionAll, sketches).distinct()
    return u.orderBy("h").limit(k)


def kmv_estimate(sketch: DataFrame, k: int = KMV_K) -> DataFrame:
    """(est_micros, n_in_sketch): the unbiased distinct-count
    estimate (k - 1) * 2^60 / h_(k) (Beyer SIGMOD'07). If the sketch
    holds fewer than k values the count is EXACT (the whole key set
    hashed into the sketch)."""
    agg = sketch.agg(
        F.count(F.lit(1)).alias("n"), F.max("h").alias("hk")
    )
    est = F.when(
        F.col("n") < k, F.col("n").cast("double")
    ).otherwise(
        (F.lit(float(k - 1)) * F.lit(float(1 << 60)))
        / F.col("hk").cast("double")
    )
    return agg.select(
        F.floor(est * 1_000_000 + F.lit(0.5)).cast("long").alias("est_micros"),
        F.col("n").cast("long").alias("n_in_sketch"),
    )


def kmv_jaccard(
    a: DataFrame, b: DataFrame, k: int = KMV_K
) -> DataFrame:
    """(n_union_k, n_both, jaccard_micros): Jaccard estimate from the
    bottom-k of the union — the fraction of those union-k hashes
    present in BOTH sketches (Beyer SIGMOD'07 §4). Exact integers up
    to the one closing division."""
    uk = kmv_merge(k, a, b)
    both = uk.join(a, "h", "left_semi").join(b, "h", "left_semi")
    n_union = uk.agg(F.count(F.lit(1)).alias("n_union_k"))
    n_both = both.agg(F.count(F.lit(1)).alias("n_both"))
    return n_union.crossJoin(F.broadcast(n_both)).select(
        F.col("n_union_k").cast("long").alias("n_union_k"),
        F.col("n_both").cast("long").alias("n_both"),
        F.floor(
            F.col("n_both").cast("double")
            / F.col("n_union_k").cast("double")
            * 1_000_000
            + F.lit(0.5)
        )
        .cast("long")
        .alias("jaccard_micros"),
    )


def append_hll_increment(
    batch: DataFrame,
    path: str,
    key_col: str,
    batch_id: int | None = None,
    seed: str = "hll",
) -> None:
    """HLL increment sink (the CMS sink's twin): aggregate one ingest
    batch to its (bucket, max_rho) cells and land them under a
    batch_id partition with dynamic overwrite — a REPLAYED
    foreachBatch epoch replaces its own prior parts. HLL merge is
    max, so replay-safety is double-armored: even APPENDED duplicate
    cells cannot move a maximum (idempotent), unlike CMS counts where
    the partition overwrite carries the whole exactly-once
    contract."""
    cells = hll_cells(batch, key_col, seed=seed)
    write_increment(cells, path, batch_id)


def read_hll(spark, path: str) -> DataFrame:
    """Merge all landed increments into one register relation."""
    return (
        spark.read.parquet(path)
        .groupBy("bucket")
        .agg(F.max("max_rho").alias("max_rho"))
    )


def append_kmv_increment(
    batch: DataFrame,
    path: str,
    key_col: str,
    k: int = KMV_K,
    batch_id: int | None = None,
    seed: str = "kmv",
) -> None:
    """KMV increment sink: land each epoch's bottom-k under a
    batch_id partition with dynamic overwrite. Like the HLL sink,
    replay-safety is double-armored — bottom-k of a union is
    idempotent under duplicate cells, and the partition overwrite
    replaces a replayed epoch's parts outright."""
    cells = kmv_sketch(batch, key_col, k=k, seed=seed)
    write_increment(cells, path, batch_id)


def read_kmv(spark, path: str, k: int = KMV_K) -> DataFrame:
    """Merge all landed increments: bottom-k of the union."""
    return (
        spark.read.parquet(path)
        .select("h")
        .distinct()
        .orderBy("h")
        .limit(k)
    )


# ---------------------------------------------------------------------------
# AMS F2 sketch (Alon, Matias & Szegedy STOC'96) — the fifth
# oracle-exact sketch: the second frequency moment F2 = sum over keys
# of count^2 (self-join size / skew measure) estimated from R running
# sums of seeded ±1 signs. Like CMS/HLL/Bloom/KMV, the sketch is a
# tiny RELATION (r, s) whose values replay bit-for-bit in any engine
# (signs from md5 hash60 parity), and merge is plain union + re-sum —
# associative and replay-idempotent, so it drops into the same
# streaming increment pattern. E[s_r^2] = F2 exactly; averaging the R
# replicates' squares is the estimator (kept integer with DIV).
# ---------------------------------------------------------------------------
AMS_R = 16


def ams_sketch(
    df: DataFrame, key_col: str, r: int = AMS_R, seed: str = "ams"
) -> DataFrame:
    """(r, s): one row per replicate — s = the sum over ROWS (with
    multiplicity: F2 is about frequencies) of the key's seeded ±1
    sign. ONE map-side-combined aggregation of R rows."""
    from frames_spark.functions.hashing import hash60

    key = F.col(key_col).cast("string")
    signs = F.array(
        *[
            (hash60(key, seed=f"{seed}{j}") % 2 * 2 - 1).cast("long")
            for j in range(r)
        ]
    )
    return (
        df.select(F.posexplode(signs).alias("r", "sign"))
        .groupBy("r")
        .agg(F.sum("sign").cast("long").alias("s"))
    )


def ams_merge(*sketches: DataFrame) -> DataFrame:
    """Union + re-sum per replicate — the signs are linear, so the
    merged sketch IS the sketch of the concatenated inputs."""
    from functools import reduce

    u = reduce(DataFrame.unionAll, sketches)
    return u.groupBy("r").agg(F.sum("s").cast("long").alias("s"))


def ams_estimate(sketch: DataFrame, r: int = AMS_R) -> DataFrame:
    """(f2_est, n_replicates): mean of s^2 across replicates, kept
    integer (sum DIV r — float-divide-then-cast rounds differently in
    DuckDB, the q_rrf_hybrid lesson)."""
    return sketch.agg(
        F.expr(f"sum(s * s) DIV {int(r)}").cast("long").alias("f2_est"),
        F.count(F.lit(1)).cast("long").alias("n_replicates"),
    )


def append_ams_increment(
    batch: DataFrame,
    path: str,
    key_col: str,
    r: int = AMS_R,
    batch_id: int | None = None,
) -> None:
    """AMS F2 increment sink (the CMS/HLL/KMV sink pattern): each
    ingest batch lands its (r, s) replicate sums under a batch_id
    partition with dynamic overwrite — a REPLAYED epoch replaces its
    own prior parts instead of double-counting. ``read_ams`` re-sums
    per replicate; signs are linear, so the merged store IS the
    sketch of the concatenated stream."""
    parts = ams_sketch(batch, key_col, r=r)
    write_increment(parts, path, batch_id)


def read_ams(spark, path: str) -> DataFrame:
    """The merged sketch from every stored increment (signs add)."""
    return spark.read.parquet(path).groupBy("r").agg(
        F.sum("s").cast("long").alias("s")
    )


def hll_cells_by(
    df: DataFrame,
    group_cols: Sequence[str],
    key_col: str,
    seed: str = "hll",
    p: int = HLL_P,
) -> DataFrame:
    """(*group_cols, bucket, max_rho): one oracle-exact register
    relation PER GROUP — the production rollup shape (a sketch per
    source/day; any coarser rollup = hll_merge over the group slices,
    never a re-scan). Same one map-side-combined groupBy as
    hll_cells, keyed by (group, bucket)."""
    from frames_spark.functions.hashing import hash60

    m = 1 << p
    h = hash60(F.col(key_col).cast("string"), seed=seed)
    keyed = df.select(*group_cols, (h % m).alias("bucket"), h.alias("_h"))
    rem = ((F.col("_h") - F.col("bucket")) / m).cast("long")
    rho = F.when(rem == 0, F.lit(60 - p + 1)).otherwise(
        F.lit(60 - p) - F.length(F.bin(rem)) + 1
    )
    return (
        keyed.withColumn("rho", rho.cast("int"))
        .groupBy(*group_cols, "bucket")
        .agg(F.max("rho").alias("max_rho"))
    )


def hll_estimate_by(
    cells: DataFrame, group_cols: Sequence[str], p: int = HLL_P
) -> DataFrame:
    """(*group_cols, est_micros, raw_micros, n_empty): hll_estimate
    per group — identical expressions (small-range linear-counting
    correction included), one aggregation keyed by the group."""
    m = 1 << p
    agg = cells.groupBy(*group_cols).agg(
        F.sum(F.pow(F.lit(2.0), -F.col("max_rho"))).alias("z"),
        F.count(F.lit(1)).alias("nb"),
    )
    empty = (F.lit(m) - F.col("nb")).cast("double")
    raw = F.lit(hll_alpha(m) * m * m) / (F.col("z") + empty)
    corrected = F.when(
        (raw <= F.lit(2.5 * m)) & (empty > 0),
        F.lit(float(m)) * F.log(F.lit(float(m)) / empty),
    ).otherwise(raw)
    return agg.select(
        *group_cols,
        F.floor(corrected * 1_000_000 + F.lit(0.5))
        .cast("long")
        .alias("est_micros"),
        F.floor(raw * 1_000_000 + F.lit(0.5)).cast("long").alias("raw_micros"),
        (F.lit(m) - F.col("nb")).cast("long").alias("n_empty"),
    )


def kmv_sketch_by(
    df: DataFrame,
    group_cols: Sequence[str],
    key_col: str,
    k: int = KMV_K,
    seed: str = "kmv",
) -> DataFrame:
    """(*group_cols, h): the bottom-k hash values per group — the
    per-source/per-day KMV shape (grouped twin of kmv_sketch, like
    hll_cells_by for HLL). One distinct + one window ranked by hash
    within the group; k rows survive per group, so any cross-slice
    overlap question downstream touches O(k * groups) rows, never
    the corpus."""
    from pyspark.sql import Window

    from frames_spark.functions.hashing import hash60

    h = hash60(F.col(key_col).cast("string"), seed=seed)
    distinct = df.select(*group_cols, h.alias("h")).distinct()
    w = Window.partitionBy(*group_cols).orderBy("h")
    return (
        distinct.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .drop("rn")
    )
