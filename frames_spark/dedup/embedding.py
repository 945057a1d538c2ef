"""Embedding-cosine near-duplicate detection.

Exact path (oracle-checkable): fixed-point cosine over all candidate
pairs — ONLY safe at small scale or after bucketing.

Scale path: random-hyperplane LSH. Hyperplanes are pseudo-random but
fully deterministic — component (p, d) of plane p is ±1 by bit d of
hash60("plane-p") extended md5 stream — so signatures are reproducible
across runs/engines with no RNG state. Documents agreeing on all
``num_planes`` signs land in one bucket; cosine runs within buckets.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


from frames_spark.functions.vectors import (
    const_int_matrix,
    cosine_from_fixed,
    dot_fixed,
    norm2_fixed,
    to_fixed,
)


def _fixed(df: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    from frames_spark.operators.core import spread

    df = spread(df)  # vector arithmetic is CPU-bound
    return df.select(
        F.col(id_col).alias("vid"),
        to_fixed(F.col(vec_col)).alias("fvec"),
    ).withColumn("n2", norm2_fixed(F.col("fvec")))


def cosine_pairs(
    df: DataFrame, id_col: str, vec_col: str, threshold: float
) -> DataFrame:
    """All pairs with cosine >= threshold (exact; small scale / within
    buckets only — see fixed_with_buckets for the 100 TB path)."""
    a = _fixed(df, id_col, vec_col).select(
        F.col("vid").alias("id_a"), F.col("fvec").alias("va"), F.col("n2").alias("na2")
    )
    b = _fixed(df, id_col, vec_col).select(
        F.col("vid").alias("id_b"), F.col("fvec").alias("vb"), F.col("n2").alias("nb2")
    )
    pairs = a.join(b, F.col("id_a") < F.col("id_b"))
    return (
        pairs.withColumn(
            "cosine",
            cosine_from_fixed(
                dot_fixed(F.col("va"), F.col("vb")), F.col("na2"), F.col("nb2")
            ),
        )
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )


def plane_components(p: int, dim: int) -> list[int]:
    """±1 components of deterministic pseudo-random hyperplane ``p``:
    bit d of the md5 stream md5('emb#plane-p-<chunk>') — no RNG state,
    reproducible across runs, engines, and cluster versions."""
    import hashlib

    comps: list[int] = []
    chunk = -1
    bits = 0
    while len(comps) < dim:
        if len(comps) % 128 == 0:
            chunk += 1
            digest = hashlib.md5(f"emb#plane-{p}-{chunk}".encode()).digest()
            bits = int.from_bytes(digest, "big")
        comps.append(1 if (bits >> (len(comps) % 128)) & 1 else -1)
    return comps


def _bucket_expr(num_planes: int, dim: int, plane_offset: int = 0) -> F.Column:
    """Hyperplane-signature bucket of the ``fvec`` column.

    Planes are driver-side constant arrays (folded into the plan as
    literals — zero per-row hashing cost); sign_p(v) =
    sign(sum_d v[d] * plane_p[d]); the bucket is the num_planes-bit
    signature string. ``plane_offset`` selects an independent plane
    set per LSH table.
    """
    return F.array_join(_sign_array(num_planes, dim, plane_offset), "")


def _sign_array(num_planes: int, dim: int, plane_offset: int = 0) -> F.Column:
    """array<'1'|'0'> of hyperplane signs — ONE transform over a 2-D
    plane literal instead of ``num_planes`` unrolled dot-product
    expressions. The unrolled form put 32 aggregate lambdas and 2048
    literal nodes in the plan; this form is a single data-driven loop
    (constant-folded plane matrix), which keeps analysis time and
    generated-code size flat as planes x tables grows.

    The matrix is ONE parsed SQL literal (functions.vectors.
    const_int_matrix), not nested F.array/F.lit calls: the 32x64
    witness config is 2048 literal nodes, and 2048 py4j round-trips
    cost ~4-6 s of DRIVER time per query build (measured r11) — a
    fixed overhead the executors never see. The whole fragment is a
    pure function of (num_planes, dim, plane_offset) over the fixed
    ``fvec`` column, so it is memoized (exprcache.memo_col) — the
    md5 plane derivation and the literal parse run once per
    process."""
    from frames_spark.functions.exprcache import memo_col

    def _build() -> F.Column:
        planes = const_int_matrix(
            plane_components(plane_offset + p, dim) for p in range(num_planes)
        )
        return F.transform(
            planes,
            lambda comp: F.when(
                dot_fixed(F.col("fvec"), comp) >= 0, F.lit("1")
            ).otherwise(F.lit("0")),
        )

    return memo_col(
        "embedding.sign_array", (num_planes, dim, plane_offset), _build
    )


def table_buckets(num_tables: int, num_planes: int, dim: int) -> F.Column:
    """array<struct<tbl,bucket>> — every LSH table's bucket of the
    ``fvec`` column from ONE sign evaluation per row.

    The historical form sliced ``_sign_array`` INSIDE the per-table
    ``transform`` lambda; lambda bodies re-evaluate per invocation
    (no cross-invocation subexpression hoisting in interpreted HOF
    eval), so the full num_tables*num_planes sign computation ran
    once PER TABLE per row — 16x redundant work at the miner/auto
    geometry, measured r14: the banding leg of the auto corpus noop'd
    at 1.66 s vs 0.51 s for this form. Here the joined signature
    string is let-bound by a transform over a one-element array (the
    only binding construct SQL HOFs offer), so signs evaluate once
    and each table's bucket is a substring — byte-identical buckets
    (array_join of a slice == substring of the full join of
    single-char elements)."""
    from frames_spark.functions.exprcache import memo_col

    def _build() -> F.Column:
        sigstr = F.array_join(_sign_array(num_tables * num_planes, dim), "")
        return F.flatten(
            F.transform(
                F.array(sigstr),
                lambda s: F.transform(
                    F.sequence(F.lit(0), F.lit(num_tables - 1)),
                    lambda t: F.struct(
                        t.alias("tbl"),
                        s.substr(
                            t * F.lit(num_planes) + 1, F.lit(num_planes)
                        ).alias("bucket"),
                    ),
                ),
            )
        )

    return memo_col(
        "embedding.table_buckets", (num_tables, num_planes, dim), _build
    )


def fixed_with_buckets(
    df: DataFrame, id_col: str, vec_col: str, num_planes: int = 8, dim: int = 64
) -> DataFrame:
    """(vid, fvec, n2, bucket) in ONE pass over the vectors — the
    self-join inputs for bucketed similarity, with no re-derivation of
    the fixed-point representation per side."""
    return _fixed(df, id_col, vec_col).withColumn(
        "bucket", _bucket_expr(num_planes, dim)
    )


# suggest_num_planes search bounds, as module constants so oracle SQL
# twins interpolate the SAME values the governor defaults to (the
# jaccard.DEFAULT_MAX_DF_RATE_PPM pattern — they cannot desync).
DEFAULT_MIN_PLANES = 4
DEFAULT_MAX_PLANES = 24


def suggest_num_planes(
    n: int,
    max_bucket: int = 4000,
    min_planes: int = DEFAULT_MIN_PLANES,
    max_planes: int = DEFAULT_MAX_PLANES,
) -> int:
    """Parameter governor (r10 verdict #1): the smallest plane count
    whose EXPECTED bucket size n / 2^p lands at or below
    max_bucket / 4. A fixed plane count is an inverse guard failure
    waiting to happen: 4 planes over >64k vectors puts EVERY bucket
    over max_bucket=4000 and the max_bucket guard silently drops the
    whole corpus — the miner "succeeds" with zero candidates. The
    /4 headroom absorbs the non-uniformity of real sign buckets
    (correlated embeddings concentrate mass in few signatures); the
    dropped-mass guard in the callers catches what the headroom
    doesn't. Callers derive n from a one-aggregate pre-flight
    (df.count()) when num_planes is not pinned explicitly."""
    target = max(1, max_bucket // 4)
    p = min_planes
    while (n >> p) > target and p < max_planes:
        p += 1
    return p


def near_dup_pairs_lsh(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float,
    num_planes: int | None = None,
    num_tables: int = 4,
    dim: int = 64,
    max_bucket: int | None = None,
    guard: str = "warn",
) -> DataFrame:
    """Scale path: multi-table hyperplane LSH, exact cosine on the
    deduped candidate set only.

    AND-OR amplification: a pair is a candidate if it agrees on ALL
    ``num_planes`` signs in ANY of ``num_tables`` independent plane
    sets — more planes shrink buckets (quadratic cost), more tables
    recover recall (linear cost). All tables come from ONE pass over
    the vectors (an array explode), candidates gather with one
    groupBy on (table, bucket) and expand i<j inside the bucket —
    the self-join formulation executed the fixed-point lineage once
    per side and shuffled it twice. Cross-table duplicate candidates
    are dropped BEFORE the exact cosine, so each pair's 64-dim dot
    product runs once. ``max_bucket`` drops degenerate buckets (a
    corpus of near-zero or boilerplate vectors collapsing into one
    signature) before the quadratic expansion.

    ``num_planes=None`` (default) derives the plane count from a
    one-aggregate corpus-size pre-flight (suggest_num_planes), so
    default calls keep producing candidates as the corpus grows;
    explicit values pin the geometry (the oracled queries do).
    ``guard`` (off|warn|raise, default warn — matching the miners'
    eager-guard posture, r11 verdict #4) measures the directed-pair
    mass ``max_bucket`` would drop via a LIGHT id-only bucket
    pre-pass and warns/raises when it exceeds half. The pre-pass
    repeats the sign computation as one extra id-only job, so the
    pinned registered queries pass ``guard="off"`` explicitly and
    lean on q_embed_bucket_stats as their standing audit."""
    if num_planes is None:
        num_planes = suggest_num_planes(
            df.count(), max_bucket if max_bucket is not None else 4000
        )
    if guard not in ("raise", "warn", "off"):
        raise ValueError(f"guard must be raise|warn|off, got {guard!r}")
    fixed = _fixed(df, id_col, vec_col)
    # ALL tables' signs in one sign evaluation per row (see
    # table_buckets — each table's bucket is a substring of the
    # let-bound signature string)
    tables = table_buckets(num_tables, num_planes, dim)
    # LIGHT banding (r14 sf10 find — the miners' form, negatives.py):
    # the banded relation and bucket posting lists carry IDS ONLY;
    # vectors join back once per side after the cross-table distinct.
    # The struct-payload form materialized every 64-dim vector once
    # per bucket-mate (O(bucket²) vector copies per bucket) and then
    # shuffled full payloads through dropDuplicates — measured at 10x
    # the certified density, that dedup sort spilled past the local
    # disk (hundreds of GB for ~3e8 candidates) where the id-only
    # form shuffles ~16-byte rows and the payload never outlives a
    # streamed cosine+filter row.
    banded = fixed.select(
        "vid", F.explode(tables).alias("b")
    ).select("vid", F.col("b.tbl").alias("tbl"), F.col("b.bucket").alias("bucket"))
    buckets = (
        banded.groupBy("tbl", "bucket")
        .agg(F.sort_array(F.collect_list("vid")).alias("vs"))
        .filter(F.size("vs") >= 2)
    )
    if max_bucket is not None:
        if guard != "off":
            pair_mass = F.col("n") * (F.col("n") - 1)
            m = (
                banded.select("vid", "tbl", "bucket")
                .groupBy("tbl", "bucket")
                .agg(F.count(F.lit(1)).alias("n"))
                .agg(
                    F.sum(pair_mass).alias("tot"),
                    F.sum(
                        F.when(
                            F.col("n") > max_bucket, pair_mass
                        ).otherwise(F.lit(0))
                    ).alias("dropped"),
                )
                .first()
            )
            tot, dropped = m["tot"] or 0, m["dropped"] or 0
            if tot and dropped * 2 > tot:
                msg = (
                    f"max_bucket={max_bucket} drops "
                    f"{dropped * 1_000_000 // tot} ppm of the "
                    f"candidate-pair mass — num_planes={num_planes} "
                    "is too few for this corpus (see "
                    "suggest_num_planes)"
                )
                if guard == "raise":
                    raise ValueError(msg)
                import warnings

                warnings.warn(msg, stacklevel=2)
        buckets = buckets.filter(F.size("vs") <= max_bucket)
    pairs = F.expr(
        "flatten(transform(vs, (x, i) ->"
        " transform(slice(vs, i + 2, size(vs)),"
        " y -> struct(x AS a, y AS b))))"
    )
    cand = (
        buckets.select(F.explode(pairs).alias("p"))
        .select(F.col("p.a").alias("id_a"), F.col("p.b").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    # UN-HINTED join-backs (the dim_join doctrine, enforced by the
    # advisor's BROADCAST_SCALED rule): the vec relation is n input
    # rows — SF-scaled — so a forced broadcast hint would OOM at the
    # 100 TB target instead of demoting. AQE broadcasts it whenever
    # the runtime size fits (it does at every bench SF, giving the
    # same hash-join plan as a hint) and falls back to a distributed
    # shuffle join at sizes where broadcasting is the bug.
    scored = cand.join(
        fixed.select(
            F.col("vid").alias("id_a"),
            F.col("fvec").alias("va"),
            F.col("n2").alias("na2"),
        ),
        "id_a",
    ).join(
        fixed.select(
            F.col("vid").alias("id_b"),
            F.col("fvec").alias("vb"),
            F.col("n2").alias("nb2"),
        ),
        "id_b",
    )
    return (
        scored.withColumn(
            "cosine",
            cosine_from_fixed(
                dot_fixed(F.col("va"), F.col("vb")), F.col("na2"), F.col("nb2")
            ),
        )
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )
