"""MinHash + LSH near-duplicate candidate generation.

Pipeline (all built-in ops, one explode + two shuffles):
  shingle -> k seeded min-hashes (signature) -> band keys ->
  equi-join on band key -> candidate pairs (-> optional exact verify).

At 100 TB the band join is the whole point: candidates come from
hash-bucket collisions, never a cross join. Band key cardinality is
huge (md5 of r concatenated 60-bit values), so bucket skew is
negligible; the shuffle is keyed by band hash.

Hashes are the portable md5-based ``hash60`` (SURVEY.md §4) so the
DuckDB oracle reproduces signatures bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from frames_spark.dedup.jaccard import shingle_index
from frames_spark.functions.hashing import hash60


# Classic affine re-hashing: ONE expensive base hash per shingle, then
# k cheap mixes h_i = (a_i * (base % P) + b_i) % P. P < 2^30 keeps
# every intermediate below 2^60 — no bigint overflow, so the SQL twin
# is exact (engines disagree on overflow, never on in-range math).
MINHASH_P = 1_073_741_789  # largest prime < 2^30


def _mix_consts(i: int) -> tuple[int, int]:
    # deterministic per-seed odd multiplier/offset derived from md5
    import hashlib

    d = hashlib.md5(f"mh-mix-{i}".encode()).digest()
    a = (int.from_bytes(d[:8], "big") % (MINHASH_P - 2)) | 1
    b = int.from_bytes(d[8:], "big") % MINHASH_P
    return a, b


def minhash_signatures(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    num_hashes: int = 16,
) -> DataFrame:
    """(doc, sig_0 .. sig_{k-1}) — WIDE form: the k min-aggregates run
    in one partial-aggregated shuffle over the shingle index; no k-way
    row explosion (the long-form version shuffled k x the index)."""
    return minhash_signatures_from_index(
        shingle_index(df, id_col, text_col, n), num_hashes=num_hashes
    )


def minhash_signatures_from_index(
    index: DataFrame, num_hashes: int = 16
) -> DataFrame:
    """Signatures from a pre-built (doc, shingle) inverted index —
    lets one index relation feed several dedup tiers (e.g. the
    comparative summary persists the index once for MinHash AND
    containment instead of re-scanning the corpus per tier)."""
    from frames_spark.functions.exprcache import memo_col

    index = index.withColumn(
        "base", hash60(F.col("shingle"), seed="mh") % MINHASH_P
    )

    def _sig_cols() -> list:
        consts = [_mix_consts(i) for i in range(num_hashes)]
        return [
            F.min((F.lit(a) * F.col("base") + F.lit(b)) % MINHASH_P).alias(
                f"sig_{i}"
            )
            for i, (a, b) in enumerate(consts)
        ]

    # the k min-aggregate fragments are a pure function of num_hashes
    # over the fixed "base" column — memoized (5k py4j calls saved per
    # query build at k=16)
    sig_cols = memo_col("minhash.sig_cols", (num_hashes,), _sig_cols)
    return index.groupBy("doc").agg(*sig_cols)


def banded_signatures(
    signatures: DataFrame, bands: int, rows_per_band: int
) -> DataFrame:
    """Long-form (doc, band, band_key) banding of wide signatures —
    the storable/probe-able shape (see dedup/index.py's persisted
    cross-run index); lsh_candidate_pairs builds on it in-flight."""
    from frames_spark.functions.exprcache import memo_col

    band_structs = memo_col(
        "minhash.band_structs",
        (bands, rows_per_band),
        lambda: F.array(
            *[
                F.struct(
                    F.lit(band).alias("band"),
                    F.concat_ws(
                        ",",
                        *[
                            F.col(f"sig_{band * rows_per_band + r}").cast(
                                "string"
                            )
                            for r in range(rows_per_band)
                        ],
                    ).alias("band_key"),
                )
                for band in range(bands)
            ]
        ),
    )
    return signatures.select(
        "doc", F.explode(band_structs).alias("b")
    ).select(
        "doc", F.col("b.band").alias("band"), F.col("b.band_key").alias("band_key")
    )


def lsh_candidate_pairs(
    signatures: DataFrame,
    bands: int,
    rows_per_band: int,
    max_bucket: int | None = None,
) -> DataFrame:
    """Candidate pairs from banded signature collisions.

    A pair collides if ALL ``rows_per_band`` signature values in some
    band match — the band key concatenates that band's values. One
    groupBy on (band, band_key) gathers each bucket and the i<j pairs
    expand JVM-side inside the bucket — the self-join formulation
    would execute the (expensive) signature lineage once per side and
    shuffle it twice; this computes it once and shuffles once.

    Band-key cardinality is effectively unbounded (concatenated
    30-bit mins), so buckets are tiny and the shuffle is skew-free;
    ``max_bucket`` additionally drops degenerate buckets (corpus-wide
    boilerplate collapsing into one key) before the quadratic
    expansion — set it for production corpora.
    """
    banded = banded_signatures(signatures, bands, rows_per_band)
    buckets = (
        banded.groupBy("band", "band_key")
        .agg(F.sort_array(F.collect_list("doc")).alias("ds"))
        .filter(F.size("ds") >= 2)
    )
    if max_bucket is not None:
        buckets = buckets.filter(F.size("ds") <= max_bucket)
    pairs = F.expr(
        "flatten(transform(ds, (x, i) ->"
        " transform(slice(ds, i + 2, size(ds)),"
        " y -> struct(x AS doc_a, y AS doc_b))))"
    )
    return (
        buckets.select(F.explode(pairs).alias("p"))
        .select("p.doc_a", "p.doc_b")
        .distinct()
    )
