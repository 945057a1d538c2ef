"""SimHash fingerprints.

60-bit SimHash (fits signed BIGINT in every engine): each shingle
hashes to 60 bits via the portable md5-based hash60; every bit votes
+1/-1 weighted by presence; the fingerprint sets bit b where the vote
is positive. Near-duplicates differ in few bits: the Hamming distance
of two fingerprints is bit_count(a XOR b).

Bit votes are 60 wide sum-aggregates over the shingle index — ONE
shuffle of the index rows (the exploded bit formulation shuffled 60
rows per shingle), same wide-aggregate trick as minhash signatures.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from frames_spark.dedup.jaccard import shingle_index
from frames_spark.functions.hashing import hash60

SIMHASH_BITS = 60


def simhash(
    df: DataFrame, id_col: str, text_col: str, n: int = 3
) -> DataFrame:
    """(doc, simhash) 60-bit fingerprint per document."""
    return simhash_from_index(shingle_index(df, id_col, text_col, n))


def simhash_from_index(index: DataFrame) -> DataFrame:
    """Fingerprints from a pre-built (doc, shingle) inverted index —
    lets one (persisted) index relation feed SimHash alongside the
    Jaccard/containment tiers instead of re-shingling the corpus per
    tier (the minhash_signatures_from_index pattern)."""
    index = index.withColumn("h", hash60(F.col("shingle"), seed="sh"))
    # One parsed SQL expression for all 60 bit votes + the bit
    # assembly: the per-bit F.sum/F.when construction was ~360 py4j
    # round-trips of driver time per build (the const_int_matrix
    # lesson); Catalyst plans the identical 60 partial-sum aggregate
    # either way.
    sig = " + ".join(
        f"(CASE WHEN SUM(CASE WHEN (h >> {i}) & 1 = 1 THEN 1 ELSE -1 END)"
        f" > 0 THEN {1 << i}L ELSE 0L END)"
        for i in range(SIMHASH_BITS)
    )
    return index.groupBy("doc").agg(
        F.expr(f"CAST({sig} AS BIGINT)").alias("simhash")
    )
