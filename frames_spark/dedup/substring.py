"""Substring-level exact deduplication (repeated-span excision).

Training-data curation wants more than document-granularity dedup:
long passages repeated ACROSS documents (licenses, boilerplate,
templated spans) survive MinHash/SimHash because the host documents
differ, yet they dominate gradient updates. The canonical treatment
is Lee et al. 2022, "Deduplicating Training Data Makes Language
Models Better" (ExactSubstr): build a suffix array over the corpus,
find substrings repeated >= 2 times above a length threshold, and
remove every occurrence except one.

A distributed suffix array is the wrong shape for Spark (global
order over a 100 TB byte string). This module re-expresses the same
semantics with the engine's inverted-index machinery, bounded at
every step:

1. tokenize each document (whitespace), emit every n-token span with
   its position — ~|corpus tokens| rows, one scan stage;
2. hash spans (md5) and aggregate: corpus-wide occurrence count and
   the global first occurrence ``min(struct(doc_id, pos))`` — ONE
   map-side-combining shuffle on the uniform hash key; the struct
   min gives a total order for any orderable id type;
3. every occurrence of a span with count >= min_count EXCEPT the
   global first is a duplicate occurrence; its covered token
   interval ``[pos, pos+n)`` is excised from the document, keeping
   exactly one copy corpus-wide (the Lee et al. contract at span
   granularity n instead of arbitrary-length suffixes — overlapping
   n-grams make a repeated passage of ANY length >= n excise as one
   contiguous interval).

The excision itself is a per-document array expression (no second
shuffle): duplicate positions are collected per doc (bounded by the
doc's own token count) and tokens are filtered with a JVM
higher-order function.

The q_boilerplate operator (queries/q03_text_quality.py) is the
DETECTION counterpart of this module's removal.

Frames ref: no equivalent (beyond the reference's surface — LLM
pipeline extension, SURVEY.md §2b).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = ["excise_repeated_ngrams"]


def excise_repeated_ngrams(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 8,
    min_count: int = 2,
) -> DataFrame:
    """(id, n_tokens, n_removed, clean_text): the corpus with every
    non-first occurrence of a corpus-wide repeated n-token span
    removed.

    ``min_count`` is the corpus-wide occurrence threshold for a span
    to count as repeated (2 = Lee et al.'s "appears more than
    once")."""
    toks = docs.select(
        F.col(id_col).alias("_id"),
        F.expr(f"filter(split({text_col}, ' +'), x -> x != '')").alias("_toks"),
    )
    # span hashes with positions; sequence() would run DESCENDING for
    # docs shorter than n, so guard to an empty array
    grams = toks.select(
        "_id",
        F.posexplode(
            F.expr(
                f"CASE WHEN size(_toks) >= {n} THEN "
                f"transform(sequence(0, size(_toks) - {n}), "
                f"i -> md5(concat_ws(' ', slice(_toks, i + 1, {n})))) "
                "ELSE array() END"
            )
        ).alias("pos", "h"),
    )
    # global first occurrence = min over struct(_id, pos): total
    # ordering for ANY orderable id type (string ids lexicographic,
    # numeric ids identical to the former id*1e6+pos packing) — the
    # packed-long form silently cast non-numeric ids to NULL,
    # detecting nothing and corrupting the returned id column.
    canon = (
        grams.groupBy("h")
        .agg(
            F.count(F.lit(1)).alias("c"),
            F.min(F.struct(F.col("_id"), F.col("pos"))).alias("first_occ"),
        )
        .filter(F.col("c") >= min_count)
    )
    # corpus-sized join on the uniform hash; canon is the repeated-
    # span relation (un-hinted — AQE broadcasts when it fits)
    dups = (
        grams.join(canon, "h")
        .filter(
            (F.col("_id") != F.col("first_occ._id"))
            | (F.col("pos") != F.col("first_occ.pos"))
        )
        .select("_id", "pos")
    )
    dup_arr = dups.groupBy("_id").agg(F.collect_list("pos").alias("_dps"))
    kept = F.expr(
        "CASE WHEN _dps IS NULL THEN _toks ELSE "
        f"filter(_toks, (x, i) -> NOT exists(_dps, p -> p <= i AND i <= p + {n - 1})) "
        "END"
    )
    return (
        toks.join(dup_arr, "_id", "left")
        .select(
            F.col("_id").alias(id_col),
            F.size("_toks").cast("long").alias("n_tokens"),
            kept.alias("_kept"),
        )
        .select(
            id_col,
            "n_tokens",
            (F.col("n_tokens") - F.size("_kept")).cast("long").alias("n_removed"),
            F.concat_ws(" ", F.col("_kept")).alias("clean_text"),
        )
    )
