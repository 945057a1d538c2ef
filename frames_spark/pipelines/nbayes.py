"""Multinomial naive Bayes over hashed unigram buckets — a LEARNED
text classifier trained and scored entirely in the engine (McCallum &
Nigam 1998, "A comparison of event models for naive Bayes text
classification").

Complements functions/langid.py: langid is a fixed stopword
heuristic; this trains per-class token distributions from labeled
data in one aggregation pass and scores with exact integer
arithmetic. The model is three bounded relations — per-(class,
bucket) log-likelihoods (≤ n_buckets × n_classes rows), per-class
smoothing defaults, per-class log-priors — all Aggregate-rooted
broadcasts at scoring time; the corpus tokenizes once per side and
shuffles keyed by document.

Cross-engine determinism (the q_kl_source / DSIR idiom): every
log-probability is quantized to integer nanos at the ONE ln call
(add-1 smoothing keeps every argument strictly positive; operands
explicitly cast to DOUBLE — DuckDB parses numeric literals as
DECIMAL), so per-document class scores are exact integer sums and
the argmax is deterministic with ties broken by label order.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from frames_spark.functions import text as text_fns
from frames_spark.functions.hashing import hash60


def _q_nanos(x: Column) -> Column:
    return F.floor(x * 1_000_000_000 + F.lit(0.5)).cast("long")


def doc_buckets(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    label_col: str,
    n_buckets: int = 4096,
    seed: str = "nb",
) -> DataFrame:
    """(id, label, bucket, c): hashed-unigram bucket counts per
    document — one scan, map-side combined."""
    tok = docs.select(
        F.col(id_col).alias("_id"),
        F.col(label_col).alias("_label"),
        F.explode(text_fns.tokens(F.col(text_col))).alias("term"),
    ).filter(F.col("term") != "")
    return (
        tok.withColumn("bucket", hash60(F.col("term"), seed=seed) % n_buckets)
        .groupBy("_id", "_label", "bucket")
        .agg(F.count(F.lit(1)).alias("c"))
    )


def nb_fit(train_db: DataFrame, n_buckets: int = 4096):
    """Fit on a (_id, _label, bucket, c) relation. Returns
    (likelihoods, class_stats):

    * likelihoods: (_label, bucket, lp_nanos) — quantized
      ln((n_cb + 1) / (n_c + B)), observed buckets only.
    * class_stats: (_label, def_nanos, prior_nanos) — the unseen-
      bucket default ln(1 / (n_c + B)) and the doc-frequency prior.

    PRECONDITION: every ``_id`` carries exactly one ``_label``, as
    :func:`doc_buckets` guarantees (it copies each document row's
    label). The prior's denominator is the sum of the per-label
    distinct-document counts, so an ``_id`` under two labels is
    counted twice there. Not checked: a check would cost an extra
    corpus-scale job per fit.
    """
    b = F.lit(float(n_buckets))
    ncb = train_db.groupBy("_label", "bucket").agg(F.sum("c").alias("ncb"))
    # ONE per-class aggregate for token mass AND distinct-doc count
    # (r15, guide §2.4/§5): nc/dc/dtot were three separate passes —
    # nc re-aggregated ncb, dc ran a per-label countDistinct over the
    # corpus-scale bucket relation, and dtot ran a SECOND global
    # countDistinct over it. sum(c) over (label,bucket) groups equals
    # sum(ncb), and every _id carries exactly one label (doc_buckets
    # copies the doc row's label), so the global distinct-doc count
    # is the SUM of the per-label ones — dtot collapses to a 5-row
    # aggregate over cls. Values are bit-identical; two corpus-scale
    # passes and three AQE stage-jobs disappear.
    cls = train_db.groupBy("_label").agg(
        F.sum("c").alias("nc"), F.countDistinct("_id").alias("dcount")
    )
    dtot = cls.agg(F.sum("dcount").alias("dt"))
    likelihoods = ncb.join(
        F.broadcast(cls.select("_label", "nc")), "_label"
    ).select(
        "_label",
        "bucket",
        _q_nanos(
            F.log(
                (F.col("ncb") + F.lit(1)).cast("double")
                / (F.col("nc").cast("double") + b)
            )
        ).alias("lp_nanos"),
    )
    class_stats = (
        cls.crossJoin(F.broadcast(dtot))
        .select(
            "_label",
            _q_nanos(
                F.log(F.lit(1.0) / (F.col("nc").cast("double") + b))
            ).alias("def_nanos"),
            _q_nanos(
                F.log(F.col("dcount").cast("double") / F.col("dt").cast("double"))
            ).alias("prior_nanos"),
        )
    )
    return likelihoods, class_stats


def nb_scores(
    test_db: DataFrame, likelihoods: DataFrame, class_stats: DataFrame
) -> DataFrame:
    """(_id, _label, cand, score_nanos): every test document scored
    against every trained class. The model relations broadcast; the
    only corpus-scale shuffle keys on the document id."""
    classes = class_stats.select(F.col("_label").alias("cand"))
    lp = likelihoods.select(
        F.col("_label").alias("cand"), "bucket", "lp_nanos"
    )
    stats = class_stats.select(
        F.col("_label").alias("cand"), "def_nanos", "prior_nanos"
    )
    terms = (
        test_db.crossJoin(F.broadcast(classes))
        .join(F.broadcast(lp), ["cand", "bucket"], "left")
        .join(F.broadcast(stats), "cand")
        .select(
            "_id",
            "_label",
            "cand",
            "prior_nanos",
            (
                F.col("c")
                * F.coalesce(F.col("lp_nanos"), F.col("def_nanos"))
            ).alias("term"),
        )
    )
    return terms.groupBy("_id", "_label", "cand", "prior_nanos").agg(
        F.sum("term").alias("s")
    ).select(
        "_id",
        "_label",
        "cand",
        (F.col("s") + F.col("prior_nanos")).alias("score_nanos"),
    )


def nb_predict(
    test_db: DataFrame, likelihoods: DataFrame, class_stats: DataFrame
) -> DataFrame:
    """(_id, _label, pred): argmax class per document, ties to the
    lowest label.

    The argmax is a MIN over (-score, cand) struct ordering — a hash
    aggregate with map-side partial combining — instead of a
    row_number window, which shuffled AND sorted every (doc, class)
    score row just to keep one of them (guide §2.3: aggregate before
    you shuffle). Identical tie-breaking: desc score == asc -score,
    then asc cand lexicographically."""
    scores = nb_scores(test_db, likelihoods, class_stats)
    return (
        scores.groupBy("_id", "_label")
        .agg(
            F.min(F.struct((-F.col("score_nanos")).alias("neg"), "cand")).alias(
                "m"
            )
        )
        .select("_id", "_label", F.col("m.cand").alias("pred"))
    )


def nb_confusion(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    label_col: str,
    n_buckets: int = 4096,
    seed: str = "nb",
    test_mod: int = 5,
) -> DataFrame:
    """Train on ``id % test_mod != 0``, score the held-out rest,
    return the confusion matrix (label, pred, n). One bucketization
    pass feeds both splits."""
    from frames_spark.operators.caching import tie_cache

    db = doc_buckets(docs, id_col, text_col, label_col, n_buckets, seed).persist()
    train_db = db.filter(F.col("_id") % test_mod != 0)
    test_db = db.filter(F.col("_id") % test_mod == 0)
    likelihoods, class_stats = nb_fit(train_db, n_buckets)
    pred = nb_predict(test_db, likelihoods, class_stats)
    return tie_cache(
        pred.groupBy("_label", "pred").agg(F.count(F.lit(1)).alias("n")),
        db,
    )
