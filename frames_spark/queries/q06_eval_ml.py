"""q06_eval_ml — query registry, module 6 of 9: evaluation and ML data
prep (splits, class weights, negative sampling, dataset cards), BPE
pair counts, chunk and line dedup, containment, HTML extraction,
Gopher repetition and the variance/association tests.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from frames_spark.dedup import jaccard as jac_ops
from frames_spark.dedup import minhash as mh_ops
from frames_spark.functions import text as text_fns
from frames_spark.operators import core as core_ops
from frames_spark.operators import joins as join_ops
from frames_spark.operators import sampling as sample_ops
from frames_spark.operators.ranking import grouped_rank
from frames_spark.queries.q01_core_ops import (
    _ANN_PLANES_VALUES,
    _FIXED_SQL,
    _MH_BANDS,
    _MH_CTES,
    _MH_K,
    _MH_PAIRS_SELECT,
    _MH_ROWS,
    _MICROS_SQL,
    _NEAR_CORPUS_SQL,
    _NORM_SQL,
    _SHINGLES_SQL,
    _TOKENS_SQL,
    _micros,
    _with_near_copies,
    register,
)
from frames_spark.queries.q05_stats_matrix import _central_moments, _central_moments_sql
from frames_spark.similarity import ann as ann_ops
from frames_spark.sources.tables import load_table


# ---------------------------------------------------------------------------
# Pettitt changepoint test on daily revenue (the rank-based
# complement to q_cusum_changepoint's mean-shift scan): with doubled
# midranks mr2, U_t = sum_{i<=t} mr2_i - t(n+1) is EXACT integer for
# every prefix t, K = max |U_t| picks the split, and only the
# approximate significance p ~ 2 exp(-6K^2/(n^3+n^2)) closes in
# double. Midranks come from the value-table prefix sum; the U_t
# series is a second prefix sum over the calendar-bounded day order.
# ---------------------------------------------------------------------------
@register(
    "q_pettitt",
    f"""
    WITH daily AS (
      SELECT CAST(date_trunc('day', o_orderdate) AS TIMESTAMP) AS day,
             CAST(SUM({_MICROS_SQL.format(expr='o_totalprice')}) AS BIGINT)
               AS rev
      FROM orders GROUP BY 1
    ), vals AS (
      SELECT rev, COUNT(*) AS cnt FROM daily GROUP BY rev
    ), cumv AS (
      SELECT rev, cnt, SUM(cnt) OVER (ORDER BY rev
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c
      FROM vals
    ), mr AS (
      SELECT rev, 2 * (c - cnt) + cnt + 1 AS mr2 FROM cumv
    ), seq AS (
      SELECT d.day,
             ROW_NUMBER() OVER (ORDER BY d.day) AS t,
             SUM(mr.mr2) OVER (ORDER BY d.day
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS smr2,
             COUNT(*) OVER () AS n
      FROM daily d JOIN mr ON d.rev = mr.rev
    ), u AS (
      SELECT day, t, smr2 - t * (n + 1) AS u2, n FROM seq WHERE t < n
    )
    SELECT CAST(n AS BIGINT) AS n_days,
           CAST(ABS(u2) AS BIGINT) AS k2_stat,
           day AS changepoint_day,
           CAST(FLOOR(
             2.0 * exp(-6.0 * (CAST(u2 AS DOUBLE) / 2.0)
                       * (CAST(u2 AS DOUBLE) / 2.0)
                       / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
                          + CAST(n AS DOUBLE) * CAST(n AS DOUBLE)))
             * 1000000 + 0.5) AS BIGINT) AS p_micros
    FROM u
    ORDER BY ABS(u2) DESC, day
    LIMIT 1
    """,
)
def q_pettitt(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from frames_spark.operators.ranking import grouped_prefix_sum

    o = load_table(spark, sf_dir, "orders")
    daily = o.groupBy(
        F.date_trunc("day", F.col("o_orderdate")).alias("day")
    ).agg(F.sum(_micros(F.col("o_totalprice"))).alias("rev"))
    vals = daily.groupBy("rev").agg(F.count(F.lit(1)).alias("cnt"))
    cumv = grouped_prefix_sum(vals, [], ["rev"], "cnt", cum_col="c")
    mr = cumv.select(
        "rev", (2 * (F.col("c") - F.col("cnt")) + F.col("cnt") + 1).alias("mr2")
    )
    # the day sequence is calendar-bounded: plain windows over the
    # joined daily relation (aggregate upstream exempts the advisor)
    wday = Window.orderBy("day")
    seq = (
        daily.join(mr, "rev")
        .select(
            "day",
            F.row_number().over(wday).alias("t"),
            F.sum("mr2")
            .over(wday.rowsBetween(Window.unboundedPreceding, 0))
            .alias("smr2"),
            F.count(F.lit(1)).over(Window.partitionBy()).alias("n"),
        )
    )
    u = seq.filter(F.col("t") < F.col("n")).select(
        "day",
        (F.col("smr2") - F.col("t") * (F.col("n") + 1)).alias("u2"),
        "n",
    )
    uh = F.col("u2").cast("double") / 2.0
    nn = F.col("n").cast("double")
    p = 2.0 * F.exp(-6.0 * uh * uh / (nn * nn * nn + nn * nn))
    return (
        u.select(
            F.col("n").cast("long").alias("n_days"),
            F.abs(F.col("u2")).cast("long").alias("k2_stat"),
            F.col("day").alias("changepoint_day"),
            F.floor(p * 1_000_000 + 0.5).cast("long").alias("p_micros"),
        )
        .orderBy(F.desc("k2_stat"), "changepoint_day")
        .limit(1)
    )


# ---------------------------------------------------------------------------
# Deterministic k-per-group sampling: 10 docs per source by md5 hash
# order — the reproducible "eyeball sample" every corpus review
# starts with (and the per-stratum variant of q_sample_hash). The
# per-source ranks ride the two-phase distributed rank, never a
# fact-scale PARTITION BY window, and the hash order makes the
# sample invariant to file layout and ingestion order.
# ---------------------------------------------------------------------------
@register(
    "q_sample_per_source",
    """
    SELECT source, doc_id, n_chars FROM (
      SELECT source, doc_id, n_chars,
             ROW_NUMBER() OVER (PARTITION BY source
               ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
      FROM documents
    ) WHERE rn <= 10
    """,
)
def q_sample_per_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    ranked = grouped_rank(
        docs.select(
            "source",
            "doc_id",
            "n_chars",
            F.md5(F.col("doc_id").cast("string")).alias("_h"),
        ),
        ["source"],
        ["_h", "doc_id"],
        rank_col="rn",
    )
    return ranked.filter(F.col("rn") <= 10).select("source", "doc_id", "n_chars")


# ---------------------------------------------------------------------------
# Token coverage curve point: how many vocabulary entries cover 90%
# of all token occurrences? The tokenizer-budget question (same
# staged two-phase rank + prefix-sum machinery as q_days_to_80pct,
# over the vocabulary relation in frequency order) with an exact
# integer 90% gate — no float thresholds.
# ---------------------------------------------------------------------------
@register(
    "q_token_coverage",
    f"""
    WITH uc AS (
      SELECT tok, COUNT(*) AS n
      FROM (SELECT unnest({_TOKENS_SQL}) AS tok FROM documents)
      WHERE tok <> '' GROUP BY tok
    ), ranked AS (
      SELECT n,
             ROW_NUMBER() OVER (ORDER BY n DESC, tok) AS rn,
             SUM(n) OVER (ORDER BY n DESC, tok
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
             SUM(n) OVER () AS total,
             COUNT(*) OVER () AS vocab
      FROM uc
    )
    SELECT CAST(MIN(rn) AS BIGINT) AS vocab_90pct,
           CAST(MIN(vocab) AS BIGINT) AS vocab_size,
           CAST(MIN(total) AS BIGINT) AS n_tokens
    FROM ranked WHERE 10 * cum >= 9 * total
    """,
)
def q_token_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    from frames_spark.operators.ranking import grouped_prefix_sum

    docs = core_ops.spread(load_table(spark, sf_dir, "documents"))
    uc = (
        docs.select(F.explode(text_fns.tokens(F.col("text"))).alias("tok"))
        .filter(F.col("tok") != "")
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    # one staged partitioning serves BOTH the rank and the running
    # sum (vocab relation is shuffle-fed: auto-staged)
    cum = grouped_prefix_sum(
        uc, [], [F.col("n").desc(), "tok"], "n",
        cum_col="cum", total_col="total",
    )
    ranked = grouped_rank(
        cum, [], [F.col("n").desc(), "tok"], rank_col="rn", count_col="vocab"
    )
    return ranked.filter(10 * F.col("cum") >= 9 * F.col("total")).agg(
        F.min("rn").cast("long").alias("vocab_90pct"),
        F.min("vocab").cast("long").alias("vocab_size"),
        F.min("total").cast("long").alias("n_tokens"),
    )


# ---------------------------------------------------------------------------
# Hurst exponent of daily revenue (rescaled-range analysis): is the
# series mean-reverting (H < 0.5), random-walk (0.5) or trending
# (H > 0.5)? For block sizes w in {8,16,32,64,128}, each block's
# R/S collapses to R_scaled / sqrt(D) where BOTH operands are exact
# integers (R_scaled = range of w*cumsum_t - t*blocksum, D = w*sum
# x^2 - (sum x)^2) — so every block's ratio is one deterministic
# double op; block ratios are micros-quantized, averaged with
# integer rounding division per w, and the final log-log OLS slope
# runs over 5 nano-quantized points. Whole-unit values keep all
# products inside DECIMAL(38)/HUGEINT through sf1000. Constant
# blocks (D = 0) are excluded identically on both engines.
# ---------------------------------------------------------------------------
@register(
    "q_hurst",
    f"""
    WITH daily AS (
      SELECT ROW_NUMBER() OVER (ORDER BY day) AS t, x FROM (
        SELECT CAST(date_trunc('day', o_orderdate) AS DATE) AS day,
               CAST(SUM({_MICROS_SQL.format(expr='o_totalprice')}) AS BIGINT)
                 // 1000000 AS x
        FROM orders GROUP BY 1
      )
    ), sizes(w) AS (VALUES (8),(16),(32),(64),(128)),
    blocks AS (
      SELECT w, (t - 1) // w AS blk, (t - 1) % w + 1 AS i, x
      FROM daily CROSS JOIN sizes
      WHERE (t - 1) // w < (SELECT COUNT(*) FROM daily) // w
    ), bs AS (
      SELECT w, blk,
             SUM(CAST(x AS HUGEINT)) AS sx,
             SUM(CAST(x AS HUGEINT) * x) AS sxx
      FROM blocks GROUP BY w, blk
    ), z AS (
      SELECT b.w, b.blk,
             b.w * SUM(CAST(b.x AS HUGEINT)) OVER (PARTITION BY b.w, b.blk
               ORDER BY b.i ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             - b.i * bs.sx AS wz
      FROM blocks b JOIN bs ON b.w = bs.w AND b.blk = bs.blk
    ), rs AS (
      SELECT z.w, z.blk,
             CAST(FLOOR(
               CAST(MAX(z.wz) - MIN(z.wz) AS DOUBLE)
               / sqrt(CAST(bs.w * bs.sxx - bs.sx * bs.sx AS DOUBLE))
               * 1000000 + 0.5) AS BIGINT) AS rs_micros
      FROM z JOIN bs ON z.w = bs.w AND z.blk = bs.blk
      WHERE bs.w * bs.sxx - bs.sx * bs.sx > 0
      GROUP BY z.w, z.blk, bs.w, bs.sxx, bs.sx
    ), pts AS (
      SELECT w,
             CAST((SUM(CAST(rs_micros AS HUGEINT)) + COUNT(*) // 2)
                  // COUNT(*) AS BIGINT) AS avg_rs_micros
      FROM rs GROUP BY w
    ), terms AS (
      SELECT COUNT(*) AS k,
             SUM(CAST(FLOOR(ln(w) * 1000000000 + 0.5) AS BIGINT)) AS sx,
             SUM(CAST(FLOOR(ln(avg_rs_micros / 1000000.0) * 1000000000 + 0.5) AS BIGINT)) AS sy,
             SUM(CAST(FLOOR(ln(w) * ln(w) * 1000000000 + 0.5) AS BIGINT)) AS sxx,
             SUM(CAST(FLOOR(ln(w) * ln(avg_rs_micros / 1000000.0) * 1000000000 + 0.5) AS BIGINT)) AS sxy
      FROM pts
    )
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM daily) AS n_days,
           CAST(k AS BIGINT) AS n_scales,
           CAST(FLOOR(
             (CAST(k AS DOUBLE) * CAST(sxy AS DOUBLE)
              - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) / 1000000000.0)
             / (CAST(k AS DOUBLE) * CAST(sxx AS DOUBLE)
                - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / 1000000000.0)
             * 1000000 + 0.5) AS BIGINT) AS hurst_micros
    FROM terms
    """,
)
def q_hurst(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    o = load_table(spark, sf_dir, "orders")
    dec = "decimal(38,0)"
    daily = (
        o.groupBy(F.date_trunc("day", F.col("o_orderdate")).cast("date").alias("day"))
        .agg(
            F.expr(
                f"CAST(SUM({_MICROS_SQL.format(expr='o_totalprice')}) AS BIGINT) "
                "DIV 1000000"
            ).alias("x")
        )
        .select(F.row_number().over(Window.orderBy("day")).alias("t"), "x")
    )
    nd = daily.agg(F.count(F.lit(1)).alias("n_days"))
    sizes = daily.sparkSession.createDataFrame([(w,) for w in (8, 16, 32, 64, 128)], "w int")
    blocks = (
        daily.crossJoin(F.broadcast(sizes))
        .crossJoin(F.broadcast(nd))
        .filter(F.expr("(t - 1) DIV w < n_days DIV w"))
        .select(
            "w",
            F.expr("(t - 1) DIV w").alias("blk"),
            F.expr("(t - 1) % w + 1").alias("i"),
            "x",
        )
    )
    bs = blocks.groupBy("w", "blk").agg(
        F.sum(F.col("x").cast(dec)).alias("sx"),
        F.sum(F.col("x").cast(dec) * F.col("x")).alias("sxx"),
    )
    wcum = (
        Window.partitionBy("w", "blk")
        .orderBy("i")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    z = (
        blocks.withColumn("_cum", F.sum(F.col("x").cast(dec)).over(wcum))
        .join(bs, ["w", "blk"])
        .select(
            "w",
            "blk",
            "sx",
            "sxx",
            (F.col("w").cast(dec) * F.col("_cum") - F.col("i") * F.col("sx")).alias("wz"),
        )
    )
    d_var = F.col("w").cast(dec) * F.col("sxx") - F.col("sx") * F.col("sx")
    rs = (
        z.groupBy("w", "blk", "sx", "sxx")
        .agg(F.max("wz").alias("mx"), F.min("wz").alias("mn"))
        .filter(d_var > 0)
        .select(
            "w",
            F.floor(
                (F.col("mx") - F.col("mn")).cast("double")
                / F.sqrt(d_var.cast("double"))
                * 1_000_000
                + 0.5
            )
            .cast("long")
            .alias("rs_micros"),
        )
    )
    pts = rs.groupBy("w").agg(
        F.expr(
            "CAST((SUM(CAST(rs_micros AS DECIMAL(38,0))) + COUNT(*) DIV 2) "
            "DIV COUNT(*) AS BIGINT)"
        ).alias("avg_rs_micros")
    )
    lw = F.log(F.col("w").cast("double"))
    ly = F.log(F.col("avg_rs_micros") / 1_000_000.0)
    q = lambda c: F.floor(c * 1_000_000_000 + 0.5).cast("long")  # noqa: E731
    terms = pts.agg(
        F.count(F.lit(1)).alias("k"),
        F.sum(q(lw)).alias("sx"),
        F.sum(q(ly)).alias("sy"),
        F.sum(q(lw * lw)).alias("sxx"),
        F.sum(q(lw * ly)).alias("sxy"),
    )
    d = lambda col: F.col(col).cast("double")  # noqa: E731
    slope = (d("k") * d("sxy") - d("sx") * d("sy") / 1e9) / (
        d("k") * d("sxx") - d("sx") * d("sx") / 1e9
    )
    return terms.crossJoin(F.broadcast(nd)).select(
        F.col("n_days").cast("long").alias("n_days"),
        F.col("k").cast("long").alias("n_scales"),
        F.floor(slope * 1_000_000 + 0.5).cast("long").alias("hurst_micros"),
    )


# ---------------------------------------------------------------------------
# END-TO-END eval-corpus preparation (pipelines/evalprep.py): quality
# gate -> shingle decontamination against the benchmark set (doc_id <
# 20 plays the benchmark suite) -> content-hash train/val split ->
# context-window chunking. Every stage reuses an already-oracled
# operator, and the whole composition has one nested-CTE SQL oracle —
# the eval-data twin of q_pipeline_clean / q_pipeline_product.
# ---------------------------------------------------------------------------
_EVALPREP_ORACLE = f"""
    WITH corp AS (
      SELECT doc_id, text FROM documents WHERE doc_id >= 20
    ),
    bench AS (
      SELECT doc_id, text FROM documents WHERE doc_id < 20
    ),
    gated AS (
      SELECT doc_id, text FROM corp WHERE len({_TOKENS_SQL}) >= 10
    ),
    corp_sh AS ({{sh_corp}}),
    bench_sh AS ({{sh_bench}}),
    contam AS (
      SELECT DISTINCT doc FROM (
        SELECT c.doc AS doc, b.doc AS bd
        FROM corp_sh c JOIN bench_sh b ON c.shingle = b.shingle
        GROUP BY 1, 2 HAVING COUNT(*) >= 3
      )
    ),
    clean AS (
      SELECT * FROM gated WHERE doc_id NOT IN (SELECT doc FROM contam)
    ),
    labeled AS (
      SELECT doc_id, text,
             CASE WHEN {{split_pred}} THEN 'val' ELSE 'train' END AS split
      FROM clean
    ),
    chunked AS (
      SELECT doc_id, split,
             unnest(list_transform(
               range(1, greatest(len({_TOKENS_SQL}), 1) + 1, 40),
               s -> {{{{'idx': CAST((s - 1) / 40 AS BIGINT),
                      'toks': list_slice({_TOKENS_SQL}, s, s + 49)}}}}
             )) AS c
      FROM labeled
    )
    SELECT doc_id, split, c.idx AS chunk_idx,
           md5(array_to_string(c.toks, ' ')) AS chunk_fp,
           len(c.toks) AS n_chunk_tokens
    FROM chunked WHERE len(c.toks) > 0
"""


@register(
    "q_pipeline_evalprep",
    _EVALPREP_ORACLE.format(
        sh_corp=_SHINGLES_SQL.format(
            tokens="list_slice(" + _TOKENS_SQL + ", 1, len(" + _TOKENS_SQL + "))",
            corpus="SELECT * FROM gated",
        ),
        sh_bench=_SHINGLES_SQL.format(
            tokens="list_slice(" + _TOKENS_SQL + ", 1, len(" + _TOKENS_SQL + "))",
            corpus="SELECT * FROM bench",
        ),
        split_pred=sample_ops.hash_sample_sql("doc_id", 0.1, seed="split"),
    ),
)
def q_pipeline_evalprep(spark: SparkSession, sf_dir: str) -> DataFrame:
    from frames_spark.pipelines.evalprep import prepare_eval_corpus

    docs = load_table(spark, sf_dir, "documents")
    return prepare_eval_corpus(
        docs.filter(F.col("doc_id") >= 20),
        docs.filter(F.col("doc_id") < 20),
        min_tokens=10,
        shingle_n=3,
        min_shared=3,
        val_fraction=0.1,
        max_tokens=50,
        overlap=10,
        seed="split",
    )


# ---------------------------------------------------------------------------
# BPE training's first step, fully oracled: the top adjacent
# character-pair frequencies over the lowercase-word vocabulary
# (weighted by word count). The iterative trainer (functions/bpe.py
# train_bpe) reuses exactly this relation per merge; its multi-step
# loop is witnessed by the differential pytest against a pure-Python
# BPE reference (tests/test_bpe.py), per the engine's convention for
# iterative algorithms.
# ---------------------------------------------------------------------------
@register(
    "q_bpe_pairs",
    f"""
    WITH wc AS (
      SELECT tok AS word, COUNT(*) AS cnt
      FROM (SELECT unnest({_TOKENS_SQL}) AS tok FROM documents)
      WHERE regexp_full_match(tok, '^[a-z]+$')
      GROUP BY tok
    ), pairs AS (
      SELECT s[i] || ' ' || s[i+1] AS pair, cnt
      FROM (SELECT string_split(word, '') AS s, cnt FROM wc),
           unnest(range(1, greatest(len(s), 1))) AS u(i)
    )
    SELECT pair, CAST(SUM(cnt) AS BIGINT) AS n
    FROM pairs GROUP BY pair
    ORDER BY n DESC, pair
    LIMIT 20
    """,
)
def q_bpe_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from frames_spark.functions.bpe import pair_counts, word_symbol_counts

    docs = core_ops.spread(load_table(spark, sf_dir, "documents"))
    vocab = word_symbol_counts(docs, "text")
    return (
        pair_counts(vocab)
        .select("pair", F.col("n").cast("long").alias("n"))
        .orderBy(F.desc("n"), "pair")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Chunk-level dedup accounting: after context-window chunking
# (q_chunk_docs parameters), what fraction of each doc's chunks is a
# byte-identical copy of a chunk seen earlier in the corpus?
# Packing pipelines drop those copies — repeated-chunk mass is
# training compute wasted on the same gradient. Canonical occurrence
# = global min (doc_id, chunk_idx) per fingerprint; one groupBy on
# the chunk hash, exact integers throughout.
# ---------------------------------------------------------------------------
@register(
    "q_chunk_dedup",
    f"""
    WITH chunked AS (
      SELECT doc_id,
             unnest(list_transform(
               range(1, greatest(len({_TOKENS_SQL}), 1) + 1, 40),
               s -> {{'idx': CAST((s - 1) / 40 AS BIGINT),
                      'toks': list_slice({_TOKENS_SQL}, s, s + 49)}}
             )) AS c
      FROM documents
    ), chunks AS (
      SELECT doc_id, c.idx AS chunk_idx,
             md5(array_to_string(c.toks, ' ')) AS fp
      FROM chunked WHERE len(c.toks) > 0
    ), canon AS (
      SELECT fp, COUNT(*) AS n, MIN(doc_id * 1000000 + chunk_idx) AS first_key
      FROM chunks GROUP BY fp
    )
    SELECT c.doc_id,
           COUNT(*) AS n_chunks,
           CAST(SUM(CASE WHEN k.n >= 2
                          AND c.doc_id * 1000000 + c.chunk_idx <> k.first_key
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_chunks,
           CAST(FLOOR(SUM(CASE WHEN k.n >= 2
                          AND c.doc_id * 1000000 + c.chunk_idx <> k.first_key
                               THEN 1 ELSE 0 END) * 1.0 / COUNT(*)
                * 1000000 + 0.5) AS BIGINT) AS dup_frac_micros
    FROM chunks c JOIN canon k USING (fp)
    GROUP BY c.doc_id
    """,
)
def q_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from frames_spark.pipelines.chunking import chunk_text

    docs = load_table(spark, sf_dir, "documents")
    chunks = chunk_text(docs, "doc_id", "text", max_tokens=50, overlap=10).select(
        "doc_id",
        "chunk_idx",
        F.md5(F.col("chunk_text")).alias("fp"),
        (F.col("doc_id") * 1000000 + F.col("chunk_idx")).alias("okey"),
    )
    canon = chunks.groupBy("fp").agg(
        F.count(F.lit(1)).alias("n"), F.min("okey").alias("first_key")
    )
    dup = F.when(
        (F.col("n") >= 2) & (F.col("okey") != F.col("first_key")), 1
    ).otherwise(0)
    return (
        chunks.join(canon, "fp")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.sum(dup).cast("long").alias("n_dup_chunks"),
            F.floor(F.sum(dup) * 1.0 / F.count(F.lit(1)) * 1_000_000 + 0.5)
            .cast("long")
            .alias("dup_frac_micros"),
        )
    )


# ---------------------------------------------------------------------------
# Repeated-span length distribution: merge each doc's excised
# 8-gram intervals (q_substring_dedup's duplicate occurrences) into
# maximal contiguous spans — the classic gaps-and-islands pass over
# the SPARSE duplicate-position relation (never the token stream) —
# and histogram the merged span lengths. Long spans = whole-passage
# boilerplate; short spans = incidental phrase reuse; curators tune
# the excision threshold from exactly this curve.
# ---------------------------------------------------------------------------
@register(
    "q_dup_span_lengths",
    """
    WITH toks AS (
      SELECT doc_id, list_filter(regexp_split_to_array(text, ' +'), x -> x <> '') AS t
      FROM documents
    ),
    grams AS (
      SELECT doc_id, i AS pos,
             md5(array_to_string(t[i+1:i+8], ' ')) AS h,
             doc_id * 1000000 + i AS okey
      FROM toks, unnest(range(0, greatest(len(t) - 7, 0))) AS u(i)
    ),
    canon AS (
      SELECT h, COUNT(*) AS c, MIN(okey) AS first_key
      FROM grams GROUP BY h HAVING COUNT(*) >= 2
    ),
    dups AS (
      SELECT g.doc_id, g.pos, g.pos + 7 AS pend
      FROM grams g JOIN canon c USING (h)
      WHERE g.okey <> c.first_key
    ),
    isl AS (
      SELECT doc_id, pos, pend,
             CASE WHEN pos > COALESCE(MAX(pend) OVER (PARTITION BY doc_id
                    ORDER BY pos, pend
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
                  THEN 1 ELSE 0 END AS new_island
      FROM dups
    ),
    grp AS (
      SELECT doc_id, pos, pend,
             SUM(new_island) OVER (PARTITION BY doc_id ORDER BY pos, pend
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
      FROM isl
    ),
    spans AS (
      SELECT doc_id, island,
             MAX(pend) - MIN(pos) + 1 AS span_len
      FROM grp GROUP BY doc_id, island
    )
    SELECT CAST(span_len AS BIGINT) AS span_len,
           COUNT(*) AS n_spans
    FROM spans GROUP BY span_len
    """,
)
def q_dup_span_lengths(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        F.col("doc_id"),
        F.expr("filter(split(text, ' +'), x -> x != '')").alias("_toks"),
    )
    grams = toks.select(
        "doc_id",
        F.posexplode(
            F.expr(
                "CASE WHEN size(_toks) >= 8 THEN "
                "transform(sequence(0, size(_toks) - 8), "
                "i -> md5(concat_ws(' ', slice(_toks, i + 1, 8)))) "
                "ELSE array() END"
            )
        ).alias("pos", "h"),
    ).withColumn("okey", F.col("doc_id") * 1000000 + F.col("pos"))
    canon = (
        grams.groupBy("h")
        .agg(F.count(F.lit(1)).alias("c"), F.min("okey").alias("first_key"))
        .filter(F.col("c") >= 2)
    )
    dups = (
        grams.join(canon, "h")
        .filter(F.col("okey") != F.col("first_key"))
        .select("doc_id", "pos", (F.col("pos") + 7).alias("pend"))
    )
    # gaps-and-islands over the sparse duplicate-position relation,
    # partitioned by doc (bounded per doc, never the token stream)
    w = Window.partitionBy("doc_id").orderBy("pos", "pend")
    prev_end = F.max("pend").over(w.rowsBetween(Window.unboundedPreceding, -1))
    isl = dups.withColumn(
        "new_island",
        F.when(F.col("pos") > F.coalesce(prev_end, F.lit(-1)), 1).otherwise(0),
    )
    grp = isl.withColumn(
        "island",
        F.sum("new_island").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    spans = grp.groupBy("doc_id", "island").agg(
        (F.max("pend") - F.min("pos") + 1).alias("span_len")
    )
    return spans.groupBy(F.col("span_len").cast("long").alias("span_len")).agg(
        F.count(F.lit(1)).alias("n_spans")
    )


# ---------------------------------------------------------------------------
# Per-dimension quantile clipping bounds for the embedding table —
# the preprocessing step before fixed-point quantization or PQ
# training (outlier dimensions blow up codebook ranges). Exact
# p1/p99 per dimension from the per-(dim, value) count relation via
# the grouped two-phase prefix sum — never a per-row rank — with
# integer ceil targets; the outside-mass recount joins the bounded
# 64-row bounds relation back to the value counts.
# ---------------------------------------------------------------------------
@register(
    "q_embed_dim_clip",
    """
    WITH ex AS (
      SELECT i, CAST(FLOOR(CAST(embedding[i] AS DOUBLE) * 1048576 + 0.5) AS BIGINT) AS e
      FROM embeddings, range(1, 65) t(i)
    ), vals AS (
      SELECT i, e, COUNT(*) AS cnt FROM ex GROUP BY i, e
    ), cum AS (
      SELECT i, e, cnt,
             SUM(cnt) OVER (PARTITION BY i ORDER BY e
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c,
             SUM(cnt) OVER (PARTITION BY i) AS n
      FROM vals
    ), bounds AS (
      SELECT i, MIN(n) AS n,
             MIN(CASE WHEN c >= (n + 99) // 100 THEN e END) AS p01,
             MIN(CASE WHEN c >= (99 * n + 99) // 100 THEN e END) AS p99
      FROM cum GROUP BY i
    )
    SELECT b.i AS dim, CAST(b.n AS BIGINT) AS n,
           CAST(b.p01 AS BIGINT) AS p01_fixed,
           CAST(b.p99 AS BIGINT) AS p99_fixed,
           CAST(SUM(CASE WHEN v.e < b.p01 OR v.e > b.p99
                         THEN v.cnt ELSE 0 END) AS BIGINT) AS n_outside
    FROM bounds b JOIN vals v ON v.i = b.i
    GROUP BY b.i, b.n, b.p01, b.p99
    """,
)
def q_embed_dim_clip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from frames_spark.operators.ranking import grouped_prefix_sum

    emb = core_ops.spread(load_table(spark, sf_dir, "embeddings"))
    ex = emb.select(
        F.posexplode(
            F.expr(
                "transform(embedding, "
                "x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1048576 + 0.5) AS BIGINT))"
            )
        ).alias("i0", "e")
    ).select((F.col("i0") + 1).alias("i"), "e")
    vals = ex.groupBy("i", "e").agg(F.count(F.lit(1)).alias("cnt"))
    cum = grouped_prefix_sum(vals, ["i"], ["e"], "cnt", cum_col="c", total_col="n")
    t1 = F.expr("(n + 99) DIV 100")
    t99 = F.expr("(99 * n + 99) DIV 100")
    bounds = cum.groupBy("i").agg(
        F.min("n").alias("n"),
        F.min(F.when(F.col("c") >= t1, F.col("e"))).alias("p01"),
        F.min(F.when(F.col("c") >= t99, F.col("e"))).alias("p99"),
    )
    return (
        vals.join(F.broadcast(bounds), "i")
        .groupBy(
            F.col("i").cast("long").alias("dim"),
            F.col("n").cast("long").alias("n"),
            F.col("p01").cast("long").alias("p01_fixed"),
            F.col("p99").cast("long").alias("p99_fixed"),
        )
        .agg(
            F.sum(
                F.when(
                    (F.col("e") < F.col("p01")) | (F.col("e") > F.col("p99")),
                    F.col("cnt"),
                ).otherwise(0)
            )
            .cast("long")
            .alias("n_outside")
        )
    )


# ---------------------------------------------------------------------------
# Per-customer lag features: the feature-engineering pass a churn /
# LTV model trains on — previous order value, days since previous
# order, and the trailing-3 average — in ONE window pass partitioned
# by the high-cardinality customer key (parallelism = |customers|,
# the correct direction; contrast the low-cardinality windows the
# two-phase rank exists for). Monetary trailing mean closes with the
# pure integer rounding division.
# ---------------------------------------------------------------------------
@register(
    "q_lag_features",
    f"""
    SELECT o_custkey, o_orderkey,
           CAST(prev_micros AS BIGINT) AS prev_micros,
           CAST(gap_days AS BIGINT) AS gap_days,
           CAST((s3 + n3 // 2) // n3 AS BIGINT) AS avg3_micros
    FROM (
      SELECT o_custkey, o_orderkey,
             LAG({_MICROS_SQL.format(expr='o_totalprice')})
               OVER w AS prev_micros,
             CAST(o_orderdate AS DATE)
               - LAG(CAST(o_orderdate AS DATE)) OVER w AS gap_days,
             SUM(CAST({_MICROS_SQL.format(expr='o_totalprice')} AS HUGEINT))
               OVER (w ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS s3,
             COUNT(*) OVER (w ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS n3
      FROM orders
      WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    )
    """,
)
def q_lag_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    w3 = w.rowsBetween(-2, 0)
    v = _micros(F.col("o_totalprice"))
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.lag(v).over(w).alias("prev_micros"),
        F.datediff(
            F.col("o_orderdate"), F.lag("o_orderdate").over(w)
        ).cast("long").alias("gap_days"),
        F.sum(v.cast("decimal(38,0)")).over(w3).alias("s3"),
        F.count(F.lit(1)).over(w3).alias("n3"),
    ).select(
        "o_custkey",
        "o_orderkey",
        "prev_micros",
        "gap_days",
        F.expr(
            "CAST((s3 + n3 DIV 2) DIV n3 AS BIGINT)"
        ).alias("avg3_micros"),
    )


# ---------------------------------------------------------------------------
# Inverse-frequency class weights over the embedding labels — the
# standard imbalanced-training prep (w_c = n / (k * n_c)), exact via
# one aggregate + integer rounding division against the broadcast
# 1-row totals.
# ---------------------------------------------------------------------------
@register(
    "q_class_weights",
    """
    WITH c AS (
      SELECT label, COUNT(*) AS n_c FROM embeddings GROUP BY label
    ), t AS (SELECT SUM(n_c) AS n, COUNT(*) AS k FROM c)
    SELECT label, CAST(n_c AS BIGINT) AS n_c,
           CAST((n * 1000000 + (k * n_c) // 2) // (k * n_c) AS BIGINT)
             AS weight_micros
    FROM c CROSS JOIN t
    """,
)
def q_class_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    c = emb.groupBy("label").agg(F.count(F.lit(1)).alias("n_c"))
    t = c.agg(F.sum("n_c").alias("n"), F.count(F.lit(1)).alias("k"))
    return c.crossJoin(F.broadcast(t)).select(
        "label",
        F.col("n_c").cast("long").alias("n_c"),
        F.expr(
            "CAST((n * 1000000 + (k * n_c) DIV 2) DIV (k * n_c) AS BIGINT)"
        ).alias("weight_micros"),
    )


# ---------------------------------------------------------------------------
# Deterministic negative sampling for recommender training: for each
# of the first 50 customers, k=5 hash-derived candidate parts, with
# actually-purchased parts anti-joined away. The hash makes negatives
# reproducible across runs/engines/partitionings (no rand()), and
# candidate generation is a scan-stage explode — the positives
# anti-join is the only shuffle.
# ---------------------------------------------------------------------------
@register(
    "q_negative_sampling",
    """
    WITH users AS (
      SELECT DISTINCT c_custkey FROM customer WHERE c_custkey <= 50
    ), nparts AS (SELECT MAX(p_partkey) AS np FROM part),
    cand AS (
      SELECT c_custkey,
             1 + CAST('0x' || substr(md5(concat('neg#',
                   CAST(c_custkey AS VARCHAR), '-', CAST(i AS VARCHAR))), 1, 15)
                 AS BIGINT) % np AS part_id,
             i AS draw
      FROM users CROSS JOIN nparts, unnest(range(1, 6)) AS u(i)
    ), pos AS (
      SELECT DISTINCT o.o_custkey AS c_custkey, l.l_partkey AS part_id
      FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      WHERE o.o_custkey <= 50
    )
    SELECT c.c_custkey, CAST(c.part_id AS BIGINT) AS part_id,
           CAST(c.draw AS BIGINT) AS draw
    FROM cand c LEFT JOIN pos p
      ON p.c_custkey = c.c_custkey AND p.part_id = c.part_id
    WHERE p.part_id IS NULL
    """,
)
def q_negative_sampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    from frames_spark.functions.hashing import hash60

    c = load_table(spark, sf_dir, "customer").filter(F.col("c_custkey") <= 50)
    users = c.select("c_custkey").distinct()
    nparts = load_table(spark, sf_dir, "part").agg(
        F.max("p_partkey").alias("np")
    )
    key = F.concat(
        F.col("c_custkey").cast("string"), F.lit("-"), F.col("draw").cast("string")
    )
    cand = (
        users.crossJoin(F.broadcast(nparts))
        .withColumn("draw", F.explode(F.sequence(F.lit(1), F.lit(5))))
        .select(
            "c_custkey",
            (1 + hash60(key, seed="neg") % F.col("np")).alias("part_id"),
            F.col("draw").cast("long").alias("draw"),
        )
    )
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_custkey") <= 50)
    li = load_table(spark, sf_dir, "lineitem")
    pos = (
        o.join(li, o["o_orderkey"] == li["l_orderkey"])
        .select(
            F.col("o_custkey").alias("c_custkey"),
            F.col("l_partkey").alias("part_id"),
        )
        .distinct()
    )
    return cand.join(pos, ["c_custkey", "part_id"], "left_anti").select(
        "c_custkey", F.col("part_id").cast("long").alias("part_id"), "draw"
    )


# ---------------------------------------------------------------------------
# Dataset card: the one-row corpus summary a curator publishes with
# a training set — size, token mass, vocabulary, exact-dup rate,
# language-mix entropy, mean length. Each figure is an established
# exact formulation (md5 fingerprints, nano-quantized p ln p terms,
# integer rounding division); the card is their 1-row-broadcast
# composition, so it costs a handful of aggregates, not a new scan
# per figure.
# ---------------------------------------------------------------------------
@register(
    "q_dataset_card",
    f"""
    WITH base AS (
      SELECT COUNT(*) AS n_docs,
             CAST(SUM(len({_TOKENS_SQL})) AS BIGINT) AS n_tokens,
             COUNT(DISTINCT md5(text)) AS n_distinct,
             CAST(SUM(n_chars) AS BIGINT) AS sum_chars
      FROM documents
    ), vocab AS (
      SELECT COUNT(*) AS vocab_size FROM (
        SELECT DISTINCT tok FROM (SELECT unnest({_TOKENS_SQL}) AS tok FROM documents)
        WHERE tok <> ''
      )
    ), langs AS (
      SELECT CAST(SUM(CAST(FLOOR(-(n * 1.0 / t) * ln(n * 1.0 / t)
                * 1000000000 + 0.5) AS BIGINT)) AS BIGINT) AS lang_entropy_nanos
      FROM (SELECT lang, COUNT(*) AS n, SUM(COUNT(*)) OVER () AS t
            FROM documents GROUP BY lang)
    )
    SELECT CAST(n_docs AS BIGINT) AS n_docs,
           n_tokens,
           CAST(vocab_size AS BIGINT) AS vocab_size,
           CAST(n_docs - n_distinct AS BIGINT) AS n_exact_dups,
           CAST(FLOOR((n_docs - n_distinct) * 1.0 / n_docs * 1000000 + 0.5)
                AS BIGINT) AS dup_rate_micros,
           lang_entropy_nanos,
           CAST((sum_chars * 1000000 + n_docs // 2) // n_docs AS BIGINT)
             AS mean_chars_micros
    FROM base CROSS JOIN vocab CROSS JOIN langs
    """,
)
def q_dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = core_ops.spread(load_table(spark, sf_dir, "documents"))
    base = docs.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size(text_fns.tokens(F.col("text")))).alias("n_tokens"),
        F.countDistinct(F.md5(F.col("text"))).alias("n_distinct"),
        F.sum("n_chars").alias("sum_chars"),
    )
    vocab = (
        docs.select(F.explode(text_fns.tokens(F.col("text"))).alias("tok"))
        .filter(F.col("tok") != "")
        .agg(F.countDistinct("tok").alias("vocab_size"))
    )
    lc = docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n"))
    lt = lc.agg(F.sum("n").alias("t"))
    p = F.col("n") * 1.0 / F.col("t")
    langs = (
        lc.crossJoin(F.broadcast(lt))
        .agg(
            F.sum(F.floor(-p * F.log(p) * 1_000_000_000 + 0.5).cast("long"))
            .cast("long")
            .alias("lang_entropy_nanos")
        )
    )
    dups = F.col("n_docs") - F.col("n_distinct")
    return (
        base.crossJoin(F.broadcast(vocab))
        .crossJoin(F.broadcast(langs))
        .select(
            F.col("n_docs").cast("long").alias("n_docs"),
            F.col("n_tokens").cast("long").alias("n_tokens"),
            F.col("vocab_size").cast("long").alias("vocab_size"),
            dups.cast("long").alias("n_exact_dups"),
            F.floor(dups * 1.0 / F.col("n_docs") * 1_000_000 + 0.5)
            .cast("long")
            .alias("dup_rate_micros"),
            "lang_entropy_nanos",
            F.expr(
                "CAST((sum_chars * 1000000 + n_docs DIV 2) DIV n_docs AS BIGINT)"
            ).alias("mean_chars_micros"),
        )
    )


# ---------------------------------------------------------------------------
# Temporal split boundary: the leakage-free alternative to hash
# splits for time-series models — train on everything before the
# exact 90th-percentile order date, evaluate after. The boundary
# comes from the per-date count relation (calendar-bounded) with an
# exact integer 90% gate; one conditional aggregate counts the
# sides.
# ---------------------------------------------------------------------------
@register(
    "q_time_split",
    """
    WITH vals AS (
      SELECT CAST(date_trunc('day', o_orderdate) AS TIMESTAMP) AS d,
             COUNT(*) AS cnt
      FROM orders GROUP BY 1
    ), cum AS (
      SELECT d, cnt,
             SUM(cnt) OVER (ORDER BY d
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c,
             SUM(cnt) OVER () AS n
      FROM vals
    ), b AS (
      SELECT MIN(d) AS split_day FROM cum WHERE 10 * c >= 9 * n
    )
    SELECT split_day,
           CAST(SUM(CASE WHEN d <= split_day THEN cnt ELSE 0 END) AS BIGINT)
             AS n_train,
           CAST(SUM(CASE WHEN d > split_day THEN cnt ELSE 0 END) AS BIGINT)
             AS n_test
    FROM vals CROSS JOIN b
    GROUP BY split_day
    """,
)
def q_time_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    from frames_spark.operators.ranking import grouped_prefix_sum

    o = load_table(spark, sf_dir, "orders")
    vals = o.groupBy(
        F.date_trunc("day", F.col("o_orderdate")).alias("d")
    ).agg(F.count(F.lit(1)).alias("cnt"))
    cum = grouped_prefix_sum(vals, [], ["d"], "cnt", cum_col="c", total_col="n")
    b = cum.filter(10 * F.col("c") >= 9 * F.col("n")).agg(
        F.min("d").alias("split_day")
    )
    return (
        vals.crossJoin(F.broadcast(b))
        .groupBy("split_day")
        .agg(
            F.sum(F.when(F.col("d") <= F.col("split_day"), F.col("cnt")).otherwise(0))
            .cast("long")
            .alias("n_train"),
            F.sum(F.when(F.col("d") > F.col("split_day"), F.col("cnt")).otherwise(0))
            .cast("long")
            .alias("n_test"),
        )
    )


# ---------------------------------------------------------------------------
# Filtered ANN: top-5 cosine neighbors CONSTRAINED to the query's
# own label — the metadata-filtered search every production vector
# store exposes (category-scoped retrieval). The filter composes
# INSIDE the join predicate, so pruned rows never reach the distance
# computation; exact fixed-point arithmetic as in q_ann_bruteforce.
# ---------------------------------------------------------------------------
_ANN_FILTERED_ORACLE = f"""
    WITH fixed AS (
      SELECT e.vec_id, e.label, f.i, f.e
      FROM embeddings e JOIN ({_FIXED_SQL.format(corpus="SELECT vec_id, embedding FROM embeddings")}) f
        ON f.vec_id = e.vec_id
    ),
    norms AS (SELECT vec_id, SUM(e * e) AS n2 FROM fixed GROUP BY vec_id),
    dots AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, SUM(q.e * c.e) AS dot
      FROM fixed q JOIN fixed c
        ON q.i = c.i AND q.vec_id <> c.vec_id AND q.label = c.label
      WHERE q.vec_id < 5
      GROUP BY 1, 2
    )
    SELECT query_id, neighbor_id, cosine, CAST(rank AS BIGINT) AS rank FROM (
      SELECT query_id, neighbor_id,
             CAST(dot AS DOUBLE) / (sqrt(CAST(nq.n2 AS DOUBLE)) * sqrt(CAST(nc.n2 AS DOUBLE))) AS cosine,
             ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY
               CAST(dot AS DOUBLE) / (sqrt(CAST(nq.n2 AS DOUBLE)) * sqrt(CAST(nc.n2 AS DOUBLE))) DESC,
               neighbor_id) AS rank
      FROM dots
      JOIN norms nq ON query_id = nq.vec_id
      JOIN norms nc ON neighbor_id = nc.vec_id
    ) WHERE rank <= 5
"""


@register("q_ann_filtered", _ANN_FILTERED_ORACLE)
def q_ann_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from frames_spark.dedup.embedding import _fixed
    from frames_spark.functions.vectors import cosine_from_fixed, dot_fixed

    emb = load_table(spark, sf_dir, "embeddings")
    fixed = _fixed(emb, "vec_id", "embedding").join(
        emb.select(F.col("vec_id").alias("vid"), "label"), "vid"
    )
    # query-set filter applied to the BASE table (vec_id, before any
    # alias) so it prunes ahead of the fixed-point transform — and so
    # the advisor's bounded-filter heuristic can prove the broadcast
    # side is an explicit id-pinned query set
    qe = emb.filter(F.col("vec_id") < 5)
    q = _fixed(qe, "vec_id", "embedding").join(
        qe.select(F.col("vec_id").alias("vid"), "label"), "vid"
    ).select(
        F.col("vid").alias("query_id"),
        F.col("fvec").alias("qvec"),
        F.col("n2").alias("qn2"),
        F.col("label").alias("qlabel"),
    )
    scored = (
        fixed.join(
            F.broadcast(q),
            (F.col("label") == F.col("qlabel")) & (F.col("vid") != F.col("query_id")),
        )
        .withColumn(
            "cosine",
            cosine_from_fixed(
                dot_fixed(F.col("qvec"), F.col("fvec")), F.col("qn2"), F.col("n2")
            ),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), "vid")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
        .select(
            "query_id",
            F.col("vid").alias("neighbor_id"),
            "cosine",
            F.col("rank").cast("long").alias("rank"),
        )
    )


# ---------------------------------------------------------------------------
# Grouped excess kurtosis (Fisher g2) per segment — the tail-weight
# companion to q_group_skewness. CENTERED two-pass formulation (r14
# sf10 find): the original raw-moment combination n³s4−4n²s1s3+... is
# a catastrophic cancellation — at sf10 density the ~1e47 terms cancel
# 4+ decades, amplifying a single input-cast ULP into a wrong-SIGN
# result (both engines agreed on the same garbage until the amplified
# ULP finally diverged by 1 micro; measured −8.17e13 vs the true
# +1.36e14... which exposed that the old expansion ALSO carried an
# extra factor n on its last two terms). Pass 1 derives an exact
# integer pivot c = s1 div n; pass 2 sums EXACT centered powers
# y=x−c (Σy = δ < n, so the big terms carry no mean mass and all
# cancellation happens inside exact integer arithmetic). The double
# finish touches only non-cancelling corrections scaled by μ=δ/n<1
# and uses +,−,*,/ ONLY (IEEE-exact, bit-identical cross-engine).
# Deci-unit x keeps Σy⁴ inside 38 digits through sf1000.
# ---------------------------------------------------------------------------
@register(
    "q_group_kurtosis",
    f"""
    WITH {_central_moments_sql(10, 4)}
    SELECT c_mktsegment, CAST(n AS BIGINT) AS n,
           CAST(FLOOR(m4 / (m2 * m2) * 1000000 - 3000000 + 0.5) AS BIGINT)
             AS kurtosis_micros
    FROM (
      SELECT c_mktsegment, n, mu,
             (CAST(d2 AS DOUBLE) - CAST(dlt AS DOUBLE) * mu) / CAST(n AS DOUBLE) AS m2,
             (CAST(d4 AS DOUBLE) - 4.0 * mu * CAST(d3 AS DOUBLE)
              + 6.0 * mu * mu * CAST(d2 AS DOUBLE)
              - 3.0 * CAST(dlt AS DOUBLE) * mu * mu * mu) / CAST(n AS DOUBLE) AS m4
      FROM (SELECT *, CAST(dlt AS DOUBLE) / CAST(n AS DOUBLE) AS mu FROM m)
    )
    """,
)
def q_group_kurtosis(spark: SparkSession, sf_dir: str) -> DataFrame:
    m = _central_moments(spark, sf_dir, scale=10, hi=4)
    mu = F.col("dlt").cast("double") / F.col("n").cast("double")
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    m2 = (d("d2") - d("dlt") * mu) / d("n")
    m4 = (
        d("d4") - 4.0 * mu * d("d3") + 6.0 * mu * mu * d("d2")
        - 3.0 * d("dlt") * mu * mu * mu
    ) / d("n")
    return m.select(
        "c_mktsegment",
        F.col("n").cast("long").alias("n"),
        F.floor(m4 / (m2 * m2) * 1_000_000 - 3_000_000 + 0.5)
        .cast("long")
        .alias("kurtosis_micros"),
    )


# ---------------------------------------------------------------------------
# Shingle CONTAINMENT pairs: |A∩B| / |A| — the asymmetric companion
# to q_dedup_ngram's Jaccard. Jaccard misses subset relationships (a
# quoted excerpt scores low because the host doc is large);
# containment finds "A is inside B" directly, which is how quote /
# mirror / expansion dup detection works. Same shingle inverted
# index, ordered pairs, and a pure integer threshold gate
# (5 n_common >= 4 |A| ⇔ containment >= 0.8).
# ---------------------------------------------------------------------------
# Stop-shingle guard for the containment pair queries: shingles in
# more docs than this are dropped BEFORE pair generation (bounding
# every posting list), mirrored exactly in the oracle's HAVING gate.
_CONTAIN_MAX_DF = 64


@register(
    "q_containment",
    f"""
    WITH corpus AS ({_NEAR_CORPUS_SQL}),
    shingled0 AS ({_SHINGLES_SQL.format(tokens=_TOKENS_SQL, corpus="SELECT * FROM corpus")}),
    rare AS (
      SELECT shingle FROM shingled0 GROUP BY shingle
      HAVING COUNT(*) <= {_CONTAIN_MAX_DF}
    ),
    shingled AS (SELECT s.* FROM shingled0 s JOIN rare USING (shingle)),
    sizes AS (SELECT doc, COUNT(*) AS n_shingles FROM shingled GROUP BY doc),
    inter AS (
      SELECT a.doc AS doc_a, b.doc AS doc_b, COUNT(*) AS n_common
      FROM shingled a JOIN shingled b ON a.shingle = b.shingle AND a.doc <> b.doc
      GROUP BY 1, 2
    )
    SELECT doc_a, doc_b,
           CAST(n_common AS BIGINT) AS n_common,
           CAST(n_common AS DOUBLE) / CAST(sa.n_shingles AS DOUBLE)
             AS containment
    FROM inter JOIN sizes sa ON doc_a = sa.doc
    WHERE 5 * n_common >= 4 * sa.n_shingles
    """,
)
def q_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Candidate generation rides dedup/jaccard.py's posting-list
    # expansion (shingle lineage once, i<j pairs aggregated once,
    # ordered mirror via a post-agg row-local explode) with the
    # max_df stop-shingle guard — never a raw two-sided index
    # self-join, which a hot boilerplate shingle turns quadratic.
    # Explicit pin (the library default is "auto"): this oracle's rare
    # CTE hardcodes df <= _CONTAIN_MAX_DF, so the Spark side must pin
    # the same cap. The governed twin is q_containment_auto.
    docs = load_table(spark, sf_dir, "documents")
    return (
        jac_ops.containment_pairs(
            _with_near_copies(docs), "doc_id", "text", 3,
            max_df=_CONTAIN_MAX_DF, guard="off",
        )
        .filter(5 * F.col("n_common") >= 4 * F.col("n_shingles_a"))
        .select(
            "doc_a",
            "doc_b",
            F.col("n_common").cast("long").alias("n_common"),
            "containment",
        )
    )


# ---------------------------------------------------------------------------
# Recall@k curve of the bucketed LSH ANN vs exact search — the third
# leg of the ANN quality triptych (q_embed_lsh_recall: pair recall;
# q_ann_mrr: rank position; this: cutoff sensitivity). Exact hit
# counts, integer rounding division per k, both sides fully modeled
# in the oracle.
# ---------------------------------------------------------------------------
@register(
    "q_recall_at_k",
    f"""
    WITH fixed AS ({_FIXED_SQL.format(corpus="SELECT vec_id, embedding FROM embeddings")}),
    norms AS (SELECT vec_id, SUM(e * e) AS n2 FROM fixed GROUP BY vec_id),
    bf_dots AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, SUM(q.e * c.e) AS dot
      FROM fixed q JOIN fixed c ON q.i = c.i AND q.vec_id <> c.vec_id
      WHERE q.vec_id < 10
      GROUP BY 1, 2
    ),
    exact AS (
      SELECT query_id, neighbor_id, rn FROM (
        SELECT query_id, neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY
                 CAST(dot AS DOUBLE) / (sqrt(CAST(nq.n2 AS DOUBLE)) * sqrt(CAST(nc.n2 AS DOUBLE))) DESC,
                 neighbor_id) AS rn
        FROM bf_dots
        JOIN norms nq ON query_id = nq.vec_id
        JOIN norms nc ON neighbor_id = nc.vec_id
      ) WHERE rn <= 10
    ),
    planes(p, i, c) AS (VALUES {_ANN_PLANES_VALUES}),
    signs AS (
      SELECT vec_id, p,
             CASE WHEN SUM(e * c) >= 0 THEN '1' ELSE '0' END AS sign
      FROM fixed JOIN planes USING (i)
      GROUP BY vec_id, p
    ),
    buckets AS (
      SELECT vec_id, string_agg(sign, '' ORDER BY p) AS bucket
      FROM signs GROUP BY vec_id
    ),
    pairs AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id
      FROM buckets q JOIN buckets c ON q.bucket = c.bucket
      WHERE q.vec_id < 10 AND c.vec_id <> q.vec_id
    ),
    lsh_dots AS (
      SELECT query_id, neighbor_id, SUM(a.e * b.e) AS dot
      FROM pairs
      JOIN fixed a ON a.vec_id = query_id
      JOIN fixed b ON b.vec_id = neighbor_id AND b.i = a.i
      GROUP BY query_id, neighbor_id
    ),
    lsh AS (
      SELECT query_id, neighbor_id, rn FROM (
        SELECT query_id, neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY
                 CAST(dot AS DOUBLE) / (sqrt(CAST(nq.n2 AS DOUBLE)) * sqrt(CAST(nc.n2 AS DOUBLE))) DESC,
                 neighbor_id) AS rn
        FROM lsh_dots
        JOIN norms nq ON query_id = nq.vec_id
        JOIN norms nc ON neighbor_id = nc.vec_id
      ) WHERE rn <= 10
    ),
    ks(k) AS (VALUES (1), (5), (10)),
    nq AS (SELECT COUNT(DISTINCT query_id) AS n FROM exact)
    SELECT CAST(ks.k AS BIGINT) AS k,
           CAST(nq.n AS BIGINT) AS n_queries,
           CAST(COALESCE(SUM(CASE WHEN l.neighbor_id IS NOT NULL THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_hits,
           CAST((COALESCE(SUM(CASE WHEN l.neighbor_id IS NOT NULL THEN 1 ELSE 0 END), 0) * 1000000
                 + (ks.k * nq.n) // 2) // (ks.k * nq.n) AS BIGINT) AS recall_micros
    FROM ks CROSS JOIN nq
    LEFT JOIN exact e ON e.rn <= ks.k
    LEFT JOIN lsh l ON l.query_id = e.query_id AND l.neighbor_id = e.neighbor_id
                    AND l.rn <= ks.k
    GROUP BY ks.k, nq.n
    """,
)
def q_recall_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 10)
    exact = ann_ops.brute_force_topk(emb, q, "vec_id", "embedding", k=10).select(
        "query_id", "neighbor_id", F.col("rank").alias("ern")
    )
    lsh = ann_ops.lsh_topk(emb, q, "vec_id", "embedding", k=10, num_planes=4).select(
        "query_id", "neighbor_id", F.col("rank").alias("lrn")
    )
    nq = exact.agg(F.countDistinct("query_id").alias("n"))
    ks = emb.sparkSession.createDataFrame([(1,), (5,), (10,)], "k long")
    joined = exact.join(lsh, ["query_id", "neighbor_id"], "left")
    hits = (
        F.broadcast(ks)
        .crossJoin(F.broadcast(nq))
        .join(
            joined,
            (joined["ern"] <= F.col("k")) & (joined["lrn"] <= F.col("k")),
            "left",
        )
        .groupBy("k", "n")
        .agg(
            F.sum(
                F.when(F.col("neighbor_id").isNotNull(), 1).otherwise(0)
            ).alias("n_hits")
        )
    )
    return hits.select(
        "k",
        F.col("n").cast("long").alias("n_queries"),
        F.col("n_hits").cast("long").alias("n_hits"),
        F.expr(
            "CAST((n_hits * 1000000 + (k * n) DIV 2) DIV (k * n) AS BIGINT)"
        ).alias("recall_micros"),
    )


# ---------------------------------------------------------------------------
# Dedup-family summary: every tier of the dedup ladder measured on
# the SAME corpus (the near-copy-augmented set all the dedup oracles
# share) in one row — exact-dup docs, greedy MinHash-LSH near-dup
# drops, asymmetric containment pairs, and substring-level tokens
# excised. The comparative rollup a curator reads before choosing
# which tiers to enable; each figure reuses its tier's established
# exact formulation.
# ---------------------------------------------------------------------------
@register(
    "q_dedup_summary",
    _MH_CTES + f"""
    , stoks AS (
      SELECT doc_id, list_filter(regexp_split_to_array(text, ' +'), x -> x <> '') AS t
      FROM corpus
    ),
    sgrams AS (
      SELECT doc_id, i AS pos,
             md5(array_to_string(t[i+1:i+8], ' ')) AS h,
             doc_id * 1000000 + i AS okey
      FROM stoks, unnest(range(0, greatest(len(t) - 7, 0))) AS u(i)
    ),
    scanon AS (
      SELECT h, MIN(okey) AS fk FROM sgrams GROUP BY h HAVING COUNT(*) >= 2
    ),
    sdups AS (
      SELECT g.doc_id, g.pos FROM sgrams g JOIN scanon c USING (h)
      WHERE g.okey <> c.fk
    ),
    tokrows AS (
      SELECT doc_id, unnest(range(0, len(t))) AS i FROM stoks
    ),
    covered AS (
      SELECT DISTINCT r.doc_id, r.i
      FROM tokrows r JOIN sdups d
        ON d.doc_id = r.doc_id AND r.i BETWEEN d.pos AND d.pos + 7
    ),
    crare AS (
      SELECT shingle FROM shingled GROUP BY shingle
      HAVING COUNT(*) <= {_CONTAIN_MAX_DF}
    ),
    ckept AS (SELECT s.* FROM shingled s JOIN crare USING (shingle)),
    sizes AS (SELECT doc, COUNT(*) AS n FROM ckept GROUP BY doc),
    inter AS (
      SELECT a.doc AS da, b.doc AS db, COUNT(*) AS nc
      FROM ckept a JOIN ckept b
        ON a.shingle = b.shingle AND a.doc <> b.doc
      GROUP BY 1, 2
    )
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM corpus) AS n_docs,
           (SELECT CAST(SUM(len(t)) AS BIGINT) FROM stoks) AS n_tokens,
           (SELECT CAST(COUNT(*) - COUNT(DISTINCT md5(text)) AS BIGINT)
            FROM corpus) AS exact_dup_docs,
           (SELECT CAST(COUNT(DISTINCT doc_b) AS BIGINT)
            FROM ({_MH_PAIRS_SELECT})) AS near_dup_docs_greedy,
           (SELECT CAST(COUNT(*) AS BIGINT)
            FROM inter JOIN sizes sa ON da = sa.doc
            WHERE 5 * nc >= 4 * sa.n) AS containment_pairs,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM covered)
             AS substring_tokens_removed
    """,
)
def q_dedup_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    from frames_spark.dedup.substring import excise_repeated_ngrams

    docs = load_table(spark, sf_dir, "documents")
    corpus = core_ops.spread(_with_near_copies(docs))
    # one corpus scan for the scalar counters (docs / distinct / tokens)
    base = corpus.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct(F.md5(F.col("text"))).alias("n_distinct"),
        F.sum(
            F.size(F.expr("filter(split(text, ' +'), x -> x != '')"))
        ).alias("n_tokens"),
    )
    # ONE shingle index feeds both the MinHash and containment tiers;
    # persisted (memory-and-disk) so the corpus is scanned and
    # shingled once, not once per tier.
    sh = jac_ops.shingle_index(corpus, "doc_id", "text", 3).persist()
    sigs = mh_ops.minhash_signatures_from_index(sh, num_hashes=_MH_K)
    near = (
        mh_ops.lsh_candidate_pairs(sigs, _MH_BANDS, _MH_ROWS)
        .agg(F.countDistinct("doc_b").alias("near_dup_docs_greedy"))
    )
    # containment leg reuses the repaired posting-list + max_df tier
    # (q_containment's exact formulation — never a raw index self-join)
    cont = (
        jac_ops.containment_pairs_from_index(
            sh, max_df=_CONTAIN_MAX_DF, guard="off"
        )
        .filter(5 * F.col("n_common") >= 4 * F.col("n_shingles_a"))
        .agg(F.count(F.lit(1)).alias("containment_pairs"))
    )
    sub = excise_repeated_ngrams(corpus, "doc_id", "text", n=8).agg(
        F.sum("n_removed").alias("substring_tokens_removed")
    )
    return (
        base.crossJoin(F.broadcast(near))
        .crossJoin(F.broadcast(cont))
        .crossJoin(F.broadcast(sub))
        .select(
            F.col("n_docs").cast("long").alias("n_docs"),
            F.col("n_tokens").cast("long").alias("n_tokens"),
            (F.col("n_docs") - F.col("n_distinct"))
            .cast("long")
            .alias("exact_dup_docs"),
            F.col("near_dup_docs_greedy").cast("long").alias("near_dup_docs_greedy"),
            F.col("containment_pairs").cast("long").alias("containment_pairs"),
            F.col("substring_tokens_removed")
            .cast("long")
            .alias("substring_tokens_removed"),
        )
    )


# ---------------------------------------------------------------------------
# Entropy RATE of the event process: -sum p(cur,next) ln p(next|cur)
# — the single-number predictability summary over q_cond_entropy's
# per-state table (how many bits each step of user behavior carries).
# Per-transition nano-quantized terms, exact integer sums.
# ---------------------------------------------------------------------------
@register(
    "q_entropy_rate",
    """
    WITH seq AS (
      SELECT event_type AS cur,
             LEAD(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS nxt
      FROM events
    ), cnt AS (
      SELECT cur, nxt, COUNT(*) AS n
      FROM seq WHERE nxt IS NOT NULL GROUP BY cur, nxt
    ), ct AS (SELECT cur, SUM(n) AS t FROM cnt GROUP BY cur),
    tot AS (SELECT SUM(n) AS g FROM cnt)
    SELECT CAST(tot.g AS BIGINT) AS n_transitions,
           CAST(SUM(CAST(FLOOR(-(c.n * 1.0 / tot.g) * ln(c.n * 1.0 / ct.t)
                * 1000000000 + 0.5) AS BIGINT)) AS BIGINT)
             AS entropy_rate_nanos_sum
    FROM cnt c JOIN ct ON c.cur = ct.cur CROSS JOIN tot
    GROUP BY tot.g
    """,
)
def q_entropy_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    cnt = (
        ev.select(
            F.col("event_type").alias("cur"),
            F.lead("event_type").over(w).alias("nxt"),
        )
        .filter(F.col("nxt").isNotNull())
        .groupBy("cur", "nxt")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    ct = cnt.groupBy("cur").agg(F.sum("n").alias("t"))
    tot = cnt.agg(F.sum("n").alias("g"))
    term = F.floor(
        -(F.col("n") * 1.0 / F.col("g"))
        * F.log(F.col("n") * 1.0 / F.col("t"))
        * 1_000_000_000
        + 0.5
    ).cast("long")
    return (
        cnt.join(F.broadcast(ct), "cur")
        .crossJoin(F.broadcast(tot))
        .groupBy("g")
        .agg(F.sum(term).alias("entropy_rate_nanos_sum"))
        .select(
            F.col("g").cast("long").alias("n_transitions"),
            F.col("entropy_rate_nanos_sum").cast("long"),
        )
    )


# ---------------------------------------------------------------------------
# HTML extraction (functions/html.py): crawl payload -> visible text.
# The driver tables carry clean text, so the query builds the
# deterministic HTML wrapping INSIDE the query (markup, script/style,
# comments, entities) and extracts it back — both sides of the oracle
# model the exact same wrap + the exact same regexp chain (the chain
# literals are shared via html_to_text_sql, so the oracle is a true
# twin, not a reimplementation). In production the input is
# sources/warc.py response payloads (pytest-covered).
# ---------------------------------------------------------------------------
from frames_spark.functions.html import html_to_text, html_to_text_sql  # noqa: E402

_HTML_WRAP_PRE = (
    '<html><head><title>d</title><style>p {margin: 0}</style>'
    '<script>var n = 1;</script></head><body><!-- head --><h1>Doc '
)
_HTML_WRAP_MID = "</h1><p>"
_HTML_WRAP_POST = '</p><br><div>footer &amp; "quoted"</div></body></html>'

_HTML_WRAPPED_SQL = (
    f"'{_HTML_WRAP_PRE}' || CAST(doc_id AS VARCHAR) || "
    f"'{_HTML_WRAP_MID}' || text || "
    + "'"
    + _HTML_WRAP_POST.replace('"', '"')
    + "'"
)


def _html_wrapped_col() -> F.Column:
    return F.concat(
        F.lit(_HTML_WRAP_PRE),
        F.col("doc_id").cast("string"),
        F.lit(_HTML_WRAP_MID),
        F.col("text"),
        F.lit(_HTML_WRAP_POST),
    )


@register(
    "q_html_extract",
    f"""
    WITH ex AS (
      SELECT doc_id, {html_to_text_sql(_HTML_WRAPPED_SQL)} AS text
      FROM documents
    )
    SELECT doc_id,
           md5(text) AS fp,
           CAST(length(text) AS BIGINT) AS n_chars,
           CAST(len({_TOKENS_SQL}) AS BIGINT) AS n_tokens
    FROM ex
    """,
)
def q_html_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = core_ops.spread(load_table(spark, sf_dir, "documents"))
    ex = docs.select(
        "doc_id", html_to_text(_html_wrapped_col()).alias("text")
    )
    return ex.select(
        "doc_id",
        F.md5(F.col("text")).alias("fp"),
        F.length("text").cast("long").alias("n_chars"),
        text_fns.n_tokens(F.col("text")).cast("long").alias("n_tokens"),
    )


# ---------------------------------------------------------------------------
# Crawl-shaped mini pipeline: HTML wrap -> extract -> quality gate ->
# per-source accounting. The first stages every real crawl corpus
# runs (WARC payload -> text -> gates), with the extraction chain and
# the gates both fully modeled in the oracle.
# ---------------------------------------------------------------------------
@register(
    "q_html_pipeline",
    f"""
    WITH ex AS (
      SELECT doc_id, source,
             {html_to_text_sql(_HTML_WRAPPED_SQL)} AS text
      FROM documents
    ),
    gated AS (
      SELECT source, len({_TOKENS_SQL}) AS nt
      FROM ex
      WHERE len({_TOKENS_SQL}) >= 10
        AND CAST(length(regexp_replace(lower(text), '[a-z0-9 ]', '', 'g')) AS DOUBLE)
            / greatest(length(text), 1) <= 0.2
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(nt) AS BIGINT) AS n_tokens
    FROM gated GROUP BY source
    """,
)
def q_html_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = core_ops.spread(load_table(spark, sf_dir, "documents"))
    ex = docs.select(
        "doc_id", "source", html_to_text(_html_wrapped_col()).alias("text")
    )
    text = F.col("text")
    gated = ex.filter(
        (text_fns.n_tokens(text) >= 10)
        & (text_fns.punct_ratio(text) <= 0.2)
    )
    return gated.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(text_fns.n_tokens(text)).cast("long").alias("n_tokens"),
    )


# ---------------------------------------------------------------------------
# Unicode normalization tier (functions/text.py unicode_normalize /
# strip_invisible): visually identical text must produce ONE dedup
# key. The query plants three variant families over every document —
# precomposed é, decomposed e + combining acute (U+0301), and
# zero-width-polluted — and counts distinct fingerprints with and
# without the Unicode tier. Raw keys split the variants; NFC +
# invisible-strip collapses precomposed/decomposed into one key and
# zero-width copies into the original. DuckDB's nfc_normalize()
# models NFC exactly, so the oracle is full-value.
# ---------------------------------------------------------------------------
@register(
    "q_unicode_dedup",
    """
    WITH v AS (
      SELECT doc_id, 'orig' AS variant, text FROM documents
      UNION ALL
      SELECT doc_id, 'pre', replace(text, 'e', chr(233)) FROM documents
      UNION ALL
      SELECT doc_id, 'dec', replace(text, 'e', 'e' || chr(769)) FROM documents
      UNION ALL
      SELECT doc_id, 'zw', replace(text, ' ', ' ' || chr(8203)) FROM documents
    ),
    f AS (
      SELECT doc_id,
             md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp_raw,
             md5(trim(regexp_replace(lower(
               nfc_normalize(regexp_replace(text,
                 '[' || chr(8203) || chr(8204) || chr(8205) || chr(8288)
                     || chr(65279) || chr(173) || ']', '', 'g'))),
               '\\s+', ' ', 'g'))) AS fp_norm
      FROM v
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(DISTINCT fp_raw) AS BIGINT) AS n_keys_raw,
           CAST(COUNT(DISTINCT fp_norm) AS BIGINT) AS n_keys_unicode
    FROM f
    """,
)
def q_unicode_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = core_ops.spread(load_table(spark, sf_dir, "documents"))
    t = F.col("text")
    v = docs.select(
        "doc_id",
        F.explode(
            F.array(
                F.struct(F.lit("orig").alias("variant"), t.alias("text")),
                F.struct(
                    F.lit("pre").alias("variant"),
                    F.replace(t, F.lit("e"), F.lit("\u00e9")).alias("text"),
                ),
                F.struct(
                    F.lit("dec").alias("variant"),
                    F.replace(t, F.lit("e"), F.lit("e\u0301")).alias("text"),
                ),
                F.struct(
                    F.lit("zw").alias("variant"),
                    F.replace(t, F.lit(" "), F.lit(" \u200b")).alias("text"),
                ),
            )
        ).alias("v"),
    ).select("doc_id", F.col("v.text").alias("text"))
    vt = F.col("text")
    return v.select(
        text_fns.fingerprint(vt).alias("fp_raw"),
        F.md5(
            text_fns.normalize(
                vt, unicode_form="NFC", strip_invisibles=True
            )
        ).alias("fp_norm"),
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.countDistinct("fp_raw").cast("long").alias("n_keys_raw"),
        F.countDistinct("fp_norm").cast("long").alias("n_keys_unicode"),
    )


# ---------------------------------------------------------------------------
# Gopher repetition battery (functions/gopher.py, Rae et al. 2021
# Table A1): dup-line fraction, dup-paragraph fraction, and the
# character fraction of the single most frequent {2,3,4}-gram, per
# document. Spark side is pure scan expressions (windows + sorted-run
# fold — no shuffle at any corpus size); the oracle recomputes every
# signal relationally (unnest + GROUP BY + ROW_NUMBER with the same
# cnt DESC, gram ASC tie-break). Micros-quantized integers.
# ---------------------------------------------------------------------------
from frames_spark.functions import gopher as gopher_fns  # noqa: E402


@register(
    "q_gopher_repetition",
    f"""
    WITH base AS (
      SELECT doc_id, {_TOKENS_SQL} AS t, length({_NORM_SQL}) AS tc
      FROM documents
    ),
    win AS (
      SELECT doc_id, tc,
             list_transform(range(0, CAST((len(t) + 7) // 8 AS INT)),
                            i -> array_to_string(t[8*i+1 : 8*i+8], ' ')) AS ls,
             list_transform(range(0, CAST((len(t) + 31) // 32 AS INT)),
                            i -> array_to_string(t[32*i+1 : 32*i+32], ' ')) AS ps
      FROM base
    ),
    g AS (
      SELECT doc_id, 2 AS n,
             unnest(CASE WHEN len(t) >= 2 THEN
               list_transform(range(1, len(t)), i -> array_to_string(t[i:i+1], ' '))
               ELSE [] END) AS gram FROM base
      UNION ALL
      SELECT doc_id, 3,
             unnest(CASE WHEN len(t) >= 3 THEN
               list_transform(range(1, len(t) - 1), i -> array_to_string(t[i:i+2], ' '))
               ELSE [] END) FROM base
      UNION ALL
      SELECT doc_id, 4,
             unnest(CASE WHEN len(t) >= 4 THEN
               list_transform(range(1, len(t) - 2), i -> array_to_string(t[i:i+3], ' '))
               ELSE [] END) FROM base
    ),
    cnt AS (SELECT doc_id, n, gram, COUNT(*) AS c FROM g GROUP BY 1, 2, 3),
    top AS (
      SELECT doc_id, n, c, gram FROM (
        SELECT doc_id, n, c, gram,
               ROW_NUMBER() OVER (PARTITION BY doc_id, n
                                  ORDER BY c DESC, gram ASC) AS rn
        FROM cnt
      ) WHERE rn = 1
    )
    SELECT w.doc_id,
           CAST(((len(ls) - len(list_distinct(ls))) * 1000000 + len(ls) // 2)
                // len(ls) AS BIGINT) AS dup_line_frac_micros,
           CAST(((len(ps) - len(list_distinct(ps))) * 1000000 + len(ps) // 2)
                // len(ps) AS BIGINT) AS dup_para_frac_micros,
           CAST(COALESCE((t2.c * length(t2.gram) * 1000000 + w.tc // 2) // w.tc, 0)
                AS BIGINT) AS top2_char_frac_micros,
           CAST(COALESCE((t3.c * length(t3.gram) * 1000000 + w.tc // 2) // w.tc, 0)
                AS BIGINT) AS top3_char_frac_micros,
           CAST(COALESCE((t4.c * length(t4.gram) * 1000000 + w.tc // 2) // w.tc, 0)
                AS BIGINT) AS top4_char_frac_micros
    FROM win w
    LEFT JOIN top t2 ON t2.doc_id = w.doc_id AND t2.n = 2
    LEFT JOIN top t3 ON t3.doc_id = w.doc_id AND t3.n = 3
    LEFT JOIN top t4 ON t4.doc_id = w.doc_id AND t4.n = 4
    """,
)
def q_gopher_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = core_ops.spread(load_table(spark, sf_dir, "documents"))
    pre = docs.select(
        "doc_id",
        text_fns.tokens(F.col("text")).alias("_toks"),
        F.length(text_fns.normalize(F.col("text"))).cast("long").alias("_tc"),
    )
    sig = gopher_fns.repetition_signals(F.col("_toks"), F.col("_tc"))
    return pre.select(
        "doc_id", *[c.alias(name) for name, c in sig.items()]
    )


# ---------------------------------------------------------------------------
# Jarque-Bera normality statistic per segment: JB = n/6 (g1² + g2²/4)
# over the exact CENTERED deci-unit moments (_central_moments, r14 —
# the raw-moment g1/g2 combinations were catastrophic cancellations;
# see q_group_kurtosis). g1 = m3/(m2·sqrt(m2)), g2 = m4/m2² − 3, all
# closing ops IEEE-correctly-rounded with identical expression trees
# on both engines; JB micros-quantized.
# Differential-tested against an independent numpy computation.
# ---------------------------------------------------------------------------
@register(
    "q_jarque_bera",
    f"""
    WITH {_central_moments_sql(10, 4)}
    SELECT c_mktsegment, CAST(n AS BIGINT) AS n,
           CAST(FLOOR(
             CAST(n AS DOUBLE) / 6.0
             * (g1 * g1 + (m4 / (m2 * m2) - 3.0) * (m4 / (m2 * m2) - 3.0) / 4.0)
             * 1000000 + 0.5) AS BIGINT) AS jb_micros
    FROM (
      SELECT c_mktsegment, n, m2, m4, m3 / (m2 * sqrt(m2)) AS g1
      FROM (
        SELECT c_mktsegment, n,
               (CAST(d2 AS DOUBLE) - CAST(dlt AS DOUBLE) * mu) / CAST(n AS DOUBLE) AS m2,
               (CAST(d3 AS DOUBLE) - 3.0 * mu * CAST(d2 AS DOUBLE)
                + 2.0 * CAST(dlt AS DOUBLE) * mu * mu) / CAST(n AS DOUBLE) AS m3,
               (CAST(d4 AS DOUBLE) - 4.0 * mu * CAST(d3 AS DOUBLE)
                + 6.0 * mu * mu * CAST(d2 AS DOUBLE)
                - 3.0 * CAST(dlt AS DOUBLE) * mu * mu * mu) / CAST(n AS DOUBLE) AS m4
        FROM (SELECT *, CAST(dlt AS DOUBLE) / CAST(n AS DOUBLE) AS mu FROM m)
      )
    )
    """,
)
def q_jarque_bera(spark: SparkSession, sf_dir: str) -> DataFrame:
    m = _central_moments(spark, sf_dir, scale=10, hi=4)
    d = lambda col: F.col(col).cast("double")  # noqa: E731
    mu = d("dlt") / d("n")
    m2 = (d("d2") - d("dlt") * mu) / d("n")
    m3 = (d("d3") - 3.0 * mu * d("d2") + 2.0 * d("dlt") * mu * mu) / d("n")
    m4 = (
        d("d4") - 4.0 * mu * d("d3") + 6.0 * mu * mu * d("d2")
        - 3.0 * d("dlt") * mu * mu * mu
    ) / d("n")
    g1 = m3 / (m2 * F.sqrt(m2))
    g2 = m4 / (m2 * m2) - 3.0
    jb = d("n") / 6.0 * (g1 * g1 + g2 * g2 / 4.0)
    return m.select(
        "c_mktsegment",
        F.col("n").cast("long").alias("n"),
        F.floor(jb * 1_000_000 + 0.5).cast("long").alias("jb_micros"),
    )


# ---------------------------------------------------------------------------
# Durbin-Watson autocorrelation statistic of daily revenue residuals.
# Exactness: residuals are scaled to integers (e'_t = n·x_t − S with
# x_t exact day cents — the n² factor cancels in the ratio), both
# quadratic sums accumulate in DECIMAL(38)/HUGEINT, and only the
# final ratio closes in double. The lag runs over the DAILY relation
# (thousands of rows post-aggregation — the legitimate tiny-relation
# window, never a fact-scale one).
# ---------------------------------------------------------------------------
@register(
    "q_durbin_watson",
    """
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS d,
             SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)) AS x
      FROM orders GROUP BY 1
    ),
    tot AS (SELECT COUNT(*) AS n, SUM(CAST(x AS HUGEINT)) AS s FROM daily),
    e AS (
      SELECT d,
             CAST(tot.n AS HUGEINT) * x - tot.s AS ep,
             LAG(CAST(tot.n AS HUGEINT) * x - tot.s)
               OVER (ORDER BY d) AS ep_prev
      FROM daily CROSS JOIN tot
    )
    SELECT CAST((SELECT n FROM tot) AS BIGINT) AS n_days,
           CAST(FLOOR(
             CAST(SUM(CASE WHEN ep_prev IS NULL THEN CAST(0 AS HUGEINT)
                           ELSE (ep - ep_prev) * (ep - ep_prev) END) AS DOUBLE)
             / CAST(SUM(ep * ep) AS DOUBLE)
             * 1000000 + 0.5) AS BIGINT) AS dw_micros
    FROM e
    """,
)
def q_durbin_watson(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    o = load_table(spark, sf_dir, "orders")
    cents = F.floor(F.col("o_totalprice") * 100 + 0.5).cast("long")
    daily = (
        o.select(F.col("o_orderdate").cast("date").alias("d"), cents.alias("c"))
        .groupBy("d")
        .agg(F.sum("c").alias("x"))
    )
    dec = "decimal(38,0)"
    tot = daily.agg(
        F.count(F.lit(1)).alias("n"), F.sum(F.col("x").cast(dec)).alias("s")
    )
    ep = F.col("n").cast(dec) * F.col("x") - F.col("s")
    w = Window.orderBy("d")
    e = (
        daily.crossJoin(F.broadcast(tot))
        .select("d", "n", ep.alias("ep"))
        .withColumn("ep_prev", F.lag("ep").over(w))
    )
    diff = F.col("ep") - F.col("ep_prev")
    return e.groupBy("n").agg(
        F.floor(
            F.sum(
                F.when(F.col("ep_prev").isNull(), F.lit(0).cast(dec))
                .otherwise(diff * diff)
            ).cast("double")
            / F.sum(F.col("ep") * F.col("ep")).cast("double")
            * 1_000_000
            + 0.5
        )
        .cast("long")
        .alias("dw_micros")
    ).select(F.col("n").cast("long").alias("n_days"), "dw_micros")


# ---------------------------------------------------------------------------
# Type-token ratio + hapax profile per source: vocabulary richness,
# the lexical-diversity gate of a corpus card. One explode + two
# exact integer aggregations; ratios by integer rounding division.
# ---------------------------------------------------------------------------
@register(
    "q_ttr",
    f"""
    WITH tok AS (
      SELECT source, unnest({_TOKENS_SQL}) AS term FROM documents
    ),
    st AS (
      SELECT source, term, COUNT(*) AS n FROM tok
      WHERE term <> '' GROUP BY source, term
    )
    SELECT source,
           CAST(SUM(n) AS BIGINT) AS n_tokens,
           CAST(COUNT(*) AS BIGINT) AS n_types,
           CAST(SUM(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax,
           CAST((COUNT(*) * 1000000 + SUM(n) // 2) // SUM(n) AS BIGINT)
             AS ttr_micros,
           CAST((SUM(CASE WHEN n = 1 THEN 1 ELSE 0 END) * 1000000
                 + COUNT(*) // 2) // COUNT(*) AS BIGINT) AS hapax_micros
    FROM st GROUP BY source
    """,
)
def q_ttr(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = core_ops.spread(load_table(spark, sf_dir, "documents"))
    st = (
        docs.select(
            "source", F.explode(text_fns.tokens(F.col("text"))).alias("term")
        )
        .filter(F.col("term") != "")
        .groupBy("source", "term")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    agg = st.groupBy("source").agg(
        F.sum("n").alias("n_tokens"),
        F.count(F.lit(1)).alias("n_types"),
        F.sum(F.when(F.col("n") == 1, 1).otherwise(0)).alias("n_hapax"),
    )
    return agg.select(
        "source",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.col("n_types").cast("long").alias("n_types"),
        F.col("n_hapax").cast("long").alias("n_hapax"),
        F.expr(
            "CAST((n_types * 1000000 + n_tokens DIV 2) DIV n_tokens AS BIGINT)"
        ).alias("ttr_micros"),
        F.expr(
            "CAST((n_hapax * 1000000 + n_types DIV 2) DIV n_types AS BIGINT)"
        ).alias("hapax_micros"),
    )


# ---------------------------------------------------------------------------
# C4-style LINE-level dedup accounting: the same fixed 8-token
# windows the Gopher battery uses as "lines", deduplicated
# corpus-wide — every non-first occurrence of a globally repeated
# line is removed (first occurrence = min(doc_id, idx), exactly the
# ExactSubstr keep rule at line granularity). One posexplode + ONE
# map-side-combining shuffle on the line hash; per-doc accounting by
# a second uniform-key aggregation. Complements q_substring_dedup
# (span granularity) and q_boilerplate (detection).
# ---------------------------------------------------------------------------
@register(
    "q_line_dedup",
    f"""
    WITH base AS (SELECT doc_id, {_TOKENS_SQL} AS t FROM documents),
    lines AS (
      SELECT doc_id, len(t) AS nt, i AS idx,
             array_to_string(t[8*i+1 : 8*i+8], ' ') AS line
      FROM base, unnest(range(0, CAST((len(t) + 7) // 8 AS INT))) AS u(i)
    ),
    marked AS (
      SELECT doc_id, nt, idx,
             COUNT(*) OVER (PARTITION BY line) AS c,
             ROW_NUMBER() OVER (PARTITION BY line ORDER BY doc_id, idx) AS rn
      FROM lines
    ),
    dups AS (
      SELECT doc_id, least(8, nt - 8 * idx) AS w
      FROM marked WHERE c >= 2 AND rn > 1
    ),
    per_doc AS (
      SELECT doc_id, COUNT(*) AS lines_removed, SUM(w) AS tokens_removed
      FROM dups GROUP BY doc_id
    )
    SELECT b.doc_id,
           CAST(len(b.t) AS BIGINT) AS n_tokens,
           CAST((len(b.t) + 7) // 8 AS BIGINT) AS n_lines,
           CAST(COALESCE(p.lines_removed, 0) AS BIGINT) AS lines_removed,
           CAST(COALESCE(p.tokens_removed, 0) AS BIGINT) AS tokens_removed
    FROM base b LEFT JOIN per_doc p USING (doc_id)
    """,
)
def q_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = core_ops.spread(load_table(spark, sf_dir, "documents"))
    base = docs.select(
        "doc_id", text_fns.tokens(F.col("text")).alias("t")
    )
    lines = base.select(
        "doc_id",
        F.size("t").alias("nt"),
        F.posexplode(gopher_fns.token_windows(F.col("t"), 8)).alias(
            "idx", "line"
        ),
    )
    canon = (
        lines.groupBy("line")
        .agg(
            F.count(F.lit(1)).alias("c"),
            F.min(F.struct("doc_id", "idx")).alias("first_occ"),
        )
        .filter(F.col("c") >= 2)
    )
    dups = (
        lines.join(canon, "line")
        .filter(
            (F.col("doc_id") != F.col("first_occ.doc_id"))
            | (F.col("idx") != F.col("first_occ.idx"))
        )
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("lines_removed"),
            F.sum(F.least(F.lit(8), F.col("nt") - 8 * F.col("idx"))).alias(
                "tokens_removed"
            ),
        )
    )
    return (
        base.join(dups, "doc_id", "left")
        .select(
            "doc_id",
            F.size("t").cast("long").alias("n_tokens"),
            F.floor((F.size("t") + 7) / 8).cast("long").alias("n_lines"),
            F.coalesce(F.col("lines_removed"), F.lit(0))
            .cast("long")
            .alias("lines_removed"),
            F.coalesce(F.col("tokens_removed"), F.lit(0))
            .cast("long")
            .alias("tokens_removed"),
        )
    )


# ---------------------------------------------------------------------------
# Levene's variance-homogeneity test across segments (mean-centered
# form): W = ((N−k)/(k−1)) · Σ nᵢ(z̄ᵢ−z̄)² / ΣΣ(zᵢⱼ−z̄ᵢ)².
# Exactness ladder: per-row |x−meanᵢ| is micros-quantized BEFORE any
# sum; the per-segment between/within terms are unit-quantized before
# the k-row closing sum (partition-order float drift cannot reach the
# artifact); W closes in one double expression.
# ---------------------------------------------------------------------------
@register(
    "q_levene",
    """
    WITH j AS (
      SELECT c_mktsegment AS seg,
             CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS x
      FROM orders JOIN customer ON o_custkey = c_custkey
    ),
    g AS (SELECT seg, COUNT(*) AS n, SUM(CAST(x AS HUGEINT)) AS s
          FROM j GROUP BY seg),
    z AS (
      SELECT j.seg, g.n,
             CAST(FLOOR(abs(CAST(j.x AS DOUBLE)
                            - CAST(g.s AS DOUBLE) / CAST(g.n AS DOUBLE))
                        * 1000000 + 0.5) AS BIGINT) AS zq
      FROM j JOIN g USING (seg)
    ),
    gz AS (
      SELECT seg, n, SUM(CAST(zq AS HUGEINT)) AS sz,
             SUM(CAST(zq AS HUGEINT) * zq) AS szz
      FROM z GROUP BY seg, n
    ),
    tot AS (
      SELECT SUM(sz) AS tz, SUM(CAST(n AS HUGEINT)) AS tn,
             COUNT(*) AS k
      FROM gz
    ),
    terms AS (
      SELECT CAST(round(CAST(n AS DOUBLE)
               * (CAST(sz AS DOUBLE) / CAST(n AS DOUBLE)
                  - CAST(tot.tz AS DOUBLE) / CAST(tot.tn AS DOUBLE))
               * (CAST(sz AS DOUBLE) / CAST(n AS DOUBLE)
                  - CAST(tot.tz AS DOUBLE) / CAST(tot.tn AS DOUBLE)))
               AS HUGEINT) AS bterm,
             CAST(round(CAST(szz AS DOUBLE)
               - CAST(sz AS DOUBLE) * CAST(sz AS DOUBLE) / CAST(n AS DOUBLE))
               AS HUGEINT) AS wterm,
             tot.tn, tot.k
      FROM gz CROSS JOIN tot
    )
    SELECT CAST(k AS BIGINT) AS k,
           CAST(tn AS BIGINT) AS n_total,
           CAST(FLOOR(
             (CAST(tn AS DOUBLE) - CAST(k AS DOUBLE))
             / (CAST(k AS DOUBLE) - 1.0)
             * CAST(SUM(bterm) AS DOUBLE) / CAST(SUM(wterm) AS DOUBLE)
             * 1000000 + 0.5) AS BIGINT) AS levene_micros
    FROM terms GROUP BY k, tn
    """,
)
def q_levene(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    cents = F.floor(F.col("o_totalprice") * 100 + 0.5).cast("long")
    dec = "decimal(38,0)"
    j = join_ops.dim_join(o, c, F.col("o_custkey") == F.col("c_custkey")).select(
        F.col("c_mktsegment").alias("seg"), cents.alias("x")
    )
    g = j.groupBy("seg").agg(
        F.count(F.lit(1)).alias("n"), F.sum(F.col("x").cast(dec)).alias("s")
    )
    zq = F.floor(
        F.abs(
            F.col("x").cast("double")
            - F.col("s").cast("double") / F.col("n").cast("double")
        )
        * 1_000_000
        + 0.5
    ).cast("long")
    z = j.join(F.broadcast(g), "seg").select("seg", "n", zq.alias("zq"))
    gz = z.groupBy("seg", "n").agg(
        F.sum(F.col("zq").cast(dec)).alias("sz"),
        F.sum(F.col("zq").cast(dec) * F.col("zq")).alias("szz"),
    )
    tot = gz.agg(
        F.sum("sz").alias("tz"),
        F.sum(F.col("n").cast(dec)).alias("tn"),
        F.count(F.lit(1)).alias("k"),
    )
    d = lambda col: F.col(col).cast("double")  # noqa: E731
    zbar_diff = d("sz") / d("n") - d("tz") / d("tn")
    # NOTE: floor() on double returns LONG in Spark and silently
    # saturates near 9.2e18; these terms reach ~1e30, so quantize via
    # round()->decimal (round(double) is half-up in both engines and
    # the fractional part is exactly representable either way)
    terms = gz.crossJoin(F.broadcast(tot)).select(
        F.round(d("n") * zbar_diff * zbar_diff).cast(dec).alias("bterm"),
        F.round(d("szz") - d("sz") * d("sz") / d("n")).cast(dec).alias("wterm"),
        F.col("tn"),
        F.col("k"),
    )
    return (
        terms.groupBy("k", "tn")
        .agg(
            F.floor(
                (F.col("tn").cast("double") - F.col("k").cast("double"))
                / (F.col("k").cast("double") - 1.0)
                * F.sum("bterm").cast("double")
                / F.sum("wterm").cast("double")
                * 1_000_000
                + 0.5
            )
            .cast("long")
            .alias("levene_micros")
        )
        .select(
            F.col("k").cast("long").alias("k"),
            F.col("tn").cast("long").alias("n_total"),
            "levene_micros",
        )
    )


# ---------------------------------------------------------------------------
# Cramér's V association strength for the priority × segment
# contingency table — the normalized companion of q_chi_square
# (same per-cell micros-quantized chi² sum), closed as
# V = sqrt(chi² / (n · min(r−1, c−1))) in one double expression.
# ---------------------------------------------------------------------------
@register(
    "q_cramers_v",
    """
    WITH joined AS (
      SELECT o_orderpriority AS a, c_mktsegment AS b
      FROM orders JOIN customer ON o_custkey = c_custkey
    ),
    cells AS (SELECT a, b, COUNT(*) AS n_ab FROM joined GROUP BY a, b),
    m AS (
      SELECT a, b, n_ab,
             SUM(n_ab) OVER (PARTITION BY a) AS n_a,
             SUM(n_ab) OVER (PARTITION BY b) AS n_b,
             SUM(n_ab) OVER () AS n
      FROM cells
    ),
    s AS (
      SELECT SUM(CAST(FLOOR(
               (CAST(n_ab AS DOUBLE) - CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE) / CAST(n AS DOUBLE))
               * (CAST(n_ab AS DOUBLE) - CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE) / CAST(n AS DOUBLE))
               / (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE) / CAST(n AS DOUBLE))
               * 1000000 + 0.5) AS BIGINT)) AS chi2_micros,
             COUNT(DISTINCT a) AS r,
             COUNT(DISTINCT b) AS c,
             MAX(n) AS n
      FROM m
    )
    SELECT CAST(n AS BIGINT) AS n,
           CAST(r AS BIGINT) AS r,
           CAST(c AS BIGINT) AS c,
           CAST(chi2_micros AS BIGINT) AS chi2_micros,
           CAST(FLOOR(sqrt(CAST(chi2_micros AS DOUBLE) / 1000000.0
             / (CAST(n AS DOUBLE)
                * CAST(least(r - 1, c - 1) AS DOUBLE)))
             * 1000000 + 0.5) AS BIGINT) AS v_micros
    FROM s
    """,
)
def q_cramers_v(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    cells = (
        join_ops.dim_join(o, c, F.col("o_custkey") == F.col("c_custkey"))
        .select(F.col("o_orderpriority").alias("a"), F.col("c_mktsegment").alias("b"))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("n_ab"))
    )
    m = (
        cells.withColumn("n_a", F.sum("n_ab").over(Window.partitionBy("a")))
        .withColumn("n_b", F.sum("n_ab").over(Window.partitionBy("b")))
        .withColumn("n", F.sum("n_ab").over(Window.partitionBy()))
    )
    d = lambda col: F.col(col).cast("double")  # noqa: E731
    exp = d("n_a") * d("n_b") / d("n")
    cell_term = F.floor(
        (d("n_ab") - exp) * (d("n_ab") - exp) / exp * 1_000_000 + 0.5
    ).cast("long")
    s = m.agg(
        F.sum(cell_term).alias("chi2_micros"),
        F.countDistinct("a").alias("r"),
        F.countDistinct("b").alias("c"),
        F.max("n").alias("n"),
    )
    v = F.floor(
        F.sqrt(
            F.col("chi2_micros").cast("double")
            / 1_000_000.0
            / (
                F.col("n").cast("double")
                * F.least(F.col("r") - 1, F.col("c") - 1).cast("double")
            )
        )
        * 1_000_000
        + 0.5
    ).cast("long")
    return s.select(
        F.col("n").cast("long").alias("n"),
        F.col("r").cast("long").alias("r"),
        F.col("c").cast("long").alias("c"),
        F.col("chi2_micros").cast("long").alias("chi2_micros"),
        v.alias("v_micros"),
    )
