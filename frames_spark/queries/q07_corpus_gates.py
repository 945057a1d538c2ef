"""q07_corpus_gates — query registry, module 7 of 9: corpus quality
gates and curation (Gopher, CCNet buckets, DSIR, naive Bayes),
packing and context-fit accounting, time travel and snapshot diffs,
incremental dedup, SimHash accuracy, SemDeDup and link prediction.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from frames_spark.dedup import cluster as cluster_ops
from frames_spark.dedup import jaccard as jac_ops
from frames_spark.dedup import simhash as simh_ops
from frames_spark.functions import gopher as gopher_fns
from frames_spark.functions import text as text_fns
from frames_spark.functions.hashing import hash60_sql
from frames_spark.operators import core as core_ops
from frames_spark.operators.diff import table_diff
from frames_spark.operators.ranking import grouped_prefix_sum, grouped_rank
from frames_spark.queries.q01_core_ops import (
    _DUP_OFFSET,
    _FIXED_SQL,
    _MH_BANDS,
    _MH_CTES,
    _MH_K,
    _MH_ROWS,
    _MINHASH_PAIRS_SQL,
    _NEAR_CORPUS_SQL,
    _NORM_SQL,
    _SHINGLE_MAX_DF,
    _SHINGLES_SQL,
    _TOKENS_SQL,
    _emb_corpus_sql,
    _micros,
    _tokens_col,
    _with_near_copies,
    _with_perturbed_copies,
    register,
)
from frames_spark.sources.tables import load_table


# ---------------------------------------------------------------------------
# Jensen-Shannon divergence of each source's unigram distribution vs
# the corpus — the bounded, symmetric companion to q_kl_source (JS is
# finite even for terms a source never emits, which is why the grid
# is sources × FULL vocabulary: the p_c·ln(p_c/m) leg runs over every
# term). Per-term contributions nano-quantized before the sum.
# ---------------------------------------------------------------------------
@register(
    "q_js_source",
    f"""
    WITH tok AS (
      SELECT source, unnest({_TOKENS_SQL}) AS term FROM documents
    ), st AS (
      SELECT source, term, COUNT(*) AS n FROM tok
      WHERE term <> '' GROUP BY source, term
    ), ct AS (
      SELECT term, SUM(n) AS ct FROM st GROUP BY term
    ), stot AS (
      SELECT source, SUM(n) AS ns FROM st GROUP BY source
    ), tot AS (SELECT SUM(n) AS nc FROM st),
    grid AS (
      SELECT stot.source, stot.ns, ct.term, ct.ct, tot.nc,
             COALESCE(st.n, 0) AS n
      FROM stot CROSS JOIN ct CROSS JOIN tot
      LEFT JOIN st ON st.source = stot.source AND st.term = ct.term
    )
    SELECT source,
           CAST(ns AS BIGINT) AS n_tokens,
           CAST(SUM(CAST(FLOOR((
             0.5 * (CASE WHEN n = 0 THEN 0.0 ELSE
               (n * 1.0 / ns) * ln((n * 1.0 / ns)
                 / (((n * 1.0 / ns) + (ct * 1.0 / nc)) / 2.0)) END)
             + 0.5 * ((ct * 1.0 / nc) * ln((ct * 1.0 / nc)
                 / (((n * 1.0 / ns) + (ct * 1.0 / nc)) / 2.0)))
           ) * 1000000000 + 0.5) AS BIGINT)) AS BIGINT) AS js_nanos_sum
    FROM grid GROUP BY source, ns
    """,
)
def q_js_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = core_ops.spread(load_table(spark, sf_dir, "documents"))
    st = (
        docs.select(
            "source", F.explode(text_fns.tokens(F.col("text"))).alias("term")
        )
        .filter(F.col("term") != "")
        .groupBy("source", "term")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    ct = st.groupBy("term").agg(F.sum("n").alias("ct"))
    stot = st.groupBy("source").agg(F.sum("n").alias("ns"))
    tot = st.agg(F.sum("n").alias("nc"))
    grid = (
        ct.crossJoin(F.broadcast(stot))
        .crossJoin(F.broadcast(tot))
        .join(st, ["source", "term"], "left")
        .select(
            "source", "ns", "ct", "nc", F.coalesce(F.col("n"), F.lit(0)).alias("n")
        )
    )
    ps = F.col("n") * 1.0 / F.col("ns")
    pc = F.col("ct") * 1.0 / F.col("nc")
    m = (ps + pc) / 2.0
    term_nanos = F.floor(
        (
            0.5
            * F.when(F.col("n") == 0, F.lit(0.0)).otherwise(ps * F.log(ps / m))
            + 0.5 * (pc * F.log(pc / m))
        )
        * 1_000_000_000
        + 0.5
    ).cast("long")
    return (
        grid.groupBy("source", "ns")
        .agg(F.sum(term_nanos).alias("js_nanos_sum"))
        .select(
            "source",
            F.col("ns").cast("long").alias("n_tokens"),
            F.col("js_nanos_sum").cast("long"),
        )
    )


# ---------------------------------------------------------------------------
# Gini coefficient of the corpus token-frequency distribution — the
# single-number inequality summary beside q_zipf's slope and
# q_heaps' growth law. Identical machinery to q_gini_revenue: the
# vocabulary relation ranks by (count, term) through the STAGED
# two-phase rank, and Gini closes from exact integer sums (rank ×
# count stays far inside int64 at vocabulary sizes).
# ---------------------------------------------------------------------------
@register(
    "q_gini_tokens",
    f"""
    WITH freq AS (
      SELECT term, COUNT(*) AS cnt FROM (
        SELECT unnest({_TOKENS_SQL}) AS term FROM documents
      ) WHERE term <> '' GROUP BY term
    ),
    ranked AS (
      SELECT cnt,
             ROW_NUMBER() OVER (ORDER BY cnt, term) AS rn,
             COUNT(*) OVER () AS n
      FROM freq
    )
    SELECT CAST(SUM(rn * cnt) AS BIGINT) AS weighted_sum,
           CAST(SUM(cnt) AS BIGINT) AS total_tokens,
           MAX(n) AS n_types,
           2.0 * CAST(SUM(rn * cnt) AS DOUBLE)
             / (MAX(n) * CAST(SUM(cnt) AS DOUBLE))
             - CAST(MAX(n) + 1 AS DOUBLE) / MAX(n) AS gini
    FROM ranked
    """,
)
def q_gini_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = core_ops.spread(load_table(spark, sf_dir, "documents"))
    freq = (
        docs.select(F.explode(text_fns.tokens(F.col("text"))).alias("term"))
        .filter(F.col("term") != "")
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    ranked = grouped_rank(
        freq, [], ["cnt", "term"], rank_col="rn", count_col="n", stage=True
    )
    ws = F.sum(F.col("rn") * F.col("cnt"))
    tot = F.sum("cnt")
    n = F.max("n")
    return ranked.agg(
        ws.cast("long").alias("weighted_sum"),
        tot.cast("long").alias("total_tokens"),
        n.alias("n_types"),
        (
            2.0 * ws.cast("double") / (n * tot.cast("double"))
            - (n + 1).cast("double") / n
        ).alias("gini"),
    )


# ---------------------------------------------------------------------------
# Count-Min sketch over the corpus token stream
# (operators/sketches.py count_min_*): estimates for the 20 most
# frequent tokens read back from a 4×256 sketch, beside their true
# counts. Because the CMS hashes with the portable md5 hash60, the
# oracle rebuilds the ENTIRE sketch and every estimate bit-for-bit —
# a sketch query with a full value check (HLL's opaque bytes cannot
# do this). est − true exhibits the one-sided overestimate guarantee.
# ---------------------------------------------------------------------------
@register(
    "q_cms_tokens",
    f"""
    WITH tok AS (
      SELECT term FROM (
        SELECT unnest({_TOKENS_SQL}) AS term FROM documents
      ) WHERE term <> ''
    ),
    cnt AS (SELECT term, COUNT(*) AS n FROM tok GROUP BY term),
    top AS (SELECT term, n FROM cnt ORDER BY n DESC, term LIMIT 20),
    buckets AS (
      SELECT j AS row,
             {hash60_sql("term", seed="cms'||j||'")} % 256 AS col,
             COUNT(*) AS c
      FROM tok CROSS JOIN (SELECT unnest([0,1,2,3]) AS j)
      GROUP BY 1, 2
    ),
    probes AS (
      SELECT term, n, j AS row,
             {hash60_sql("term", seed="cms'||j||'")} % 256 AS col
      FROM top CROSS JOIN (SELECT unnest([0,1,2,3]) AS j)
    )
    SELECT p.term,
           CAST(p.n AS BIGINT) AS true_n,
           CAST(MIN(COALESCE(b.c, 0)) AS BIGINT) AS est_n,
           CAST(MIN(COALESCE(b.c, 0)) - p.n AS BIGINT) AS overestimate
    FROM probes p LEFT JOIN buckets b USING (row, col)
    GROUP BY p.term, p.n
    """,
)
def q_cms_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    from frames_spark.operators.sketches import (
        count_min_build,
        count_min_estimate,
    )

    docs = core_ops.spread(load_table(spark, sf_dir, "documents"))
    tok = docs.select(
        F.explode(text_fns.tokens(F.col("text"))).alias("term")
    ).filter(F.col("term") != "")
    cnt = tok.groupBy("term").agg(F.count(F.lit(1)).alias("n"))
    top = cnt.orderBy(F.desc("n"), "term").limit(20)
    sketch = count_min_build(tok, "term", depth=4, width=256)
    est = count_min_estimate(sketch, top, "term", depth=4, width=256)
    return (
        top.join(est, top.term == est.key)
        .select(
            "term",
            F.col("n").cast("long").alias("true_n"),
            F.col("est").cast("long").alias("est_n"),
            (F.col("est") - F.col("n")).cast("long").alias("overestimate"),
        )
    )


# ---------------------------------------------------------------------------
# Stationary distribution of the user-event Markov chain — the
# long-run share of time the event process spends in each state,
# closing the q_transitions / q_cond_entropy / q_entropy_rate family.
# Iterative power method, but with EXACT integer fixed-point algebra:
# the state vector lives in nanos, every per-edge term is the integer
# rounding division (v_i·n_ij + t_i/2) DIV t_i, and each of the 30
# iterations sums exact integers — so this ITERATIVE query carries a
# FULL value oracle (30 unrolled CTEs); q_pagerank's integer rounds
# adopt the same unrolled idiom. The transition matrix is
# domain-bounded (k event types), so Spark iterates the k-vector on
# the driver after ONE distributed aggregation of the fact table.
# ---------------------------------------------------------------------------
_MARKOV_ITERS = 30


def _markov_iter_ctes(n: int) -> str:
    parts = []
    for i in range(n):
        parts.append(f""",
    v{i + 1} AS MATERIALIZED (
      SELECT c.nxt AS state,
             CAST(SUM((v.v * c.n + ct.t // 2) // ct.t) AS BIGINT) AS v
      FROM v{i} v JOIN cnt c ON v.state = c.cur JOIN ct ON c.cur = ct.cur
      GROUP BY c.nxt
    )""")
    return "".join(parts)


@register(
    "q_markov_stationary",
    f"""
    WITH seq AS (
      SELECT event_type AS cur,
             LEAD(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS nxt
      FROM events
    ),
    cnt AS MATERIALIZED (
      SELECT cur, nxt, COUNT(*) AS n
      FROM seq WHERE nxt IS NOT NULL GROUP BY cur, nxt
    ),
    ct AS MATERIALIZED (SELECT cur, SUM(n) AS t FROM cnt GROUP BY cur),
    v0 AS MATERIALIZED (
      SELECT cur AS state,
             CAST(1000000000 // (SELECT COUNT(*) FROM ct) AS BIGINT) AS v
      FROM ct
    ){_markov_iter_ctes(_MARKOV_ITERS)}
    SELECT state, CAST(v AS BIGINT) AS stationary_nanos
    FROM v{_MARKOV_ITERS}
    """,
)
def q_markov_stationary(spark: SparkSession, sf_dir: str) -> DataFrame:
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
    # the matrix is domain-bounded (k event types, k^2 cells) —
    # driver-sized by construction, like the PQ codebooks
    edges = cnt.collect()
    totals: dict[str, int] = {}
    for r in edges:
        totals[r.cur] = totals.get(r.cur, 0) + r.n
    k = len(totals)
    v = {s: 1_000_000_000 // k for s in totals}
    # each iteration mirrors the oracle CTE EXACTLY, row set included:
    # v_{i+1} = GROUP BY c.nxt over edges whose cur is in v_i — so
    # absorbing states (nxt-only) appear with their inbound mass, and
    # cur-states with no inbound edge drop out; on a chain that is not
    # closed over its cur-set the two engines still return the same
    # rows (the prior cur-set restriction diverged there).
    for _ in range(_MARKOV_ITERS):
        nv: dict[str, int] = {}
        for r in edges:
            if r.cur in v:
                t = totals[r.cur]
                nv[r.nxt] = nv.get(r.nxt, 0) + (v[r.cur] * r.n + t // 2) // t
        v = nv
    return spark.createDataFrame(
        [(s, v[s]) for s in sorted(v)], "state string, stationary_nanos long"
    )


# ---------------------------------------------------------------------------
# Composite quality score bands — the single number a curriculum /
# sampling policy sorts by, folding language, length, and punctuation
# into one micros integer per doc (40% language, 30% length saturated
# at 30 tokens, 30% cleanliness with punct ratio saturating at 0.2).
# All integer rounding divisions after one per-doc quantization of
# the punct ratio; output is the per-band histogram a curator reads.
# ---------------------------------------------------------------------------
@register(
    "q_quality_score",
    f"""
    WITH base AS (
      SELECT doc_id,
             len({_TOKENS_SQL}) AS ntok,
             CAST(FLOOR(CAST(length(regexp_replace(lower(text), '[a-z0-9 ]', '', 'g')) AS DOUBLE)
               / greatest(length(text), 1) * 1000000 + 0.5) AS BIGINT) AS pm,
             lang
      FROM documents
    ),
    scored AS (
      SELECT doc_id,
             CAST(CASE WHEN lang = 'en' THEN 400000 ELSE 0 END
               + (300000 * least(ntok, 30) + 15) // 30
               + (300000 * (1000000 - least(pm * 5, 1000000)) + 500000)
                 // 1000000 AS BIGINT) AS score
      FROM base
    )
    SELECT CAST(score // 100000 AS BIGINT) AS band,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(MIN(score) AS BIGINT) AS min_score,
           CAST(MAX(score) AS BIGINT) AS max_score
    FROM scored GROUP BY 1
    """,
)
def q_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = core_ops.spread(load_table(spark, sf_dir, "documents"))
    pm = F.floor(text_fns.punct_ratio(F.col("text")) * 1_000_000 + 0.5).cast(
        "long"
    )
    base = docs.select(
        "doc_id",
        text_fns.n_tokens(F.col("text")).alias("ntok"),
        pm.alias("pm"),
        "lang",
    )
    score = (
        F.when(F.col("lang") == "en", F.lit(400000)).otherwise(F.lit(0))
        + F.expr("(300000 * least(ntok, 30) + 15) DIV 30")
        + F.expr(
            "(300000 * (1000000 - least(pm * 5, 1000000)) + 500000)"
            " DIV 1000000"
        )
    ).cast("long")
    scored = base.select("doc_id", score.alias("score"))
    return scored.groupBy(
        F.expr("score DIV 100000").cast("long").alias("band")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.min("score").cast("long").alias("min_score"),
        F.max("score").cast("long").alias("max_score"),
    )


# ---------------------------------------------------------------------------
# LIX readability per source: words/sentences + 100·longwords/words,
# with "sentences" the fixed 8-token windows of the newline-free
# corpus (same convention as the Gopher battery) and long words > 6
# chars. Per-doc LIX micros by integer rounding division; per-source
# mean by a second rounding division. Pure scan + one aggregation.
# ---------------------------------------------------------------------------
@register(
    "q_lix",
    f"""
    WITH base AS (
      SELECT source,
             len({_TOKENS_SQL}) AS ntok,
             len(list_filter({_TOKENS_SQL}, t -> length(t) > 6)) AS nlong
      FROM documents
    ),
    per_doc AS (
      SELECT source,
             (ntok * 1000000 + ((ntok + 7) // 8) // 2) // ((ntok + 7) // 8)
             + (100 * nlong * 1000000 + ntok // 2) // ntok AS lix
      FROM base WHERE ntok > 0
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST((SUM(lix) + COUNT(*) // 2) // COUNT(*) AS BIGINT)
             AS mean_lix_micros
    FROM per_doc GROUP BY source
    """,
)
def q_lix(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = core_ops.spread(load_table(spark, sf_dir, "documents"))
    toks = text_fns.tokens(F.col("text"))
    base = docs.select(
        "source",
        F.size(toks).alias("ntok"),
        F.size(F.filter(toks, lambda t: F.length(t) > 6)).alias("nlong"),
    ).filter(F.col("ntok") > 0)
    per_doc = base.select(
        "source",
        F.expr(
            "(ntok * 1000000 + ((ntok + 7) DIV 8) DIV 2) DIV ((ntok + 7) DIV 8)"
            " + (100 * nlong * 1000000 + ntok DIV 2) DIV ntok"
        ).alias("lix"),
    )
    return per_doc.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.expr(
            "CAST((SUM(lix) + COUNT(1) DIV 2) DIV COUNT(1) AS BIGINT)"
        ).alias("mean_lix_micros"),
    )


# ---------------------------------------------------------------------------
# Dedup-rate threshold curve: how many near-dup pairs (and distinct
# dropped docs) each Jaccard threshold would remove — the sweep a
# curator runs BEFORE fixing a threshold. ONE pair relation (the
# posting-list jaccard machinery, lineage once) feeds every
# threshold row; integer 10·j >= t gates, no float comparisons.
# ---------------------------------------------------------------------------
@register(
    "q_dedup_curve",
    f"""
    WITH corpus AS ({_NEAR_CORPUS_SQL}),
    shingled0 AS ({_SHINGLES_SQL.format(tokens=_TOKENS_SQL, corpus="SELECT * FROM corpus")}),
    rare AS (
      SELECT shingle FROM shingled0 GROUP BY shingle
      HAVING COUNT(*) <= {_SHINGLE_MAX_DF}
    ),
    shingled AS (SELECT s.* FROM shingled0 s JOIN rare USING (shingle)),
    sizes AS (SELECT doc, COUNT(*) AS n_shingles FROM shingled GROUP BY doc),
    inter AS (
      SELECT a.doc AS doc_a, b.doc AS doc_b, COUNT(*) AS n_common
      FROM shingled a JOIN shingled b ON a.shingle = b.shingle AND a.doc < b.doc
      GROUP BY 1, 2
    ),
    pairs AS (
      SELECT doc_a, doc_b, n_common,
             sa.n_shingles + sb.n_shingles - n_common AS n_union
      FROM inter
      JOIN sizes sa ON doc_a = sa.doc
      JOIN sizes sb ON doc_b = sb.doc
    ),
    ts(t) AS (VALUES (5), (6), (7), (8), (9))
    SELECT CAST(ts.t AS BIGINT) AS threshold_tenths,
           CAST(COUNT(CASE WHEN 10 * n_common >= ts.t * n_union THEN 1 END)
                AS BIGINT) AS n_pairs,
           CAST(COUNT(DISTINCT CASE WHEN 10 * n_common >= ts.t * n_union
                                    THEN doc_b END) AS BIGINT)
             AS n_docs_dropped
    FROM pairs CROSS JOIN ts
    GROUP BY ts.t
    """,
)
def q_dedup_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    corpus = _with_near_copies(docs)
    # the library's guarded posting-list tier (stop-shingle guard
    # BEFORE pair generation, mirrored in the oracle's rare CTE;
    # sizes computed over the guarded index on both sides) — ONE pair
    # relation feeds every threshold row
    pairs = jac_ops.jaccard_pair_counts(
        corpus, "doc_id", "text", 3, max_df=_SHINGLE_MAX_DF, guard="off"
    ).select(
        "doc_a",
        "doc_b",
        "n_common",
        (F.col("size_a") + F.col("size_b") - F.col("n_common")).alias("n_union"),
    )
    ts = spark.range(5, 10).select(F.col("id").alias("t"))
    hit = 10 * F.col("n_common") >= F.col("t") * F.col("n_union")
    return (
        pairs.crossJoin(F.broadcast(ts))
        .groupBy("t")
        .agg(
            F.count(F.when(hit, 1)).cast("long").alias("n_pairs"),
            F.countDistinct(F.when(hit, F.col("doc_b")))
            .cast("long")
            .alias("n_docs_dropped"),
        )
        .select(F.col("t").cast("long").alias("threshold_tenths"), "n_pairs", "n_docs_dropped")
    )


# ---------------------------------------------------------------------------
# Pairwise source overlap: shingle-set Jaccard between every source
# pair — the contamination / mirror detector ACROSS ingest feeds
# (q_source_jaccard's idea generalized from one pair to the full
# source × source profile). Posting lists over sources are bounded
# by the source count, so the in-array i<j expansion is structurally
# tiny — no hot-key risk at any corpus size.
# ---------------------------------------------------------------------------
@register(
    "q_source_overlap",
    f"""
    WITH sh AS (
      SELECT DISTINCT source, shingle FROM (
        SELECT source,
               unnest(list_transform(range(1, greatest(len(toks) - 1, 1)),
                      i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS shingle
        FROM (SELECT source, {_TOKENS_SQL} AS toks FROM documents)
      )
    ),
    sizes AS (SELECT source, COUNT(*) AS n FROM sh GROUP BY source),
    inter AS (
      SELECT a.source AS src_a, b.source AS src_b, COUNT(*) AS n_common
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.source < b.source
      GROUP BY 1, 2
    )
    SELECT src_a, src_b,
           CAST(n_common AS BIGINT) AS n_common,
           CAST((n_common * 1000000
                 + (sa.n + sb.n - n_common) // 2)
                // (sa.n + sb.n - n_common) AS BIGINT) AS jaccard_micros
    FROM inter
    JOIN sizes sa ON src_a = sa.source
    JOIN sizes sb ON src_b = sb.source
    """,
)
def q_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    from frames_spark.functions.hashing import shingles

    docs = core_ops.spread(load_table(spark, sf_dir, "documents"))
    sh = docs.select(
        "source",
        F.explode(shingles(text_fns.tokens(F.col("text")), 3)).alias(
            "shingle"
        ),
    ).distinct()
    sizes = sh.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
    postings = (
        sh.groupBy("shingle")
        .agg(F.sort_array(F.collect_list("source")).alias("ss"))
        .filter(F.size("ss") >= 2)
    )
    pair_expr = F.expr(
        "flatten(transform(ss, (x, i) ->"
        " transform(slice(ss, i + 2, size(ss)),"
        " y -> struct(x AS src_a, y AS src_b))))"
    )
    inter = (
        postings.select(F.explode(pair_expr).alias("p"))
        .groupBy(F.col("p.src_a").alias("src_a"), F.col("p.src_b").alias("src_b"))
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    return (
        inter.join(
            F.broadcast(sizes.select(F.col("source").alias("src_a"), F.col("n").alias("na"))),
            "src_a",
        )
        .join(
            F.broadcast(sizes.select(F.col("source").alias("src_b"), F.col("n").alias("nb"))),
            "src_b",
        )
        .select(
            "src_a",
            "src_b",
            F.col("n_common").cast("long").alias("n_common"),
            F.expr(
                "CAST((n_common * 1000000 + (na + nb - n_common) DIV 2)"
                " DIV (na + nb - n_common) AS BIGINT)"
            ).alias("jaccard_micros"),
        )
    )


# ---------------------------------------------------------------------------
# Token-budget mixture sampling: take documents per source in
# deterministic md5 order until each source's token budget is
# reached — the SELECTION step that materializes q_mixture_weights'
# plan (which only computes targets). The cumulative token count
# rides the staged two-phase grouped prefix sum (never a fact-wide
# window); the keep rule is "cumsum - own tokens < budget" so the
# budget-crossing doc is included (every source reaches its budget).
# Layout-invariant: md5 order, not ingestion order.
# ---------------------------------------------------------------------------
_TB_BUDGET = 2000  # tokens per source


@register(
    "q_token_budget_sample",
    f"""
    WITH base AS (
      SELECT source, doc_id,
             len({_TOKENS_SQL}) AS ntok,
             md5(CAST(doc_id AS VARCHAR)) AS h
      FROM documents
    ),
    ranked AS (
      SELECT source, doc_id, ntok,
             SUM(ntok) OVER (PARTITION BY source ORDER BY h, doc_id
                             ROWS UNBOUNDED PRECEDING) AS cum
      FROM base
    ),
    kept AS (
      SELECT source, doc_id, ntok, cum
      FROM ranked WHERE cum - ntok < {_TB_BUDGET}
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(ntok) AS BIGINT) AS n_tokens,
           CAST(MAX(cum) AS BIGINT) AS final_cum
    FROM kept GROUP BY source
    """,
)
def q_token_budget_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = core_ops.spread(load_table(spark, sf_dir, "documents"))
    base = docs.select(
        "source",
        "doc_id",
        text_fns.n_tokens(F.col("text")).cast("long").alias("ntok"),
        F.md5(F.col("doc_id").cast("string")).alias("h"),
    )
    ranked = grouped_prefix_sum(
        base, ["source"], ["h", "doc_id"], "ntok", cum_col="cum"
    )
    kept = ranked.filter(F.col("cum") - F.col("ntok") < _TB_BUDGET)
    return kept.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("ntok").cast("long").alias("n_tokens"),
        F.max("cum").cast("long").alias("final_cum"),
    )


# ---------------------------------------------------------------------------
# Training-shard assignment balance: documents land in shards by
# content hash (pmod(md5-hash, n)), the deterministic global shuffle
# every training run needs (layout/ingestion-order invariant,
# reproducible across re-runs). The query audits what the
# write_training_shards sink would produce: per-shard doc/token
# counts and the min/max spread that tells a trainer its worst-case
# shard skew.
# ---------------------------------------------------------------------------
_N_SHARDS = 16


@register(
    "q_shard_balance",
    f"""
    WITH assigned AS (
      SELECT {hash60_sql("CAST(doc_id AS VARCHAR)", seed="shard")} % {_N_SHARDS}
               AS shard,
             len({_TOKENS_SQL}) AS ntok
      FROM documents
    ),
    per AS (
      SELECT shard, COUNT(*) AS n_docs, SUM(ntok) AS n_tokens
      FROM assigned GROUP BY shard
    )
    SELECT CAST(shard AS BIGINT) AS shard,
           CAST(n_docs AS BIGINT) AS n_docs,
           CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST((SELECT MIN(n_tokens) FROM per) AS BIGINT) AS min_shard_tokens,
           CAST((SELECT MAX(n_tokens) FROM per) AS BIGINT) AS max_shard_tokens
    FROM per
    """,
)
def q_shard_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    from frames_spark.functions.hashing import hash60

    docs = core_ops.spread(load_table(spark, sf_dir, "documents"))
    assigned = docs.select(
        F.pmod(
            hash60(F.col("doc_id").cast("string"), seed="shard"), _N_SHARDS
        ).alias("shard"),
        text_fns.n_tokens(F.col("text")).cast("long").alias("ntok"),
    )
    per = assigned.groupBy("shard").agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum("ntok").alias("n_tokens")
    )
    ext = per.agg(
        F.min("n_tokens").alias("mn"), F.max("n_tokens").alias("mx")
    )
    return per.crossJoin(F.broadcast(ext)).select(
        F.col("shard").cast("long").alias("shard"),
        F.col("n_docs").cast("long").alias("n_docs"),
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.col("mn").cast("long").alias("min_shard_tokens"),
        F.col("mx").cast("long").alias("max_shard_tokens"),
    )


# ---------------------------------------------------------------------------
# Context-window packing efficiency: for each candidate window size,
# how many packed sequences the corpus yields and what fraction of
# their token capacity is real text vs padding waste — the number
# that decides a training run's window size. Greedy concatenation in
# deterministic doc order per source (q_pack_docs' convention):
# sequences per source = ceil(source_tokens / W), waste = capacity −
# tokens. Integer arithmetic end to end.
# ---------------------------------------------------------------------------
@register(
    "q_packing_stats",
    f"""
    WITH per_source AS (
      SELECT source, SUM(len({_TOKENS_SQL})) AS ntok FROM documents
      GROUP BY source
    ),
    ws(w) AS (VALUES (1024), (2048), (4096), (8192)),
    packed AS (
      SELECT ws.w, source, ntok, (ntok + ws.w - 1) // ws.w AS n_seqs
      FROM per_source CROSS JOIN ws
    )
    SELECT CAST(w AS BIGINT) AS window_size,
           CAST(SUM(n_seqs) AS BIGINT) AS n_sequences,
           CAST(SUM(ntok) AS BIGINT) AS n_tokens,
           CAST(SUM(n_seqs) * w - SUM(ntok) AS BIGINT) AS padding_tokens,
           CAST((SUM(ntok) * 1000000 + (SUM(n_seqs) * w) // 2)
                // (SUM(n_seqs) * w) AS BIGINT) AS fill_micros
    FROM packed GROUP BY w
    """,
)
def q_packing_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = core_ops.spread(load_table(spark, sf_dir, "documents"))
    per_source = docs.groupBy("source").agg(
        F.sum(text_fns.n_tokens(F.col("text")).cast("long")).alias("ntok")
    )
    ws = spark.createDataFrame(
        [(1024,), (2048,), (4096,), (8192,)], "w long"
    )
    packed = per_source.crossJoin(F.broadcast(ws)).select(
        "w", "ntok", F.expr("(ntok + w - 1) DIV w").alias("n_seqs")
    )
    return (
        packed.groupBy("w")
        .agg(
            F.sum("n_seqs").alias("n_seqs"),
            F.sum("ntok").alias("ntok"),
        )
        .select(
            F.col("w").cast("long").alias("window_size"),
            F.col("n_seqs").cast("long").alias("n_sequences"),
            F.col("ntok").cast("long").alias("n_tokens"),
            (F.col("n_seqs") * F.col("w") - F.col("ntok"))
            .cast("long")
            .alias("padding_tokens"),
            F.expr(
                "CAST((ntok * 1000000 + (n_seqs * w) DIV 2)"
                " DIV (n_seqs * w) AS BIGINT)"
            ).alias("fill_micros"),
        )
    )


# ---------------------------------------------------------------------------
# Context-length fit profile: how much of the corpus (docs and
# tokens) fits whole into each candidate context window — the
# companion decision input to q_packing_stats for pipelines that
# truncate instead of pack. One scan, broadcast window list.
# ---------------------------------------------------------------------------
@register(
    "q_context_fit",
    f"""
    WITH base AS (
      SELECT len({_TOKENS_SQL}) AS ntok FROM documents
    ),
    ws(w) AS (VALUES (64), (128), (256), (512)),
    tot AS (SELECT COUNT(*) AS nd, SUM(ntok) AS nt FROM base)
    SELECT CAST(ws.w AS BIGINT) AS window_size,
           CAST(COUNT(CASE WHEN ntok <= ws.w THEN 1 END) AS BIGINT)
             AS docs_fitting,
           CAST(tot.nd AS BIGINT) AS n_docs,
           CAST(SUM(least(ntok, ws.w)) AS BIGINT) AS tokens_kept,
           CAST(tot.nt - SUM(least(ntok, ws.w)) AS BIGINT)
             AS tokens_truncated
    FROM base CROSS JOIN ws CROSS JOIN tot
    GROUP BY ws.w, tot.nd, tot.nt
    """,
)
def q_context_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = core_ops.spread(load_table(spark, sf_dir, "documents"))
    base = docs.select(text_fns.n_tokens(F.col("text")).cast("long").alias("ntok"))
    ws = spark.createDataFrame([(64,), (128,), (256,), (512,)], "w long")
    tot = base.agg(F.count(F.lit(1)).alias("nd"), F.sum("ntok").alias("nt"))
    return (
        base.crossJoin(F.broadcast(ws))
        .crossJoin(F.broadcast(tot))
        .groupBy("w", "nd", "nt")
        .agg(
            F.count(F.when(F.col("ntok") <= F.col("w"), 1)).alias("fit"),
            F.sum(F.least(F.col("ntok"), F.col("w"))).alias("kept"),
        )
        .select(
            F.col("w").cast("long").alias("window_size"),
            F.col("fit").cast("long").alias("docs_fitting"),
            F.col("nd").cast("long").alias("n_docs"),
            F.col("kept").cast("long").alias("tokens_kept"),
            (F.col("nt") - F.col("kept")).cast("long").alias("tokens_truncated"),
        )
    )


# ---------------------------------------------------------------------------
# Versioned-table witnesses: the newest source surface
# (sources/versioned.py — snapshot isolation + time travel) put under
# the same hard oracle gate as every other component. Both queries
# PLANT a deterministic three-version table from `orders` inside a
# fresh temp dir (v1 = base slice; v2 = upsert: re-priced %5 keys +
# added %7 keys shifted by 1e8; v3 = direct snapshot write deleting
# %11 keys), then read historical versions AFTER later versions are
# published — the time-travel property itself is what produces the
# answer. The oracle rebuilds v1/v2/v3 purely relationally. Prices go
# through the _micros integer hand-off at v1-construction time so
# every later version is integer-exact on both engines.
# ---------------------------------------------------------------------------
_VT_V1_SQL = """
    SELECT o_orderkey, o_custkey,
           CAST(FLOOR(o_totalprice * 1000000 + 0.5) AS BIGINT) AS price_micros
    FROM orders WHERE o_orderkey % 13 = 0
"""
_VT_UPD_SQL = """
    SELECT o_orderkey, o_custkey, price_micros + 1000000 AS price_micros
    FROM v1 WHERE o_orderkey % 5 = 0
    UNION ALL
    SELECT o_orderkey + 100000000, o_custkey, price_micros
    FROM v1 WHERE o_orderkey % 7 = 0
"""
_VT_CTES = f"""
    WITH v1 AS ({_VT_V1_SQL}),
    upd AS ({_VT_UPD_SQL}),
    v2 AS (
      SELECT * FROM v1
      WHERE o_orderkey NOT IN (SELECT o_orderkey FROM upd)
      UNION ALL SELECT * FROM upd
    ),
    v3 AS (SELECT * FROM v2 WHERE o_orderkey % 11 <> 0)
"""


def _planted_versioned_table(spark: SparkSession, sf_dir: str) -> str:
    """Write the deterministic v1/v2/v3 ladder and return the table
    dir (a fresh mkdtemp per call — snapshots are immutable, so two
    concurrent invocations never interfere). The driver-local temp
    path is the single-node TEST WITNESS harness; the versioned-table
    API itself is scheme-agnostic (Hadoop FS), so the same ladder
    runs against hdfs:// / s3a:// table dirs on a cluster."""
    import tempfile

    from frames_spark.sources.versioned import (
        read_versioned,
        upsert_versioned,
        write_versioned,
    )

    table_dir = tempfile.mkdtemp(prefix="fs_vtbl_")
    base = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") % 13 == 0)
        .select(
            "o_orderkey",
            "o_custkey",
            _micros(F.col("o_totalprice")).alias("price_micros"),
        )
    )
    write_versioned(base, table_dir)  # v1
    updates = (
        base.filter(F.col("o_orderkey") % 5 == 0)
        .select(
            "o_orderkey",
            "o_custkey",
            (F.col("price_micros") + 1_000_000).alias("price_micros"),
        )
        .unionByName(
            base.filter(F.col("o_orderkey") % 7 == 0).select(
                (F.col("o_orderkey") + 100_000_000).alias("o_orderkey"),
                "o_custkey",
                "price_micros",
            )
        )
    )
    upsert_versioned(spark, table_dir, updates, ["o_orderkey"])  # v2
    v3 = read_versioned(spark, table_dir, version=2).filter(
        F.col("o_orderkey") % 11 != 0
    )
    write_versioned(v3, table_dir)  # v3 (delete-as-snapshot)
    return table_dir


@register(
    "q_time_travel",
    _VT_CTES + """
    SELECT CAST(1 AS BIGINT) AS version,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(price_micros) AS BIGINT) AS sum_price_micros,
           CAST(MAX(o_orderkey) AS BIGINT) AS max_key
    FROM v1
    UNION ALL
    SELECT CAST(2 AS BIGINT), CAST(COUNT(*) AS BIGINT),
           CAST(SUM(price_micros) AS BIGINT), CAST(MAX(o_orderkey) AS BIGINT)
    FROM v2
    UNION ALL
    SELECT CAST(3 AS BIGINT), CAST(COUNT(*) AS BIGINT),
           CAST(SUM(price_micros) AS BIGINT), CAST(MAX(o_orderkey) AS BIGINT)
    FROM v3
    """,
)
def q_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    from frames_spark.sources.versioned import read_versioned

    table_dir = _planted_versioned_table(spark, sf_dir)
    # every historical version is read AFTER v3 is published — the
    # snapshot-isolation/time-travel property under test
    per_version = [
        read_versioned(spark, table_dir, version=v).agg(
            F.lit(v).cast("long").alias("version"),
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum("price_micros").cast("long").alias("sum_price_micros"),
            F.max("o_orderkey").cast("long").alias("max_key"),
        )
        for v in (1, 2, 3)
    ]
    out = per_version[0]
    for df in per_version[1:]:
        out = out.unionByName(df)
    return out.select("version", "n_rows", "sum_price_micros", "max_key")


@register(
    "q_snapshot_diff",
    _VT_CTES + """
    SELECT COALESCE(a.o_orderkey, b.o_orderkey) AS o_orderkey,
           CASE WHEN a.o_orderkey IS NULL THEN 'added'
                WHEN b.o_orderkey IS NULL THEN 'removed'
                WHEN a.price_micros <> b.price_micros
                  OR a.o_custkey <> b.o_custkey THEN 'changed'
           END AS change
    FROM v1 a FULL OUTER JOIN v3 b ON a.o_orderkey = b.o_orderkey
    WHERE a.o_orderkey IS NULL OR b.o_orderkey IS NULL
       OR a.price_micros <> b.price_micros
       OR a.o_custkey <> b.o_custkey
    """,
)
def q_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    from frames_spark.sources.versioned import read_versioned

    table_dir = _planted_versioned_table(spark, sf_dir)
    # q_table_diff's machinery composed with time travel: diff the
    # oldest snapshot against the newest — 'added' (%7 keys), 'removed'
    # (%11 delete + upsert-displaced), 'changed' (%5 re-price) all
    # exercised in one result.
    return table_diff(
        read_versioned(spark, table_dir, version=1),
        read_versioned(spark, table_dir, version=3),
        ["o_orderkey"],
    )


# ---------------------------------------------------------------------------
# Gopher Table A1 COMPLETION (the extended battery, Rae et al. 2021):
# duplicated-{5..10}-gram character fractions (ALL occurrences of any
# n-gram appearing twice or more), symbol-to-word ratio ('#', '…' and
# non-overlapping '...'), and bullet-start / ellipsis-end line
# fractions. Sibling of q_gopher_repetition: together they cover the
# full table, and passes_repetition_gates enforces every threshold.
# Spark side is still pure scan expressions (the dup-gram count is
# the same sorted-run fold, banking finished runs); oracle recomputes
# relationally per n with identical rounding divisions.
# ---------------------------------------------------------------------------
_GFULL_GRAMS_SQL = " UNION ALL ".join(
    f"""SELECT doc_id, {n} AS n,
        unnest(CASE WHEN len(t) >= {n} THEN
          list_transform(range(1, len(t) - {n - 2}),
                         i -> array_to_string(t[i:i+{n - 1}], ' '))
          ELSE [] END) AS gram FROM base"""
    for n in range(5, 11)
)
_GFULL_DUP_COLS_SQL = ",\n             ".join(
    f"SUM(CASE WHEN n = {n} AND c >= 2 THEN c * length(gram) ELSE 0 END) AS d{n}"
    for n in range(5, 11)
)
_GFULL_FRAC_COLS_SQL = ",\n           ".join(
    f"""CASE WHEN w.tc > 0 THEN
             CAST((COALESCE(d.d{n}, 0) * 1000000 + w.tc // 2) // w.tc AS BIGINT)
           ELSE CAST(0 AS BIGINT) END AS dup_{n}gram_char_frac_micros"""
    for n in range(5, 11)
)


@register(
    "q_gopher_full",
    f"""
    WITH base AS (
      SELECT doc_id, {_TOKENS_SQL} AS t, length({_NORM_SQL}) AS tc
      FROM documents
    ),
    win AS (
      SELECT doc_id, tc, len(t) AS nw,
             list_transform(range(0, CAST((len(t) + 7) // 8 AS INT)),
                            i -> array_to_string(t[8*i+1 : 8*i+8], ' ')) AS ls
      FROM base
    ),
    g AS ({_GFULL_GRAMS_SQL}),
    cnt AS (SELECT doc_id, n, gram, COUNT(*) AS c FROM g GROUP BY 1, 2, 3),
    dup AS (
      SELECT doc_id,
             {_GFULL_DUP_COLS_SQL}
      FROM cnt GROUP BY doc_id
    ),
    sym AS (
      SELECT doc_id,
             SUM(length(tok) - length(replace(tok, '#', ''))
                 + length(tok) - length(replace(tok, '…', ''))
                 + (length(tok) - length(replace(tok, '...', ''))) // 3)
               AS syms
      FROM (SELECT doc_id, unnest(t) AS tok FROM base)
      GROUP BY doc_id
    )
    SELECT w.doc_id,
           {_GFULL_FRAC_COLS_SQL},
           CASE WHEN w.nw > 0 THEN
             CAST((COALESCE(s.syms, 0) * 1000000 + w.nw // 2) // w.nw AS BIGINT)
           ELSE CAST(0 AS BIGINT) END AS symbol_word_ratio_micros,
           CASE WHEN len(w.ls) > 0 THEN
             CAST((len(list_filter(w.ls,
                    x -> substr(x, 1, 1) IN ('•', '‣', '▪', '◦', '-', '*')))
                   * 1000000 + len(w.ls) // 2) // len(w.ls) AS BIGINT)
           ELSE CAST(0 AS BIGINT) END AS bullet_line_frac_micros,
           CASE WHEN len(w.ls) > 0 THEN
             CAST((len(list_filter(w.ls,
                    x -> ends_with(x, '...') OR ends_with(x, '…')))
                   * 1000000 + len(w.ls) // 2) // len(w.ls) AS BIGINT)
           ELSE CAST(0 AS BIGINT) END AS ellipsis_line_frac_micros
    FROM win w
    LEFT JOIN dup d USING (doc_id)
    LEFT JOIN sym s USING (doc_id)
    """,
)
def q_gopher_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = core_ops.spread(load_table(spark, sf_dir, "documents"))
    pre = docs.select(
        "doc_id",
        text_fns.tokens(F.col("text")).alias("_toks"),
        F.length(text_fns.normalize(F.col("text"))).cast("long").alias("_tc"),
    )
    sig = gopher_fns.repetition_signals(
        F.col("_toks"), F.col("_tc"), extended=True
    )
    new_keys = [
        *[f"dup_{n}gram_char_frac_micros" for n in range(5, 11)],
        "symbol_word_ratio_micros",
        "bullet_line_frac_micros",
        "ellipsis_line_frac_micros",
    ]
    return pre.select("doc_id", *[sig[k].alias(k) for k in new_keys])


# ---------------------------------------------------------------------------
# Incremental dedup through the PERSISTED band-bucket index
# (dedup/index.py): the daily-crawl shape — batch 1 (the originals)
# builds the index, batch 2 (the planted near-copies) probes it for
# candidates and appends. The union of the two probes must equal the
# full one-shot recompute, so the oracle is EXACTLY q_dedup_minhash's
# SQL over the same planted corpus — the invariant itself is what the
# correctness gate checks. Index storage is a versioned parquet table
# in a fresh temp dir per call.
# ---------------------------------------------------------------------------
@register("q_incremental_dedup", _MINHASH_PAIRS_SQL)
def q_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from frames_spark.dedup.index import probe_and_append

    corpus = _with_near_copies(load_table(spark, sf_dir, "documents"))
    b1 = corpus.filter(F.col("doc_id") < 1_000_000)
    b2 = corpus.filter(F.col("doc_id") >= 1_000_000)
    idx = tempfile.mkdtemp(prefix="fs_bandidx_")
    p1, _ = probe_and_append(
        spark, idx, b1, "doc_id", "text",
        num_hashes=_MH_K, bands=_MH_BANDS, rows_per_band=_MH_ROWS,
    )
    # p1 binds to the empty index and p2 to snapshot v=1 (versioned
    # reads pin their snapshot at call time), so the lazy union is
    # exact even though both evaluate after the second append
    p2, _ = probe_and_append(
        spark, idx, b2, "doc_id", "text",
        num_hashes=_MH_K, bands=_MH_BANDS, rows_per_band=_MH_ROWS,
    )
    from frames_spark.operators.caching import retie

    # the union derives from both tie_cache results (caching.retie)
    return retie(p1.unionByName(p2).distinct(), p1, p2)


# ---------------------------------------------------------------------------
# LSH bucket-size profile: the skew audit for banded MinHash — bucket
# size distribution over the SAME banded index the dedup tiers (and
# the persisted cross-run index) probe. Bucket size is THE scale risk
# of LSH candidate generation (a size-s bucket expands to s(s-1)/2
# pairs), so this is the q_key_skew analog a curator runs before
# choosing band/row parameters or the max_bucket guard. One groupBy
# ladder, exact integers, full oracle over the shared signature CTEs.
# ---------------------------------------------------------------------------
@register(
    "q_lsh_bucket_stats",
    _MH_CTES + """
    , buckets AS (
      SELECT band, band_key, COUNT(*) AS sz
      FROM banded GROUP BY band, band_key
    )
    SELECT CAST(sz AS BIGINT) AS bucket_size,
           CAST(COUNT(*) AS BIGINT) AS n_buckets,
           CAST(SUM(sz) AS BIGINT) AS n_doc_slots,
           CAST(COUNT(*) * (sz * (sz - 1) // 2) AS BIGINT)
             AS candidate_pairs
    FROM buckets GROUP BY sz
    """,
)
def q_lsh_bucket_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from frames_spark.dedup.index import band_rows

    corpus = _with_near_copies(load_table(spark, sf_dir, "documents"))
    banded = band_rows(
        corpus, "doc_id", "text",
        num_hashes=_MH_K, bands=_MH_BANDS, rows_per_band=_MH_ROWS,
    )
    buckets = banded.groupBy("band", "band_key").agg(
        F.count(F.lit(1)).alias("sz")
    )
    return buckets.groupBy("sz").agg(
        F.count(F.lit(1)).cast("long").alias("n_buckets"),
        F.sum("sz").cast("long").alias("n_doc_slots"),
        F.expr("CAST(COUNT(1) * (sz * (sz - 1) DIV 2) AS BIGINT)").alias(
            "candidate_pairs"
        ),
    ).select(
        F.col("sz").cast("long").alias("bucket_size"),
        "n_buckets",
        "n_doc_slots",
        "candidate_pairs",
    )


# ---------------------------------------------------------------------------
# Incremental duplicate CLUSTERS: the full daily-increment composition
# registered under the hard gate — batch 1 builds the persisted
# band-bucket index and clusters its own pairs; batch 2 probes,
# appends, and folds its pairs into the labels via update_components
# (star edges, cost bounded by the arriving batch). The oracle is
# EXACTLY q_dedup_clusters' recursive min-reachable-id CTE over the
# one-shot pair set: incremental labels == full reclustering is the
# invariant under test (the pytest twin proves it on subsets; this
# proves it against SQL on the whole planted corpus at both SFs).
# ---------------------------------------------------------------------------
@register(
    "q_incremental_clusters",
    f"""
    WITH RECURSIVE pairs AS ({_MINHASH_PAIRS_SQL}),
    edges AS (
      SELECT doc_a AS src, doc_b AS dst FROM pairs
      UNION SELECT doc_b, doc_a FROM pairs
    ),
    reach(node, label) AS (
      SELECT src, src FROM edges
      UNION
      SELECT e.dst, r.label FROM reach r JOIN edges e ON e.src = r.node
    )
    SELECT node, MIN(label) AS component FROM reach GROUP BY node
    """,
)
def q_incremental_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from frames_spark.dedup.index import probe_and_append

    corpus = _with_near_copies(load_table(spark, sf_dir, "documents"))
    b1 = corpus.filter(F.col("doc_id") < 1_000_000)
    b2 = corpus.filter(F.col("doc_id") >= 1_000_000)
    idx = tempfile.mkdtemp(prefix="fs_bandidx_")
    p1, _ = probe_and_append(
        spark, idx, b1, "doc_id", "text",
        num_hashes=_MH_K, bands=_MH_BANDS, rows_per_band=_MH_ROWS,
    )
    labels = cluster_ops.connected_components(p1, "doc_a", "doc_b")
    p2, _ = probe_and_append(
        spark, idx, b2, "doc_id", "text",
        num_hashes=_MH_K, bands=_MH_BANDS, rows_per_band=_MH_ROWS,
    )
    # no retie here: connected_components/update_components iterate
    # EAGERLY (cache_scope actions inside the call), so p1/p2's
    # caches are consumed before this returns — retaining them past
    # the return would only delay the release.
    return cluster_ops.update_components(labels, p2, "doc_a", "doc_b")


# Increment-layout twin of q_incremental_dedup: same invariant, same
# oracle (full one-shot recompute), but the index appends are O(batch)
# `inc=<key>/` partition dirs — the write path that holds at 100 TB.
@register("q_incremental_dedup_inc", _MINHASH_PAIRS_SQL)
def q_incremental_dedup_inc(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from frames_spark.dedup.index import probe_increment

    corpus = _with_near_copies(load_table(spark, sf_dir, "documents"))
    b1 = corpus.filter(F.col("doc_id") < 1_000_000)
    b2 = corpus.filter(F.col("doc_id") >= 1_000_000)
    idx = tempfile.mkdtemp(prefix="fs_incidx_")
    p1 = probe_increment(
        spark, idx, b1, "day-001", "doc_id", "text",
        num_hashes=_MH_K, bands=_MH_BANDS, rows_per_band=_MH_ROWS,
    )
    p2 = probe_increment(
        spark, idx, b2, "day-002", "doc_id", "text",
        num_hashes=_MH_K, bands=_MH_BANDS, rows_per_band=_MH_ROWS,
    )
    from frames_spark.operators.caching import retie

    return retie(p1.unionByName(p2).distinct(), p1, p2)


# ---------------------------------------------------------------------------
# Gopher gate IMPACT accounting: for every Table A1 rule, how many
# documents exceed its removal threshold — the decision table a
# curator reads before enabling the battery (q_dedup_curve's role,
# for quality gates). One per-doc signal relation (the union of
# q_gopher_repetition's and q_gopher_full's machinery) feeds all 14
# rules; rule rows are generated from the SAME GOPHER_THRESHOLDS dict
# on both engines so the thresholds cannot drift.
# ---------------------------------------------------------------------------
_GG_SIG_SQL = f"""
    base AS (
      SELECT doc_id, {_TOKENS_SQL} AS t, length({_NORM_SQL}) AS tc
      FROM documents
    ),
    win AS (
      SELECT doc_id, tc, len(t) AS nw,
             list_transform(range(0, CAST((len(t) + 7) // 8 AS INT)),
                            i -> array_to_string(t[8*i+1 : 8*i+8], ' ')) AS ls,
             list_transform(range(0, CAST((len(t) + 31) // 32 AS INT)),
                            i -> array_to_string(t[32*i+1 : 32*i+32], ' ')) AS ps
      FROM base
    ),
    gt AS (
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
    cnttop AS (SELECT doc_id, n, gram, COUNT(*) AS c FROM gt GROUP BY 1, 2, 3),
    topg AS (
      SELECT doc_id, n, c, gram FROM (
        SELECT doc_id, n, c, gram,
               ROW_NUMBER() OVER (PARTITION BY doc_id, n
                                  ORDER BY c DESC, gram ASC) AS rn
        FROM cnttop
      ) WHERE rn = 1
    ),
    gd AS ({_GFULL_GRAMS_SQL}),
    cntdup AS (SELECT doc_id, n, gram, COUNT(*) AS c FROM gd GROUP BY 1, 2, 3),
    dup AS (
      SELECT doc_id,
             {_GFULL_DUP_COLS_SQL}
      FROM cntdup GROUP BY doc_id
    ),
    sym AS (
      SELECT doc_id,
             SUM(length(tok) - length(replace(tok, '#', ''))
                 + length(tok) - length(replace(tok, '…', ''))
                 + (length(tok) - length(replace(tok, '...', ''))) // 3)
               AS syms
      FROM (SELECT doc_id, unnest(t) AS tok FROM base)
      GROUP BY doc_id
    ),
    sig AS MATERIALIZED (
      -- MATERIALIZED: q_gopher_gate_counts' 11 threshold branches
      -- UNION ALL over this relation; inlined per-branch, the whole
      -- extended n-gram machinery re-evaluates 11x and DuckDB's
      -- spill exceeded the box's free disk at sf1 (r13). Evaluated
      -- once it is the q_gopher_full workload (~30 s at sf1).
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
                  AS BIGINT) AS top4_char_frac_micros,
             {_GFULL_FRAC_COLS_SQL},
             CASE WHEN w.nw > 0 THEN
               CAST((COALESCE(s.syms, 0) * 1000000 + w.nw // 2) // w.nw AS BIGINT)
             ELSE CAST(0 AS BIGINT) END AS symbol_word_ratio_micros,
             CASE WHEN len(w.ls) > 0 THEN
               CAST((len(list_filter(w.ls,
                      x -> substr(x, 1, 1) IN ('•', '‣', '▪', '◦', '-', '*')))
                     * 1000000 + len(w.ls) // 2) // len(w.ls) AS BIGINT)
             ELSE CAST(0 AS BIGINT) END AS bullet_line_frac_micros,
             CASE WHEN len(w.ls) > 0 THEN
               CAST((len(list_filter(w.ls,
                      x -> ends_with(x, '...') OR ends_with(x, '…')))
                     * 1000000 + len(w.ls) // 2) // len(w.ls) AS BIGINT)
             ELSE CAST(0 AS BIGINT) END AS ellipsis_line_frac_micros
      FROM win w
      LEFT JOIN topg t2 ON t2.doc_id = w.doc_id AND t2.n = 2
      LEFT JOIN topg t3 ON t3.doc_id = w.doc_id AND t3.n = 3
      LEFT JOIN topg t4 ON t4.doc_id = w.doc_id AND t4.n = 4
      LEFT JOIN dup d ON d.doc_id = w.doc_id
      LEFT JOIN sym s ON s.doc_id = w.doc_id
    )
"""

_GG_BRANCHES_SQL = "\n      UNION ALL ".join(
    f"SELECT doc_id, '{rule}' AS rule, {int(thr * 1_000_000)} AS thr,"
    f" {rule}_micros AS val FROM sig"
    for rule, thr in sorted(gopher_fns.GOPHER_THRESHOLDS.items())
)


@register(
    "q_gopher_gate_counts",
    f"""
    WITH {_GG_SIG_SQL},
    longsig AS (
      {_GG_BRANCHES_SQL}
    )
    SELECT rule,
           CAST(thr AS BIGINT) AS threshold_micros,
           CAST(COUNT(CASE WHEN val > thr THEN 1 END) AS BIGINT)
             AS n_docs_over,
           CAST(COUNT(*) AS BIGINT) AS n_docs
    FROM longsig GROUP BY rule, thr
    """,
)
def q_gopher_gate_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = core_ops.spread(load_table(spark, sf_dir, "documents"))
    pre = docs.select(
        "doc_id",
        text_fns.tokens(F.col("text")).alias("_toks"),
        F.length(text_fns.normalize(F.col("text"))).cast("long").alias("_tc"),
    )
    sig = gopher_fns.repetition_signals(
        F.col("_toks"), F.col("_tc"), extended=True
    )
    rules = F.array(
        *[
            F.struct(
                F.lit(rule).alias("rule"),
                F.lit(int(thr * 1_000_000)).cast("long").alias("thr"),
                sig[f"{rule}_micros"].alias("val"),
            )
            for rule, thr in sorted(gopher_fns.GOPHER_THRESHOLDS.items())
        ]
    )
    long = pre.select(F.explode(rules).alias("r")).select("r.*")
    return long.groupBy("rule", "thr").agg(
        F.count(F.when(F.col("val") > F.col("thr"), 1))
        .cast("long")
        .alias("n_docs_over"),
        F.count(F.lit(1)).cast("long").alias("n_docs"),
    ).select(
        "rule",
        F.col("thr").cast("long").alias("threshold_micros"),
        "n_docs_over",
        "n_docs",
    )


# ---------------------------------------------------------------------------
# Quality-threshold sweep: docs and TOKENS kept at each candidate
# score cutoff — the quality twin of q_dedup_curve (a curator fixes
# the cutoff by token budget, not doc count, so both measures ride
# one scored relation against a broadcast threshold spine).
# ---------------------------------------------------------------------------
@register(
    "q_quality_curve",
    f"""
    WITH base AS (
      SELECT doc_id,
             len({_TOKENS_SQL}) AS ntok,
             CAST(FLOOR(CAST(length(regexp_replace(lower(text), '[a-z0-9 ]', '', 'g')) AS DOUBLE)
               / greatest(length(text), 1) * 1000000 + 0.5) AS BIGINT) AS pm,
             lang
      FROM documents
    ),
    scored AS (
      SELECT ntok,
             CAST(CASE WHEN lang = 'en' THEN 400000 ELSE 0 END
               + (300000 * least(ntok, 30) + 15) // 30
               + (300000 * (1000000 - least(pm * 5, 1000000)) + 500000)
                 // 1000000 AS BIGINT) AS score
      FROM base
    ),
    ts(t) AS (VALUES (400000), (500000), (600000), (700000), (800000), (900000))
    SELECT CAST(ts.t AS BIGINT) AS threshold,
           CAST(COUNT(CASE WHEN score >= ts.t THEN 1 END) AS BIGINT)
             AS docs_kept,
           CAST(COALESCE(SUM(CASE WHEN score >= ts.t THEN ntok END), 0)
                AS BIGINT) AS tokens_kept,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(ntok) AS BIGINT) AS n_tokens
    FROM scored CROSS JOIN ts
    GROUP BY ts.t
    """,
)
def q_quality_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = core_ops.spread(load_table(spark, sf_dir, "documents"))
    pm = F.floor(text_fns.punct_ratio(F.col("text")) * 1_000_000 + 0.5).cast(
        "long"
    )
    base = docs.select(
        text_fns.n_tokens(F.col("text")).alias("ntok"), pm.alias("pm"), "lang"
    )
    score = (
        F.when(F.col("lang") == "en", F.lit(400000)).otherwise(F.lit(0))
        + F.expr("(300000 * least(ntok, 30) + 15) DIV 30")
        + F.expr(
            "(300000 * (1000000 - least(pm * 5, 1000000)) + 500000)"
            " DIV 1000000"
        )
    ).cast("long")
    scored = base.select("ntok", score.alias("score"))
    ts = spark.range(4, 10).select((F.col("id") * 100_000).alias("t"))
    keep = F.col("score") >= F.col("t")
    return (
        scored.crossJoin(F.broadcast(ts))
        .groupBy("t")
        .agg(
            F.count(F.when(keep, 1)).cast("long").alias("docs_kept"),
            F.coalesce(F.sum(F.when(keep, F.col("ntok"))), F.lit(0))
            .cast("long")
            .alias("tokens_kept"),
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("ntok").cast("long").alias("n_tokens"),
        )
        .select(
            F.col("t").cast("long").alias("threshold"),
            "docs_kept",
            "tokens_kept",
            "n_docs",
            "n_tokens",
        )
    )


# ---------------------------------------------------------------------------
# Skyline (Pareto frontier): parts no other part dominates on
# (cheaper-or-equal price, larger-or-equal size, one strict) —
# Borzsonyi et al., ICDE 2001. The naive form is an O(n^2) NOT
# EXISTS self-join; the distributed form here is two prefix maxima
# over the PER-PRICE aggregate: a part is on the skyline iff its
# size equals the max size at its price AND strictly exceeds the max
# size over all cheaper prices. The only window runs over the
# groupBy(price) relation — bounded by |distinct prices|, not fact
# rows (the advisor's legitimate-global-window shape) — and the join
# back is an Aggregate-rooted broadcast (BROADCAST_SCALED-bounded).
# No arithmetic touches p_retailprice, so the double equi-join key is
# bit-stable across engines.
# ---------------------------------------------------------------------------
@register(
    "q_skyline",
    """
    WITH g AS (
      SELECT p_retailprice AS price, MAX(p_size) AS gmax
      FROM part GROUP BY p_retailprice
    ),
    r AS (
      SELECT price, gmax,
             MAX(gmax) OVER (ORDER BY price
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmax
      FROM g
    )
    SELECT p.p_partkey, p.p_retailprice, p.p_size
    FROM part p JOIN r ON p.p_retailprice = r.price
    WHERE p.p_size = r.gmax AND (r.pmax IS NULL OR p.p_size > r.pmax)
    """,
)
def q_skyline(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    part = load_table(spark, sf_dir, "part")
    g = part.groupBy(F.col("p_retailprice").alias("price")).agg(
        F.max("p_size").alias("gmax")
    )
    w = Window.orderBy("price").rowsBetween(Window.unboundedPreceding, -1)
    r = g.withColumn("pmax", F.max("gmax").over(w))
    return (
        part.join(
            F.broadcast(r), part.p_retailprice == r.price
        )
        .filter(
            (F.col("p_size") == F.col("gmax"))
            & (F.col("pmax").isNull() | (F.col("p_size") > F.col("pmax")))
        )
        .select("p_partkey", "p_retailprice", "p_size")
    )


# ---------------------------------------------------------------------------
# CCNet-style perplexity buckets (Wenzek et al., LREC 2020): score
# every document under the corpus's own bigram LM (the
# q_bigram_logprob machinery — two vocabulary-sized aggregates + one
# scan-stage self-alignment), rank docs per language by cost, and
# split each language into head / middle / tail thirds — the
# curation artifact CCNet feeds to its LM filter. The per-language
# rank is a staged grouped_rank (shuffle-fed input → auto
# localCheckpoint), so no fact-scale single-task window; every
# number stays an exact integer (ln() micros-quantized per pair, the
# standing cross-engine libm guard; bucket = ((rn-1)*3) DIV cnt).
# ---------------------------------------------------------------------------
@register(
    "q_ccnet_buckets",
    f"""
    WITH toks AS (
      SELECT doc_id, lang, list_filter({_TOKENS_SQL}, t -> t <> '') AS ts
      FROM documents
    ),
    big AS (
      SELECT doc_id, unnest(list_transform(range(1, len(ts)),
               i -> ts[i] || ' ' || ts[i + 1])) AS bigram
      FROM toks
    ),
    bcnt AS (SELECT bigram, COUNT(*) AS nb FROM big GROUP BY bigram),
    ucnt AS (
      SELECT w1, CAST(SUM(nb) AS BIGINT) AS nu FROM (
        SELECT string_split(bigram, ' ')[1] AS w1, nb FROM bcnt
      ) GROUP BY w1
    ),
    doc AS (
      SELECT doc_id,
             CAST(SUM(CAST(FLOOR(ln(CAST(nb AS DOUBLE) / CAST(nu AS DOUBLE))
                                 * 1000000 + 0.5) AS BIGINT)) AS BIGINT)
               AS sum_lp,
             COUNT(*) AS nb_doc
      FROM big
      JOIN bcnt USING (bigram)
      JOIN ucnt ON string_split(bigram, ' ')[1] = w1
      GROUP BY doc_id
    ),
    scored AS (
      SELECT d.doc_id, t.lang, len(t.ts) AS ntok,
             ((-d.sum_lp) * 1000) // d.nb_doc AS cost_milli
      FROM doc d JOIN toks t USING (doc_id)
      WHERE d.nb_doc > 0
    ),
    ranked AS (
      SELECT lang, ntok, cost_milli,
             ROW_NUMBER() OVER (PARTITION BY lang
                                ORDER BY cost_milli, doc_id) AS rn,
             COUNT(*) OVER (PARTITION BY lang) AS cnt
      FROM scored
    )
    SELECT lang,
           CASE least(((rn - 1) * 3) // cnt, 2)
             WHEN 0 THEN 'head' WHEN 1 THEN 'middle' ELSE 'tail'
           END AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(ntok) AS BIGINT) AS n_tokens,
           CAST(MIN(cost_milli) AS BIGINT) AS min_cost_milli,
           CAST(MAX(cost_milli) AS BIGINT) AS max_cost_milli
    FROM ranked GROUP BY lang, bucket
    """,
)
def q_ccnet_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    ts = F.filter(_tokens_col(), lambda t: t != "")
    base = docs.select("doc_id", "lang", ts.alias("ts"))
    bigrams_arr = F.transform(
        F.slice(F.col("ts"), 1, F.greatest(F.size("ts") - 1, F.lit(0))),
        lambda _x, i: F.concat_ws(
            " ", F.element_at(F.col("ts"), i + 1), F.element_at(F.col("ts"), i + 2)
        ),
    )
    big = base.select("doc_id", F.explode(bigrams_arr).alias("bigram"))
    bcnt = big.groupBy("bigram").agg(F.count(F.lit(1)).alias("nb"))
    ucnt = (
        bcnt.select(F.split(F.col("bigram"), " ").getItem(0).alias("w1"), "nb")
        .groupBy("w1")
        .agg(F.sum("nb").alias("nu"))
    )
    lp = F.floor(
        F.log(F.col("nb").cast("double") / F.col("nu").cast("double")) * 1000000
        + 0.5
    ).cast("long")
    doc = (
        big.join(bcnt, "bigram")
        .join(ucnt, F.split(F.col("bigram"), " ").getItem(0) == F.col("w1"))
        .groupBy("doc_id")
        .agg(F.sum(lp).alias("sum_lp"), F.count(F.lit(1)).alias("nb_doc"))
    )
    scored = (
        doc.filter(F.col("nb_doc") > 0)
        .join(base.select("doc_id", "lang", F.size("ts").alias("ntok")), "doc_id")
        .select(
            "doc_id",
            "lang",
            "ntok",
            F.expr("((-sum_lp) * 1000) DIV nb_doc").alias("cost_milli"),
        )
    )
    ranked = grouped_rank(
        scored,
        ["lang"],
        [F.col("cost_milli"), F.col("doc_id")],
        rank_col="rn",
        count_col="cnt",
    )
    bucket = F.element_at(
        F.array(F.lit("head"), F.lit("middle"), F.lit("tail")),
        (F.least(F.expr("((rn - 1) * 3) DIV cnt"), F.lit(2)) + 1).cast("int"),
    )
    return (
        ranked.groupBy("lang", bucket.alias("bucket"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("ntok").cast("long").alias("n_tokens"),
            F.min("cost_milli").cast("long").alias("min_cost_milli"),
            F.max("cost_milli").cast("long").alias("max_cost_milli"),
        )
    )


# ---------------------------------------------------------------------------
# Tokenizer fertility: subword-per-word and chars-per-subword ratios
# per (source, lang) — the table a tokenizer owner reads to spot
# sources whose text fragments badly (high fertility = wasted
# context window). Whitespace words vs the BPE-ish regex estimate of
# q_tokens_bpe; all pure scan expressions (no explode, no per-token
# shuffle) into one groupBy; ratios as exact integer millis
# ((num*1000 + den DIV 2) DIV den, positive operands).
# ---------------------------------------------------------------------------
@register(
    "q_fertility",
    f"""
    WITH d AS (
      SELECT source, lang,
             length(text) AS nchars,
             len({_TOKENS_SQL}) AS nws,
             COALESCE(list_aggregate(list_transform(
               regexp_extract_all({_NORM_SQL}, '{text_fns.TOKEN_REGEX}'),
               t -> CAST(ceil(length(t) / 4.0) AS BIGINT)), 'sum'), 0) AS nbpe
      FROM documents
    )
    SELECT source, lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(nws) AS BIGINT) AS ws_tokens,
           CAST(SUM(nbpe) AS BIGINT) AS bpe_tokens,
           CAST((SUM(nbpe) * 1000 + SUM(nws) // 2) // SUM(nws) AS BIGINT)
             AS fertility_milli,
           CAST((SUM(nchars) * 1000 + SUM(nbpe) // 2) // SUM(nbpe) AS BIGINT)
             AS chars_per_bpe_milli
    FROM d GROUP BY source, lang
    """,
)
def q_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = core_ops.spread(load_table(spark, sf_dir, "documents"))
    rtoks = text_fns.regex_tokens(text_fns.normalize(F.col("text")))
    nbpe = F.aggregate(
        F.transform(rtoks, lambda t: F.ceil(F.length(t) / 4.0).cast("long")),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    d = docs.select(
        "source",
        "lang",
        F.length("text").cast("long").alias("nchars"),
        text_fns.n_tokens(F.col("text")).cast("long").alias("nws"),
        nbpe.alias("nbpe"),
    )
    return d.groupBy("source", "lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("nws").cast("long").alias("ws_tokens"),
        F.sum("nbpe").cast("long").alias("bpe_tokens"),
        F.expr("CAST((SUM(nbpe) * 1000 + SUM(nws) DIV 2) DIV SUM(nws) AS BIGINT)")
        .alias("fertility_milli"),
        F.expr(
            "CAST((SUM(nchars) * 1000 + SUM(nbpe) DIV 2) DIV SUM(nbpe) AS BIGINT)"
        ).alias("chars_per_bpe_milli"),
    )


# ---------------------------------------------------------------------------
# SimHash separation audit: does Hamming distance actually separate
# near-duplicates from unrelated documents on THIS corpus? Planted
# near-copy pairs (label 'dup') and consecutive-id original pairs
# (label 'non_dup') are both scored with (a) the 60-bit SimHash
# Hamming distance and (b) exact shingle Jaccard — the calibration
# table a curator reads before picking the Hamming band threshold,
# completing the accuracy-audit family next to q_minhash_accuracy /
# q_minhash_calibration. The pair set is O(N) BY CONSTRUCTION (two
# explicit pairs per doc — no candidate generation, no self-join);
# intersections ride equi-joins on (doc, shingle); Jaccard is
# integer micros ((2*ncom*1e6 + un) DIV (2*un)), so the only float
# is one closing division of exact ints.
# ---------------------------------------------------------------------------
@register(
    "q_simhash_accuracy",
    f"""
    WITH corpus AS ({_NEAR_CORPUS_SQL}),
    shingled AS ({_SHINGLES_SQL.format(tokens=_TOKENS_SQL, corpus="SELECT * FROM corpus")}),
    hashed AS (
      SELECT doc, {hash60_sql("shingle", seed="sh")} AS h FROM shingled
    ),
    votes AS (
      SELECT doc, b.bit, SUM(CASE WHEN (h >> b.bit) & 1 = 1 THEN 1 ELSE -1 END) AS votes
      FROM hashed, range(0, 60) b(bit) GROUP BY doc, b.bit
    ),
    sig AS (
      SELECT doc, CAST(SUM(CASE WHEN votes > 0 THEN (CAST(1 AS BIGINT) << bit) ELSE 0 END) AS BIGINT) AS simhash
      FROM votes GROUP BY doc
    ),
    orig AS (SELECT doc_id FROM documents),
    prs AS (
      SELECT doc_id AS a, doc_id + {_DUP_OFFSET} AS b, 'dup' AS label FROM orig
      UNION ALL
      SELECT o.doc_id, o.doc_id + 1, 'non_dup'
      FROM orig o JOIN orig p ON p.doc_id = o.doc_id + 1
    ),
    sizes AS (SELECT doc, COUNT(*) AS n FROM shingled GROUP BY doc),
    inter AS (
      SELECT p.a, p.b, COUNT(*) AS ncom
      FROM prs p
      JOIN shingled x ON x.doc = p.a
      JOIN shingled y ON y.doc = p.b AND y.shingle = x.shingle
      GROUP BY p.a, p.b
    ),
    j AS (
      SELECT p.label,
             CAST(bit_count(xor(sa.simhash, sb.simhash)) AS INT) AS hamming,
             COALESCE(i.ncom, 0) AS ncom,
             za.n + zb.n - COALESCE(i.ncom, 0) AS un
      FROM prs p
      JOIN sig sa ON sa.doc = p.a
      JOIN sig sb ON sb.doc = p.b
      JOIN sizes za ON za.doc = p.a
      JOIN sizes zb ON zb.doc = p.b
      LEFT JOIN inter i ON i.a = p.a AND i.b = p.b
    )
    SELECT label, hamming,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(SUM(CASE WHEN un > 0
                         THEN (2 * ncom * 1000000 + un) // (2 * un)
                         ELSE 0 END) AS DOUBLE) / 1000000 / COUNT(*)
             AS mean_jaccard
    FROM j GROUP BY label, hamming
    """,
)
def q_simhash_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    from frames_spark.operators.caching import tie_cache

    corpus = _with_near_copies(load_table(spark, sf_dir, "documents"))
    # ONE persisted shingle index feeds the SimHash fingerprints AND
    # the Jaccard intersection/size legs (4 consumers) — the
    # per-consumer form re-ran the tokenize+shingle explode over the
    # doubled corpus once per leg. Cache tied to the result.
    sh = jac_ops.shingle_index(corpus, "doc_id", "text", 3).persist()
    sigs = simh_ops.simhash_from_index(sh)
    orig = load_table(spark, sf_dir, "documents").select("doc_id")
    dup = orig.select(
        F.col("doc_id").alias("a"),
        (F.col("doc_id") + _DUP_OFFSET).alias("b"),
        F.lit("dup").alias("label"),
    )
    nxt = orig.select(F.col("doc_id").alias("a"), (F.col("doc_id") + 1).alias("b"))
    nondup = nxt.join(
        orig.select(F.col("doc_id").alias("b")), "b", "left_semi"
    ).withColumn("label", F.lit("non_dup"))
    prs = dup.unionByName(nondup.select("a", "b", "label"))
    sizes = sh.groupBy("doc").agg(F.count(F.lit(1)).alias("n"))
    ia = sh.select(F.col("doc").alias("a"), "shingle").join(
        prs.select("a", "b"), "a"
    )
    inter = (
        ia.join(sh.select(F.col("doc").alias("b"), "shingle"), ["b", "shingle"])
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("ncom"))
    )
    j = (
        prs.join(
            sigs.select(F.col("doc").alias("a"), F.col("simhash").alias("sa")), "a"
        )
        .join(sigs.select(F.col("doc").alias("b"), F.col("simhash").alias("sb")), "b")
        .join(sizes.select(F.col("doc").alias("a"), F.col("n").alias("na")), "a")
        .join(sizes.select(F.col("doc").alias("b"), F.col("n").alias("nb")), "b")
        .join(inter, ["a", "b"], "left")
        .select(
            "label",
            F.expr("CAST(bit_count(sa ^ sb) AS INT)").alias("hamming"),
            F.coalesce(F.col("ncom"), F.lit(0)).alias("ncom"),
            (F.col("na") + F.col("nb") - F.coalesce(F.col("ncom"), F.lit(0))).alias(
                "un"
            ),
        )
    )
    res = j.groupBy("label", "hamming").agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        (
            F.sum(
                F.when(
                    F.col("un") > 0,
                    F.expr("(2 * ncom * 1000000 + un) DIV (2 * un)"),
                ).otherwise(F.lit(0))
            ).cast("double")
            / 1000000
            / F.count(F.lit(1))
        ).alias("mean_jaccard"),
    )
    return tie_cache(res, sh)


# ---------------------------------------------------------------------------
# Per-node clustering coefficient on the co-purchase graph: the
# local triangle density 2T(v) / deg(v)(deg(v)-1) (Watts-Strogatz) —
# the node-level refinement of q_triangle_count, sharing its
# degree-oriented neighbour-list probe (Suri & Vassilvitskii, WWW'11):
# each triangle is still enumerated once at its lowest-degree
# vertex, then credited to all three corners with one posexplode.
# Coefficients are exact integer micros; the node dimension is
# bounded by |part|, so the output relation is dimension-sized.
# ---------------------------------------------------------------------------
@register(
    "q_clustering_coeff",
    """
    WITH pairs AS (
      SELECT DISTINCT a.l_orderkey,
             LEAST(a.l_partkey, b.l_partkey) AS u,
             GREATEST(a.l_partkey, b.l_partkey) AS v
      FROM lineitem a JOIN lineitem b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    ), e AS (SELECT DISTINCT u, v FROM pairs),
    tri AS (
      SELECT e1.u AS a, e1.v AS b, e2.v AS c
      FROM e e1
      JOIN e e2 ON e2.u = e1.v
      JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v
    ),
    tn AS (
      SELECT node, COUNT(*) AS t
      FROM (SELECT unnest([a, b, c]) AS node FROM tri)
      GROUP BY node
    ),
    deg AS (
      SELECT n, COUNT(*) AS d
      FROM (SELECT u AS n FROM e UNION ALL SELECT v FROM e)
      GROUP BY n
    )
    SELECT deg.n AS node, CAST(d AS BIGINT) AS degree,
           CAST(COALESCE(t, 0) AS BIGINT) AS n_triangles,
           CAST((4 * COALESCE(t, 0) * 1000000 + d * (d - 1))
                // (2 * d * (d - 1)) AS BIGINT) AS clustering_micros
    FROM deg LEFT JOIN tn ON tn.node = deg.n
    WHERE d >= 2
    """,
)
def q_clustering_coeff(spark: SparkSession, sf_dir: str) -> DataFrame:
    from frames_spark.operators.graph import (
        cooccur_pairs,
        neighbour_lists,
        triangle_probe,
    )

    li = load_table(spark, sf_dir, "lineitem")
    adj = neighbour_lists(cooccur_pairs(li, "l_orderkey", "l_partkey"))
    # A probe row closes size(common) triangles at lo and at hi, and
    # one at each w in common. Every node of degree >= 1 is the lo or
    # hi of some probe row, which carries its degree: no degree join.
    return (
        triangle_probe(adj)
        .select(
            F.posexplode(F.concat(F.array("lo", "hi"), "common")).alias("pos", "n"),
            F.size("common").alias("k"),
            "lo_deg",
            "hi_deg",
        )
        .groupBy("n")
        .agg(
            F.sum(F.when(F.col("pos") < 2, F.col("k")).otherwise(1)).alias("t"),
            F.max(
                F.when(F.col("pos") == 0, F.col("lo_deg")).when(
                    F.col("pos") == 1, F.col("hi_deg")
                )
            ).alias("deg"),
        )
        .filter(F.col("deg") >= 2)
        .select(
            F.col("n").alias("node"),
            F.col("deg").cast("long").alias("degree"),
            F.col("t").cast("long").alias("n_triangles"),
            F.expr(
                "CAST((4 * t * 1000000 + deg * (deg - 1))"
                " DIV (2 * deg * (deg - 1)) AS BIGINT)"
            ).alias("clustering_micros"),
        )
    )


# ---------------------------------------------------------------------------
# Common-neighbor link prediction on the co-purchase graph: for part
# pairs NOT yet co-purchased, count shared neighbors and score with
# neighborhood Jaccard (Liben-Nowell & Kleinberg, CIKM'03) — the
# "customers also bought" candidate list. Candidate pairs come from
# per-pivot sorted-adjacency i<j expansion, with pivots capped at
# degree <= _LP_MAX_DEG (the posting-list stop-shingle pattern: a
# hub pivot is D^2 pairs and near-zero signal; the cap is mirrored
# in the oracle). Existing edges drop via one anti-join; the result
# is a deterministic top-20 under the strict (common, a, b) order.
# ---------------------------------------------------------------------------
_LP_MAX_DEG = 1024


def _link_prediction_sql(lineitem_where: str = "") -> str:
    """Common-neighbor link-prediction oracle over an (optionally
    order-restricted) lineitem relation — the subset-witness twin
    passes a deterministic l_orderkey cutoff."""
    return f"""
    WITH pairs0 AS (
      SELECT DISTINCT a.l_orderkey,
             LEAST(a.l_partkey, b.l_partkey) AS u,
             GREATEST(a.l_partkey, b.l_partkey) AS v
      FROM (SELECT * FROM lineitem {lineitem_where}) a
      JOIN (SELECT * FROM lineitem {lineitem_where}) b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    ), e AS (SELECT DISTINCT u, v FROM pairs0),
    nb AS (SELECT u AS p, v AS n FROM e UNION ALL SELECT v, u FROM e),
    deg AS (SELECT p, COUNT(*) AS d FROM nb GROUP BY p),
    cand AS (
      SELECT x.n AS a2, y.n AS b2, COUNT(*) AS common
      FROM nb x
      JOIN nb y ON x.p = y.p AND x.n < y.n
      JOIN deg ON deg.p = x.p AND deg.d <= {_LP_MAX_DEG}
      GROUP BY 1, 2
    ),
    newl AS (
      SELECT c.* FROM cand c
      LEFT JOIN e ON e.u = c.a2 AND e.v = c.b2
      WHERE e.u IS NULL
    )
    SELECT a2 AS part_a, b2 AS part_b,
           CAST(common AS BIGINT) AS common_neighbors,
           CAST((2 * common * 1000 + (da.d + db.d - common))
                // (2 * (da.d + db.d - common)) AS BIGINT) AS jaccard_milli
    FROM newl
    JOIN deg da ON da.p = a2
    JOIN deg db ON db.p = b2
    ORDER BY common_neighbors DESC, part_a, part_b
    LIMIT 20
    """


@register("q_link_prediction", _link_prediction_sql())
def q_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return _link_prediction_frame(li)


def _link_prediction_frame(li: DataFrame) -> DataFrame:
    from frames_spark.operators.graph import cooccur_edges

    edges = cooccur_edges(li, "l_orderkey", "l_partkey")
    # candidate generation stays on the per-pivot sorted-adjacency
    # expansion (degree-capped pivots), NOT oriented_wedges: link
    # prediction needs wedges at EVERY pivot (common-neighbor counts),
    # not each wedge once at its lowest-degree vertex
    nb = edges.select(F.col("u").alias("p"), F.col("v").alias("n")).unionAll(
        edges.select(F.col("v").alias("p"), F.col("u").alias("n"))
    )
    adj = (
        nb.groupBy("p")
        .agg(F.array_sort(F.collect_list("n")).alias("ns"))
        .filter((F.size("ns") >= 2) & (F.size("ns") <= _LP_MAX_DEG))
    )
    cand = (
        adj.select(
            F.explode(
                F.expr(
                    "flatten(transform(ns, (x, i) -> "
                    "transform(slice(ns, i + 2, size(ns) - i - 1), "
                    "y -> struct(x AS a, y AS b))))"
                )
            ).alias("w")
        )
        .select("w.a", "w.b")
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("common"))
    )
    canon = edges.select(
        F.least("u", "v").alias("a"), F.greatest("u", "v").alias("b")
    )
    newl = cand.join(canon, ["a", "b"], "left_anti")
    deg = nb.groupBy("p").agg(F.count(F.lit(1)).alias("d"))
    return (
        newl.join(deg.select(F.col("p").alias("a"), F.col("d").alias("da")), "a")
        .join(deg.select(F.col("p").alias("b"), F.col("d").alias("db")), "b")
        .select(
            F.col("a").alias("part_a"),
            F.col("b").alias("part_b"),
            F.col("common").cast("long").alias("common_neighbors"),
            F.expr(
                "CAST((2 * common * 1000 + (da + db - common))"
                " DIV (2 * (da + db - common)) AS BIGINT)"
            ).alias("jaccard_milli"),
        )
        .orderBy(F.desc("common_neighbors"), "part_a", "part_b")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# SemDeDup: cluster-bounded semantic dedup (dedup/semdedup.py; Abbas
# et al. 2023, arXiv:2303.09540). The k-means codebook is replaced by
# a deterministic md5-seeded ±1 codebook so the ENTIRE pipeline —
# assignment argmax, within-cluster pairs, greedy min-id drops — is
# reproduced bit-for-bit by the oracle (the q_dedup_embed_lsh trade).
# Corpus = vec_id < 1000 plus perturbed near-copies, so true semantic
# dups exist at every SF and the within-cluster pair expansion stays
# oracle-feasible at sf0.1. The max_cluster=4000 guard (the scale
# posture: never expand a degenerate codebook cell quadratically) is
# mirrored in the oracle's csize CTE.
# ---------------------------------------------------------------------------
from frames_spark.dedup import semdedup as sem_ops  # noqa: E402

_SEM_K = 16
_SEM_TAU = 0.9
_SEM_MAX_CLUSTER = 4000
_SEM_CORPUS_SQL = _emb_corpus_sql("WHERE vec_id < 1000")


def _sem_cents_values() -> str:
    return ",".join(
        f"({c},{i + 1},{s})"
        for c in range(_SEM_K)
        for i, s in enumerate(sem_ops.centroid_components(c, 64))
    )


def _semdedup_oracle(
    final_select: str, corpus_sql: str | None = None, tau: float | None = None
) -> str:
    return f"""
    WITH fixed AS ({_FIXED_SQL.format(corpus=corpus_sql or _SEM_CORPUS_SQL)}),
    norms AS (SELECT vec_id, SUM(e * e) AS n2 FROM fixed GROUP BY vec_id),
    cents AS (SELECT * FROM (VALUES {_sem_cents_values()}) t(c, i, s)),
    cdots AS (
      SELECT f.vec_id, c.c, SUM(f.e * c.s) AS dot
      FROM fixed f JOIN cents c USING (i) GROUP BY 1, 2
    ),
    best AS (
      SELECT vec_id, c AS cluster FROM (
        SELECT vec_id, c,
               ROW_NUMBER() OVER (PARTITION BY vec_id
                                  ORDER BY dot DESC, c ASC) AS rn
        FROM cdots
      ) WHERE rn = 1
    ),
    csize AS (SELECT cluster, COUNT(*) AS n FROM best GROUP BY cluster),
    ok AS (SELECT cluster FROM csize WHERE n <= {_SEM_MAX_CLUSTER}),
    pairdots AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b, ba.cluster,
             SUM(a.e * b.e) AS dot
      FROM fixed a
      JOIN best ba ON ba.vec_id = a.vec_id
      JOIN fixed b ON a.i = b.i AND a.vec_id < b.vec_id
      JOIN best bb ON bb.vec_id = b.vec_id AND bb.cluster = ba.cluster
      JOIN ok ON ok.cluster = ba.cluster
      GROUP BY 1, 2, 3
    ),
    sim AS (
      SELECT id_a, id_b, cluster
      FROM pairdots
      JOIN norms na ON id_a = na.vec_id
      JOIN norms nb ON id_b = nb.vec_id
      WHERE CAST(dot AS DOUBLE)
            / (sqrt(CAST(na.n2 AS DOUBLE)) * sqrt(CAST(nb.n2 AS DOUBLE)))
            >= {tau if tau is not None else _SEM_TAU}
    )
    {final_select}
    """


def _sem_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 1000)
    return _with_perturbed_copies(emb)


@register(
    "q_semdedup",
    _semdedup_oracle("SELECT DISTINCT id_b AS vec_id, cluster FROM sim"),
)
def q_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sem_ops.semdedup_drops(
        _sem_corpus(spark, sf_dir), "vec_id", "embedding",
        n_centroids=_SEM_K, threshold=_SEM_TAU, max_cluster=_SEM_MAX_CLUSTER,
    )


@register(
    "q_semdedup_summary",
    _semdedup_oracle(f"""
    , memb AS (SELECT cluster, COUNT(*) AS n_members FROM best GROUP BY cluster),
    drops AS (SELECT cluster, COUNT(DISTINCT id_b) AS nd FROM sim GROUP BY cluster)
    SELECT m.cluster, m.n_members,
           CAST(COALESCE(d.nd, 0) AS BIGINT) AS n_dropped,
           m.n_members > {_SEM_MAX_CLUSTER} AS over_cap
    FROM memb m LEFT JOIN drops d USING (cluster)
    """),
)
def q_semdedup_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sem_ops.semdedup_summary(
        _sem_corpus(spark, sf_dir), "vec_id", "embedding",
        n_centroids=_SEM_K, threshold=_SEM_TAU, max_cluster=_SEM_MAX_CLUSTER,
    )


# ---------------------------------------------------------------------------
# DSIR importance resampling (pipelines/dsir.py; Xie et al. 2023,
# arXiv:2302.03169): hashed-unigram bucket models over a TARGET
# corpus (lang='en' as the proxy) vs the RAW corpus; per-doc
# importance log-weight = sum of quantized per-bucket log-ratios —
# exact integers after the one ln per bucket (q_kl_source idiom),
# deterministic top-100 selection. Bucket models are n_buckets-row
# bounded broadcasts; the corpus tokenizes once.
# ---------------------------------------------------------------------------
from frames_spark.pipelines import dsir as dsir_ops  # noqa: E402

_DSIR_B = 4096


@register(
    "q_dsir",
    f"""
    WITH tok AS (
      SELECT doc_id, lang, unnest({_TOKENS_SQL}) AS term FROM documents
    ), tk AS (
      SELECT doc_id, lang,
             {hash60_sql("term", "dsir")} % {_DSIR_B} AS bucket
      FROM tok WHERE term <> ''
    ), db AS (
      SELECT doc_id, lang, bucket, COUNT(*) AS c FROM tk GROUP BY 1, 2, 3
    ), cr AS (
      SELECT bucket, SUM(c) AS cr FROM db GROUP BY bucket
    ), ct AS (
      SELECT bucket, SUM(c) AS ct FROM db WHERE lang = 'en' GROUP BY bucket
    ), tot AS (
      SELECT SUM(c) AS nr,
             SUM(CASE WHEN lang = 'en' THEN c ELSE 0 END) AS nt
      FROM db
    ), lam AS (
      SELECT cr.bucket,
             CAST(FLOOR(ln(
               (CAST(COALESCE(ct.ct, 0) + 1 AS DOUBLE)
                  * (CAST(tot.nr AS DOUBLE) + CAST({_DSIR_B} AS DOUBLE)))
               / (CAST(cr.cr + 1 AS DOUBLE)
                  * (CAST(tot.nt AS DOUBLE) + CAST({_DSIR_B} AS DOUBLE)))
             ) * 1000000000 + 0.5) AS BIGINT) AS lam_nanos
      FROM cr LEFT JOIN ct ON cr.bucket = ct.bucket CROSS JOIN tot
    ), s AS (
      SELECT doc_id, SUM(c * lam_nanos) AS logw_nanos
      FROM db JOIN lam USING (bucket) GROUP BY doc_id
    )
    SELECT doc_id, CAST(logw_nanos AS BIGINT) AS logw_nanos
    FROM s ORDER BY logw_nanos DESC, doc_id LIMIT 100
    """,
)
def q_dsir(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = core_ops.spread(load_table(spark, sf_dir, "documents"))
    return dsir_ops.dsir_select(
        docs, "doc_id", "text", F.col("lang") == "en",
        k=100, n_buckets=_DSIR_B,
    )


# ---------------------------------------------------------------------------
# Native session windows: Spark's built-in F.session_window (the
# operator the streaming engine uses for session state) run in batch
# and proven against the gaps-and-islands reference semantics.
# Boundary: an event exactly `gap` after its predecessor starts a NEW
# session — session windows are half-open [start, last + gap), so the
# oracle's new-session predicate is >= (q_sessionize's custom
# sessionizer implements the closed variant with >, documented there;
# both are correct, they are different published operators).
# Handoff in integral micros (epoch_us/unix_micros) — whole-second
# timestamp keys diverge between engines at sf0.1 densities.
# ---------------------------------------------------------------------------
@register(
    "q_session_window",
    """
    WITH marked AS (
      SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS tus,
             CASE WHEN lag(epoch_us(CAST(ts AS TIMESTAMP)))
                         OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                       OR epoch_us(CAST(ts AS TIMESTAMP))
                          - lag(epoch_us(CAST(ts AS TIMESTAMP)))
                            OVER (PARTITION BY user_id ORDER BY ts)
                          >= 1800000000
                  THEN 1 ELSE 0 END AS is_new
      FROM events
    ), sess AS (
      SELECT user_id, tus,
             SUM(is_new) OVER (PARTITION BY user_id ORDER BY tus
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
      FROM marked
    )
    SELECT user_id,
           CAST(MIN(tus) AS BIGINT) AS start_us,
           CAST(MAX(tus) + 1800000000 AS BIGINT) AS end_us,
           COUNT(*) AS n_events
    FROM sess GROUP BY user_id, sid
    """,
)
def q_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.session_window("ts", "30 minutes"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.unix_micros(F.col("session_window.start")).alias("start_us"),
            F.unix_micros(F.col("session_window.end")).alias("end_us"),
            F.col("n_events").cast("long").alias("n_events"),
        )
    )


# ---------------------------------------------------------------------------
# Learned classifier: multinomial naive Bayes over hashed unigram
# buckets (pipelines/nbayes.py; McCallum & Nigam 1998). Trains per-
# class token distributions on doc_id % 5 != 0 in ONE aggregation
# pass, scores the held-out fifth with exact integer log-prob sums
# (every ln quantized to nanos at the call — the q_kl_source idiom),
# and returns the confusion matrix. The model relations are bounded
# broadcasts (≤ n_buckets x n_classes); the corpus shuffles once,
# keyed by doc. Complements q_langid's fixed heuristic with a
# trained model under the same hard oracle gate.
# ---------------------------------------------------------------------------
from frames_spark.pipelines import nbayes as nb_ops  # noqa: E402

_NB_B = 4096


@register(
    "q_nb_confusion",
    f"""
    WITH tok AS (
      SELECT doc_id, lang, unnest({_TOKENS_SQL}) AS term FROM documents
    ), tk AS (
      SELECT doc_id, lang,
             {hash60_sql("term", "nb")} % {_NB_B} AS bucket
      FROM tok WHERE term <> ''
    ), db AS (
      SELECT doc_id, lang, bucket, COUNT(*) AS c FROM tk GROUP BY 1, 2, 3
    ), train AS (SELECT * FROM db WHERE doc_id % 5 <> 0),
    test AS (SELECT * FROM db WHERE doc_id % 5 = 0),
    ncb AS (SELECT lang AS cand, bucket, SUM(c) AS ncb FROM train GROUP BY 1, 2),
    nc AS (SELECT cand, SUM(ncb) AS nc FROM ncb GROUP BY 1),
    dc AS (SELECT lang AS cand, COUNT(DISTINCT doc_id) AS dcount FROM train GROUP BY 1),
    dtot AS (SELECT COUNT(DISTINCT doc_id) AS dt FROM train),
    lp AS (
      SELECT cand, bucket,
             CAST(FLOOR(ln(CAST(ncb + 1 AS DOUBLE)
                           / (CAST(nc AS DOUBLE) + CAST({_NB_B} AS DOUBLE)))
                        * 1000000000 + 0.5) AS BIGINT) AS lp_nanos
      FROM ncb JOIN nc USING (cand)
    ), stats AS (
      SELECT nc.cand,
             CAST(FLOOR(ln(CAST(1 AS DOUBLE)
                           / (CAST(nc AS DOUBLE) + CAST({_NB_B} AS DOUBLE)))
                        * 1000000000 + 0.5) AS BIGINT) AS def_nanos,
             CAST(FLOOR(ln(CAST(dcount AS DOUBLE) / CAST(dt AS DOUBLE))
                        * 1000000000 + 0.5) AS BIGINT) AS prior_nanos
      FROM nc JOIN dc USING (cand) CROSS JOIN dtot
    ), terms AS (
      SELECT t.doc_id, t.lang, s.cand, s.prior_nanos,
             t.c * COALESCE(lp.lp_nanos, s.def_nanos) AS term
      FROM test t
      CROSS JOIN stats s
      LEFT JOIN lp ON lp.cand = s.cand AND lp.bucket = t.bucket
    ), scored AS (
      SELECT doc_id, lang, cand,
             SUM(term) + prior_nanos AS score
      FROM terms GROUP BY doc_id, lang, cand, prior_nanos
    ), pred AS (
      SELECT doc_id, lang, cand AS pred FROM (
        SELECT doc_id, lang, cand,
               ROW_NUMBER() OVER (PARTITION BY doc_id
                                  ORDER BY score DESC, cand ASC) AS rn
        FROM scored
      ) WHERE rn = 1
    )
    SELECT lang, pred, COUNT(*) AS n FROM pred GROUP BY lang, pred
    """,
)
def q_nb_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    from frames_spark.operators.caching import retie

    docs = core_ops.spread(load_table(spark, sf_dir, "documents"))
    conf = nb_ops.nb_confusion(docs, "doc_id", "text", "lang", n_buckets=_NB_B)
    return retie(
        conf.select(
            F.col("_label").alias("lang"), "pred",
            F.col("n").cast("long").alias("n"),
        ),
        conf,
    )


# Gumbel-top-k DSIR resampling — the paper's actual selection rule:
# k docs sampled without replacement ∝ importance weight via
# argtop-k(log w + Gumbel) (Vieira 2014; Kool et al. 2019). The
# Gumbel is deterministic in (doc_id, seed) and quantized to the same
# integer nanos scale as the log-weight, so the sampled SET is
# engine- and layout-independent — the A-ES trick of
# q_weighted_sample, in Gumbel form, riding the q_dsir weights.
@register(
    "q_dsir_sample",
    f"""
    WITH tok AS (
      SELECT doc_id, lang, unnest({_TOKENS_SQL}) AS term FROM documents
    ), tk AS (
      SELECT doc_id, lang,
             {hash60_sql("term", "dsir")} % {_DSIR_B} AS bucket
      FROM tok WHERE term <> ''
    ), db AS (
      SELECT doc_id, lang, bucket, COUNT(*) AS c FROM tk GROUP BY 1, 2, 3
    ), cr AS (
      SELECT bucket, SUM(c) AS cr FROM db GROUP BY bucket
    ), ct AS (
      SELECT bucket, SUM(c) AS ct FROM db WHERE lang = 'en' GROUP BY bucket
    ), tot AS (
      SELECT SUM(c) AS nr,
             SUM(CASE WHEN lang = 'en' THEN c ELSE 0 END) AS nt
      FROM db
    ), lam AS (
      SELECT cr.bucket,
             CAST(FLOOR(ln(
               (CAST(COALESCE(ct.ct, 0) + 1 AS DOUBLE)
                  * (CAST(tot.nr AS DOUBLE) + CAST({_DSIR_B} AS DOUBLE)))
               / (CAST(cr.cr + 1 AS DOUBLE)
                  * (CAST(tot.nt AS DOUBLE) + CAST({_DSIR_B} AS DOUBLE)))
             ) * 1000000000 + 0.5) AS BIGINT) AS lam_nanos
      FROM cr LEFT JOIN ct ON cr.bucket = ct.bucket CROSS JOIN tot
    ), s AS (
      SELECT doc_id, SUM(c * lam_nanos) AS logw_nanos
      FROM db JOIN lam USING (bucket) GROUP BY doc_id
    ), keyed AS (
      SELECT doc_id, CAST(logw_nanos AS BIGINT) AS logw_nanos,
             CAST(logw_nanos AS BIGINT) + CAST(FLOOR(
               -ln(-ln(CAST({hash60_sql("CAST(doc_id AS VARCHAR)", "dsirg")} + 1 AS DOUBLE)
                       / {float(1 << 60)}))
               * 1000000000 + 0.5) AS BIGINT) AS gumbel_key
      FROM s
    )
    SELECT doc_id, logw_nanos, gumbel_key
    FROM keyed ORDER BY gumbel_key DESC, doc_id LIMIT 100
    """,
)
def q_dsir_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = core_ops.spread(load_table(spark, sf_dir, "documents"))
    return dsir_ops.dsir_sample(
        docs, "doc_id", "text", F.col("lang") == "en",
        k=100, n_buckets=_DSIR_B,
    )
