"""Training-corpus cleaning pipeline (pipelines/pretrain.py)."""

from __future__ import annotations

from pyspark.sql import functions as F

from frames_spark.functions import text as text_fns
from frames_spark.pipelines.pretrain import clean_corpus
from frames_spark.sources.tables import load_table


def test_pipeline_stages_monotone(spark, sf_dir):
    """Each gate only removes rows, survivors satisfy every gate, and
    the result is duplicate-free."""
    docs = load_table(spark, sf_dir, "documents")
    out = clean_corpus(docs, min_tokens=10, max_punct=0.2, lang="en").cache()
    n_in, n_out = docs.count(), out.count()
    assert 0 < n_out <= n_in

    # survivors all meet the quality gate
    joined = out.join(docs, "doc_id")
    bad = joined.filter(
        (text_fns.n_tokens(F.col("text")) < 10)
        | (text_fns.punct_ratio(F.col("text")) > 0.2)
    )
    assert bad.count() == 0
    # n_tokens column is consistent with the text
    mismatch = joined.filter(
        F.col("n_tokens") != text_fns.n_tokens(F.col("text")).cast("long")
    )
    assert mismatch.count() == 0
    # no duplicate ids, no exact-duplicate texts
    assert out.select("doc_id").distinct().count() == n_out
    assert joined.select(text_fns.fingerprint(F.col("text"))).distinct().count() == n_out


def test_pipeline_single_plan_no_cartesian(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    out = clean_corpus(docs)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_cc_dedup_drops_superset_of_greedy(spark, sf_dir):
    """Transitive (component) dedup keeps a SUBSET of the greedy
    pair-drop survivors: greedy spares members that never appear as
    a pair's higher id; components collapse whole chains."""
    from frames_spark.pipelines.pretrain import clean_corpus, clean_corpus_cc
    from frames_spark.queries.q01_core_ops import _with_near_copies

    docs = _with_near_copies(load_table(spark, sf_dir, "documents"))
    greedy = {r.doc_id for r in clean_corpus(docs).collect()}
    cc = {r.doc_id for r in clean_corpus_cc(docs).collect()}
    assert cc <= greedy
    assert len(cc) > 0


def test_observed_pipeline_metrics_no_extra_pass(spark, sf_dir):
    from frames_spark.pipelines.pretrain import clean_corpus, clean_corpus_observed

    docs = load_table(spark, sf_dir, "documents")
    result, obs = clean_corpus_observed(docs)
    out_rows = result.collect()  # ONE action; metrics piggyback
    assert obs["in"].get["n_docs_in"] == docs.count()
    assert obs["out"].get["n_docs_kept"] == len(out_rows)
    assert obs["out"].get["n_tokens_kept"] == sum(r.n_tokens for r in out_rows)
    # equivalence with the uninstrumented pipeline
    plain = {r.doc_id for r in clean_corpus(docs).collect()}
    assert {r.doc_id for r in out_rows} == plain


def test_cleaner_redacts_before_dedup(spark, sf_dir):
    """redact_pii scrubs before fingerprinting: kept text carries no
    raw PII, and PII-only-differing docs share a fingerprint."""
    from frames_spark.functions.text import fingerprint
    from frames_spark.pipelines.pretrain import clean_corpus

    base = load_table(spark, sf_dir, "documents").limit(20)
    planted = base.select(
        "doc_id",
        F.concat(F.col("text"), F.lit(" reach me: a@b.io")).alias("text"),
    )
    out = clean_corpus(planted, redact_pii=True, keep_text=True)
    texts = [r.text for r in out.collect()]
    assert texts and all("@" not in t for t in texts)
    assert any("<EMAIL>" in t for t in texts)
    # PII-only variants fingerprint identically after redaction
    a = planted.select(F.col("text"))
    b = base.select(F.concat(F.col("text"), F.lit(" reach me: x@y.io")).alias("text"))
    from frames_spark.functions.redact import redact
    fa = {r[0] for r in a.select(fingerprint(redact(F.col("text")))).collect()}
    fb = {r[0] for r in b.select(fingerprint(redact(F.col("text")))).collect()}
    assert fa == fb


def test_engagement_segments_composition(spark, sf_dir):
    """The pipeline's per-user rollup must be consistent with its
    own parts and produce a non-degenerate segmentation."""
    from frames_spark.pipelines.product import engagement_segments
    from frames_spark.sources.tables import load_table

    ev = load_table(spark, sf_dir, "events")
    rows = engagement_segments(ev).collect()
    assert len(rows) == ev.select("user_id").distinct().count()
    assert sum(r["n_events"] for r in rows) == ev.count()
    segs = {r["segment"] for r in rows}
    assert segs <= {"core", "engaged", "lapsing", "dormant"}
    for r in rows:
        assert 1 <= r["n_sessions"] <= r["n_events"]
        assert r["recency_days"] >= 0


def test_clean_corpus_all_stages_compose(spark, sf_dir):
    """Every optional stage at once — strip_html -> redact ->
    excise_repeats -> quality+language+repetition gates -> dedup:
    the full crawl-order composition must run end-to-end and only
    ever narrow the plain-gate survivor set."""
    import pyspark.sql.functions as F

    from frames_spark.pipelines.pretrain import clean_corpus
    from frames_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents").limit(60).cache()
    wrapped = docs.select(
        "doc_id",
        F.concat(
            F.lit("<html><body><p>"), F.col("text"), F.lit("</p></body></html>")
        ).alias("text"),
    )
    full = clean_corpus(
        wrapped,
        strip_html=True,
        redact_pii=True,
        excise_repeats=8,
        repetition_gates=True,
        keep_text=True,
    )
    rows = full.collect()
    ids = {r.doc_id for r in rows}
    base = {r.doc_id for r in clean_corpus(docs.select("doc_id", "text")).collect()}
    assert ids <= base and len(ids) > 0
    # keep_text carries the post-redaction text column through
    assert all(isinstance(r.text, str) and "<p>" not in r.text for r in rows)
