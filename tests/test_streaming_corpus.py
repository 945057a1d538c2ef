"""Streaming corpus cleaner == batch gates, with redeliveries dropped.

The doc stream is the documents table delivered TWICE (two files =
two micro-batches); the cleaned stream must equal the batch
quality+language gate output exactly — every doc once, none of the
redelivered copies surviving the fingerprint dedup state.
"""

from __future__ import annotations

import shutil

from pyspark.sql import functions as F

from frames_spark.functions import text as text_fns
from frames_spark.functions.langid import predicted_lang
from frames_spark.sources.tables import load_table
from frames_spark.streaming.corpus import clean_corpus_stream
from frames_spark.streaming.events import run_to_memory


def test_streaming_clean_matches_batch_gates(spark, sf_dir, tmp_path):
    src = tmp_path / "doc_stream"
    src.mkdir()
    shutil.copy(f"{sf_dir}/documents.parquet", src / "docs_a.parquet")
    shutil.copy(f"{sf_dir}/documents.parquet", src / "docs_redelivered.parquet")

    physical = spark.read.parquet(str(src / "docs_a.parquet")).schema
    raw = (
        spark.readStream.schema(physical)
        .format("parquet")
        .option("maxFilesPerTrigger", "1")
        .load(str(src))
    )
    # deterministic synthetic event time: doc_id seconds past an
    # arbitrary base (doc 0 exactly AT epoch 0 == the initial
    # watermark would be dropped as late)
    stream = raw.withColumn(
        "ingest_ts", F.timestamp_seconds(F.col("doc_id") + 1_000_000)
    )
    cleaned = clean_corpus_stream(stream, "ingest_ts", min_tokens=10,
                                  max_punct=0.2, lang="en")
    got = {
        (r.doc_id, r.n_tokens)
        for r in run_to_memory(cleaned, "clean_stream", output_mode="append")
        .collect()
    }

    docs = load_table(spark, sf_dir, "documents")
    text = F.col("text")
    want = {
        (r.doc_id, r.n_tokens)
        for r in docs.filter(
            (text_fns.n_tokens(text) >= 10)
            & (text_fns.punct_ratio(text) <= 0.2)
            & (predicted_lang(text) == "en")
        )
        .select("doc_id", text_fns.n_tokens(text).cast("long").alias("n_tokens"))
        .collect()
    }
    assert got == want
    assert len(got) > 0


def test_near_dup_pairs_stream_matches_batch(spark, sf_dir, tmp_path):
    """Streaming LSH candidate pairs == the batch band-bucket pairs,
    across a two-batch delivery cut — the stateful bucket store must
    pair a doc in batch 2 with its near-copy stored in batch 1."""
    import pyspark.sql.functions as F

    from frames_spark.dedup import minhash as mh
    from frames_spark.queries.q01_core_ops import _with_near_copies
    from frames_spark.sources.tables import load_table
    from frames_spark.streaming.corpus import near_dup_pairs_stream

    docs = _with_near_copies(load_table(spark, sf_dir, "documents"))
    bands, rows_per_band, k = 4, 4, 16

    # batch reference
    sigs = mh.minhash_signatures(
        docs, "doc_id", "text", n=3, num_hashes=k
    )
    expect = {
        (r["doc_a"], r["doc_b"])
        for r in mh.lsh_candidate_pairs(sigs, bands, rows_per_band)
        .select("doc_a", "doc_b")
        .distinct()
        .collect()
    }

    # stream: two id-ordered halves, one file each = one batch each
    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    cut = docs.approxQuantile("doc_id", [0.5], 0.0)[0]
    got: set = set()

    def absorb(batch_df, _bid):
        for r in batch_df.collect():
            got.add((r["doc_a"], r["doc_b"]))

    for half in (
        docs.filter(F.col("doc_id") <= cut),
        docs.filter(F.col("doc_id") > cut),
    ):
        half.coalesce(1).write.mode("append").parquet(src)
        stream = spark.readStream.schema(docs.schema).parquet(src)
        q = (
            near_dup_pairs_stream(
                stream, "doc_id", "text",
                bands=bands, rows_per_band=rows_per_band,
                num_hashes=k, state_cap=10_000,
            )
            .writeStream.outputMode("update")
            .foreachBatch(absorb)
            .option("checkpointLocation", ckpt)
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    assert got == expect and expect


def test_streaming_gates_match_batch_with_html_and_repetition(
    spark, sf_dir, tmp_path
):
    """strip_html + repetition_gates in the streaming twin produce
    exactly the batch gate's survivor set (scan expressions: parity
    is structural, this pins it)."""
    import shutil as _sh

    from frames_spark.functions.gopher import passes_repetition_gates
    from frames_spark.functions.html import html_to_text

    src = tmp_path / "html_stream"
    src.mkdir()
    docs = load_table(spark, sf_dir, "documents").limit(80)
    wrapped = docs.select(
        "doc_id",
        F.concat(
            F.lit("<html><body><style>p{}</style><p>"),
            F.col("text"),
            F.lit("</p></body></html>"),
        ).alias("text"),
    )
    import pyarrow.parquet as pq

    pq.write_table(
        __import__("pyarrow").Table.from_pandas(wrapped.toPandas()),
        str(src / "docs_a.parquet"),
    )
    # redeliver the same file so the watermark advances past batch 1
    # and append mode releases its rows (and dedup re-drops them)
    _sh.copy(str(src / "docs_a.parquet"), str(src / "redelivered.parquet"))
    physical = spark.read.parquet(str(src / "docs_a.parquet")).schema
    raw = (
        spark.readStream.schema(physical)
        .format("parquet")
        .option("maxFilesPerTrigger", "1")
        .load(str(src))
    )
    stream = raw.withColumn(
        "ingest_ts", F.timestamp_seconds(F.col("doc_id") + 1_000_000)
    )
    cleaned = clean_corpus_stream(
        stream,
        "ingest_ts",
        strip_html=True,
        repetition_gates=True,
    )
    got = {
        (r.doc_id, r.n_tokens)
        for r in run_to_memory(
            cleaned, "html_clean_stream", output_mode="append"
        ).collect()
    }
    text = html_to_text(F.col("text"))
    want = {
        (r.doc_id, r.n_tokens)
        for r in spark.read.parquet(str(src / "docs_a.parquet"))
        .filter(
            (text_fns.n_tokens(text) >= 10)
            & (text_fns.punct_ratio(text) <= 0.2)
            & (predicted_lang(text) == "en")
            & passes_repetition_gates(
                text_fns.tokens(text), F.length(text_fns.normalize(text))
            )
        )
        .select(
            "doc_id", text_fns.n_tokens(text).cast("long").alias("n_tokens")
        )
        .collect()
    }
    assert got == want and len(got) > 0


def test_hll_increment_sink_stream_equals_batch(spark, sf_dir, tmp_path):
    """foreachBatch HLL sink over a file stream: merged registers ==
    one-shot batch build, and a replayed epoch changes nothing."""
    import shutil

    from pyspark.sql import functions as F

    from frames_spark.operators.sketches import (
        append_hll_increment,
        hll_cells,
        read_hll,
    )

    src = tmp_path / "hll_in"
    src.mkdir()
    shutil.copy(f"{sf_dir}/events.parquet", src / "events.parquet")
    sink = str(tmp_path / "hll_cells")

    schema = spark.read.parquet(str(src / "events.parquet")).schema
    stream = spark.readStream.schema(schema).format("parquet").load(str(src))
    q = (
        stream.writeStream.foreachBatch(
            lambda b, bid: append_hll_increment(b, sink, "user_id", batch_id=bid)
        )
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.processAllAvailable()
    q.stop()

    batch = spark.read.parquet(f"{sf_dir}/events.parquet")
    want = {(r.bucket, r.max_rho) for r in hll_cells(batch, "user_id").collect()}
    got = {(r.bucket, r.max_rho) for r in read_hll(spark, sink).collect()}
    assert got == want
    # replay epoch 0: dynamic overwrite + max-merge -> unchanged
    append_hll_increment(batch, sink, "user_id", batch_id=0)
    again = {(r.bucket, r.max_rho) for r in read_hll(spark, sink).collect()}
    assert again == want


def test_kmv_increment_sink_stream_equals_batch(spark, sf_dir, tmp_path):
    import shutil

    from frames_spark.operators.sketches import (
        append_kmv_increment,
        kmv_sketch,
        read_kmv,
    )

    src = tmp_path / "kmv_in"
    src.mkdir()
    shutil.copy(f"{sf_dir}/events.parquet", src / "events.parquet")
    sink = str(tmp_path / "kmv_cells")

    schema = spark.read.parquet(str(src / "events.parquet")).schema
    stream = spark.readStream.schema(schema).format("parquet").load(str(src))
    q = (
        stream.writeStream.foreachBatch(
            lambda b, bid: append_kmv_increment(b, sink, "user_id", batch_id=bid)
        )
        .option("checkpointLocation", str(tmp_path / "kmv_ckpt"))
        .start()
    )
    q.processAllAvailable()
    q.stop()

    batch = spark.read.parquet(f"{sf_dir}/events.parquet")
    want = sorted(r.h for r in kmv_sketch(batch, "user_id").collect())
    got = sorted(r.h for r in read_kmv(spark, sink).collect())
    assert got == want
    # replay: unchanged
    append_kmv_increment(batch, sink, "user_id", batch_id=0)
    again = sorted(r.h for r in read_kmv(spark, sink).collect())
    assert again == want
