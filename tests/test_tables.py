"""Parquet schema memo (sources/tables.parquet_schema): a repeated
load of an unchanged file starts no Spark job, and anything inference
reads — the files themselves, the parquet confs — invalidates it."""

from __future__ import annotations

from frames_spark.sources.tables import load_table, parquet_schema


def _jobs_in(spark, group, fn):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_second_load_of_unchanged_file_starts_no_job(spark, tmp_path):
    spark.range(10).selectExpr("id AS a").write.parquet(str(tmp_path / "t.parquet"))
    first = _jobs_in(spark, "tables-memo-first", lambda: load_table(spark, str(tmp_path), "t"))
    again = _jobs_in(spark, "tables-memo-again", lambda: load_table(spark, str(tmp_path), "t"))
    assert first >= 1 and again == 0
    assert load_table(spark, str(tmp_path), "t").count() == 10


def test_overwritten_file_returns_new_schema(spark, tmp_path):
    path = str(tmp_path / "t.parquet")
    spark.range(3).selectExpr("id AS a").write.parquet(path)
    assert load_table(spark, str(tmp_path), "t").columns == ["a"]
    spark.range(3).selectExpr("id AS a", "CAST(id AS STRING) AS b").write.mode(
        "overwrite"
    ).parquet(path)
    df = load_table(spark, str(tmp_path), "t")
    assert df.columns == ["a", "b"]
    assert sorted(r.b for r in df.collect()) == ["0", "1", "2"]


def test_inference_conf_change_infers_again(spark, tmp_path):
    import duckdb

    # written without Spark's own schema in the footer, which would
    # override binaryAsString
    path = str(tmp_path / "bin.parquet")
    duckdb.sql("SELECT 'x'::BLOB AS blob").write_parquet(path)
    key = "spark.sql.parquet.binaryAsString"
    prev = spark.conf.get(key)
    try:
        spark.conf.set(key, "false")
        assert parquet_schema(spark, path)["blob"].dataType.simpleString() == "binary"
        spark.conf.set(key, "true")
        assert parquet_schema(spark, path)["blob"].dataType.simpleString() == "string"
    finally:
        spark.conf.set(key, prev)
