"""ORC round-trip and scan-hygiene proofs for Spark's own ORC reader
and writer (`run_job.py --input-orc` reads turns through them)."""

import os

import pytest

from pyspark.sql import functions as F

from logging_spark.operators.dq import table_fingerprint


def _fp(df):
    row = table_fingerprint(
        df, [F.col("doc_id"), F.col("text"), F.col("lang"),
             F.col("source"), F.col("n_chars")]).collect()[0]
    return row["fingerprint"], row["n_rows"]


def test_orc_roundtrip_fingerprint_identical(spark, sf_dir, tmp_path):
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    path = str(tmp_path / "docs_orc")
    docs.write.orc(path)
    back = spark.read.orc(path)
    assert back.schema == docs.schema
    assert _fp(back) == _fp(docs)


def test_orc_events_timestamp_ntz_roundtrip(spark, sf_dir, tmp_path):
    ev = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    path = str(tmp_path / "events_orc")
    ev.write.orc(path)
    back = spark.read.orc(path)
    assert dict(back.dtypes)["ts"] == dict(ev.dtypes)["ts"]
    a = ev.agg(F.expr("bit_xor(unix_micros(CAST(ts AS timestamp)))")
               .alias("x"), F.count(F.lit(1)).alias("n")).collect()[0]
    b = back.agg(F.expr("bit_xor(unix_micros(CAST(ts AS timestamp)))")
                 .alias("x"), F.count(F.lit(1)).alias("n")).collect()[0]
    assert (a["x"], a["n"]) == (b["x"], b["n"])


def test_orc_scan_pushes_filters_and_prunes_columns(spark, sf_dir, tmp_path):
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    path = str(tmp_path / "docs_orc_scan")
    docs.write.orc(path)
    q = (spark.read.orc(path)
         .where(F.col("lang") == "en")
         .select("doc_id", "n_chars"))
    plan = q._sc._jvm.PythonSQLUtils.explainString(
        q._jdf.queryExecution(), "formatted")
    assert "PushedFilters" in plan and "lang" in plan.split(
        "PushedFilters")[1].splitlines()[0], plan
    # column pruning: the scan's ReadSchema carries only the 3 needed cols
    read_schema = plan.split("ReadSchema")[1].splitlines()[0]
    assert "text" not in read_schema and "doc_id" in read_schema, plan


def test_orc_partitioned_write_prunes_partitions(spark, sf_dir, tmp_path):
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    path = str(tmp_path / "docs_orc_part")
    docs.write.partitionBy("lang").orc(path)
    assert os.path.isdir(os.path.join(path, "lang=en"))
    q = spark.read.orc(path).where(F.col("lang") == "en")
    plan = q._sc._jvm.PythonSQLUtils.explainString(
        q._jdf.queryExecution(), "formatted")
    part_line = plan.split("PartitionFilters")[1].splitlines()[0]
    assert "lang" in part_line, plan
    n_en = docs.where("lang = 'en'").count()
    assert q.count() == n_en
