"""JSONL export/ingest round-trip: typed columns (timestamps, arrays,
nulls) survive; sharding is deterministic and one-file-per-shard;
malformed lines quarantine instead of failing."""

from __future__ import annotations

import glob
import os

from pyspark.sql import functions as F

from logging_spark.sources.jsonl import (jsonl_shard_paths, read_jsonl,
                                         write_jsonl)

SCHEMA = ("conv_id string, turn_idx int, text string, "
          "tool string, ts timestamp, tags array<string>")


def _fixture(spark):
    return spark.createDataFrame(
        [("c1", 0, "hello", "t1", "2024-01-01 10:00:00.123456",
          ["a", "b"]),
         ("c1", 1, "with \"quotes\" and \n newline", None,
          "2024-01-01 10:00:01", []),
         ("c2", 0, None, "t2", None, None)],
        SCHEMA.replace("timestamp", "string")).withColumn(
        "ts", F.col("ts").cast("timestamp"))


def test_jsonl_roundtrip_typed(spark, tmp_path):
    df = _fixture(spark)
    p = str(tmp_path / "plain")
    write_jsonl(df, p)
    back = read_jsonl(spark, p, SCHEMA).drop("_corrupt_record")
    want = sorted(map(tuple, df.collect()))
    got = sorted(map(tuple, back.select(*df.columns).collect()))
    assert got == want


def test_jsonl_sharded_write_is_deterministic(spark, tmp_path):
    df = spark.range(200).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("doc "), F.col("id")).alias("text"))
    p1, p2 = str(tmp_path / "s1"), str(tmp_path / "s2")
    write_jsonl(df, p1, n_shards=4, id_col="doc_id")
    write_jsonl(df.repartition(7), p2, n_shards=4, id_col="doc_id")
    assert len(jsonl_shard_paths(p1)) == 4
    for a, b in zip(jsonl_shard_paths(p1), jsonl_shard_paths(p2)):
        la = sorted(l for f in glob.glob(os.path.join(a, "part-*"))
                    for l in open(f))
        lb = sorted(l for f in glob.glob(os.path.join(b, "part-*"))
                    for l in open(f))
        assert la == lb and la  # same rows per shard, independent of
        # the input partitioning
        # one-file-per-shard writer discipline
        assert len(glob.glob(os.path.join(a, "part-*"))) == 1


def test_jsonl_sharded_rewrite_with_fewer_shards_keeps_no_stale_shard(
        spark, tmp_path):
    """An overwrite replaces the whole export: rewriting 4 shards as 2
    leaves no shard=2/3 directory of the first frame behind (a
    session-wide dynamic partition overwrite kept them)."""
    p = str(tmp_path / "s")
    first = spark.range(1000).select(F.col("id").alias("doc_id"))
    second = spark.range(1000, 1500).select(F.col("id").alias("doc_id"))
    write_jsonl(first, p, n_shards=4, id_col="doc_id")
    write_jsonl(second, p, n_shards=2, id_col="doc_id")
    assert [os.path.basename(s) for s in jsonl_shard_paths(p)] == [
        "shard=0", "shard=1"]
    back = read_jsonl(spark, p, "doc_id long")
    assert sorted(r["doc_id"] for r in back.collect()) == list(range(1000, 1500))


def test_jsonl_corrupt_lines_quarantine(spark, tmp_path):
    p = str(tmp_path / "bad")
    os.makedirs(p)
    with open(os.path.join(p, "part-0.jsonl"), "w") as f:
        f.write('{"conv_id": "ok", "turn_idx": 1}\n')
        f.write("this is not json\n")
        f.write('{"conv_id": "ok2", "turn_idx": 2}\n')
    back = read_jsonl(spark, p, "conv_id string, turn_idx int")
    rows = back.collect()
    good = [r for r in rows if r._corrupt_record is None]
    bad = [r for r in rows if r._corrupt_record is not None]
    assert {r.conv_id for r in good} == {"ok", "ok2"}
    assert len(bad) == 1 and bad[0].conv_id is None
