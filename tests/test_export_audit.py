"""Shard export (operators/export.py) and approximation audits
(minhash_estimate_audit, contamination_rate)."""

from __future__ import annotations

from pyspark.sql import Row
from pyspark.sql import functions as F

from logging_spark.operators.export import (shard_id, shard_manifest,
                                            write_shards)
from logging_spark.operators.textdedup import (contamination_rate,
                                               minhash_estimate_audit)


def _docs(spark, n=40):
    return spark.createDataFrame(
        [Row(doc_id=i, text=f"alpha beta gamma delta {i % 7} tail {i}")
         for i in range(n)])


def test_shard_assignment_is_stable_and_total(spark):
    d = _docs(spark)
    a = d.select("doc_id", shard_id("doc_id", 8).alias("s")).collect()
    b = d.orderBy(F.desc("doc_id")) \
         .select("doc_id", shard_id("doc_id", 8).alias("s")).collect()
    assert {r["doc_id"]: r["s"] for r in a} == {r["doc_id"]: r["s"] for r in b}
    assert all(0 <= r["s"] < 8 for r in a)


def test_write_shards_round_trip_verifies_manifest(spark, tmp_path):
    d = _docs(spark)
    path = str(tmp_path / "shards")
    manifest = {r["shard"]: (r["fingerprint"], r["n_rows"])
                for r in write_shards(d, path, cols=["doc_id", "text"],
                                      n_shards=4).collect()}
    back = spark.read.parquet(path)
    re_manifest = {r["shard"]: (r["fingerprint"], r["n_rows"])
                   for r in shard_manifest(back, ["doc_id", "text"],
                                           n_shards=4).collect()}
    assert manifest == re_manifest
    assert sum(n for _, n in manifest.values()) == 40


def test_minhash_audit_identical_docs_have_zero_error(spark):
    # identical texts -> signatures agree on all perms (est 1000) and
    # shingle sets are equal (exact 1000): error 0 on those pairs
    d = spark.createDataFrame(
        [Row(doc_id=i, text="the quick brown fox jumps over the lazy dog")
         for i in range(4)])
    row = minhash_estimate_audit(d).collect()[0]
    assert row["n_pairs"] >= 6  # all 4C2 pairs collide in every band
    assert row["max_abs_err_x1000"] == 0


def test_contamination_rate_bounds_and_zero(spark):
    corpus = spark.createDataFrame(
        [Row(doc_id=1, text="a b c d e"),   # shares shingles with bench
         Row(doc_id=2, text="x y z w v")])  # disjoint
    bench = spark.createDataFrame([Row(doc_id=9, text="a b c d e")])
    got = {r["doc_id"]: r for r in contamination_rate(corpus, bench).collect()}
    assert got[1]["rate_x1000"] == 1000 and got[1]["n_hits"] == 3
    assert got[2]["rate_x1000"] == 0 and got[2]["n_hits"] == 0


def test_write_shards_one_file_group_per_shard(spark, tmp_path):
    import glob
    d = _docs(spark, 60)
    path = str(tmp_path / "tree")
    write_shards(d, path, cols=["doc_id"], n_shards=4)
    for k in range(4):
        files = glob.glob(f"{path}/shard={k}/*.parquet")
        # shard-keyed repartition: each shard's rows arrive at ONE
        # task, so exactly one parquet file per shard directory
        assert len(files) == 1, (k, files)


def test_write_range_shards_contiguous_sorted(spark, tmp_path):
    from logging_spark.operators.export import write_range_shards
    df = spark.createDataFrame(
        [(i, (i * 7919) % 100000) for i in range(5000)], "id LONG, v LONG")
    path = str(tmp_path / "rs")
    man = write_range_shards(df, path, "v", n_shards=8).collect()
    assert sum(r["n_rows"] for r in man) == 5000
    # contiguous, non-overlapping ranges in shard order
    for a, b in zip(man, man[1:]):
        assert a["hi"] <= b["lo"]
    # within-shard sortedness on the committed files
    from pyspark.sql import functions as F
    back = spark.read.parquet(path)
    one = [r["v"] for r in back.where(F.col("shard") == man[3]["shard"])
           .collect()]
    # parquet preserves row order per file; single file per shard
    assert one == sorted(one)
    # (shard, v) order == global v order
    glob = [r["v"] for r in back.orderBy("shard", "v").collect()]
    assert glob == sorted(glob)
    # the plan actually range-partitions (no global single-partition sort)
    plan = df.repartitionByRange(8, F.col("v"))._jdf.queryExecution() \
        .executedPlan().toString()
    assert "rangepartitioning" in plan.lower()


def test_write_range_shards_rewrite_with_fewer_shards(spark, tmp_path):
    """A 2-shard rewrite over a 4-shard tree leaves exactly the second
    frame: its manifest, read back from the committed tree, lists 2
    shards and 500 rows, none from the first write."""
    from logging_spark.operators.export import write_range_shards
    path = str(tmp_path / "rs")
    write_range_shards(spark.range(1000).withColumnRenamed("id", "v"),
                       path, "v", n_shards=4)
    second = spark.range(1000, 1500).withColumnRenamed("id", "v")
    man = write_range_shards(second, path, "v", n_shards=2).collect()
    assert [r["shard"] for r in man] == [0, 1]
    assert sum(r["n_rows"] for r in man) == 500
    assert (man[0]["lo"], man[-1]["hi"]) == (1000, 1499)
    assert sorted(r["v"] for r in spark.read.parquet(path).collect()) == \
        list(range(1000, 1500))
