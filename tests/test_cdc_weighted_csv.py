"""CDC changeset/apply round-trip and distributed weighted median."""

from __future__ import annotations

from pyspark.sql import functions as F

from logging_spark.operators.diff import apply_changes, changeset
from logging_spark.operators.weighted import weighted_median


def test_changeset_apply_roundtrip(spark):
    old = spark.createDataFrame(
        [(1, "a", 10), (2, "b", 20), (3, "c", 30), (4, "d", 40)],
        "k int, s string, v int")
    new = spark.createDataFrame(
        [(1, "a", 10),          # unchanged
         (2, "B", 20),          # changed payload
         (4, "d", 41),          # changed payload
         (5, "e", 50)],         # added; 3 removed
        "k int, s string, v int")
    ch = changeset(old, new, ["k"], ["s", "v"])
    ops = {(r["k"], r["op"]) for r in ch.collect()}
    assert ops == {(2, "upsert"), (4, "upsert"), (5, "upsert"),
                   (3, "delete")}
    recon = apply_changes(old, ch, ["k"], ["s", "v"])
    assert sorted(map(tuple, recon.collect())) == sorted(
        map(tuple, new.collect()))


def test_apply_changes_idempotent(spark):
    old = spark.createDataFrame([(1, "a", 1), (2, "b", 2)],
                                "k int, s string, v int")
    new = spark.createDataFrame([(1, "a", 9)], "k int, s string, v int")
    ch = changeset(old, new, ["k"], ["s", "v"])
    once = apply_changes(old, ch, ["k"], ["s", "v"])
    twice = apply_changes(once, ch, ["k"], ["s", "v"])
    assert sorted(map(tuple, once.collect())) == sorted(
        map(tuple, twice.collect()))


def test_weighted_median_matches_expanded_multiset(spark):
    import statistics
    rows = [(5, 1), (1, 3), (9, 2), (3, 4)]
    df = spark.createDataFrame(rows, "v int, w int")
    got = weighted_median(df, "v", "w").first()
    expanded = sorted(sum(([v] * w for v, w in rows), []))
    # lower weighted median: first value where 2*cumweight >= total
    n = len(expanded)
    lower = expanded[(n - 1) // 2] if n % 2 else expanded[n // 2 - 1]
    assert got["total_weight"] == n == 10
    assert got["median"] == lower == statistics.median_low(expanded)


def test_weighted_median_many_partitions(spark):
    df = (spark.range(10001).select(F.col("id").alias("v"),
                                    F.lit(1).alias("w"))
          .repartition(16))
    got = weighted_median(df, "v", "w", num_partitions=8).first()
    assert got["median"] == 5000 and got["total_weight"] == 10001


def test_weighted_median_empty(spark):
    df = spark.createDataFrame([], "v int, w int")
    got = weighted_median(df, "v", "w").first()
    assert got["total_weight"] == 0 and got["median"] is None
