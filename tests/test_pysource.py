"""Custom Python DataSource (sources/pysource.py): partition-parallel
deterministic reads and conv_id filter pushdown."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from pyspark.sql.datasource import EqualTo, In

from logging_spark.sources.pysource import (
    SCHEMA_DDL, TranscriptDataSource, _Reader,
)


@pytest.fixture(scope="module", autouse=True)
def _register(spark):
    spark.dataSource.register(TranscriptDataSource)
    # a reader that implements pushFilters() REQUIRES the conf on
    # (Spark refuses to silently skip the pushdown path)
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    yield
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "false")


def _read(spark, **opts):
    r = spark.read.format("synthetic_transcripts")
    for k, v in opts.items():
        r = r.option(k, v)
    return r.load()


def test_batch_read_deterministic_and_partitioned(spark):
    df = _read(spark, n_conversations=30, turns_per_conv=10, buckets=6)
    assert df.schema.simpleString() == \
        spark.createDataFrame([], SCHEMA_DDL).schema.simpleString()
    assert df.count() == 300
    assert df.rdd.getNumPartitions() == 6
    a = sorted(map(tuple, df.collect()))
    b = sorted(map(tuple, _read(spark, n_conversations=30,
                                turns_per_conv=10, buckets=6).collect()))
    assert a == b  # bit-identical re-read
    # every conversation fully present, roles alternate
    one = [r for r in a if r[0] == "conv000007"]
    assert [t[1] for t in one] == list(range(10))
    assert one[0][2] == "user" and one[1][2] == "assistant"


def test_filter_pushdown_prunes_partitions(spark):
    # unit level: EqualTo/In on conv_id shrink the partition plan
    r = _Reader({"n_conversations": "50", "turns_per_conv": "5",
                 "buckets": "8"})
    leftover = list(r.pushFilters(
        [EqualTo(("conv_id",), "conv000003"),
         EqualTo(("turn_idx",), 1)]))
    assert len(leftover) == 1  # turn_idx is NOT ours -> handed back
    assert leftover[0].attribute == ("turn_idx",)
    parts = r.partitions()
    assert len(parts) == 1 and parts[0].value == ["conv000003"]

    r2 = _Reader({"n_conversations": "50", "buckets": "8"})
    list(r2.pushFilters([In(("conv_id",),
                            ("conv000001", "conv000004"))]))
    assert sum(len(p.value) for p in r2.partitions()) == 2

    # e2e: the filtered read returns exactly the pruned conversation
    got = _read(spark, n_conversations=50, turns_per_conv=5) \
        .where(F.col("conv_id") == "conv000003").collect()
    assert len(got) == 5 and {r["conv_id"] for r in got} == \
        {"conv000003"}
