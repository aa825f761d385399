"""obs: job-group stage metrics and all-jobs shuffle-exchange counts
read from the live status store."""

import re

from pyspark.sql import functions as F

from logging_spark import obs


def _noop(df):
    df.write.format("noop").mode("overwrite").save()


def _pre_aqe_exchanges(df) -> int:
    plan = df._jdf.queryExecution().executedPlan().toString()
    return len(re.findall(r"(?<![A-Za-z])Exchange (?:hashpartitioning|"
                          r"rangepartitioning|SinglePartition)", plan))


def test_exchanges_count_localcheckpoint_jobs(spark):
    # the checkpointed aggregate's shuffle runs in its own, earlier job:
    # the final query's pre-AQE plan shows 2 exchanges, the group ran 3
    with obs.group(spark, "obs-ckpt"):
        df = spark.range(10_000).withColumn("k", F.col("id") % 10)
        a = df.groupBy("k").count().localCheckpoint(eager=True)
        b = df.groupBy("k").agg(F.sum("id").alias("s"))
        q = a.join(b, "k").orderBy("k")
        pre = _pre_aqe_exchanges(q)
        _noop(q)
    assert pre == 2
    assert obs.metrics(spark, "obs-ckpt")["exchanges"] == 3


def test_exchanges_skip_initial_plan(spark):
    # a finished AQE execution lists its Initial plan too; counting it
    # would read 2 here
    with obs.group(spark, "obs-agg"):
        _noop(spark.range(1000).groupBy(F.col("id") % 7).count())
    assert obs.metrics(spark, "obs-agg")["exchanges"] == 1


def test_group_restores_caller_group(spark):
    sc = spark.sparkContext
    sc.setLocalProperty("spark.jobGroup.id", "outer-caller")
    sc.setLocalProperty("spark.job.description", "outer-desc")
    try:
        with obs.group(spark, "obs-a"):
            with obs.group(spark, "obs-b"):
                assert sc.getLocalProperty("spark.jobGroup.id") == "obs-b"
                assert sc.getLocalProperty("spark.job.description") == "obs-b"
            assert sc.getLocalProperty("spark.jobGroup.id") == "obs-a"
            try:
                with obs.group(spark, "obs-c"):
                    raise RuntimeError("boom")
            except RuntimeError:
                pass
            assert sc.getLocalProperty("spark.jobGroup.id") == "obs-a"
        assert sc.getLocalProperty("spark.jobGroup.id") == "outer-caller"
        assert sc.getLocalProperty("spark.job.description") == "outer-desc"
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


def test_metrics_and_stages_of_a_group(spark):
    with obs.group(spark, "obs-run"):
        _noop(spark.range(200_000).groupBy(F.col("id") % 13).count())
    m = obs.metrics(spark, "obs-run")
    rows = obs.stages(spark, "obs-run")
    assert m["jobs"] >= 1 and m["core_s"] > 0
    assert m["stages"] == len(rows) >= 2
    assert m["shuffle_bytes"] == sum(r["shuffle_write_bytes"] for r in rows) > 0
    assert all(r["tasks"] >= 1 and r["span_s"] >= 0 for r in rows)
    assert obs.metrics(spark, "obs-never-ran") == {
        "jobs": 0, "stages": 0, "core_s": 0, "cpu_s": 0, "gc_s": 0,
        "shuffle_bytes": 0, "spill_bytes": 0, "exchanges": 0}
