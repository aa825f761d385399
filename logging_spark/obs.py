"""The in-process profiler: stage metrics and shuffle-exchange counts
for every job a named block of driver code starts, read back from the
live status store (kept even with `spark.ui.enabled=false`).

Exchanges are counted over EVERY SQL execution of the group, so
shuffles that run early in a `localCheckpoint` job count too. Only
the final plan counts: a finished AQE execution also lists its
Initial plan, which did not run. `BroadcastExchange` moves no shuffle
data and `ReusedExchange` was counted once already; neither matches.

Do not open a group inside a library call such as `run_pipeline`: a
nested group moves the jobs out of the caller's group.
"""

from __future__ import annotations

import re
from contextlib import contextmanager

from pyspark.sql import SparkSession

_PROPS = ("spark.jobGroup.id", "spark.job.description")
_EXCHANGE = re.compile(r"(?<![A-Za-z])Exchange \(\d+\)")


@contextmanager
def group(spark: SparkSession, name: str):
    """Run the block's Spark jobs in job group `name` (also their
    description), restoring the caller's group on exit."""
    sc = spark.sparkContext
    saved = [sc.getLocalProperty(p) for p in _PROPS]
    for p in _PROPS:
        sc.setLocalProperty(p, name)
    try:
        yield
    finally:
        for p, v in zip(_PROPS, saved):
            sc.setLocalProperty(p, v)


def _job_ids(spark: SparkSession, name: str) -> list[int]:
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return list(sc.statusTracker().getJobIdsForGroup(name))


def _stage_rows(spark: SparkSession, job_ids: list[int]) -> list[dict]:
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    no_status = sc._jvm.java.util.ArrayList()
    no_quantiles = sc._gateway.new_array(sc._jvm.double, 0)
    seen, rows = set(), []
    for job_id in job_ids:
        ids = store.job(job_id).stageIds().iterator()
        while ids.hasNext():
            sid = ids.next()
            if sid in seen:
                continue
            seen.add(sid)
            attempts = store.stageData(sid, False, no_status, False,
                                       no_quantiles)
            for i in range(attempts.size()):
                sd = attempts.apply(i)
                if sd.status().toString() != "COMPLETE":
                    continue
                span_ms = (sd.completionTime().get().getTime()
                           - sd.submissionTime().get().getTime())
                rows.append({
                    "id": sid,
                    "tasks": sd.numTasks(),
                    "span_s": round(span_ms / 1e3, 3),
                    "core_s": round(sd.executorRunTime() / 1e3, 3),
                    "cpu_s": round(sd.executorCpuTime() / 1e9, 3),
                    "gc_s": round(sd.jvmGcTime() / 1e3, 3),
                    "shuffle_read_bytes": sd.shuffleReadBytes(),
                    "shuffle_write_bytes": sd.shuffleWriteBytes(),
                    "spill_bytes": sd.diskBytesSpilled(),
                })
    return rows


def stages(spark: SparkSession, name: str) -> list[dict]:
    """One row per completed stage attempt of group `name`'s jobs:
    id, tasks, span_s, core_s (task run time), cpu_s, gc_s,
    shuffle_read_bytes, shuffle_write_bytes, spill_bytes."""
    return _stage_rows(spark, _job_ids(spark, name))


def _exchanges(spark: SparkSession, job_ids: list[int]) -> int:
    wanted = set(job_ids)
    store = spark._jsparkSession.sharedState().statusStore()
    execs = store.executionsList().iterator()
    n = 0
    while execs.hasNext():
        ex = execs.next()
        ran = ex.jobs().keys().mkString(" ").split()
        if wanted.intersection(map(int, ran)):
            tree = ex.physicalPlanDescription().split("\n\n", 1)[0]
            n += len(_EXCHANGE.findall(tree.split("== Initial Plan ==")[0]))
    return n


def metrics(spark: SparkSession, name: str) -> dict:
    """Totals over group `name`: jobs, stages, core_s, cpu_s, gc_s,
    shuffle_bytes (written), spill_bytes and exchanges (shuffle
    exchanges in the final plans of all its SQL executions)."""
    job_ids = _job_ids(spark, name)
    rows = _stage_rows(spark, job_ids)
    return {
        "jobs": len(job_ids),
        "stages": len(rows),
        "core_s": round(sum(r["core_s"] for r in rows), 3),
        "cpu_s": round(sum(r["cpu_s"] for r in rows), 3),
        "gc_s": round(sum(r["gc_s"] for r in rows), 3),
        "shuffle_bytes": sum(r["shuffle_write_bytes"] for r in rows),
        "spill_bytes": sum(r["spill_bytes"] for r in rows),
        "exchanges": _exchanges(spark, job_ids),
    }
