"""Spans around the benchmark's calls into the program, and Spark stage
metrics for the jobs each span started.

Each span sets a Spark job group named after itself, so the stage
metrics of its jobs are read back from the Spark application's status
store (which is kept with the UI off). Spans stay in memory and are written
out when the run ends.
"""

from __future__ import annotations

import os
import statistics
import time
from contextlib import contextmanager
from dataclasses import dataclass

from logging_spark.plans.job import ROUTED_TABLE
from logging_spark.sources.catalog import Catalog

MB = 1 << 20


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: str | None


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self._stack: list[str] = []

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        self._stack.append(name)
        self.sc.setLocalProperty("spark.jobGroup.id", name)
        self.sc.setLocalProperty("spark.job.description", name)
        start = time.monotonic()
        try:
            yield
        finally:
            self.spans.append(Span(name, start, time.monotonic(), parent))
            self._stack.pop()
            self.sc.setLocalProperty("spark.jobGroup.id", parent)
            self.sc.setLocalProperty("spark.job.description", parent)

    def seconds(self, name: str) -> float:
        """Duration of the last span called ``name``."""
        s = next(s for s in reversed(self.spans) if s.name == name)
        return s.end - s.start

    def stages(self, group: str) -> list:
        """Completed stage attempts of every job in ``group``."""
        store = self.sc._jsc.sc().statusStore()
        no_status = self.sc._jvm.java.util.ArrayList()
        no_quantiles = self.sc._gateway.new_array(self.sc._jvm.double, 0)
        seen, out = set(), []
        for job_id in self.sc.statusTracker().getJobIdsForGroup(group):
            ids = store.job(job_id).stageIds().iterator()
            while ids.hasNext():
                sid = ids.next()
                if sid in seen:
                    continue
                seen.add(sid)
                attempts = store.stageData(sid, False, no_status, False, no_quantiles)
                for i in range(attempts.size()):
                    sd = attempts.apply(i)
                    if sd.status().toString() == "COMPLETE":
                        out.append(sd)
        return out

    def totals(self, group: str) -> dict:
        st = self.stages(group)
        return {
            "cpu_s": sum(s.executorCpuTime() for s in st) / 1e9,
            "gc_s": sum(s.jvmGcTime() for s in st) / 1e3,
            "shuffle_mb": sum(s.shuffleWriteBytes() for s in st) / MB,
            "shuffle_records": sum(s.shuffleWriteRecords() for s in st),
            "spill_mb": sum(s.diskBytesSpilled() for s in st) / MB,
        }

    def task_skew(self, group: str) -> float:
        """max / median task time of the group's file-writing stages."""
        store = self.sc._jsc.sc().statusStore()
        times = []
        for sd in self.stages(group):
            if sd.outputRecords() == 0:
                continue
            tasks = store.taskList(sd.stageId(), sd.attemptId(), 1 << 20)
            for i in range(tasks.size()):
                d = tasks.apply(i).duration()
                if d.isDefined():
                    times.append(d.get())
        return max(times) / statistics.median(times) if times else 0.0


def data_files(path: str) -> tuple[int, int]:
    """(count, bytes) of parquet data files under path."""
    n = size = 0
    for dirpath, _, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                n += 1
                size += os.path.getsize(os.path.join(dirpath, f))
    return n, size


class TracedCatalog(Catalog):
    """The program's catalog with spans around the verbs the job calls.
    Files and bytes are counted outside the spans."""

    WRITE = "sources.catalog.overwrite_partitions"

    def __init__(self, spark, warehouse: str, tracer: Tracer):
        super().__init__(spark, warehouse)
        self.tracer = tracer
        self.files_written = 0
        self.bytes_written = 0
        self.files_read = 0

    def overwrite_partitions(self, df, table, partition_cols):
        n0, b0 = data_files(self._path(table))
        with self.tracer.span(self.WRITE):
            super().overwrite_partitions(df, table, partition_cols)
        n1, b1 = data_files(self._path(table))
        self.files_written += n1 - n0
        self.bytes_written += b1 - b0

    def read(self, table):
        df = super().read(table)
        if table == ROUTED_TABLE:
            self.files_read += len(df.inputFiles())
        return df
