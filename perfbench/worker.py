"""One fresh job process: session set-up, warm-up, then the timed job
(``--trace 0``) or the traced layer run (``--trace 1``).

Started by run.py with the repository root as working directory;
prints one JSON line. Only deployment settings reach the session
(core count, heap size, local dir), so the program's own
``session.py`` defaults are what runs.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

from pyspark.sql import functions as F

from logging_spark.functions.parse import parse_turns
from logging_spark.operators.dedup import dedup_latest_wins
from logging_spark.operators.enrich import enrich
from logging_spark.operators.route import UNROUTED, route
from logging_spark.operators.rules import load_rules
from logging_spark.plans.job import ROUTED_COLS, ROUTED_TABLE, run_pipeline
from logging_spark.session import build_session
from logging_spark.sources import checkpoint as ckpt
from logging_spark.sources.catalog import Catalog

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
from proc import processes  # noqa: E402
from reference import sink_content  # noqa: E402
from spans import MB, Tracer, TracedCatalog, data_files  # noqa: E402

SNAPSHOT = "bench"


def _process_tree() -> list[int]:
    """This process and its descendants (the JVM)."""
    children: dict[int, list[int]] = {}
    for pid, (ppid, _, _) in processes().items():
        children.setdefault(ppid, []).append(pid)
    tree, todo = [], [os.getpid()]
    while todo:
        pid = todo.pop()
        tree.append(pid)
        todo.extend(children.get(pid, []))
    return tree


def reset_peak_rss() -> None:
    """Restart the kernel's peak-RSS count of every process in the
    tree. Raises if the reset fails, since peak_rss_mb would then hold
    each process's lifetime peak, warm-up included."""
    for pid in _process_tree():
        try:
            with open(f"/proc/{pid}/clear_refs", "w") as f:
                f.write("5")
        except FileNotFoundError:  # the process ended meanwhile
            pass


def peak_rss_mb() -> float:
    """Sum over the tree's processes of each one's peak RSS (VmHWM)
    since the last reset. This is the sum of per-process peaks, which
    is at least the tree's peak; the JVM holds nearly all of it."""
    total = 0
    for pid in _process_tree():
        try:
            with open(f"/proc/{pid}/status") as f:
                total += next(int(ln.split()[1]) for ln in f if ln.startswith("VmHWM:"))
        except (OSError, StopIteration):
            pass
    return total / 1024


class Job:
    def __init__(self, spark, input_dir: str, work: str, num_buckets: int):
        self.spark = spark
        self.work = work
        self.num_buckets = num_buckets
        self.turns = spark.read.parquet(f"{input_dir}/turns")
        self.lookup = spark.read.parquet(f"{input_dir}/lookup")
        self.rules_df = spark.read.parquet(f"{input_dir}/rules")
        self.warehouse = f"{work}/warehouse"
        self.sink_dir = f"{self.warehouse}/{ROUTED_TABLE.replace('.', '/')}"
        self.template = None  # committed warehouse a resume run starts from

    def reset(self) -> None:
        shutil.rmtree(self.warehouse, ignore_errors=True)
        if self.template:
            shutil.copytree(self.template, self.warehouse)

    def run(self, catalog: Catalog, turns=None) -> tuple[float, object]:
        """Time run_pipeline up to committed sinks, aggregates and the
        collected per-sink counts."""
        t0 = time.monotonic()
        res = run_pipeline(self.spark, self.turns if turns is None else turns,
                           self.lookup, self.rules_df, catalog,
                           num_buckets=self.num_buckets, input_snapshot=SNAPSHOT)
        counts = res.per_sink_counts.collect()
        return time.monotonic() - t0, (res, counts)

    def prepare_resume(self) -> None:
        """Commit the lower half of the buckets under SNAPSHOT."""
        self.template = f"{self.work}/prepared"
        half = (ckpt.with_bucket(self.turns, self.num_buckets)
                .where(F.col("bucket") < self.num_buckets // 2).drop("bucket"))
        self.run(Catalog(self.spark, self.template), half)


def check(res, counts, sink_dir: str, expected: dict) -> list[str]:
    """Differences between the run's outputs and the reference: the
    job's aggregates, and the content figures of its committed sink."""
    got = {
        "per_sink": {r["sink_name"]: [r["n_rows"], r["n_distinct_conv"]] for r in counts},
        "roles": {f"{r['sink_name']}|{r['role']}": r["n_turns"]
                  for r in res.role_rollup.collect()},
        **sink_content(sink_dir),
    }
    errs = []
    for part, want in expected.items():
        errs += [f"{part} {k}: got {got[part].get(k)} want {want.get(k)}"
                 for k in sorted(set(got[part]) | set(want))
                 if got[part].get(k) != want.get(k)]
    return errs


def timed_runs(job: Job, seconds: float, expected: dict) -> dict:
    times, files, mbs, rss, failed = [], [], [], [], 0
    end = time.monotonic() + seconds
    last = 0.0
    # a job starts while at least half the last one's time is left, so
    # the timed jobs end near the end of the window
    while not times or time.monotonic() + last / 2 < end:
        job.reset()
        # each job starts from a collected heap, as between benchmark
        # iterations in JMH, so its peak RSS and GC work are its own
        job.spark.sparkContext._jvm.java.lang.System.gc()
        reset_peak_rss()
        try:
            secs, (res, counts) = job.run(Catalog(job.spark, job.warehouse))
            errs = check(res, counts, job.sink_dir, expected)
        except Exception:  # a failed job is counted, and the run goes on
            traceback.print_exc()
            failed += 1
            times.append(float("nan"))
            continue
        if errs:
            print("\n".join(errs[:20]), file=sys.stderr)
            failed += 1
        times.append(secs)
        last = secs
        rss.append(peak_rss_mb())
        n, size = data_files(job.sink_dir)
        files.append(n)
        mbs.append(size / MB)
    ok = [t for t in times if t == t]
    return {"job_s": ok, "sink_files": files, "sink_mb": mbs, "peak_rss_mb": rss,
            "attempted": len(times), "failed": failed}


def layer_prefixes(job: Job, tracer: Tracer, rules) -> tuple[dict, float, float]:
    """Cumulative prefixes of the job's transform, each into a noop sink,
    in the order transform() applies them. Pending rows come from the
    committed warehouse, as in run_pipeline. Returns the layer metrics
    and the whole transform's wall and CPU seconds."""
    cat = Catalog(job.spark, job.template or f"{job.work}/empty")
    pend = ckpt.pending(ckpt.with_bucket(job.turns, job.num_buckets), cat, SNAPSHOT)
    scan = ckpt.with_bucket(pend.drop("bucket"), job.num_buckets)
    dedup = dedup_latest_wins(scan)
    parsed = parse_turns(dedup).select(
        "bucket", "conv_id", "turn_idx", "role", "text", "tool", "ts",
        F.col("parsed.level").alias("level"),
        F.col("parsed.component").alias("component"),
        F.col("parsed.message").alias("message"),
        F.col("parsed.attrs").alias("attrs"))
    enriched = enrich(parsed, job.lookup)
    routed = route(enriched, rules).select(*ROUTED_COLS)
    prefixes = [("sources.scan", scan), ("operators.dedup", dedup),
                ("functions.parse", parsed), ("operators.enrich", enriched),
                ("operators.route", routed)]
    wall: dict[str, list[float]] = {}
    for rep in range(2):
        for name, df in prefixes:
            with tracer.span(f"{name}#{rep}"):
                df.write.format("noop").mode("overwrite").save()
            wall.setdefault(name, []).append(tracer.seconds(f"{name}#{rep}"))
    best = {name: min(v) for name, v in wall.items()}
    totals = {name: tracer.totals(f"{name}#0") for name, _ in prefixes}

    # exact counts, untimed, one aggregate per layer boundary
    n_in = job.turns.count()
    n_scan = scan.count()
    n_dedup = dedup.count()
    errors = parsed.where(F.col("level").isNull()).count()
    misses = enriched.where(F.col("namespace") == "default").count()
    r = (route(enriched.withColumn("_len", F.length("text")), rules)
         .agg(F.count(F.lit(1)).alias("rows"),
              F.sum((F.col("sink_name") == UNROUTED).cast("long")).alias("unrouted"),
              F.sum((F.length("text") < F.col("_len")).cast("long")).alias("truncated"))
         .first())
    in_mb = sum(os.path.getsize(f[len("file:"):] if f.startswith("file:") else f)
                for f in job.turns.inputFiles()) / MB

    def delta(name, prev, key):
        return totals[name][key] - totals[prev][key]

    metrics = {
        "sources.scan.wall_s": best["sources.scan"],
        "sources.scan.input_mb": in_mb,
        "sources.checkpoint.rows_skipped": n_in - n_scan,
        "operators.dedup.wall_s": best["operators.dedup"] - best["sources.scan"],
        "operators.dedup.shuffle_mb": delta("operators.dedup", "sources.scan", "shuffle_mb"),
        "operators.dedup.shuffle_records":
            delta("operators.dedup", "sources.scan", "shuffle_records"),
        "operators.dedup.rows_dropped": n_scan - n_dedup,
        "functions.parse.wall_s": best["functions.parse"] - best["operators.dedup"],
        "functions.parse.cpu_s": delta("functions.parse", "operators.dedup", "cpu_s"),
        "functions.parse.gc_s": delta("functions.parse", "operators.dedup", "gc_s"),
        "functions.parse.errors": errors,
        "operators.enrich.wall_s": best["operators.enrich"] - best["functions.parse"],
        "operators.enrich.misses": misses,
        "operators.route.wall_s": best["operators.route"] - best["operators.enrich"],
        "operators.route.rows_out": r["rows"],
        "operators.route.fanout": r["rows"] / n_dedup,
        "operators.route.rows_in": n_dedup,
        "operators.route.unrouted": r["unrouted"],
        "operators.route.truncated": r["truncated"],
    }
    return metrics, best["operators.route"], totals["operators.route"]["cpu_s"]


def traced_run(job: Job, expected: dict) -> tuple[dict, dict]:
    tracer = Tracer(job.spark)
    rules = load_rules(job.rules_df)
    # a traced job between two untraced ones: the difference from
    # their mean is the tracing overhead
    plain, errs, failed = [], [], 0
    for traced in (False, True, False):
        job.reset()
        if traced:
            cat = TracedCatalog(job.spark, job.warehouse, tracer)
            with tracer.span("plans.job.run_pipeline"):
                traced_s, (res, counts) = job.run(cat)
            phases = res.phase_seconds
        else:
            secs, (res, counts) = job.run(Catalog(job.spark, job.warehouse))
            plain.append(secs)
        job_errs = check(res, counts, job.sink_dir, expected)
        failed += bool(job_errs)
        errs += job_errs
    plain_s = statistics.mean(plain)
    if errs:
        print("\n".join(errs[:20]), file=sys.stderr)
    metrics, noop_s, noop_cpu_s = layer_prefixes(job, tracer, rules)
    write = tracer.totals(TracedCatalog.WRITE)
    job_self = tracer.totals("plans.job.run_pipeline")
    write_s = tracer.seconds(TracedCatalog.WRITE)
    metrics.update({
        # the write's own cost: the write call minus the same transform
        # into a noop sink
        "sources.catalog.write_s": write_s - noop_s,
        "sources.catalog.write_cpu_s": write["cpu_s"] - noop_cpu_s,
        "sources.catalog.files": cat.files_written,
        "sources.catalog.write_mb": cat.bytes_written / MB,
        "sources.catalog.task_skew": tracer.task_skew(TracedCatalog.WRITE),
        "sources.catalog.spill_mb": write["spill_mb"],
        "plans.job.aggregate_s": phases["aggregate_checkpoint"],
        "plans.job.aggregate_shuffle_mb": job_self["shuffle_mb"],
        "plans.job.files_read": cat.files_read,
        "plans.job.bookkeeping_s": traced_s - phases["transform_write"]
        - phases["aggregate_checkpoint"],
        "trace.job_s": traced_s,
        "trace.untraced_job_s": plain_s,
        "trace.overhead_s": traced_s - plain_s,
    })
    detail = {"spans": [sp.__dict__ for sp in tracer.spans], "phase_seconds": phases}
    return metrics, {"attempted": 3, "failed": failed, **detail}


def main() -> int:
    p = argparse.ArgumentParser()
    for a in ("--workload", "--input", "--work", "--heap"):
        p.add_argument(a, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), required=True)
    a = p.parse_args()
    with open(f"{a.input}/expected.json") as f:
        expected = json.load(f)
    with open(f"{a.input}/meta.json") as f:
        num_buckets = json.load(f)["num_buckets"]

    spark = build_session("perfbench", cores=len(os.sched_getaffinity(0)), extra_conf={
        "spark.driver.memory": a.heap,
        "spark.local.dir": f"{a.work}/local",
    })
    t_session = time.monotonic()
    job = Job(spark, a.input, a.work, num_buckets)
    if a.workload == "resume_half":
        job.prepare_resume()
    # warm-up: one untimed job like the timed ones, so code generation
    # and the JIT have seen every stage before the timer starts
    job.reset()
    job.run(Catalog(spark, job.warehouse))
    t_ready = time.monotonic()

    if a.trace:
        metrics, out = traced_run(job, expected)
    else:
        out = timed_runs(job, a.seconds, expected)
        metrics = {}
    out.update(metrics=metrics, ready_at=t_ready, session_at=t_session)
    spark.stop()
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
