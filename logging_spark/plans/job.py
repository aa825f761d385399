"""End-to-end batch job: parse -> enrich -> route -> aggregate.

This is the Spark re-expression of the reference's whole data path
(SURVEY §3): rule compile (driver) -> scan/parse/enrich/route
(executors, one codegen stage up to the shuffle) -> bucketed sink
write -> aggregates recomputed from the committed sink cells.

Physical plan, annotated for the 100 TB case:

  scan + `bucket IN owned` (literal filter)      | no shuffle
  -> repartitionById(|owned| x S, _pid)          | shuffle #1: one partition
                                                 |  per (owned bucket, salt),
                                                 |  S = ceil(cores / |owned|)
  -> dedup window over (_pid, conv_id, turn_idx) | no shuffle (the id
                                                 |  partitioning satisfies it)
  -> parse (codegen) + enrich (broadcast join)   | no shuffle
  -> route (array+explode, codegen)              | no shuffle
  -> write partitioned by (sink_name, bucket)    | no shuffle (a task writes
                                                 |  one bucket's salt: <= S
                                                 |  files per cell)
  -> per-bucket stats of the owned cells         | small shuffles over the
                                                 |  pruned cells only

Skew: the salt is a hash of (conv_id, turn_idx), so a hot
conversation's turns spread over its bucket's S tasks, and there are
at least as many tasks as cores. With |owned| >= cores, S = 1 and a
bucket is one task: size B so one bucket is a task's worth of input.

Exactly one wide dependency over the input; everything between
shuffles is one whole-stage-codegen span.

Sinks: ONE table partitioned by (sink_name, bucket) rather than k
physical tables. Writing k tables from one routed DF needs k actions
(k recomputes or a 100 TB persist); one partitioned append is a
single pass, and a "sink table" is a partition subtree readers prune
to — the moral equivalent of the reference's topic-per-service
(server.go:131) with auto-creation (kafka.go:30-56).

Resume: the driver collects the snapshot's done checkpoint rows once;
owned = range(B) - done is the run's only bucket decision. The run
reads only owned buckets' input, clears every `*/bucket=b` cell of
them, writes them back, and appends their stats as their done rows
(sources/checkpoint.py). A bucket whose new output lost a sink keeps
no stale cell, and a crash before the final append leaves the bucket
owned for the next run.

Aggregates: per-bucket stats are recomputed from the committed cells
(SURVEY §7 hard-parts), never incremented, and stored once, as the
buckets' done rows. The per-sink aggregates are `rollup` of the
snapshot's done rows, with no table of their own: a reader rebuilds
them as rollup(ckpt.done_rows(catalog, snapshot)). A conversation
lives in exactly one bucket, so distinct-conversation counts add up
across buckets exactly, and the aggregate step reads only the cells
this run wrote.
"""

from __future__ import annotations

import time
import uuid
from dataclasses import dataclass, field

import pandas as pd
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from logging_spark.functions.parse import parse_turns
from logging_spark.operators.dedup import dedup_latest_wins
from logging_spark.operators.enrich import enrich
from logging_spark.operators.route import route
from logging_spark.operators.rules import Rule, load_rules
from logging_spark.schema import METRICS
from logging_spark.sources import checkpoint as ckpt
from logging_spark.sources.catalog import Catalog

ROUTED_TABLE = "sinks.routed"
METRICS_TABLE = "meta.metrics"
AGG_COUNTS_SCHEMA = "sink_name string, n_rows long, n_distinct_conv long"
AGG_ROLES_SCHEMA = "sink_name string, role string, n_turns long"

ROUTED_COLS = [
    "sink_name", "bucket", "conv_id", "turn_idx", "role", "text", "tool", "ts",
    "level", "component", "message", "attrs",
    "namespace", "pod_name", "node_name", "service_name",
]


@dataclass
class PipelineResult:
    """One run's outcome. `buckets_processed` counts the buckets the run
    owned (range(num_buckets) minus the snapshot's done rows), empty
    ones included: a bucket with no input rows gets no done row, so it
    stays owned and is counted again on the next run.

    `per_sink_counts` and `role_rollup` are `rollup` of the snapshot's
    done rows, prior and new, as driver-built frames: the warehouse
    keeps no copy of them. A reader rebuilds them from the warehouse
    as rollup(ckpt.done_rows(catalog, snapshot)); `meta.metrics`
    records each run's snapshot."""
    run_id: str
    buckets_processed: int
    buckets_skipped: int
    seconds: float
    per_sink_counts: DataFrame = field(repr=False)
    role_rollup: DataFrame = field(repr=False)
    phase_seconds: dict[str, float] = field(default_factory=dict)
    observed: dict[str, int] = field(default_factory=dict)


def transform(
    turns: DataFrame,
    lookup_df: DataFrame,
    rules: list[Rule],
    num_buckets: int = 32,
    owned: list[int] | None = None,
) -> DataFrame:
    """The pure (side-effect-free) parse->enrich->route plan over the
    rows of the `owned` buckets (default: every bucket); returns the
    routed DataFrame with ROUTED_COLS. Usable standalone (tests,
    oracle comparison, run_job.py's warm-up).

    A row goes to partition (position of its bucket in sorted owned) * S
    + pmod(xxhash64(conv_id, turn_idx), S), S = ceil(cores / |owned|):
    an explicit count AQE never merges, and every partition holds one
    bucket's salt, so a (sink, bucket) cell gets at most S files."""
    owned = list(range(num_buckets)) if owned is None else sorted(owned)
    df = ckpt.with_bucket(turns, num_buckets)
    if len(owned) < num_buckets:
        df = df.where(F.col("bucket").isin(owned))
    n = max(len(owned), 1)
    salts = -(-turns.sparkSession.sparkContext.defaultParallelism // n)
    # position of each bucket in owned, looked up by index (no search)
    pos = [-1] * num_buckets
    for i, b in enumerate(owned):
        pos[b] = i
    pid = (F.array(*map(F.lit, pos))[F.col("bucket")] * salts
           + F.pmod(F.xxhash64("conv_id", "turn_idx"), F.lit(salts)))
    df = df.withColumn("_pid", pid.cast("int")).repartitionById(n * salts, "_pid")
    # _pid is a function of (conv_id, turn_idx): the same dedup result,
    # and the id partitioning satisfies the window with no second shuffle
    df = dedup_latest_wins(df, keys=["_pid", "conv_id", "turn_idx"]).drop("_pid")
    df = parse_turns(df)
    df = df.select(
        "bucket", "conv_id", "turn_idx", "role", "text", "tool", "ts",
        F.col("parsed.level").alias("level"),
        F.col("parsed.component").alias("component"),
        F.col("parsed.message").alias("message"),
        F.col("parsed.attrs").alias("attrs"),
    )
    df = enrich(df, lookup_df)
    routed = route(df, rules)
    return routed.select(*ROUTED_COLS)


def _bucket_stats(cells: DataFrame) -> pd.DataFrame:
    """Committed sink cells -> per-(bucket, sink_name, role) n_rows and
    parse_errors, with the per-(bucket, sink_name) distinct-conversation
    count on each role row (ckpt.STATS_COLS), collected on the driver:
    at most buckets x sinks x roles rows."""
    per_conv = cells.groupBy("bucket", "sink_name", "conv_id", "role").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("level").isNull().cast("long")).alias("errors"))
    roles = per_conv.groupBy("bucket", "sink_name", "role").agg(
        F.sum("n").alias("n_rows"), F.sum("errors").alias("parse_errors"))
    convs = per_conv.groupBy("bucket", "sink_name").agg(
        F.countDistinct("conv_id").alias("n_distinct_conv"))
    return roles.join(convs, ["bucket", "sink_name"]).select(*ckpt.STATS_COLS).toPandas()


def rollup(rows: pd.DataFrame) -> tuple[pd.DataFrame, pd.DataFrame]:
    """Done rows (ckpt.STATS_COLS) -> the per-sink aggregates: counts
    (AGG_COUNTS_SCHEMA) and the role rollup (AGG_ROLES_SCHEMA). Sums
    only: the distinct-conversation count sits on each role row of a
    (bucket, sink), so it is taken once per (bucket, sink)."""
    rows = rows.astype(
        {"n_rows": "int64", "parse_errors": "int64", "n_distinct_conv": "int64"})
    convs = rows.drop_duplicates(["bucket", "sink_name"])
    counts = (rows.groupby("sink_name", as_index=False)["n_rows"].sum()
              .merge(convs.groupby("sink_name", as_index=False)["n_distinct_conv"].sum()))
    roles = (rows.groupby(["sink_name", "role"], as_index=False, dropna=False)["n_rows"]
             .sum().rename(columns={"n_rows": "n_turns"}))
    return counts, roles


def _frame(spark: SparkSession, pdf: pd.DataFrame, schema: str | StructType) -> DataFrame:
    """A handful of driver rows as a one-partition frame (one file per
    write). pandas -> Arrow createDataFrame converts on the driver: a
    list-of-rows createDataFrame goes through pickled-RDD evaluation,
    and a cold Python worker fork costs seconds per tiny bookkeeping
    write (profiled: a 4.9 s single-task stage at ~0 CPU)."""
    return spark.createDataFrame(pdf, schema=schema).coalesce(1)


def run_pipeline(
    spark: SparkSession,
    turns: DataFrame,
    lookup_df: DataFrame,
    rules_df: DataFrame,
    catalog: Catalog,
    num_buckets: int = 32,
    input_snapshot: str = "snap-0",
    run_id: str | None = None,
) -> PipelineResult:
    t0 = time.time()
    phase_secs: dict[str, float] = {}
    run_id = run_id or uuid.uuid4().hex[:12]
    rules = load_rules(rules_df)

    # the run's one bucket decision: owned = range(B) - done. It drives
    # the input filter and the shuffle's layout (transform), the cell
    # clear, the stats read-back and the done rows this run appends.
    done = ckpt.done_rows(catalog, input_snapshot)
    owned = ckpt.owned(done, num_buckets)

    routed = transform(turns, lookup_df, rules, num_buckets, owned)
    tw = time.time()
    # Observation metrics ride the WRITE action itself — transform-
    # stage counters (rows routed, text bytes) with no second scan
    # and no extra action. These are telemetry; the exact counts
    # below are recomputed from the committed cells.
    obs = Observation(f"routed_{run_id}")
    routed = routed.observe(obs,
                            F.count(F.lit(1)).alias("rows_routed"),
                            F.sum(F.length("text")).alias("text_chars"))
    # clear, then append: every owned cell is emptied before the
    # write, so a bucket whose new output lost a sink (shrunk input,
    # disabled rule) keeps no stale rows there, and a write that
    # failed part-way leaves only owned cells for the next run to clear
    catalog.clear_partitions(ROUTED_TABLE, "bucket", owned)
    catalog.overwrite_partitions(routed, ROUTED_TABLE, ["sink_name", "bucket"])
    phase_secs["transform_write"] = time.time() - tw
    observed = {k: int(v or 0) for k, v in obs.get.items()}

    # stats recomputed FROM THE COMMITTED CELLS of the owned buckets
    # (partition-pruned), appended as their done rows; the aggregates
    # are the rollup of the snapshot's done rows, prior and new.
    ta = time.time()
    # no routed rows means no committed owned cell (and perhaps no
    # table to read yet)
    new = (_bucket_stats(catalog.read(ROUTED_TABLE).where(F.col("bucket").isin(owned)))
           if observed.get("rows_routed") else done.iloc[:0])
    ckpt.record_done(catalog, new, input_snapshot)
    counts, roles = rollup(pd.concat([done, new]))
    phase_secs["aggregate_checkpoint"] = time.time() - ta

    secs = time.time() - t0
    phase_rows = [(run_id, "pipeline", input_snapshot, None, secs)] + [
        (run_id, phase, input_snapshot, None, s)
        for phase, s in phase_secs.items()
    ] + [(run_id, f"observe:{k}", input_snapshot, v, None)
         for k, v in observed.items()]
    # stamped as data, like the checkpoint's done rows
    metrics = _frame(
        spark, pd.DataFrame(phase_rows, columns=METRICS.fieldNames()[:-1])
        .assign(updated_ts=pd.Timestamp.now(tz="UTC")),
        METRICS,
    )
    catalog.append(metrics, METRICS_TABLE)

    return PipelineResult(
        run_id=run_id,
        buckets_processed=len(owned),
        buckets_skipped=num_buckets - len(owned),
        seconds=secs,
        phase_seconds=phase_secs,
        observed=observed,
        per_sink_counts=spark.createDataFrame(counts, AGG_COUNTS_SCHEMA),
        role_rollup=spark.createDataFrame(roles, AGG_ROLES_SCHEMA),
    )


def read_sink(catalog: Catalog, sink_name: str) -> DataFrame:
    """Read one logical sink table; the sink_name predicate is a
    partition filter -> pruned scan, zero data read for other sinks."""
    return catalog.read(ROUTED_TABLE).where(F.col("sink_name") == sink_name)
