"""End-to-end batch job: parse -> enrich -> route -> aggregate.

This is the Spark re-expression of the reference's whole data path
(SURVEY §3): rule compile (driver) -> scan/parse/enrich/route
(executors, one codegen stage up to the shuffle) -> bucketed sink
write -> aggregates recomputed from the sink tables.

Physical plan, annotated for the 100 TB case:

  scan (columnar, filter/prune pushed)           | no shuffle
  -> dedup window over (conv_id, turn_idx)       | shuffle #1 (skew-proof key)
  -> parse (codegen) + enrich (broadcast join)   | no shuffle
  -> route (array+explode, codegen)              | no shuffle
  -> write partitioned by (sink_name, bucket)    | no shuffle (writers keep
                                                 |  the dedup partitioning)
  -> aggregates from written sinks               | shuffle #2 (partial agg)

Exactly one wide dependency per logical need; everything between
shuffles is one whole-stage-codegen span.

Sinks: ONE table partitioned by (sink_name, bucket) rather than k
physical tables. Writing k tables from one routed DF needs k actions
(k recomputes or a 100 TB persist); dynamic-partition write is a
single pass, and a "sink table" is a partition subtree readers prune
to — the moral equivalent of the reference's topic-per-service
(server.go:131) with auto-creation (kafka.go:30-56).

Resume: buckets already checkpointed for this input snapshot are
anti-joined away; bucket writes are overwrite-by-partition, so
re-running a half-finished bucket is idempotent. Aggregates are
ALWAYS recomputed from the sink table, never incremented (SURVEY §7
hard-parts) — exact counts under resume.
"""

from __future__ import annotations

import time
import uuid
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from logging_spark.functions.parse import parse_turns
from logging_spark.operators.dedup import dedup_latest_wins
from logging_spark.operators.enrich import enrich
from logging_spark.operators.route import route
from logging_spark.operators.rules import Rule, load_rules
from logging_spark.sources import checkpoint as ckpt
from logging_spark.sources.catalog import Catalog

ROUTED_TABLE = "sinks.routed"
AGG_COUNTS_TABLE = "agg.per_sink_counts"
AGG_ROLES_TABLE = "agg.per_sink_role_rollup"
METRICS_TABLE = "meta.metrics"

ROUTED_COLS = [
    "sink_name", "bucket", "conv_id", "turn_idx", "role", "text", "tool", "ts",
    "level", "component", "message", "attrs",
    "namespace", "pod_name", "node_name", "service_name",
]


@dataclass
class PipelineResult:
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
    deduplicate: bool = True,
) -> DataFrame:
    """The pure (side-effect-free) parse->enrich->route plan; returns
    the routed DataFrame with ROUTED_COLS. Usable standalone (tests,
    oracle comparison, streaming foreachBatch)."""
    df = ckpt.with_bucket(turns, num_buckets)
    if deduplicate:
        df = dedup_latest_wins(df)
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

    bucketed = ckpt.with_bucket(turns, num_buckets)
    pend = ckpt.pending(bucketed, catalog, input_snapshot)
    done = ckpt.completed_buckets(catalog, input_snapshot)
    n_done = done.count() if done is not None else 0

    routed = transform(pend.drop("bucket"), lookup_df, rules, num_buckets)
    tw = time.time()
    # Observation metrics ride the WRITE action itself — transform-
    # stage counters (rows routed, text bytes) with no second scan
    # and no extra action. These are telemetry; the EXACT accounting
    # below still recomputes from the committed table (resume
    # invariant), so a partially-failed write can never leak observed
    # numbers into the aggregates.
    from pyspark.sql import Observation
    obs = Observation(f"routed_{run_id}")
    routed = routed.observe(obs,
                            F.count(F.lit(1)).alias("rows_routed"),
                            F.sum(F.length("text")).alias("text_chars"))
    catalog.overwrite_partitions(routed, ROUTED_TABLE, ["sink_name", "bucket"])
    phase_secs["transform_write"] = time.time() - tw
    observed = {k: int(v or 0) for k, v in obs.get.items()}

    # lineage + aggregates recomputed FROM THE WRITTEN TABLE: what was
    # committed is what is counted (exactness under resume/crash).
    # ONE grouping-sets pass over the committed table produces all
    # three aggregate shapes (per-bucket lineage, per-sink counts,
    # per-(sink,role) rollup) instead of three separate scans — the
    # expand is map-side-combined, so the shuffle carries pre-reduced
    # rows, and the committed data is read exactly once.
    ta = time.time()
    sink_table = catalog.read(ROUTED_TABLE)
    # Counts WITHOUT the distinct: a grouping-sets pass that is fully
    # map-side combinable — the exchange carries (bucket/sink/role)
    # cardinality, not rows. countDistinct used to ride in this same
    # pass, but a distinct-aggregate cannot map-side combine under an
    # expand: the shuffle carried 3x the table's (group, conv_id)
    # pairs, and the phase stopped scaling with cores (measured 21-24s
    # flat from 4->16 threads at 32M turns). Only the per-sink shape
    # needs a distinct, so it gets its own cheap pass below.
    g = (
        sink_table.groupingSets(
            [["bucket"], ["sink_name"], ["sink_name", "role"]],
            "bucket", "sink_name", "role",
        )
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.when(F.col("level").isNull(), 1).otherwise(0)).alias("parse_errors"),
            F.grouping_id("bucket", "sink_name", "role").alias("_gid"),
        )
        # materialize NOW, in parallel, before the coalesce(1) slice
        # writes below: a lazy persist would first materialize under a
        # coalesce(1) plan, collapsing the whole sink scan + agg into
        # one task (profiled as a 5 s single-task stage). localCheckpoint
        # blocks are auto-dropped by the ContextCleaner — no unpersist
        # bookkeeping in long-lived sessions.
        .localCheckpoint(eager=True)
    )
    # Exact per-sink distinct-conv count as dedup-then-count: the
    # distinct shuffles short (sink_name, conv_id) pairs after local
    # dedup — ~n_convs x n_sinks rows instead of 3x all rows. Column
    # pruning keeps this second scan to two columns.
    dconv = (
        sink_table.select("sink_name", "conv_id").distinct()
        .groupBy("sink_name")
        .agg(F.count(F.lit(1)).alias("n_distinct_conv"))
        .localCheckpoint(eager=True)
    )
    # grouping_id bit k set = that column aggregated away
    stats = g.where(F.col("_gid") == 0b011).select(
        "bucket", F.col("n_rows").alias("row_count"), "parse_errors")
    new_stats = stats
    if done is not None:
        new_stats = stats.join(F.broadcast(done), "bucket", "left_anti")
    ckpt.record_done(catalog, new_stats, input_snapshot)

    # aggregate outputs are a handful of rows — coalesce(1) so each
    # table is ONE file, not shuffle_partitions near-empty ones (local
    # FS file ops fork subprocesses without native libhadoop; small
    # files are pure overhead on any FS)
    counts = (g.where(F.col("_gid") == 0b101)
              .select("sink_name", "n_rows")
              .join(dconv, "sink_name")
              .select("sink_name", "n_rows", "n_distinct_conv").coalesce(1))
    roles = g.where(F.col("_gid") == 0b100).select(
        "sink_name", "role", F.col("n_rows").alias("n_turns")).coalesce(1)
    # swapped in whole: a crash mid-write leaves the previous tables
    catalog.replace(counts, AGG_COUNTS_TABLE)
    catalog.replace(roles, AGG_ROLES_TABLE)
    phase_secs["aggregate_checkpoint"] = time.time() - ta

    secs = time.time() - t0
    phase_rows = [(run_id, "pipeline", input_snapshot, None, f"{secs:.3f}")] + [
        (run_id, phase, input_snapshot, None, f"{s:.3f}")
        for phase, s in phase_secs.items()
    ] + [(run_id, f"observe:{k}", input_snapshot, v, None)
         for k, v in observed.items()]
    # pandas -> Arrow createDataFrame: driver-side conversion, no
    # Python executor workers. A list-of-rows createDataFrame goes
    # through pickled-RDD evaluation, and a cold Python worker fork
    # under 32 task threads costs seconds per tiny bookkeeping write
    # (profiled: a 4.9 s single-task stage at ~0 CPU).
    import pandas as pd
    metrics = spark.createDataFrame(
        pd.DataFrame(phase_rows,
                     columns=["run_id", "phase", "key", "rows", "seconds"]),
        schema="run_id string, phase string, key string, rows long, seconds string",
    ).withColumn("updated_ts", F.current_timestamp()).coalesce(1)
    catalog.append(metrics, METRICS_TABLE)

    return PipelineResult(
        run_id=run_id,
        buckets_processed=num_buckets - n_done,
        buckets_skipped=n_done,
        seconds=secs,
        phase_seconds=phase_secs,
        observed=observed,
        per_sink_counts=catalog.read(AGG_COUNTS_TABLE),
        role_rollup=catalog.read(AGG_ROLES_TABLE),
    )


def read_sink(catalog: Catalog, sink_name: str) -> DataFrame:
    """Read one logical sink table; the sink_name predicate is a
    partition filter -> pruned scan, zero data read for other sinks."""
    return catalog.read(ROUTED_TABLE).where(F.col("sink_name") == sink_name)
