"""Structured Streaming incremental mode: the reference's
list-then-watch tail (SURVEY S3/T1; pkg/datasource/datasource.go:167-204,
pkg/api/slack_task.go:98-116) re-expressed as a file-source stream.

The batch pipeline (plans/job.py) is the primary surface per the
north_rule; this module gives the same parse→enrich→route semantics a
continuous/incremental form:

- `readStream` over the transcripts directory — Spark's file source
  tracks processed files in the checkpoint, the analog of the
  reference's resourceVersion/offset bookkeeping. New files since the
  last trigger = the "watch events".
- `withWatermark + dropDuplicates` is the streaming W1: replayed
  (conv_id, turn_idx) rows within the watermark horizon are dropped
  exactly once per key; the watermark bounds the dedup state so it
  cannot grow unboundedly at 10^12-turn scale.
- `foreachBatch` reuses the SAME pure transform as batch (rule
  compile → parse → enrich → route), writing per-sink partitions.
  One code path, two execution modes — no drift between them.
- `trigger(availableNow=True)` drains everything pending then stops:
  incremental batch runs (cron-style) with streaming bookkeeping,
  which is exactly the reference's reconcile-loop cadence.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from logging_spark import schema as S
from logging_spark.operators.rules import Rule
from logging_spark.plans.job import transform


def read_turns_stream(spark: SparkSession, input_dir: str,
                      max_files_per_trigger: int | None = None) -> DataFrame:
    """File-source stream of transcript turns. maxFilesPerTrigger
    bounds micro-batch size (backpressure at scale)."""
    reader = spark.readStream.schema(S.TRANSCRIPTS)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(input_dir)


def streaming_dedup(turns: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Cross-micro-batch replay guard: drop (conv_id, turn_idx) keys
    already seen within the watermark horizon. State is bounded by the
    watermark so it cannot grow unboundedly.

    CAVEAT: stateful dropDuplicates keeps the FIRST arrival, not the
    latest-by-ts — W1's latest-wins resolution only holds for
    duplicates arriving in the same micro-batch (run_incremental
    applies dedup_latest_wins per batch). Use this guard when replays
    cross trigger boundaries and first-wins is acceptable; for exact
    latest-wins across batches use run_incremental(compact=True) or
    read the sink through read_sink_deduped."""
    return turns.withWatermark("ts", watermark).dropDuplicates(
        ["conv_id", "turn_idx"])


def streaming_debounce(events: DataFrame, keys: list[str],
                       watermark: str = "30 minutes") -> DataFrame:
    """Streaming twin of operators/dedup.debounce for exact-key
    chatter (at-least-once producer retries with the SAME event time):
    `dropDuplicatesWithinWatermark` keeps the first arrival per key
    and — unlike plain stateful dropDuplicates — evicts each key's
    state once the watermark passes its event time, so the key CAN
    legitimately reappear later. That is precisely debounce-by-
    tolerance with tolerance = the watermark delay: state is bounded
    by keys-per-horizon, not keys-ever-seen.

    (The batch debounce's lag-vs-previous-raw-row semantics need a
    per-key ordered scan; within a stream the watermark horizon is the
    tolerance window. Equal-key equal-time replays dedupe identically
    in both; a genuinely later event past the horizon survives in
    both. Measured detail, pinned in test_streaming_debounce: the
    watermark updates at batch END and eviction runs after that
    batch's dedup, so a freed key survives from the NEXT micro-batch
    onward — a one-batch grace, conservative in the dedup direction.)"""
    return events.withWatermark("ts", watermark) \
                 .dropDuplicatesWithinWatermark(keys)


# Sink dedup key: a (conv_id, turn_idx) key can legitimately land in
# SEVERAL sinks (fanout routing), so latest-wins resolution is per
# (sink, conv_id, turn_idx) — within one sink exactly one row per turn,
# the newest text by ts.
SINK_DEDUP_KEYS = ["sink_name", "conv_id", "turn_idx"]


def read_sink_deduped(spark: SparkSession, sink_dir: str) -> DataFrame:
    """Dedup-on-read view of the routed sink: exact cross-batch
    latest-wins without rewriting anything. One window shuffle on the
    skew-proof composite key; readers that tolerate the scan cost get
    batch-W1 semantics even between compactions."""
    from logging_spark.operators.dedup import dedup_latest_wins

    return dedup_latest_wins(spark.read.parquet(sink_dir),
                             keys=SINK_DEDUP_KEYS)


def compact_sink_latest_wins(spark: SparkSession, sink_dir: str) -> None:
    """Rewrite the routed sink with cross-batch replays resolved
    latest-by-ts (exact batch-W1 parity): a (conv_id, turn_idx) replayed
    with a newer ts in a LATER micro-batch ends up as the only row for
    that turn in its sink, carrying the newer text.

    Crash safety mirrors Catalog.merge_upsert's parquet fallback: the
    deduped frame lands in a temp sibling directory first, then two
    renames swap it over sink_dir — the old sink survives on disk until
    the new copy is fully written (a brief window where the path is
    absent is the documented residual).

    Scale: one window shuffle on (sink_name, conv_id, turn_idx) — the
    full composite key, so hot conversations spread across the cluster —
    plus a partitioned rewrite of the sink. O(sink) per call by design:
    run it at reconcile cadence (e.g. after every availableNow drain or
    every Nth), not per micro-batch; between compactions readers needing
    exact semantics use read_sink_deduped."""
    import shutil

    tmp = f"{sink_dir}.tmp-{os.getpid()}"
    old = f"{sink_dir}.old"
    (read_sink_deduped(spark, sink_dir)
     .write.mode("overwrite").partitionBy("sink_name").parquet(tmp))
    shutil.rmtree(old, ignore_errors=True)
    os.rename(sink_dir, old)
    os.rename(tmp, sink_dir)
    shutil.rmtree(old, ignore_errors=True)


def streaming_tumbling_counts(turns: DataFrame,
                              window: str = "10 minutes",
                              watermark: str = "1 hour") -> DataFrame:
    """Event-time tumbling-window per-role counts over the turn stream —
    the streaming twin of the batch `pipe_tumbling_window` contract
    query, built on Spark's watermark + window stateful aggregation.

    Late-data semantics (the part batch can't express): a turn arriving
    AFTER its window closed but within the watermark horizon still
    counts toward its window (the aggregate is held in state until the
    watermark passes window end); a turn older than the watermark is
    dropped at the source. In append output mode a window emits exactly
    once, when the watermark passes its end — so downstream sinks see
    each (window, role) row once, final.

    Scale: state is (windows-in-horizon x roles) rows — bounded by the
    watermark, independent of stream length; the agg is map-side
    combined per micro-batch like any hash aggregate."""
    return (
        turns.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("win"), F.col("role"))
        .agg(F.count(F.lit(1)).alias("n_turns"))
        .select(F.col("win.start").alias("window_start"),
                F.col("win.end").alias("window_end"),
                "role", "n_turns")
    )


def streaming_sliding_counts(turns: DataFrame,
                             window: str = "30 minutes",
                             slide: str = "10 minutes",
                             watermark: str = "1 hour") -> DataFrame:
    """Hopping-window per-role counts — the streaming twin of the
    batch `events_sliding_window` contract query. Each event lands in
    window/slide overlapping windows; Spark's Expand does the fan-out
    inside the stateful aggregate, so state is (windows-in-horizon x
    overlap x roles) rows — still watermark-bounded, just `overlap`
    times the tumbling footprint. Append mode emits each window once,
    final, when the watermark passes its end."""
    return (
        turns.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window, slide).alias("win"),
                 F.col("role"))
        .agg(F.count(F.lit(1)).alias("n_turns"))
        .select(F.col("win.start").alias("window_start"),
                F.col("win.end").alias("window_end"),
                "role", "n_turns")
    )


def run_incremental(
    spark: SparkSession,
    input_dir: str,
    lookup_df: DataFrame,
    rules: list[Rule],
    sink_dir: str,
    checkpoint_dir: str,
    cross_batch_dedup: bool = False,
    watermark: str = "1 hour",
    available_now: bool = True,
    compact: bool = False,
) -> None:
    """Drain all unprocessed input files through parse→enrich→route and
    append routed rows to sink_dir partitioned by sink_name. Re-running
    with the same checkpoint_dir processes only NEW files (offset
    resume, reference server.go:68-76). Duplicates within a micro-batch
    resolve latest-wins (exact W1 parity with the batch pipeline);
    set cross_batch_dedup for the stateful replay guard (first-wins
    across batches — see streaming_dedup), or compact=True to run a
    sink-side latest-wins compaction after the drain so cross-batch
    replays resolve latest-by-ts exactly like batch W1."""
    turns = read_turns_stream(spark, input_dir)
    if cross_batch_dedup:
        turns = streaming_dedup(turns, watermark)

    def process(batch: DataFrame, batch_id: int) -> None:
        routed = transform(batch, lookup_df, rules).drop("bucket")
        routed.write.mode("append").partitionBy("sink_name").parquet(sink_dir)

    writer = (turns.writeStream.foreachBatch(process)
              .option("checkpointLocation", checkpoint_dir))
    if available_now:
        q = writer.trigger(availableNow=True).start()
    else:
        q = writer.start()
    q.awaitTermination()
    if compact and os.path.exists(sink_dir):
        compact_sink_latest_wins(spark, sink_dir)
