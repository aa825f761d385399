"""Per-bucket checkpoint + resume (SURVEY T2/T3, J3).

Reference behavior: agents resume tailing from the recorded byte
offset per (service, pod) (pkg/api/server.go:68-76,
pkg/apis/yamecloud/v1/slack_type.go:28-31) and count records per pod;
reconcile loops retry and skip completed work.

Batch formalization: the input is bucketed by pmod(xxhash64(conv_id), B).
A completed bucket writes its stats as its 'done' rows, one per
(bucket, sink_name, role): n_rows, parse_errors, and the sink's
distinct-conversation count in that bucket (carried on each role row).
A run collects its snapshot's done rows once on the driver (at most
B x sinks x roles rows); the buckets without one are the run's OWNED
buckets, and that set alone drives the input filter, the sink-cell
clear, the stats read-back and the done rows appended at the end.
An owned bucket has no done row until that final append, so a crash
anywhere before it leaves the bucket owned and the next run clears
and rewrites it — idempotence without read-side dedup.

Scale: the job's one shuffle gives each owned bucket
ceil(cores / |owned|) tasks (plans/job.py:transform), so with
|owned| >= cores a bucket is exactly one task and one sort. Size B to
at least the core count, and large enough that one bucket is a task's
worth of input: at 10^12 turns (~100 TB) B=4096 puts ~25 GB in each
task, B ~10^5 about 1 GB (a driver-side checkpoint of ~B x 20 rows).
Bucket id is a pure function of conv_id, so all turns of a
conversation live in one bucket: per-conv semantics (dedup, ordering)
never cross buckets, and distinct-conversation counts add up exactly
across buckets.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from logging_spark.schema import CHECKPOINT
from logging_spark.sources.catalog import Catalog

CHECKPOINT_TABLE = "meta.checkpoint"
# bucket, sink_name, role, n_rows, parse_errors, n_distinct_conv
STATS_COLS = CHECKPOINT.fieldNames()[:6]


def with_bucket(df: DataFrame, num_buckets: int, key: str = "conv_id") -> DataFrame:
    return df.withColumn(
        "bucket", F.pmod(F.xxhash64(F.col(key)), F.lit(num_buckets)).cast("int")
    )


def done_rows(catalog: Catalog, input_snapshot: str) -> pd.DataFrame:
    """The snapshot's done rows (STATS_COLS), collected on the driver."""
    if not catalog.table_exists(CHECKPOINT_TABLE):
        return pd.DataFrame(columns=STATS_COLS)
    return (catalog.read(CHECKPOINT_TABLE)
            .where((F.col("input_snapshot") == input_snapshot)
                   & (F.col("state") == "done"))
            .select(*STATS_COLS).toPandas())


def owned(done: pd.DataFrame, num_buckets: int) -> list[int]:
    """Buckets in range(num_buckets) with no done row."""
    return sorted(set(range(num_buckets)) - set(done["bucket"].astype(int)))


def pending(df_bucketed: DataFrame, catalog: Catalog, input_snapshot: str) -> DataFrame:
    """Rows of buckets with no done row under input_snapshot: a literal
    IN-list filter, no join and no broadcast of the checkpoint."""
    done = sorted(set(done_rows(catalog, input_snapshot)["bucket"].astype(int)))
    return df_bucketed.where(~F.col("bucket").isin(done)) if done else df_bucketed


def record_done(catalog: Catalog, stats: pd.DataFrame, input_snapshot: str) -> None:
    """stats: pandas rows of STATS_COLS. Appends them as 'done' rows
    stamped with the driver clock. Arrow createDataFrame with the
    pinned schema: no Python workers, and `bucket` is bigint like an
    inferred Python int, so rows re-appended from a collect never mix
    INT32 and INT64 files (a mix fails the next read). No rows, no
    append."""
    if stats.empty:
        return
    # the stamp is a data value: current_timestamp() folds into a
    # literal of the generated code, a new class to compile every run
    rows = stats.assign(input_snapshot=input_snapshot, state="done",
                        updated_ts=pd.Timestamp.now(tz="UTC"))
    df = catalog.spark.createDataFrame(rows[CHECKPOINT.fieldNames()], schema=CHECKPOINT)
    # <= B x sinks x roles rows: one file per append
    catalog.append(df.coalesce(1), CHECKPOINT_TABLE)
