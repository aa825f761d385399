"""Window-ranked dedup (SURVEY W1/W2).

Reference invariant: offsets strictly increase per stream and replay
from an offset must not duplicate (pkg/command/cmd.go:26,
slack_type.go:28-31, offset-recovery join server.go:68-76); watch
events resolve last-writer-wins (pkg/api/slack_task.go:117-133).

Batch formalization: keep exactly one row per (conv_id, turn_idx),
the latest by ts (tie-broken deterministically by text) — "per-turn
text equality under stable turn ordering".

Scale: a single shuffle. By default the window partitions by the
full composite key (conv_id, turn_idx), so a hot conversation's turns
hash across the cluster. The job (plans/job.py:transform) keys it on
(_pid, conv_id, turn_idx) instead, where _pid = (owned bucket, salt)
and the salt is a hash of (conv_id, turn_idx): its shuffle also lays
out the sink write, and the salt spreads a hot conversation over its
bucket's tasks. Either key is a function of (conv_id, turn_idx), so
the survivors are the same. Each window group is tiny (duplicate
count per turn, ~1-2 rows), so the sort inside groups is cheap.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def dedup_latest_wins(
    df: DataFrame,
    keys: list[str] = ("conv_id", "turn_idx"),
    order_ts: str = "ts",
    tiebreak: str = "text",
) -> DataFrame:
    w = Window.partitionBy(*keys).orderBy(F.col(order_ts).desc(), F.col(tiebreak).desc())
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn")
    )


def debounce(
    df: DataFrame,
    keys: list[str],
    ts_us,
    tolerance_us: int,
    tiebreak: list[str] = (),
    keep_flag: str | None = None,
) -> DataFrame:
    """Time-tolerance dedup: within each key, a row arriving within
    ``tolerance_us`` of the PREVIOUS RAW row is a duplicate (sensor
    chatter, double-click, at-least-once replay with clock skew).

    Deliberately lag-based (previous raw row, not previous survivor):
    one window pass, no iteration, and the common burst pattern —
    many repeats inside one tolerance window — collapses to its first
    row either way. ``ts_us`` is a bigint microsecond expression.

    With ``keep_flag`` set, returns all rows annotated with a 0/1
    column of that name; otherwise returns survivors only. Same
    single-shuffle profile as dedup_latest_wins: the window partitions
    on the full key list.
    """
    order = [F.col("_ts_us").asc()] + [F.col(c).asc() for c in tiebreak]
    w = Window.partitionBy(*keys).orderBy(*order)
    prev = F.lag("_ts_us").over(w)
    keep = prev.isNull() | (F.col("_ts_us") - prev > tolerance_us)
    out = (df.withColumn("_ts_us", ts_us)
           .withColumn("_keep", keep.cast("int")))
    if keep_flag is not None:
        return out.withColumnRenamed("_keep", keep_flag).drop("_ts_us")
    return out.where(F.col("_keep") == 1).drop("_keep", "_ts_us")


def merge_consecutive(
    df: DataFrame,
    key: str = "conv_id",
    order_col: str = "turn_idx",
    value_col: str = "role",
    text_col: str = "text",
    sep: str = "\n",
) -> DataFrame:
    """Collapse consecutive same-`value_col` rows per key into one
    block — the transcript-normalization pass that merges consecutive
    same-speaker turns before training-example assembly (two adjacent
    'assistant' turns are one logical message).

    Output: (key, block_idx, value_col, n_turns, text) with block_idx
    contiguous from 1 per key and text the in-order sep-join of the
    block's texts.

    Plan: ONE shuffle on the key — lag + running-sum share a single
    (key, order) window sort, and the block groupBy reuses the same
    hash partitioning. The per-block text join is collect_list of
    (order, text) structs re-sorted in place: collect_list alone has
    no order guarantee under retries/merges, array_sort makes the
    result deterministic without a second window."""
    w = Window.partitionBy(key).orderBy(order_col)
    is_new = F.when(
        F.lag(F.col(value_col)).over(w).isNull()
        | (F.lag(F.col(value_col)).over(w) != F.col(value_col)), 1
    ).otherwise(0)
    run = Window.partitionBy(key).orderBy(order_col).rowsBetween(
        Window.unboundedPreceding, Window.currentRow)
    blocks = df.withColumn("_blk", F.sum(is_new).over(run))
    merged_text = F.array_join(
        F.transform(
            F.array_sort(F.collect_list(
                F.struct(F.col(order_col).alias("o"),
                         F.col(text_col).alias("t")))),
            lambda s: s.getField("t")),
        sep)
    return (blocks.groupBy(key, F.col("_blk").alias("block_idx"))
            .agg(F.first(value_col).alias(value_col),
                 F.count(F.lit(1)).alias("n_turns"),
                 merged_text.alias("text")))
