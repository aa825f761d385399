"""Gap-based sessionization over an event stream.

The reference has no time windows (collection is a continuous tail —
SURVEY §2.5/§2.6); sessionization is the batch analog of its
per-stream continuity bookkeeping (offset runs per (service,pod),
pkg/apis/yamecloud/v1/slack_type.go:28-31) and a staple of log
analytics, so we provide it as a first-class operator.

Plan shape: ONE shuffle on the session key; both window functions
(lag, running sum) share the same (partitionBy key, orderBy ts)
window spec, so Catalyst evaluates them in a single Window physical
node over a single sort — adding the second window costs nothing.
Epoch math uses unix_timestamp (second-floored) so results are
engine-portable for the oracle contract.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def sessionize(
    df: DataFrame,
    key: str = "user_id",
    ts_col: str = "ts",
    order_tiebreak: str | None = None,
    gap_seconds: int = 1800,
    out_col: str = "session_id",
) -> DataFrame:
    """Append `session_id` (1-based per key): a new session starts when
    the gap to the previous event exceeds gap_seconds."""
    order = [F.col(ts_col)] + ([F.col(order_tiebreak)] if order_tiebreak else [])
    w = Window.partitionBy(key).orderBy(*order)
    epoch = F.unix_timestamp(F.col(ts_col))
    prev = F.lag(epoch).over(w)
    is_new = F.when(prev.isNull() | ((epoch - prev) > gap_seconds), 1).otherwise(0)
    running = Window.partitionBy(key).orderBy(*order).rowsBetween(
        Window.unboundedPreceding, Window.currentRow)
    return df.withColumn(out_col, F.sum(is_new).over(running))


def sessionize_capped(
    df: DataFrame,
    key: str,
    ts_us_col: str,
    gap_us: int,
    max_dur_us: int,
    tiebreak: str | None = None,
    out_col: str = "session_id",
) -> DataFrame:
    """Sessionize with BOTH an inactivity gap and a max-duration cap:
    a new session starts when the gap to the previous event exceeds
    ``gap_us`` OR the event would land more than ``max_dur_us`` after
    the CURRENT session's first event.

    Unlike plain gap sessionization (one lag window), the duration
    cap is inherently sequential — each split decision depends on the
    session start chosen by all previous decisions, so no fixed
    composition of window functions expresses it. This is the
    applyInPandas case: one shuffle on the key, then a per-key Arrow
    batch walks the sorted timestamps (numpy arrays, one pass). State
    per key is two integers; the cost bound is the largest single
    key's row count, same axis as every per-key sort here. The oracle
    twin runs the identical recurrence as a per-key recursive CTE.
    """
    import pandas as pd  # noqa: F401 — applyInPandas contract

    out_schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields
    ) + f", {out_col} bigint"
    order_cols = [ts_us_col] + ([tiebreak] if tiebreak else [])

    def walk(pdf):
        import numpy as np
        pdf = pdf.sort_values(order_cols, kind="mergesort")
        us = pdf[ts_us_col].to_numpy()
        n = len(us)
        sid = np.empty(n, dtype="int64")
        # gap splits are embarrassingly vectorizable (one diff); only
        # the duration cap is sequential, and WITHIN a gap segment
        # each duration session's end is a binary search — so python
        # iterates once per SESSION, not once per row
        gap_starts = np.flatnonzero(np.diff(us) > gap_us) + 1
        bounds = np.concatenate(([0], gap_starts, [n]))
        cur = 0
        for a, b in zip(bounds[:-1], bounds[1:]):
            i = a
            while i < b:
                cur += 1
                j = min(int(np.searchsorted(
                    us, us[i] + max_dur_us, side="right")), b)
                sid[i:j] = cur
                i = j
        pdf[out_col] = sid
        return pdf

    return df.groupBy(key).applyInPandas(walk, schema=out_schema)


def session_rollup(df: DataFrame, key: str = "user_id",
                   ts_col: str = "ts", gap_seconds: int = 1800
                   ) -> DataFrame:
    """Sessionize + roll up to one row per (key, session_id):
    n_turns, session_start, session_end — the committed-session-table
    shape that ``sessionize_incremental`` maintains."""
    s = sessionize(df, key=key, ts_col=ts_col, gap_seconds=gap_seconds)
    return (s.groupBy(key, "session_id")
            .agg(F.count(F.lit(1)).cast("long").alias("n_turns"),
                 F.min(ts_col).alias("session_start"),
                 F.max(ts_col).alias("session_end")))


def sessionize_incremental(prior: DataFrame, new_events: DataFrame,
                           key: str = "user_id", ts_col: str = "ts",
                           gap_seconds: int = 1800) -> DataFrame:
    """Incrementally maintain a committed session-rollup table
    (``session_rollup`` shape) as new events arrive, recomputing ONLY
    the keys the delta touches — for the nightly delta over a
    committed table, where replaying all history per run is the scale
    bug.

    Correctness rests on an interval-merge identity: a session is a
    maximal run of events with internal gaps <= gap, so its INTERIOR
    never changes membership — only boundaries can. Each prior
    session therefore participates as one [start, end] interval
    carrying its n_turns, each new event as a point interval of
    weight 1, and re-running gap-sessionization over the interval
    starts (break when start - running_max(prev ends) > gap) merges
    exactly the sessions/events a full recompute would. The contract
    oracle IS the full recompute (identity proof).

    Plan: untouched keys pass through with a broadcast-able LEFT ANTI
    join against the delta's distinct keys (no window touches them);
    affected keys re-segment over |their sessions| + |delta| rows,
    both tiny next to raw history. Session ids renumber 1..n per key
    by start (ids are per-key contiguous labels, not stable handles —
    same convention as the batch operator).
    """
    touched = new_events.select(F.col(key)).distinct()
    keep = prior.join(F.broadcast(touched), key, "left_anti")
    iv = (prior.join(F.broadcast(touched), key)
          .select(key, F.col("session_start").alias("_s"),
                  F.col("session_end").alias("_e"),
                  F.col("n_turns").alias("_n"))
          .unionByName(
              new_events.select(key, F.col(ts_col).alias("_s"),
                                F.col(ts_col).alias("_e"),
                                F.lit(1).cast("long").alias("_n"))))
    w = Window.partitionBy(key).orderBy("_s", "_e")
    run = w.rowsBetween(Window.unboundedPreceding, -1)
    se = F.unix_timestamp(F.col("_s"))
    prev_end = F.max(F.unix_timestamp(F.col("_e"))).over(run)
    is_new = F.when(prev_end.isNull()
                    | ((se - prev_end) > gap_seconds), 1).otherwise(0)
    # two windows, same (key, _s, _e) sort -> one exchange + one sort;
    # the break flag must be a materialized column before the running
    # sum (window functions cannot nest in one expression)
    seg = iv.withColumn("_brk", is_new).withColumn(
        "_sid", F.sum("_brk").over(
            w.rowsBetween(Window.unboundedPreceding, 0))).drop("_brk")
    merged = (seg.groupBy(key, "_sid")
              .agg(F.sum("_n").cast("long").alias("n_turns"),
                   F.min("_s").alias("session_start"),
                   F.max("_e").alias("session_end"))
              .withColumnRenamed("_sid", "session_id"))
    return keep.unionByName(merged)
