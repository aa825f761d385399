"""events family: contract queries — split mechanically from the original single contract module; statement order preserved."""

from __future__ import annotations

from logging_spark.contract._fixtures import (
    DataFrame, F, Window, _read, asof_join, cohort_retention, debounce,
    ecdf_normalize, equidepth_histogram, funnel_counts, hash60,
    interval_join, profile_columns, scd2, scd2_lookup,
    sequence_pattern_matches, sessionize, skew_split_join, snapshot_diff,
    spike_flags, winsorized_stats)


def register(q):

    # hopping (sliding) window: 6-hour windows every hour — each event
    # lands in 6 overlapping windows. Spark's window(slide=...) does
    # the 6-way expansion inside the Expand operator (no self-join);
    # the oracle makes the same expansion explicit with a lateral
    # generate_series unnest. countDistinct is exact per window.
    def events_sliding_window(spark, sf):
        ev = _read(spark, sf, "events")
        return (ev.groupBy(F.window("ts", "6 hours", "1 hour").alias("w"))
                .agg(F.count(F.lit(1)).alias("n_events"),
                     F.countDistinct("user_id").alias("n_users"))
                .select(F.date_format(F.col("w.start"), "yyyy-MM-dd HH:00")
                        .alias("window_start"),
                        "n_events", "n_users"))
    q["events_sliding_window"] = events_sliding_window

    # -- ordered-step funnel (operators/funnel.py): strict min-ts
    # chaining — step i needs an event strictly after the user's
    # earliest qualifying step-(i-1) event
    q["events_funnel"] = lambda spark, sf: funnel_counts(
        _read(spark, sf, "events"), ["signup", "click", "purchase"])

    # -- as-of join (operators/asof.py): every non-error event gets the
    # most recent error at-or-before it for its user; timestamps
    # surface as epoch-µs longs so both engines hash identical integers
    def events_asof_last_error(spark, sf):
        ev = _read(spark, sf, "events")
        err = (ev.where(F.col("event_type") == "error")
               .groupBy("user_id", "ts")
               .agg(F.max("event_id").alias("error_event_id"))
               .select("user_id", F.col("ts").alias("error_ts"),
                       "error_event_id"))
        lft = ev.where(F.col("event_type") != "error").select(
            "event_id", "user_id", "ts", "event_type")
        j = asof_join(lft, err, on="user_id", left_ts="ts",
                      right_ts="error_ts",
                      payload_cols=["error_ts", "error_event_id"])
        # events.ts is TIMESTAMP_NTZ; the session tz is pinned UTC
        # (session.py), so the cast to TIMESTAMP is epoch-faithful.
        # Events before the user's first error have no match (ASOF LEFT
        # JOIN): -1 sentinels keep the contract output NULL-free so
        # row-sorting comparators never see None-vs-int.
        us = lambda c: F.unix_micros(F.col(c).cast("timestamp"))  # noqa: E731
        return j.select(
            "event_id", "user_id",
            us("ts").alias("ts_us"),
            "event_type",
            F.coalesce("error_event_id", F.lit(-1)).alias("error_event_id"),
            F.coalesce(us("ts") - us("error_ts"), F.lit(-1))
            .alias("us_since_error"),
        )
    q["events_asof_last_error"] = events_asof_last_error

    # -- bucketized interval join (operators/asof.py): non-error events
    # landing inside any [error_ts, error_ts + 10 min) incident window
    # of the same user, rolled up per incident. Cents-exact value sum.
    def events_incident_rollup(spark, sf):
        ev = _read(spark, sf, "events")
        inc = ev.where(F.col("event_type") == "error").select(
            F.col("event_id").alias("incident_id"), "user_id",
            F.col("ts").alias("start_ts"),
            (F.col("ts") + F.expr("INTERVAL 10 MINUTES")).alias("end_ts"))
        pts = ev.where(F.col("event_type") != "error").select(
            "event_id", "user_id", "ts", "value")
        j = interval_join(pts, inc, on="user_id", ts="ts",
                          start="start_ts", end="end_ts", bucket_s=600)
        return (j.groupBy("incident_id")
                .agg(F.count(F.lit(1)).alias("n_events"),
                     F.sum(F.round(F.col("value") * 100).cast("long"))
                      .alias("value_cents")))
    q["events_incident_rollup"] = events_incident_rollup

    # -- sequence pattern matching (operators/sequence.py): regex over
    # per-user coded event histories — MATCH_RECOGNIZE-lite; this
    # pattern is the signup→click→purchase funnel as a regex
    EVENT_ALPHABET = {"signup": "S", "click": "C", "purchase": "P",
                      "view": "V", "error": "E"}

    def events_sequence_match(spark, sf):
        return sequence_pattern_matches(
            _read(spark, sf, "events"), r"S.*C.*P", EVENT_ALPHABET)
    q["events_sequence_match"] = events_sequence_match

    # event transition matrix: Markov bigram counts over each user's
    # (ts, event_id)-ordered stream — one window shuffle + one agg
    def events_transitions(spark, sf):
        ev = _read(spark, sf, "events")
        w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        return (ev.withColumn("_next", F.lead("event_type").over(w))
                .where(F.col("_next").isNotNull())
                .groupBy(F.col("event_type").alias("from_type"),
                         F.col("_next").alias("to_type"))
                .agg(F.count(F.lit(1)).alias("n")))
    q["events_transitions"] = events_transitions

    # -- SCD2 history (operators/scd.py): each user's event_type as a
    # tracked attribute — consecutive duplicates collapse, every change
    # opens a [valid_from, valid_to) microsecond interval, the last
    # interval stays open (sentinel -1, is_current=1). Both window
    # passes reuse one (user_id, ts) sort.
    def events_scd2(spark, sf):
        ev = _read(spark, sf, "events")
        us = F.unix_micros(F.col("ts").cast("timestamp"))
        return scd2(ev, key="user_id", attr="event_type", ts=us,
                    tiebreak=["event_id"])
    q["events_scd2"] = events_scd2

    # -- SCD2 temporal lookup (operators/scd.py scd2_lookup): the
    # read side of SCD2 — "what was each user's state an hour before
    # this event", resolved as an as-of join on interval starts (one
    # equi-shuffle, never a range join). Rolled up (current type ×
    # prior state); pre-history facts coalesce to 'none'.
    def events_scd2_lookup(spark, sf):
        ev = _read(spark, sf, "events")
        us = F.unix_micros(F.col("ts").cast("timestamp"))
        dim = scd2(ev, key="user_id", attr="event_type", ts=us,
                   tiebreak=["event_id"]) \
            .withColumnRenamed("event_type", "state")
        facts = ev.select("user_id", "event_type",
                          (us - 3600 * 1_000_000).alias("_lts"))
        looked = scd2_lookup(facts, dim, key="user_id",
                             fact_ts="_lts", attr="state")
        return (looked.groupBy(
                    "event_type",
                    F.coalesce(F.col("state"), F.lit("none"))
                     .alias("state_1h_ago"))
                .agg(F.count(F.lit(1)).alias("n")))
    q["events_scd2_lookup"] = events_scd2_lookup

    # -- integer EWMA (operators/timeseries.py ewma_fold): recursive
    # smoothing of hourly counts as a HOF fold — no UDF, no per-row
    # Python; oracle runs the identical recurrence as a recursive CTE.
    def events_ewma_hourly(spark, sf):
        from logging_spark.operators.timeseries import ewma_fold
        ev = _read(spark, sf, "events")
        hourly = (ev.groupBy(
                      F.col("event_type"),
                      F.expr("CAST(unix_timestamp(CAST(ts AS timestamp))"
                             " DIV 3600 AS BIGINT)").alias("h"))
                  .agg(F.count(F.lit(1)).alias("n")))
        return ewma_fold(hourly, key="event_type", order_col="h",
                         value_col="n", den=4)
    q["events_ewma_hourly"] = events_ewma_hourly

    # -- session-level co-occurrence (market-basket lift): which event
    # types appear together in a session more than chance. Baskets =
    # sessionized distinct types (≤5 per session, so the pair self-
    # join fans out quadratically only in the per-basket type count);
    # lift in integral ppm (overflow-safe to ~3e6 sessions — beyond
    # that emit the exact integer components only).
    def events_cooccurrence(spark, sf):
        ev = _read(spark, sf, "events")
        s = sessionize(ev, order_tiebreak="event_id")
        st = (s.select("user_id", "session_id", "event_type")
              .distinct().localCheckpoint())
        a = st.select(F.col("user_id").alias("_u"),
                      F.col("session_id").alias("_s"),
                      F.col("event_type").alias("e1"))
        b = st.select(F.col("user_id").alias("_u"),
                      F.col("session_id").alias("_s"),
                      F.col("event_type").alias("e2"))
        pairs = (a.join(b, ["_u", "_s"])
                 .where(F.col("e1") < F.col("e2"))
                 .groupBy("e1", "e2")
                 .agg(F.count(F.lit(1)).alias("n_co")))
        totals = (st.groupBy(F.col("event_type").alias("e1"))
                  .agg(F.count(F.lit(1)).alias("n_e1")))
        totals2 = totals.select(F.col("e1").alias("e2"),
                                F.col("n_e1").alias("n_e2"))
        ns = (st.select("user_id", "session_id")
              .distinct().agg(F.count(F.lit(1)).alias("n_sessions")))
        return (pairs.join(F.broadcast(totals), "e1")
                .join(F.broadcast(totals2), "e2")
                .crossJoin(F.broadcast(ns))
                .withColumn("lift_ppm", F.expr(
                    "CAST((n_co * n_sessions * 1000000)"
                    " DIV (n_e1 * n_e2) AS BIGINT)")))
    q["events_cooccurrence"] = events_cooccurrence

    # -- rolling 7-day active users: sliding-window COUNT(DISTINCT)
    # done scalably — each distinct (user, day) pair explodes into the
    # ≤7 report days it contributes to (bounded 7× expansion of the
    # already-deduped pair set), then one distinct-count per report
    # day. Never a per-day self-join over the raw events; the oracle
    # is the naive inequality join, so equality proves the expansion
    # lossless.
    def events_rolling_wau(spark, sf):
        ev = _read(spark, sf, "events")
        day = F.expr("CAST(unix_timestamp(CAST(ts AS timestamp))"
                     " DIV 86400 AS BIGINT)")
        ud = ev.select("user_id", day.alias("day")).distinct()
        obs = ud.select("day").distinct()
        expanded = (ud.select(
            "user_id", "day",
            F.explode(F.sequence(F.lit(0), F.lit(6))).alias("_off"))
            .select("user_id",
                    (F.col("day") + F.col("_off")).alias("rday")))
        # report only OBSERVED days (matches the oracle's day list;
        # a globally-dead day inside the range reports nothing)
        return (expanded.join(F.broadcast(obs),
                              expanded["rday"] == obs["day"], "left_semi")
                .groupBy(F.col("rday").alias("day"))
                .agg(F.countDistinct("user_id").cast("long")
                      .alias("wau")))
    q["events_rolling_wau"] = events_rolling_wau

    # -- rollup mergeability: the daily table built FROM the hourly
    # table (the incremental re-aggregation path plans/job.py relies
    # on) must equal a direct daily aggregation — the oracle computes
    # daily DIRECTLY from events, so a green row proves count/sum
    # mergeability across granularities.
    def events_daily_from_hourly(spark, sf):
        ev = _read(spark, sf, "events")
        hourly = (ev.groupBy(
                      F.col("event_type"),
                      F.expr("CAST(unix_timestamp(CAST(ts AS timestamp))"
                             " DIV 3600 AS BIGINT)").alias("h"))
                  .agg(F.count(F.lit(1)).alias("n"),
                       F.sum(F.round(F.col("value") * 100).cast("long"))
                        .alias("cents")))
        return (hourly.groupBy(
                    "event_type",
                    F.expr("CAST(h DIV 24 AS BIGINT)").alias("day"))
                .agg(F.sum("n").cast("long").alias("n"),
                     F.sum("cents").cast("long").alias("sum_cents")))
    q["events_daily_from_hourly"] = events_daily_from_hourly

    # -- top event trigrams: per-user ordered 3-step patterns, global
    # top-10 — the sequence-mining readout beyond the bigram
    # transition matrix. Two leads share one (user, ts) sort.
    def events_top_trigrams(spark, sf):
        ev = _read(spark, sf, "events")
        w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        d = (ev.withColumn("_b", F.lead("event_type", 1).over(w))
             .withColumn("_c", F.lead("event_type", 2).over(w))
             .where(F.col("_c").isNotNull()))
        return (d.groupBy(F.col("event_type").alias("e1"),
                          F.col("_b").alias("e2"), F.col("_c").alias("e3"))
                .agg(F.count(F.lit(1)).alias("n"))
                .orderBy(F.col("n").desc(), "e1", "e2", "e3").limit(10))
    q["events_top_trigrams"] = events_top_trigrams

    # -- CUSUM change-point (operators/timeseries.py cusum_fold):
    # Page's upward-shift statistic over hourly rates, reference k =
    # the type's integer mean rate; peak position localizes the shift.
    def events_cusum_hourly(spark, sf):
        from logging_spark.operators.timeseries import cusum_fold
        ev = _read(spark, sf, "events")
        hourly = (ev.groupBy(
                      F.col("event_type"),
                      F.expr("CAST(unix_timestamp(CAST(ts AS timestamp))"
                             " DIV 3600 AS BIGINT)").alias("h"))
                  .agg(F.count(F.lit(1)).alias("n")))
        k = (hourly.groupBy("event_type")
             .agg(F.expr("CAST(sum(n) DIV count(*) AS BIGINT)")
                  .alias("k")))
        return cusum_fold(hourly.join(F.broadcast(k), "event_type"),
                          key="event_type", order_col="h",
                          value_col="n", ref_col="k")
    q["events_cusum_hourly"] = events_cusum_hourly

    # -- time-in-state from SCD2 intervals: total dwell per state,
    # open intervals capped at the user's last event. The natural
    # consumer of scd2(): "how long do users sit in each state".
    def events_state_dwell(spark, sf):
        ev = _read(spark, sf, "events")
        us = F.unix_micros(F.col("ts").cast("timestamp"))
        dim = scd2(ev, key="user_id", attr="event_type", ts=us,
                   tiebreak=["event_id"])
        cap = ev.groupBy("user_id").agg(F.max(us).alias("_cap"))
        j = dim.join(cap, "user_id")
        end = F.when(F.col("valid_to") == -1, F.col("_cap")) \
               .otherwise(F.col("valid_to"))
        return (j.groupBy(F.col("event_type").alias("state"))
                .agg(F.sum(end - F.col("valid_from")).cast("long")
                      .alias("dwell_us"),
                     F.count(F.lit(1)).alias("n_intervals")))
    q["events_state_dwell"] = events_state_dwell

    # -- snapshot diff / CDC (operators/diff.py): per-user activity
    # stats at two as-of dates, keyed full-outer hash diff. Monotone
    # event log => no 'removed' rows; 'added' = first-seen users,
    # 'changed' = users active between the two as-of points.
    def events_snapshot_diff(spark, sf):
        ev = _read(spark, sf, "events")

        def snap(until: str) -> DataFrame:
            return (ev.where(F.col("ts") < F.lit(until).cast("timestamp_ntz"))
                    .groupBy("user_id")
                    .agg(F.count(F.lit(1)).alias("n_events"),
                         F.sum(F.round(F.col("value") * 100).cast("long"))
                          .alias("sum_cents")))
        return snapshot_diff(
            snap("2024-01-20 00:00:00"), snap("2024-01-28 00:00:00"),
            keys=["user_id"], compare=["n_events", "sum_cents"])
    q["events_snapshot_diff"] = events_snapshot_diff

    # -- winsorized aggregation (operators/winsorize.py): per-type
    # exact-percentile clip bounds broadcast back onto the facts;
    # integer-cent sums so no double-summation drift.
    def events_winsorized(spark, sf):
        return winsorized_stats(_read(spark, sf, "events"),
                                value="value", group="event_type",
                                lo_p=0.05, hi_p=0.95)
    q["events_winsorized"] = events_winsorized

    # -- time-tolerance dedup (operators/dedup.py debounce): events
    # within 30 min of the previous raw event per user are chatter.
    # Rolled up per type so the contract output is partition-stable.
    def events_debounce(spark, sf):
        ev = _read(spark, sf, "events")
        us = F.unix_micros(F.col("ts").cast("timestamp"))
        flagged = debounce(ev, keys=["user_id"], ts_us=us,
                           tolerance_us=1800 * 1_000_000,
                           tiebreak=["event_id"], keep_flag="kept")
        return (flagged.groupBy("event_type")
                .agg(F.sum("kept").cast("long").alias("n_kept"),
                     F.sum(1 - F.col("kept")).cast("long")
                      .alias("n_dropped")))
    q["events_debounce"] = events_debounce

    # -- equi-width histogram: value binned at width 20, capped at bin
    # 19 — a pure projection + one agg, the plan any dashboard
    # histogram should compile to.
    def events_value_histogram(spark, sf):
        ev = _read(spark, sf, "events")
        b = F.least(F.floor(F.col("value") / 20.0), F.lit(19)).cast("int")
        return (ev.where(F.col("value").isNotNull())
                .groupBy("event_type", b.alias("bin"))
                .agg(F.count(F.lit(1)).alias("n"))
                .withColumn("bin_lo", (F.col("bin") * 20).cast("long")))
    q["events_value_histogram"] = events_value_histogram

    # -- cumulative distinct users: running distinct count WITHOUT
    # distinct-state — each user collapses to a first-touch day (one
    # per-user agg), then a running sum over the tiny per-day frame.
    def events_cumulative_users(spark, sf):
        ev = _read(spark, sf, "events")
        ft = (ev.groupBy("user_id")
              .agg(F.expr("CAST(unix_timestamp(min(CAST(ts AS timestamp)))"
                          " DIV 86400 AS BIGINT)").alias("day")))
        daily = ft.groupBy("day").agg(F.count(F.lit(1)).alias("n_new"))
        w = (Window.orderBy("day")
             .rowsBetween(Window.unboundedPreceding, Window.currentRow))
        return daily.withColumn(
            "running_users", F.sum("n_new").over(w).cast("long"))
    q["events_cumulative_users"] = events_cumulative_users

    # -- deterministic A/B assignment + conversion readout: arm is a
    # pure function of (seed, user) — stable across runs, engines and
    # partitionings; conversion rate in integral basis points.
    def events_ab_experiment(spark, sf):
        ev = _read(spark, sf, "events")
        per_user = (ev.groupBy("user_id")
                    .agg(F.max(F.when(F.col("event_type") == "purchase", 1)
                               .otherwise(0)).alias("_conv")))
        armed = per_user.withColumn(
            "arm", (hash60("user_id", "ab1") % 2).cast("int"))
        return (armed.groupBy("arm")
                .agg(F.count(F.lit(1)).alias("n_users"),
                     F.sum("_conv").cast("long").alias("n_converted"))
                .withColumn("conv_bps",
                            F.expr("CAST((n_converted * 10000) DIV n_users"
                                   " AS BIGINT)")))
    q["events_ab_experiment"] = events_ab_experiment

    # -- per-entity percentile then distribution: each user's median
    # inter-event gap (exact percentile per group), bucketed into a
    # global histogram — the two-level statistical rollup pattern.
    def events_median_gap_histogram(spark, sf):
        ev = _read(spark, sf, "events")
        w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        sec = F.unix_timestamp(F.col("ts").cast("timestamp"))
        gap = sec - F.lag(sec).over(w)
        per_user = (ev.withColumn("_gap", gap)
                    .where(F.col("_gap").isNotNull())
                    .groupBy("user_id")
                    .agg(F.expr("percentile(_gap, 0.5)").alias("_med")))
        bucket = F.least(F.floor(F.col("_med") / 21600).cast("long"),
                         F.lit(12))
        return (per_user.groupBy(bucket.alias("med_gap_6h_bucket"))
                .agg(F.count(F.lit(1)).alias("n_users")))
    q["events_median_gap_histogram"] = events_median_gap_histogram

    # -- first/last-touch attribution: each purchase credited to the
    # user's first-ever and most-recent preceding non-purchase event
    # type — the marketing-attribution classic as two ignorenulls
    # windows sharing one (user, ts) sort. 'none' = organic purchase.
    def events_attribution(spark, sf):
        ev = _read(spark, sf, "events")
        w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        touch = F.when(F.col("event_type") != "purchase",
                       F.col("event_type"))
        prior = w.rowsBetween(Window.unboundedPreceding, -1)
        d = (ev.withColumn("_first", F.first(touch, ignorenulls=True)
                           .over(prior))
             .withColumn("_last", F.last(touch, ignorenulls=True)
                         .over(prior)))
        return (d.where(F.col("event_type") == "purchase")
                .groupBy(F.coalesce("_first", F.lit("none"))
                          .alias("first_touch"),
                         F.coalesce("_last", F.lit("none"))
                          .alias("last_touch"))
                .agg(F.count(F.lit(1)).alias("n_purchases")))
    q["events_attribution"] = events_attribution

    # -- interval union via gaps-and-islands: each event covers ±5 min;
    # overlapping covers merge (island starts where start exceeds the
    # running max end of all predecessors), total covered time per
    # user. The classic interval-union idiom as two windows over one
    # (user, start) sort.
    def events_coverage_islands(spark, sf):
        ev = _read(spark, sf, "events")
        us = F.unix_micros(F.col("ts").cast("timestamp"))
        HALF = 300 * 1_000_000
        iv = ev.select("user_id", (us - HALF).alias("s"),
                       (us + HALF).alias("e"), "event_id")
        w = Window.partitionBy("user_id").orderBy("s", "event_id")
        prev_max = F.max("e").over(
            w.rowsBetween(Window.unboundedPreceding, -1))
        marked = iv.withColumn(
            "_new", F.when(prev_max.isNull()
                           | (F.col("s") > prev_max), 1).otherwise(0))
        wid = (Window.partitionBy("user_id").orderBy("s", "event_id")
               .rowsBetween(Window.unboundedPreceding, Window.currentRow))
        isl = marked.withColumn("_isl", F.sum("_new").over(wid))
        per_island = (isl.groupBy("user_id", "_isl")
                      .agg((F.max("e") - F.min("s")).alias("_cov")))
        return (per_island.groupBy("user_id")
                .agg(F.count(F.lit(1)).alias("n_islands"),
                     F.sum("_cov").cast("long").alias("covered_us")))
    q["events_coverage_islands"] = events_coverage_islands

    # -- session analytics e2e: sessionize -> per-session stats ->
    # daily rollup as ONE lazy plan (the composition a product
    # dashboard runs). Everything integer-exact (epoch seconds, DIV
    # days); the only wide deps are the sessionize window shuffle and
    # the two aggs.
    def events_session_analytics_e2e(spark, sf):
        ev = _read(spark, sf, "events")
        s = sessionize(ev, order_tiebreak="event_id")
        ep = F.unix_timestamp(F.col("ts")).cast("long")
        per = (s.groupBy("user_id", "session_id")
               .agg(F.count(F.lit(1)).alias("n_events"),
                    (F.max(ep) - F.min(ep)).alias("duration_s"),
                    F.sum(F.when(F.col("event_type") == "purchase", 1)
                          .otherwise(0)).cast("long").alias("n_purchases"),
                    F.expr("CAST(min(unix_timestamp(ts)) DIV 86400"
                           " AS BIGINT)").alias("start_day")))
        return (per.groupBy("start_day")
                .agg(F.count(F.lit(1)).alias("n_sessions"),
                     F.sum("n_events").cast("long").alias("n_events"),
                     F.sum("duration_s").cast("long")
                      .alias("sum_duration_s"),
                     F.sum("n_purchases").cast("long").alias("n_purchases"),
                     F.sum(F.when(F.col("n_events") == 1, 1).otherwise(0))
                      .cast("long").alias("n_bounce")))
    q["events_session_analytics_e2e"] = events_session_analytics_e2e

    # -- native Catalyst session windows (F.session_window): the
    # built-in gap-merge aggregation, same 1800 s boundary semantics
    # as operators/sessionize.py (merge at diff <= gap, split past
    # it — pinned against the window-sum operator in test_plans twin
    # queries AND by this shared oracle derivation). One shuffle on
    # (user, session), no window-function pass at all.
    def events_native_session_window(spark, sf):
        ev = _read(spark, sf, "events")
        g = ev.groupBy(
            "user_id",
            F.session_window(F.col("ts"), "30 minutes").alias("w"))
        return (g.agg(F.count(F.lit(1)).alias("n_events"))
                .select("user_id",
                        F.unix_micros(F.col("w.start").cast("timestamp"))
                         .alias("start_us"),
                        F.unix_micros(F.col("w.end").cast("timestamp"))
                         .alias("end_us"),
                        "n_events"))
    q["events_native_session_window"] = events_native_session_window

    # -- column profiling (operators/profile.py): the per-snapshot
    # data-quality audit — one Expand pass, every null + distinct count
    q["events_profile"] = lambda spark, sf: profile_columns(
        _read(spark, sf, "events"),
        ["event_id", "user_id", "event_type", "value"])

    # conversion latency: per-user first signup -> first LATER purchase,
    # delta quantiles in seconds (percentile ≡ quantile_cont bitwise)
    def events_conversion_latency(spark, sf):
        ev = _read(spark, sf, "events")
        es = lambda c: F.unix_timestamp(F.col(c).cast("timestamp"))  # noqa: E731
        s0 = (ev.where(F.col("event_type") == "signup")
              .groupBy("user_id").agg(F.min(es("ts")).alias("t0")))
        pu = ev.where(F.col("event_type") == "purchase").select(
            "user_id", es("ts").alias("tp"))
        conv = (pu.join(s0, "user_id").where(F.col("tp") >= F.col("t0"))
                .groupBy("user_id")
                .agg(F.min("tp").alias("t1"), F.first("t0").alias("t0")))
        d = (F.col("t1") - F.col("t0")).cast("double")
        return conv.agg(
            F.count(F.lit(1)).alias("n_converted"),
            F.percentile(d, F.lit(0.25)).alias("p25_s"),
            F.percentile(d, F.lit(0.5)).alias("p50_s"),
            F.percentile(d, F.lit(0.9)).alias("p90_s"))
    q["events_conversion_latency"] = events_conversion_latency

    # -- error-spike anomaly flags (operators/anomaly.py): Hampel
    # median/MAD rule over per-user weekly error counts
    def events_error_spikes(spark, sf):
        err = _read(spark, sf, "events").where(
            F.col("event_type") == "error")
        return spike_flags(err, key_col="user_id", k_mad=3)
    q["events_error_spikes"] = events_error_spikes

    # -- cohort retention (operators/cohort.py): epoch-week cohorts ×
    # weeks-since-first-activity; distinct pass + one per-user agg
    q["events_cohort_retention"] = lambda spark, sf: cohort_retention(
        _read(spark, sf, "events"))

    # per-user event-type pivot: FIXED category list (never a
    # distinct-value pre-scan — at 10^12 rows the category set is
    # schema, not data), one map-side-combinable hash aggregate
    def events_type_pivot(spark, sf):
        kinds = ["click", "error", "purchase", "signup", "view"]
        return (_read(spark, sf, "events")
                .groupBy("user_id")
                .pivot("event_type", kinds)
                .agg(F.count(F.lit(1)))
                .select("user_id",
                        *[F.coalesce(F.col(k), F.lit(0)).alias(f"n_{k}")
                          for k in kinds]))
    q["events_type_pivot"] = events_type_pivot

    # unpivot/melt round-trip: widen to the fixed per-type count
    # columns, then melt back to long form. The oracle derives the
    # SAME frame independently (user × kind grid with zero-filled
    # counts) — proving pivot∘unpivot is the densified long form,
    # not just a syntactic inverse.
    def events_type_unpivot(spark, sf):
        kinds = ["click", "error", "purchase", "signup", "view"]
        wide = events_type_pivot(spark, sf)
        return (wide.unpivot("user_id",
                             [f"n_{k}" for k in kinds], "kind", "n")
                .select("user_id",
                        F.expr("substring(kind, 3)").alias("kind"),
                        F.col("n").cast("long").alias("n")))
    q["events_type_unpivot"] = events_type_unpivot

    # regular-grid densification + LOCF (operators/timeseries.py):
    # per-type hourly buckets over each type's own span, missing hours
    # zero-count, last observed cents sum carried forward; -1 sentinel
    # for the (empty) leading-null region keeps the output NULL-free
    def events_hourly_gapfill(spark, sf):
        from logging_spark.operators.timeseries import (gapfill_hourly,
                                                        hourly_buckets,
                                                        locf)
        ev = _read(spark, sf, "events")
        b = hourly_buckets(
            ev, "event_type", "ts",
            [F.count(F.lit(1)).alias("n_events"),
             F.sum(F.round(F.col("value") * 100).cast("long"))
              .alias("sum_cents")])
        g = gapfill_hourly(b, "event_type", zero_cols=["n_events"])
        g = locf(g, "event_type", "hour", "sum_cents", "cents_locf")
        return g.select(
            "event_type",
            F.date_format("hour", "yyyy-MM-dd HH:00").alias("hour"),
            F.col("n_events").cast("long").alias("n_events"),
            F.coalesce("cents_locf", F.lit(-1)).alias("cents_locf"))
    q["events_hourly_gapfill"] = events_hourly_gapfill

    # ntile bucketing: exact quartile assignment per type under a
    # total order (value, event_id) — SQL-standard ceil distribution
    # is engine-identical once the order is unambiguous
    def events_value_ntile(spark, sf):
        w = Window.partitionBy("event_type").orderBy(
            F.col("value"), F.col("event_id"))
        return (_read(spark, sf, "events")
                .select("event_id", "event_type",
                        F.ntile(4).over(w).alias("quartile")))
    q["events_value_ntile"] = events_value_ntile

    # trailing 7-day per-user stats via a RANGE-frame window (the
    # windowing mode tumbling/session don't cover): one shuffle on
    # user_id, frame bounds in integer epoch-seconds so ties and
    # boundaries are engine-exact; cents-exact money math
    def events_trailing_7d(spark, sf):
        ev = _read(spark, sf, "events").select(
            "event_id", "user_id",
            F.unix_timestamp(F.col("ts").cast("timestamp")).alias("_es"),
            F.round(F.col("value") * 100).cast("long").alias("_cents"))
        w = (Window.partitionBy("user_id").orderBy("_es")
             .rangeBetween(-604800, 0))
        return ev.select(
            "event_id",
            F.count(F.lit(1)).over(w).alias("n_7d"),
            F.sum("_cents").over(w).alias("cents_7d"))
    q["events_trailing_7d"] = events_trailing_7d

    # hour-of-day seasonality profile: integral mean via DIV — the
    # periodic baseline an anomaly detector subtracts
    def events_seasonality(spark, sf):
        ev = _read(spark, sf, "events")
        return (ev.groupBy("event_type",
                           F.hour(F.col("ts").cast("timestamp"))
                            .cast("int").alias("hour_of_day"))
                .agg(F.count(F.lit(1)).alias("n"),
                     F.sum(F.round(F.col("value") * 100).cast("long"))
                      .alias("sum_cents"))
                .withColumn("mean_cents",
                            F.expr("CAST(sum_cents DIV n AS BIGINT)")))
    q["events_seasonality"] = events_seasonality

    # -- exact ECDF / quantile normalization (operators/profile.py):
    # distributed two-phase prefix sum over the DISTINCT-value frame —
    # never a cume_dist() single-partition window. pct in ppm,
    # integer-exact (floor(cum_below * 1e6 / n)).
    def events_ecdf_normalize(spark, sf):
        ev = _read(spark, sf, "events").where(F.col("value").isNotNull())
        ev = ev.select(F.floor(F.col("value") * 1e6).cast("long").alias("vq"))
        return ecdf_normalize(ev, "vq")
    q["events_ecdf_normalize"] = events_ecdf_normalize

    # -- hot/cold split join (operators/skew.py skew_split_join): the
    # manual skew-join — hot fact keys join a broadcast dim slice
    # without shuffling, cold keys pay the (now uniform) shuffle join.
    # Oracle is the PLAIN join = identity proof, same as salted_agg's.
    def events_skew_join(spark, sf):
        ev = _read(spark, sf, "events")
        cu = _read(spark, sf, "customer").select(
            F.col("c_custkey").alias("user_id"),
            F.col("c_mktsegment").alias("segment"))
        j = skew_split_join(ev, cu, "user_id", hot_threshold=100)
        return j.groupBy("segment").agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.floor(F.col("value") * 100).cast("long"))
             .cast("long").alias("value_cents"))
    q["events_skew_join"] = events_skew_join

    # -- equi-depth histogram (operators/profile.py): percentile edges
    # + comparison-sum bucketing — NO global ntile sort (the
    # single-partition-window anti-pattern at 10^12 rows). The contract
    # quantizes value -> BIGINT first: with integer inputs and dyadic
    # fractions (i/8) the percentile interpolation is EXACT double
    # arithmetic in both engines (raw doubles flipped 2 rows at the
    # median edge — measured at sf0.001).
    q["events_equidepth_histogram"] = lambda spark, sf: equidepth_histogram(
        _read(spark, sf, "events").withColumn(
            "vq", F.floor(F.col("value") * 1e6).cast("long")),
        "vq", n_buckets=8)

    # -- week-over-week change report: weekly event counts + lag()
    # delta in basis points (integer DIV; prior week rides one lag
    # window over the already-tiny weekly rollup, never the raw scan).
    def events_wow_change(spark, sf):
        ev = _read(spark, sf, "events")
        wk = (ev.groupBy(F.date_trunc("week", F.col("ts"))
                         .cast("date").alias("week"),
                         F.col("event_type"))
              .agg(F.count(F.lit(1)).alias("n")))
        w = Window.partitionBy("event_type").orderBy("week")
        prev = F.lag("n").over(w)
        # first week: prev_n = -1 sentinel, chg_bps = 0 (NULL-free
        # output — the contract comparator's None-vs-int rule)
        return (wk.withColumn("prev_n",
                              F.coalesce(prev, F.lit(-1)).cast("long"))
                .withColumn("chg_bps", F.when(
                    F.col("prev_n") > 0,
                    F.expr("((n - prev_n) * 10000) DIV prev_n"))
                    .otherwise(F.lit(0)).cast("long")))
    q["events_wow_change"] = events_wow_change

    # -- CDC round-trip identity (operators/diff.changeset /
    # apply_changes): derive a churned yesterday-snapshot v1 from
    # events (drop %13 keys, bump %7 payloads, add %17 extras),
    # compute the applyable changeset v1->v2, REPLAY it, and
    # fingerprint-compare the reconstruction against v2. The oracle
    # asserts the identity directly (recon == v2), so any apply bug
    # shows as fp_equal = 0 against the oracle's 1 — the
    # losslessness-proof pattern.
    def events_cdc_roundtrip(spark, sf):
        from logging_spark.operators.diff import (apply_changes,
                                                  changeset)
        v2 = _read(spark, sf, "events").select(
            "event_id", "event_type",
            F.floor(F.col("value") * 100).cast("long")
            .alias("val_cents"))
        base = (v2.where("event_id % 13 <> 0")
                .select("event_id", "event_type",
                        F.when(F.col("event_id") % 7 == 0,
                               F.col("val_cents") + 1)
                        .otherwise(F.col("val_cents"))
                        .alias("val_cents")))
        extra = (v2.where("event_id % 17 = 0")
                 .select((F.col("event_id") + 1_000_000_000)
                         .alias("event_id"),
                         "event_type", "val_cents"))
        v1 = base.unionByName(extra)
        keys, payload = ["event_id"], ["event_type", "val_cents"]
        ch = changeset(v1, v2, keys, payload)
        recon = apply_changes(v1, ch, keys, payload)

        def fp(df):
            h = hash60(F.concat_ws(
                ":", F.col("event_id").cast("string"),
                F.col("event_type"),
                F.col("val_cents").cast("string")), "cdc")
            return df.select(h.alias("_h")).agg(
                F.count(F.lit(1)).alias("n"),
                F.expr("bit_xor(_h)").alias("f"))
        t = fp(v2).select(F.col("n").alias("n_target"),
                          F.col("f").alias("_ft"))
        r = fp(recon).select(F.col("n").alias("n_recon"),
                             F.col("f").alias("_fr"))
        nc = ch.agg(F.count(F.lit(1)).alias("n_changes"))
        return (t.crossJoin(r).crossJoin(nc)
                .select("n_target", "n_recon", "n_changes",
                        (F.col("_ft") == F.col("_fr")).cast("int")
                        .alias("fp_equal")))
    q["events_cdc_roundtrip"] = events_cdc_roundtrip

    # -- autocorrelation moments (operators/timeseries.lag_moments):
    # hourly event-count series, lags 1-3. Integer moment sums + the
    # exact covariance numerator; Pearson r is the consumer's one
    # float. Grid key = hours-since-epoch (integer DIV — ts is NTZ,
    # session tz pinned UTC so unix_micros is epoch-faithful).
    def events_autocorr(spark, sf):
        from logging_spark.operators.timeseries import lag_moments
        hr = (_read(spark, sf, "events")
              .groupBy(F.expr("unix_micros(CAST(ts AS TIMESTAMP)) "
                              "DIV 3600000000").alias("hour"))
              .agg(F.count(F.lit(1)).alias("n")))
        return lag_moments(hr, "hour", "n", lags=[1, 2, 3])
    q["events_autocorr"] = events_autocorr

    # -- Holt (double-exponential) level+trend over hourly event
    # counts (operators/timeseries.py holt_fold) — the trend-aware
    # sibling of events_ewma_hourly. Integer x1000 fixed point; the
    # oracle runs the identical recurrence as a recursive CTE (trend
    # can go negative — Spark DIV and DuckDB // both truncate).
    def events_holt_trend(spark, sf):
        from logging_spark.operators.timeseries import holt_fold
        ev = _read(spark, sf, "events")
        hourly = (ev.groupBy(
                      F.col("event_type"),
                      F.expr("CAST(unix_timestamp(CAST(ts AS timestamp))"
                             " DIV 3600 AS BIGINT)").alias("h"))
                  .agg(F.count(F.lit(1)).alias("n")))
        return holt_fold(hourly, key="event_type", order_col="h",
                         value_col="n")
    q["events_holt_trend"] = events_holt_trend

    # -- cross-period behavior drift: per-user LCS alignment between
    # first-half and second-half event-type sequences via the cogroup
    # surface (operators/align.py — groupBy().cogroup().applyInPandas,
    # the one Spark API no other query exercises). LCS is sequential
    # DP, not ANSI-SQL short of a quadratic recursive CTE -> rows-only
    # by design; the DP kernel is pinned by a brute-force pytest twin
    # (tests/test_align.py) and the decile rollup below is
    # partitioning-independent.
    def events_user_drift(spark, sf):
        # batched variant: one union shuffle + one Python call per
        # partition — the per-key cogroup twin measured 6.9 s at
        # sf0.1 (1500 users x ~4.5 ms Arrow round-trip each); this
        # one ~0.5 s, pinned row-identical in pytest.
        from logging_spark.operators.align import lcs_drift_batched
        ev = _read(spark, sf, "events").select(
            "user_id", "event_type",
            F.unix_micros(F.col("ts").cast("timestamp")).alias("us"))
        # eager 1-row scalar (permitted collect class): a lazy
        # broadcast of the midpoint re-ran the min/max agg subtree
        # once PER side
        m = int(ev.agg(F.expr("(min(us) + max(us)) DIV 2")
                       .alias("m")).first()["m"])
        drift = lcs_drift_batched(ev.where(F.col("us") < F.lit(m)),
                                  ev.where(F.col("us") >= F.lit(m)),
                                  key="user_id", order_col="us",
                                  symbol_col="event_type", max_len=24)
        return (drift.groupBy(F.expr("align_permille DIV 100")
                              .alias("align_decile"))
                .agg(F.count(F.lit(1)).alias("n_users"),
                     F.sum("lcs_len").cast("long").alias("sum_lcs")))
    q["events_user_drift"] = events_user_drift

    # -- per-type OLS trend slope over hourly counts (timeseries.
    # trend_slope): exact integer moment split, x re-based per key so
    # the moments stay in budget; slope sign/magnitude is the alert
    # signal ("error rate trending up").
    def events_trend_slope(spark, sf):
        from logging_spark.operators.timeseries import trend_slope
        ev = _read(spark, sf, "events")
        hourly = (ev.groupBy(
                      F.col("event_type"),
                      F.expr("CAST(unix_timestamp(CAST(ts AS timestamp))"
                             " DIV 3600 AS BIGINT)").alias("h"))
                  .agg(F.count(F.lit(1)).alias("n")))
        return trend_slope(hourly, key="event_type", x_col="h",
                           y_col="n")
    q["events_trend_slope"] = events_trend_slope

    # -- VARIANT-typed semi-structured path (Spark 4): parse the
    # props JSON ONCE into the binary variant encoding, then extract
    # typed fields — the engine-native replacement for repeated
    # get_json_object string re-parsing on hot JSON columns. At scale
    # the parse cost is paid once per row and the extraction is a
    # byte-offset lookup, not a parser run.
    def events_props_variant(spark, sf):
        ev = _read(spark, sf, "events")
        v = ev.select("event_type",
                      F.parse_json("props").alias("v"))
        k = F.expr("CAST(variant_get(v, '$.k', 'bigint') AS BIGINT)")
        return (v.select("event_type", k.alias("k"))
                .groupBy("event_type")
                .agg(F.count(F.lit(1)).alias("n_rows"),
                     F.coalesce(F.sum("k"), F.lit(0)).cast("long")
                     .alias("sum_k"),
                     F.max("k").cast("long").alias("max_k"),
                     F.sum((F.col("k") >= 50).cast("long")).cast("long")
                     .alias("n_k_ge_50")))
    q["events_props_variant"] = events_props_variant

    # -- distribution drift between two halves of the month: ppm-share
    # chi-square index over event_type bins. Both snapshots collapse
    # to <=|bins| rows before any join — the comparison costs two
    # grouped counts at any scale.
    def events_drift_index(spark, sf):
        from logging_spark.operators.mleval import drift_index
        ev = _read(spark, sf, "events")
        split = F.expr("TIMESTAMP_NTZ '2024-01-16 00:00:00'")
        return drift_index(ev.where(F.col("ts") < split),
                           ev.where(F.col("ts") >= split),
                           "event_type")
    q["events_drift_index"] = events_drift_index

    # -- seasonal-naive forecast backtest (timeseries.naive_backtest):
    # MASE-shaped model-vs-baseline check over hourly event counts.
    # Sparse-grid exact: lags are (key, x-24)/(key, x-1) equi-joins,
    # never positional lag() over a gappy grid.
    def events_forecast_backtest(spark, sf):
        from logging_spark.operators.timeseries import naive_backtest
        ev = _read(spark, sf, "events")
        hourly = (ev.groupBy(
                      F.col("event_type"),
                      F.expr("CAST(unix_timestamp(CAST(ts AS timestamp))"
                             " DIV 3600 AS BIGINT)").alias("h"))
                  .agg(F.count(F.lit(1)).cast("long").alias("n")))
        return naive_backtest(hourly, "event_type", "h", "n", season=24)
    q["events_forecast_backtest"] = events_forecast_backtest

    # -- LOOKBACK-windowed, value-weighted attribution
    # (operators/attribution.py) — the bounded-window sibling of
    # events_attribution (which credits the user's first-EVER touch):
    # both models ride ONE per-user RANGE-framed window; the oracle
    # runs the NAIVE conversions-x-touches join, so agreement proves
    # the window semantics from first principles.
    def events_attribution_windowed(spark, sf):
        from logging_spark.operators.attribution import (
            attribution_rollup, touch_attribution)
        ev = _read(spark, sf, "events")
        base = ev.select(
            "user_id",
            F.expr("unix_micros(CAST(ts AS timestamp))").alias("us"),
            "event_id", "event_type",
            F.expr("CAST(round(value * 100) AS BIGINT)").alias("cents"))
        per = touch_attribution(
            base, "user_id", "us", "event_type", "cents",
            conversion_type="purchase", touch_types=["click", "view"],
            lookback_us=7 * 86400 * 1_000_000)
        return attribution_rollup(per)
    q["events_attribution_windowed"] = events_attribution_windowed

    # -- behavioral diversity: per-user distinct-transition share of
    # the event stream, rolled to deciles — bot/script detection
    # readout (a scripted user repeats one loop; diversity_ppm low
    # n_events high). One (user, ts) sort, two distinct counts at
    # user grain, then a 10-cell rollup.
    def events_behavior_diversity(spark, sf):
        ev = _read(spark, sf, "events")
        w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        d = ev.withColumn("_prev", F.lag("event_type").over(w))
        per = (d.groupBy("user_id")
               .agg(F.count(F.lit(1)).cast("long").alias("n_events"),
                    F.countDistinct("event_type").cast("long")
                    .alias("n_types"),
                    F.sum(F.col("_prev").isNotNull().cast("long"))
                    .cast("long").alias("n_trans"),
                    F.countDistinct(
                        F.when(F.col("_prev").isNotNull(),
                               F.concat_ws(">", "_prev", "event_type")))
                    .cast("long").alias("n_dtrans")))
        scored = per.withColumn(
            "_div", F.expr("(n_dtrans * 1000000) "
                           "DIV greatest(n_trans, 1L)"))
        return (scored.groupBy(
                    F.expr("least(9L, _div DIV 100000)").alias("decile"))
                .agg(F.count(F.lit(1)).cast("long").alias("n_users"),
                     F.sum("n_events").cast("long").alias("sum_events"),
                     F.sum("n_trans").cast("long").alias("sum_trans"),
                     F.sum("n_dtrans").cast("long")
                     .alias("sum_distinct_trans")))
    q["events_behavior_diversity"] = events_behavior_diversity

    # -- token-bucket rate-limit replay (operators/ratelimit.py):
    # what a 0.1-token/s, burst-5 limiter would have admitted per
    # (event_type, day). One shuffle + pure-JVM integer fold; the
    # oracle unrolls the identical recurrence as a recursive CTE.
    def events_rate_limit(spark, sf):
        from logging_spark.operators.ratelimit import token_bucket_admit
        ev = _read(spark, sf, "events")
        keyed = ev.select(
            F.concat_ws(":", "event_type",
                        F.col("ts").cast("date").cast("string"))
            .alias("k"),
            F.expr("unix_micros(CAST(ts AS timestamp))").alias("us"),
            "event_id")
        return token_bucket_admit(keyed, "k", "us", "event_id",
                                  rate_x1e6_per_s=100_000, burst=5)
    q["events_rate_limit"] = events_rate_limit

    # -- SLO burn-rate alerting (Google SRE multiwindow pattern):
    # hourly error share + 6h trailing share off ONE hourly rollup;
    # the RANGE(-5,0) window runs over the COLLAPSED hourly series
    # (time-bounded rows — does not grow with data volume), so the
    # unpartitioned window is bounded like the EMD global cumsum.
    # Alert fires only when BOTH windows burn (fast + sustained).
    def events_slo_burn(spark, sf):
        ev = _read(spark, sf, "events")
        hourly = (ev.groupBy(
                      F.expr("CAST(unix_timestamp(CAST(ts AS timestamp))"
                             " DIV 3600 AS BIGINT)").alias("h"))
                  .agg(F.count(F.lit(1)).cast("long").alias("tot"),
                       F.sum((F.col("event_type") == "error")
                             .cast("long")).cast("long").alias("err")))
        w6 = Window.orderBy("h").rangeBetween(-5, 0)
        scored = (hourly
                  .withColumn("err6", F.sum("err").over(w6).cast("long"))
                  .withColumn("tot6", F.sum("tot").over(w6).cast("long"))
                  .select("h", "err", "tot", "err6", "tot6",
                          F.expr("(err * 1000000) DIV tot")
                          .alias("rate1_ppm"),
                          F.expr("(err6 * 1000000) DIV tot6")
                          .alias("rate6_ppm")))
        return scored.withColumn(
            "alert", ((F.col("rate1_ppm") > 250000)
                      & (F.col("rate6_ppm") > 250000)).cast("int"))
    q["events_slo_burn"] = events_slo_burn

    # -- cohort LTV curve: cumulative purchase value by cohort week x
    # age week — the value sibling of cohort retention. One per-user
    # min (cohort), one (cohort, age) rollup, one partitioned cumsum.
    def events_cohort_ltv(spark, sf):
        ev = _read(spark, sf, "events")
        wk = "CAST(unix_timestamp(CAST(ts AS timestamp)) DIV 604800 AS BIGINT)"
        base = ev.select("user_id", F.expr(wk).alias("w"),
                         F.col("event_type"),
                         F.expr("CAST(round(value * 100) AS BIGINT)")
                         .alias("cents"))
        # cohort week via same-key window min, NOT groupBy+join-back:
        # one scan, and the per-user partitioning feeds the next agg
        # (trend_slope precedent)
        wu = Window.partitionBy("user_id")
        cells = (base.withColumn("cw", F.min("w").over(wu).cast("long"))
                 .groupBy("cw", (F.col("w") - F.col("cw")).alias("age"))
                 .agg(F.countDistinct("user_id").cast("long")
                      .alias("n_users_active"),
                      F.sum(F.when(F.col("event_type") == "purchase",
                                   F.col("cents")).otherwise(F.lit(0)))
                      .cast("long").alias("cents")))
        wc = (Window.partitionBy("cw").orderBy("age")
              .rowsBetween(Window.unboundedPreceding, Window.currentRow))
        return (cells.withColumn("cum_cents",
                                 F.sum("cents").over(wc).cast("long"))
                .select(F.col("cw").alias("cohort_week"),
                        F.col("age").alias("age_weeks"),
                        "n_users_active", "cents", "cum_cents"))
    q["events_cohort_ltv"] = events_cohort_ltv

    # -- burstiness via index of dispersion (var/mean of inter-event
    # gaps; ~1e6 = Poisson, >> bursty, << metronome/script): exact
    # integer moment split per user, decile rollup. BIGINT-exact to
    # ~1e6 gaps/user at month-long gap magnitudes.
    def events_burstiness(spark, sf):
        ev = _read(spark, sf, "events")
        g = (ev.select("user_id", "event_id",
                       F.expr("unix_micros(CAST(ts AS timestamp))"
                              " DIV 1000000").alias("s"))
             .withColumn("_prev", F.lag("s").over(
                 Window.partitionBy("user_id")
                 .orderBy("s", "event_id")))
             .where(F.col("_prev").isNotNull())
             .select("user_id", (F.col("s") - F.col("_prev"))
                     .cast("long").alias("gap")))
        per = g.groupBy("user_id").agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("gap").cast("long").alias("sg"),
            F.sum(F.col("gap") * F.col("gap")).cast("long").alias("sg2"))
        # dispersion in SECONDS (no x1e6 blowup: n*sg2 at month-long
        # gaps already nears 1e15 — the ppm scaling overflowed at
        # sf0.01); log2-width bins via the length(bin(x)) trick
        scored = per.where(F.col("sg") > 0).withColumn(
            "_d", F.expr("(n * sg2 - sg * sg) DIV (n * sg)"))
        return (scored.groupBy(
                    F.expr("least(9L, CAST(length(bin(_d + 1)) - 1"
                           " AS BIGINT) DIV 2)").alias("dbin"))
                .agg(F.count(F.lit(1)).cast("long").alias("n_users"),
                     F.sum("n").cast("long").alias("sum_gaps"),
                     F.sum("sg").cast("long").alias("sum_gap_s")))
    q["events_burstiness"] = events_burstiness

    # -- RFM segmentation: recency/frequency/monetary per user,
    # banded into quartile scores via exact dyadic percentile edges
    # (i/4 fracs — the interpolation is exact double arithmetic in
    # both engines, Hampel precedent). One user agg + one 1-row edge
    # broadcast; 64 possible segments out.
    def events_rfm_segments(spark, sf):
        ev = _read(spark, sf, "events")
        as_of_us = 1706745600 * 1_000_000  # 2024-02-01 UTC
        per = ev.groupBy("user_id").agg(
            F.expr(f"CAST(({as_of_us} - max(unix_micros("
                   "CAST(ts AS timestamp)))) DIV 86400000000 "
                   "AS BIGINT)").alias("r_days"),
            F.count(F.lit(1)).cast("long").alias("f_n"),
            F.sum(F.when(F.col("event_type") == "purchase",
                         F.expr("CAST(round(value * 100) AS BIGINT)"))
                  .otherwise(F.lit(0))).cast("long").alias("m_cents"))
        edges = per.agg(*[
            F.expr(f"percentile(CAST({c} AS DOUBLE), {q})")
            .alias(f"{c[0]}e{i}")
            for c in ("r_days", "f_n", "m_cents")
            for i, q in ((1, 0.25), (2, 0.5), (3, 0.75))])
        band_hi = ("1 + CAST(CAST({c} AS DOUBLE) > {p}e1 AS INT) "
                   "+ CAST(CAST({c} AS DOUBLE) > {p}e2 AS INT) "
                   "+ CAST(CAST({c} AS DOUBLE) > {p}e3 AS INT)")
        banded = (per.crossJoin(F.broadcast(edges))
                  .select(
                      # LOW recency-days is good -> invert the band
                      F.expr("5 - (" + band_hi.format(c="r_days", p="r")
                             + ")").cast("long").alias("r_score"),
                      F.expr(band_hi.format(c="f_n", p="f"))
                      .cast("long").alias("f_score"),
                      F.expr(band_hi.format(c="m_cents", p="m"))
                      .cast("long").alias("m_score"),
                      "f_n", "m_cents"))
        return (banded.groupBy("r_score", "f_score", "m_score")
                .agg(F.count(F.lit(1)).cast("long").alias("n_users"),
                     F.sum("f_n").cast("long").alias("sum_events"),
                     F.sum("m_cents").cast("long").alias("sum_cents")))
    q["events_rfm_segments"] = events_rfm_segments

    # -- incremental view maintenance (operators/ivm.py): maintain a
    # (group, count, sum) view from a full-image CDC stream — every
    # change contributes -before / +after, folded with one churn-
    # sized full-outer join, never rescanning the facts. Snapshots
    # are synthesized from events (deletes: id%11==3 leaves the new
    # snapshot; inserts: id%13==5 was absent from the old; updates:
    # id%7==0 gains 50 cents, including rows that ALSO survive both
    # filters). The oracle computes agg(new) directly — the result
    # is an identity proof, not a tolerance check.
    def events_ivm_agg(spark, sf):
        from logging_spark.operators.ivm import (apply_agg_delta,
                                                 changeset_full)
        ev = _read(spark, sf, "events").select(
            "event_id", "event_type",
            F.expr("CAST(floor(value * 100) AS BIGINT)").alias("cents"))
        old = ev.where(F.expr("event_id % 13 != 5"))
        new = (ev.where(F.expr("event_id % 11 != 3"))
               .withColumn("cents",
                           F.expr("cents + CASE WHEN event_id % 7 = 0 "
                                  "THEN 50 ELSE 0 END")))
        base = old.groupBy("event_type").agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("cents").cast("long").alias("total"))
        ch = changeset_full(old, new, ["event_id"],
                            ["event_type", "cents"])
        return apply_agg_delta(base, ch, "event_type", "cents")
    q["events_ivm_agg"] = events_ivm_agg

    # -- integer-exact autocorrelation (operators/timeseries.py
    # acf_integer): lag-k ACF of each type's dense hourly count
    # series — deviations are n-scaled BIGINTs so numerator and
    # denominator are exact; r ships as (1e6*num) DIV den.
    def events_acf(spark, sf):
        from logging_spark.operators.timeseries import acf_integer
        return acf_integer(_read(spark, sf, "events"), "event_type",
                           "ts", [1, 2, 24])
    q["events_acf"] = events_acf

    # -- single least-squares changepoint per type over daily counts
    # (binary segmentation depth 1, integer score, earliest-t ties)
    def events_changepoint(spark, sf):
        from logging_spark.operators.timeseries import changepoint_single
        daily = (_read(spark, sf, "events")
                 .groupBy("event_type",
                          F.datediff(F.col("ts").cast("date"),
                                     F.lit("2024-01-01")).alias("day"))
                 .agg(F.count(F.lit(1)).cast("long").alias("n")))
        return changepoint_single(daily, "event_type", "day", "n")
    q["events_changepoint"] = events_changepoint

    # -- backfill planner: contiguous MISSING-hour ranges per type
    # (gaps-and-islands over the grid complement). The event stream
    # is sparsified (event_id % 7) so gaps survive larger SFs; range
    # bounds ship as epoch-hours (BIGINT) for engine-neutral typing.
    def events_missing_ranges(spark, sf):
        from logging_spark.operators.timeseries import missing_hour_ranges
        r = missing_hour_ranges(
            _read(spark, sf, "events").where("event_id % 7 = 0"),
            "event_type", "ts")
        return r.select(
            "event_type",
            (F.unix_timestamp("range_start") / 3600).cast("long")
            .alias("h_lo"),
            (F.unix_timestamp("range_end") / 3600).cast("long")
            .alias("h_hi"),
            "n_missing")
    q["events_missing_ranges"] = events_missing_ranges

    # -- Poisson-bootstrap 95% CI for mean event value (cents):
    # deterministic Poisson(1) weights from md5(id:rep) through the
    # baked ppm CDF — the scalable bootstrap (the B-fold blowup
    # never crosses a shuffle; partial aggregation ships B rows).
    def events_bootstrap_ci(spark, sf):
        from logging_spark.operators.stats import poisson_bootstrap_ci
        vals = _read(spark, sf, "events").select(
            "event_id",
            F.expr("CAST(floor(value * 100) AS BIGINT)").alias("cents"))
        return poisson_bootstrap_ci(vals, "event_id", "cents")
    q["events_bootstrap_ci"] = events_bootstrap_ci

    # -- A/B readout: md5-parity arms over users, Welch's t on the
    # per-user total purchase cents (deterministic-double t_x1e6).
    def events_ab_welch(spark, sf):
        from logging_spark.operators.stats import welch_ab_test
        per_user = (_read(spark, sf, "events")
                    .where("event_type = 'purchase'")
                    .groupBy("user_id")
                    .agg(F.expr("CAST(sum(floor(value * 100)) AS BIGINT)")
                         .alias("cents")))
        return welch_ab_test(per_user, "user_id", "cents")
    q["events_ab_welch"] = events_ab_welch

    # -- Kaplan-Meier retention curve: subject = user, duration =
    # hours from first event to the first >24h silence (observed
    # churn) or to the last event (censored). The curve is a single
    # x1e6 fixed-point product fold over the collapsed risk table.
    def events_km_survival(spark, sf):
        from logging_spark.operators.stats import km_survival
        ev = _read(spark, sf, "events").select(
            "user_id",
            F.unix_micros(F.col("ts").cast("timestamp")).alias("us"))
        wn = Window.partitionBy("user_id").orderBy("us")
        g = ev.withColumn("_nxt", F.lead("us").over(wn))
        per = g.groupBy("user_id").agg(
            F.min("us").alias("_first"),
            F.max("us").alias("_last"),
            F.min(F.when(F.col("_nxt") - F.col("us") > 86400000000,
                         F.col("us"))).alias("_churn"))
        dur = per.select(
            F.when(F.col("_churn").isNotNull(),
                   F.expr("(_churn - _first) DIV 3600000000"))
            .otherwise(F.expr("(_last - _first) DIV 3600000000"))
            .alias("dur_h"),
            F.col("_churn").isNotNull().cast("int").alias("observed"))
        return km_survival(dur, "dur_h", "observed")
    q["events_km_survival"] = events_km_survival

    # -- PrefixSpan-lite (operators/seqmine.py): support of every
    # gap-allowed length-2/3 event-type subsequence per user, from
    # ONE collapsed (user, item) -> (min, max, positions) table.
    # The fixture's 5-type alphabet sits under the max_items=8 cap,
    # so the oracle omits the (vacuous) top-m restriction.
    def events_subseq_patterns(spark, sf):
        from logging_spark.operators.seqmine import subsequence_support
        return subsequence_support(
            _read(spark, sf, "events"), "user_id", "ts", "event_type",
            "event_id", max_items=8, min_support=2)
    q["events_subseq_patterns"] = events_subseq_patterns

    # -- CUPED-adjusted A/B (operators/stats.py cuped_ab_test):
    # variance-reduced Welch t where the covariate is each user's
    # PRE-period spend (first half of the month) and the outcome the
    # post-period spend. The t expression is ONE SQL string shared
    # verbatim with the oracle — identical IEEE parenthesization by
    # construction, not by transcription.
    def events_ab_cuped(spark, sf):
        from logging_spark.operators.stats import cuped_ab_test
        per_user = (_read(spark, sf, "events")
                    .groupBy("user_id")
                    .agg(F.expr("CAST(sum(CASE WHEN ts < TIMESTAMP "
                                "'2024-01-16 00:00:00' THEN "
                                "floor(value * 100) ELSE 0 END) "
                                "AS BIGINT)").alias("pre_cents"),
                         F.expr("CAST(sum(CASE WHEN ts >= TIMESTAMP "
                                "'2024-01-16 00:00:00' THEN "
                                "floor(value * 100) ELSE 0 END) "
                                "AS BIGINT)").alias("post_cents")))
        return cuped_ab_test(per_user, "user_id", "pre_cents",
                             "post_cents")
    q["events_ab_cuped"] = events_ab_cuped

    # -- arrival-process audit: index of dispersion (var/mean, ppm)
    # of each type's dense hourly counts — can alerting assume
    # Poisson tails?
    def events_overdispersion(spark, sf):
        from logging_spark.operators.timeseries import overdispersion
        return overdispersion(_read(spark, sf, "events"),
                              "event_type", "ts")
    q["events_overdispersion"] = events_overdispersion

    # -- Mann-Whitney U between md5-parity arms on per-user purchase
    # cents: exact integer 2U via the collapsed-value prefix sum (no
    # global rank sort), tie-corrected z from one shared-verbatim
    # double expression.
    def events_mannwhitney(spark, sf):
        from logging_spark.operators.stats import mann_whitney_u
        per_user = (_read(spark, sf, "events")
                    .where("event_type = 'purchase'")
                    .groupBy("user_id")
                    .agg(F.expr("CAST(sum(floor(value * 100)) AS BIGINT)")
                         .alias("cents")))
        return mann_whitney_u(per_user, "user_id", "cents")
    q["events_mannwhitney"] = events_mannwhitney

    # -- log-rank test: do the two arms' retention curves differ?
    # Same churn-gap durations as events_km_survival, md5-parity
    # groups, integer O/E/V sums over the collapsed risk table.
    def events_logrank(spark, sf):
        from logging_spark.operators.stats import logrank_test
        ev = _read(spark, sf, "events").select(
            "user_id",
            F.unix_micros(F.col("ts").cast("timestamp")).alias("us"))
        wn = Window.partitionBy("user_id").orderBy("us")
        g = ev.withColumn("_nxt", F.lead("us").over(wn))
        per = g.groupBy("user_id").agg(
            F.min("us").alias("_first"),
            F.max("us").alias("_last"),
            F.min(F.when(F.col("_nxt") - F.col("us") > 86400000000,
                         F.col("us"))).alias("_churn"))
        dur = per.select(
            F.when(F.col("_churn").isNotNull(),
                   F.expr("(_churn - _first) DIV 3600000000"))
            .otherwise(F.expr("(_last - _first) DIV 3600000000"))
            .alias("dur_h"),
            F.col("_churn").isNotNull().cast("int").alias("observed"),
            F.expr("CAST(conv(substring(md5(concat('ab:', "
                   "CAST(user_id AS STRING))), 1, 15), 16, 10) "
                   "AS BIGINT) % 2").cast("int").alias("arm"))
        return logrank_test(dur, "dur_h", "observed", "arm")
    q["events_logrank"] = events_logrank

    # -- Theil-Sen robust daily trend per type: median of pairwise
    # slopes in x1e6 fixed point (lower-median order stat), immune
    # to the outlier days that drag the OLS twin (events_trend_slope).
    def events_theil_sen(spark, sf):
        from logging_spark.operators.timeseries import theil_sen
        daily = (_read(spark, sf, "events")
                 .groupBy("event_type",
                          F.datediff(F.col("ts").cast("date"),
                                     F.lit("2024-01-01")).alias("day"))
                 .agg(F.count(F.lit(1)).cast("long").alias("n")))
        return theil_sen(daily, "event_type", "day", "n")
    q["events_theil_sen"] = events_theil_sen

    # -- lead-lag cross-correlation: at which hourly shift do errors
    # best predict purchases? The pair's denominator is constant
    # across lags, so the integer numerator ranks lags exactly —
    # the argmax needs no float (operators/timeseries.py).
    def events_crosscorr(spark, sf):
        from logging_spark.operators.timeseries import cross_correlation
        return cross_correlation(_read(spark, sf, "events"),
                                 "event_type", "ts", "error",
                                 "purchase", max_lag=6)
    q["events_crosscorr"] = events_crosscorr

    # -- leakage-free churn training set: features strictly before
    # the cutoff, label strictly after (operators/cohort.py).
    def events_churn_labels(spark, sf):
        from logging_spark.operators.cohort import churn_labels
        return churn_labels(_read(spark, sf, "events"), "user_id",
                            "ts", "2024-01-20 00:00:00",
                            horizon_days=7, feature_days=7)
    q["events_churn_labels"] = events_churn_labels

    # -- xxhash64 production twin of the Poisson bootstrap: same CDF
    # constants, ~10x cheaper draws; rows-only by design (DuckDB has
    # no xxhash64) — the md5 twin above is the value-checked one.
    def events_bootstrap_ci_fast(spark, sf):
        from logging_spark.operators.stats import poisson_bootstrap_ci
        vals = _read(spark, sf, "events").select(
            "event_id",
            F.expr("CAST(floor(value * 100) AS BIGINT)").alias("cents"))
        return poisson_bootstrap_ci(vals, "event_id", "cents",
                                    fast=True)
    q["events_bootstrap_ci_fast"] = events_bootstrap_ci_fast

    # -- one-way ANOVA per type over hour-of-day groups of the dense
    # hourly counts: eta^2 (variance explained by time-of-day, ppm)
    # + F statistic — is the diurnal pattern real or noise?
    def events_anova_hour(spark, sf):
        from logging_spark.operators.stats import anova_oneway
        from logging_spark.operators.timeseries import (gapfill_hourly,
                                                        hourly_buckets)
        b = hourly_buckets(_read(spark, sf, "events"), "event_type",
                           "ts", [F.count(F.lit(1)).cast("long")
                                  .alias("x")])
        dense = gapfill_hourly(b, "event_type", zero_cols=["x"])
        obs = dense.select("event_type",
                           F.hour("hour").alias("hod"), "x")
        return anova_oneway(obs, "event_type", "hod", "x")
    q["events_anova_hour"] = events_anova_hour

    # -- two-sample Kolmogorov-Smirnov between md5-parity arms on
    # per-user purchase cents: exact integer sup |ecdf_a - ecdf_b|
    # (cumA*n_b - cumB*n_a over the collapsed value table); catches
    # shape shifts the t/U tests miss.
    def events_ks_test(spark, sf):
        from logging_spark.operators.stats import ks_test
        per_user = (_read(spark, sf, "events")
                    .where("event_type = 'purchase'")
                    .groupBy("user_id")
                    .agg(F.expr("CAST(sum(floor(value * 100)) AS BIGINT)")
                         .alias("cents")))
        return ks_test(per_user, "user_id", "cents")
    q["events_ks_test"] = events_ks_test

    # -- chi-square independence: event type x daypart (6h buckets).
    # Ordered-fold double summation (sorted cells, seeded fold) —
    # the portable pattern for statistics whose integer form would
    # overflow BIGINT. df = 4*3 = 12 -> crit .05 = 21.026.
    def events_chi2_daypart(spark, sf):
        from logging_spark.operators.stats import chi2_independence
        ev = _read(spark, sf, "events").select(
            "event_type",
            F.expr("CAST(hour(ts) AS BIGINT) DIV 6").alias("daypart"))
        return chi2_independence(ev, "event_type", "daypart",
                                 crit_x1e6=21026000)
    q["events_chi2_daypart"] = events_chi2_daypart

    # -- randomization-health audit: standardized mean difference of
    # pre-period covariates between the md5-parity arms (|SMD|<0.1
    # = balanced) — run BEFORE trusting any A/B readout.
    def events_covariate_balance(spark, sf):
        from logging_spark.operators.stats import covariate_balance
        per_user = (_read(spark, sf, "events")
                    .where("ts < TIMESTAMP '2024-01-16 00:00:00'")
                    .groupBy("user_id")
                    .agg(F.count(F.lit(1)).cast("long")
                         .alias("n_events"),
                         F.countDistinct("event_type").cast("long")
                         .alias("n_types"),
                         F.expr("CAST(sum(floor(value * 100)) "
                                "AS BIGINT)").alias("cents")))
        return covariate_balance(per_user, "user_id",
                                 ["n_events", "n_types", "cents"])
    q["events_covariate_balance"] = events_covariate_balance

    # -- cumulative-unique-users curve: each user counts once, on
    # their FIRST day — new/cumulative audience per day from one
    # per-user min + one day rollup + a prefix sum over days (the
    # audience-growth twin of docs_vocab_growth).
    def events_unique_users_curve(spark, sf):
        first = (_read(spark, sf, "events")
                 .groupBy("user_id")
                 .agg(F.min(F.col("ts").cast("date")).alias("d")))
        daily = first.groupBy("d").agg(
            F.count(F.lit(1)).cast("long").alias("new_users"))
        w = Window.orderBy("d").rowsBetween(
            Window.unboundedPreceding, 0)
        return (daily.withColumn(
            "cum_users", F.sum("new_users").over(w).cast("long"))
            .select(F.date_format("d", "yyyy-MM-dd").alias("day"),
                    "new_users", "cum_users"))
    q["events_unique_users_curve"] = events_unique_users_curve

    # -- bootstrap CI on the A/B treatment effect itself (delta of
    # per-user purchase cents between md5-parity arms): the CI an
    # experiment readout ships, not just a yes/no test.
    def events_ab_bootstrap_delta(spark, sf):
        from logging_spark.operators.stats import ab_bootstrap_delta
        per_user = (_read(spark, sf, "events")
                    .where("event_type = 'purchase'")
                    .groupBy("user_id")
                    .agg(F.expr("CAST(sum(floor(value * 100)) AS BIGINT)")
                         .alias("cents")))
        return ab_bootstrap_delta(per_user, "user_id", "cents")
    q["events_ab_bootstrap_delta"] = events_ab_bootstrap_delta

    # -- incremental session maintenance (sessionize_incremental):
    # recompute ONLY delta-touched keys over a committed rollup; the
    # oracle is the FULL recompute — the identity that proves the
    # interval-merge correct (same proof pattern as salted_agg /
    # skew_split_join). Cut at Jan 20: both halves non-trivial.
    def events_sessionize_incremental(spark, sf):
        from logging_spark.operators.sessionize import (
            session_rollup, sessionize_incremental)
        ev = _read(spark, sf, "events").select("user_id", "ts")
        prior = session_rollup(
            ev.where("ts < TIMESTAMP '2024-01-20 00:00:00'"),
            key="user_id", ts_col="ts", gap_seconds=1800)
        delta = ev.where("ts >= TIMESTAMP '2024-01-20 00:00:00'")
        inc = sessionize_incremental(prior, delta, key="user_id",
                                     ts_col="ts", gap_seconds=1800)
        return inc.select(
            F.col("user_id").cast("long").alias("user_id"),
            F.col("session_id").cast("long").alias("session_id"),
            "n_turns", "session_start", "session_end")
    q["events_sessionize_incremental"] = events_sessionize_incremental

    # -- offline policy evaluation (mleval.policy_replay): replay +
    # uniform-logging IPS for a deterministic target policy over the
    # logged (event_type, reward) rounds; 5 arms, reward = cents.
    def events_policy_replay(spark, sf):
        from logging_spark.operators.mleval import policy_replay
        ev = _read(spark, sf, "events").select(
            "event_type",
            F.expr("CAST(floor(value * 100) AS BIGINT)").alias("cents"),
            F.expr("CASE WHEN user_id % 3 = 0 THEN 'purchase' "
                   "WHEN user_id % 3 = 1 THEN 'click' "
                   "ELSE 'view' END").alias("policy"),
            F.expr("CAST(user_id % 3 AS BIGINT)").alias("segment"))
        return policy_replay(ev, "event_type", "cents", "policy",
                             n_actions=5, by=["segment"])
    q["events_policy_replay"] = events_policy_replay

    # -- cross-source score calibration (normalize.quantile_normalize):
    # map each event type's cents distribution onto the global one by
    # rank (max-rank tie convention, 200 levels) — collapsed-value
    # windows only, level table broadcast back.
    def events_quantile_normalize(spark, sf):
        from logging_spark.operators.normalize import quantile_normalize
        ev = _read(spark, sf, "events").select(
            "event_type",
            F.expr("CAST(floor(value * 100) AS BIGINT)").alias("cents"))
        return quantile_normalize(ev, "event_type", "cents", levels=200)
    q["events_quantile_normalize"] = events_quantile_normalize

    # -- additive Holt-Winters (timeseries.holt_winters_fold): daily
    # per-type counts, weekly seasonality (m=7). Integer x1000 fold;
    # the oracle replays the identical recurrence as a per-key
    # recursive CTE carrying the rotating seasonal LIST.
    def events_holt_winters(spark, sf):
        from logging_spark.operators.timeseries import holt_winters_fold
        daily = (_read(spark, sf, "events")
                 .groupBy("event_type",
                          F.expr("CAST(ts AS DATE)").alias("d"))
                 .agg(F.count(F.lit(1)).cast("long").alias("n")))
        return holt_winters_fold(daily, "event_type", "d", "n",
                                 period=7)
    q["events_holt_winters"] = events_holt_winters

    # -- JSON schema-drift census: when did each props key FIRST
    # appear? The governance query that catches a producer shipping a
    # new field mid-stream. Key extraction is json_object_keys /
    # json_keys (both engines JVM/native-side); drift is synthesized
    # in-query (the fixture's props are uniform, same stance as
    # dq_json_validity's corruption).
    def events_props_key_drift(spark, sf):
        ev = _read(spark, sf, "events")
        day = F.expr("datediff(CAST(ts AS DATE), DATE '2024-01-01')")
        props2 = F.expr(
            "CASE WHEN datediff(CAST(ts AS DATE), DATE '2024-01-01') "
            ">= 14 AND event_id % 3 = 0 "
            "THEN '{\"k\": 1, \"new_feat\": 2}' "
            "WHEN datediff(CAST(ts AS DATE), DATE '2024-01-01') >= 21 "
            "AND event_id % 5 = 0 THEN '{\"k\": 1, \"exp_id\": \"x\"}' "
            "WHEN event_id % 7 = 0 THEN '{\"k\": 1, \"legacy\": true}' "
            "ELSE props END")
        keys = ev.select(
            day.cast("long").alias("day"),
            F.explode(F.json_object_keys(props2)).alias("key"))
        return (keys.groupBy("key")
                .agg(F.count(F.lit(1)).cast("long").alias("n_rows"),
                     F.min("day").cast("long").alias("first_day"),
                     F.max("day").cast("long").alias("last_day"),
                     F.countDistinct("day").cast("long")
                     .alias("n_days"))
                .withColumn("appeared_midstream",
                            (F.col("first_day") >= 7).cast("int")))
    q["events_props_key_drift"] = events_props_key_drift
