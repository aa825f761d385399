"""events family: DuckDB oracle SQL (part 1) — split mechanically from the original single contract module."""

from __future__ import annotations

from logging_spark.contract._fixtures import hash60_sql


def register_oracles(o):

    o["events_type_unpivot"] = """
WITH u AS (SELECT DISTINCT user_id FROM events),
k AS (SELECT unnest(['click','error','purchase','signup','view']) AS kind)
SELECT u.user_id, k.kind,
       CAST(count(e.event_id) AS BIGINT) AS n
FROM u CROSS JOIN k
LEFT JOIN events e ON e.user_id = u.user_id AND e.event_type = k.kind
GROUP BY u.user_id, k.kind"""

    o["events_hourly_gapfill"] = """
WITH b AS (SELECT event_type, date_trunc('hour', ts) AS h,
                  CAST(count(*) AS BIGINT) AS n_events,
                  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
                      AS sum_cents
           FROM events GROUP BY 1, 2),
span AS (SELECT event_type, min(h) AS lo, max(h) AS hi
         FROM b GROUP BY 1),
grid AS (SELECT s.event_type, g.h
         FROM span s,
              unnest(generate_series(s.lo, s.hi, INTERVAL 1 HOUR))
                  AS g(h)),
j AS (SELECT grid.event_type, grid.h,
             COALESCE(b.n_events, 0) AS n_events,
             b.sum_cents
      FROM grid LEFT JOIN b USING (event_type, h))
SELECT event_type, strftime(h, '%Y-%m-%d %H:00') AS hour,
       n_events,
       COALESCE(last_value(sum_cents IGNORE NULLS) OVER (
           PARTITION BY event_type ORDER BY h
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), -1)
           AS cents_locf
FROM j"""

    o["events_value_ntile"] = """
SELECT event_id, event_type,
       CAST(ntile(4) OVER (PARTITION BY event_type
                           ORDER BY value, event_id) AS INT) AS quartile
FROM events"""

    o["events_sliding_window"] = """
WITH hits AS (
  SELECT e.user_id, w
  FROM events e,
       unnest(generate_series(date_trunc('hour', e.ts) - INTERVAL 5 HOUR,
                              date_trunc('hour', e.ts),
                              INTERVAL 1 HOUR)) AS g(w))
SELECT strftime(w, '%Y-%m-%d %H:00') AS window_start,
       count(*) AS n_events,
       count(DISTINCT user_id) AS n_users
FROM hits GROUP BY 1"""

    # strict min-ts chaining, same semantics as operators/funnel.py:
    # step i's min ts must be strictly after step i-1's
    o["events_funnel"] = """
WITH e AS (SELECT user_id, event_type, ts FROM events
           WHERE event_type IN ('signup', 'click', 'purchase')),
s1 AS (SELECT user_id, min(ts) AS t1 FROM e
       WHERE event_type = 'signup' GROUP BY 1),
s2 AS (SELECT e.user_id, min(e.ts) AS t2 FROM e JOIN s1 USING (user_id)
       WHERE e.event_type = 'click' AND e.ts > s1.t1 GROUP BY 1),
s3 AS (SELECT e.user_id, min(e.ts) AS t3 FROM e JOIN s2 USING (user_id)
       WHERE e.event_type = 'purchase' AND e.ts > s2.t2 GROUP BY 1)
SELECT CAST(1 AS INT) AS step_idx, 'signup' AS step,
       CAST((SELECT count(*) FROM s1) AS BIGINT) AS n_users
UNION ALL SELECT 2, 'click', (SELECT count(*) FROM s2)
UNION ALL SELECT 3, 'purchase', (SELECT count(*) FROM s3)"""

    o["events_trailing_7d"] = """
WITH e AS (SELECT event_id, user_id,
                  CAST(floor(epoch(ts)) AS BIGINT) AS es,
                  CAST(round(value * 100) AS BIGINT) AS cents
           FROM events)
SELECT event_id,
       CAST(count(*) OVER w AS BIGINT) AS n_7d,
       CAST(sum(cents) OVER w AS BIGINT) AS cents_7d
FROM e
WINDOW w AS (PARTITION BY user_id ORDER BY es
             RANGE BETWEEN 604800 PRECEDING AND CURRENT ROW)"""

    # string_agg ORDER BY (ts, event_id) is the oracle's total order;
    # DuckDB regexp_matches is unanchored like Spark rlike
    o["events_sequence_match"] = """
WITH s AS (SELECT user_id AS key,
                  string_agg(CASE event_type WHEN 'signup' THEN 'S'
                             WHEN 'click' THEN 'C' WHEN 'purchase' THEN 'P'
                             WHEN 'view' THEN 'V' WHEN 'error' THEN 'E'
                             ELSE '?' END, ''
                             ORDER BY ts, event_id) AS seq
           FROM events GROUP BY 1)
SELECT key, seq FROM s WHERE regexp_matches(seq, 'S.*C.*P')"""

    o["events_transitions"] = """
WITH s AS (SELECT event_type,
                  lead(event_type) OVER (PARTITION BY user_id
                                         ORDER BY ts, event_id) AS nxt
           FROM events)
SELECT event_type AS from_type, nxt AS to_type, count(*) AS n
FROM s WHERE nxt IS NOT NULL GROUP BY 1, 2"""

    o["events_scd2"] = """
WITH ordered AS (
  SELECT user_id, event_type, epoch_us(ts) AS us, event_id,
         lag(event_type) OVER (PARTITION BY user_id
                               ORDER BY ts, event_id) AS prev
  FROM events),
chg AS (
  -- IS DISTINCT FROM mirrors the operator's eqNullSafe change test
  -- (a NULL attr row only opens an interval when the previous attr
  -- was non-NULL, and vice versa)
  SELECT user_id, event_type, us, event_id FROM ordered
  WHERE event_type IS DISTINCT FROM prev)
SELECT user_id, event_type, us AS valid_from,
       coalesce(lead(us) OVER w, -1) AS valid_to,
       CAST(row_number() OVER w AS INT) AS version,
       CAST(CASE WHEN lead(us) OVER w IS NULL THEN 1 ELSE 0 END AS INT)
         AS is_current
FROM chg
WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)"""

    o["events_ewma_hourly"] = """
WITH RECURSIVE hourly AS (
  SELECT event_type,
         CAST(floor(epoch(ts)) AS BIGINT) // 3600 AS h,
         CAST(count(*) AS BIGINT) AS n
  FROM events GROUP BY 1, 2),
idx AS (SELECT event_type, n,
               row_number() OVER (PARTITION BY event_type ORDER BY h)
                 AS i
        FROM hourly),
e(event_type, i, s, mx) AS (
  SELECT event_type, i, n, n FROM idx WHERE i = 1
  UNION ALL
  SELECT h.event_type, h.i,
         (3 * e.s + h.n) // 4,
         greatest(e.mx, (3 * e.s + h.n) // 4)
  FROM e JOIN idx h ON h.event_type = e.event_type AND h.i = e.i + 1),
lst AS (SELECT event_type, max(i) AS mi FROM e GROUP BY 1)
SELECT e.event_type, CAST(l.mi AS BIGINT) AS n_points,
       CAST(e.s AS BIGINT) AS final_ewma,
       CAST(e.mx AS BIGINT) AS peak_ewma
FROM e JOIN lst l ON e.event_type = l.event_type AND e.i = l.mi"""

    o["events_cooccurrence"] = """
WITH marked AS (
  SELECT user_id, event_id, event_type, ts,
         CASE WHEN lag(ts) OVER w IS NULL THEN 1
              WHEN CAST(floor(epoch(ts)) AS BIGINT)
                   - CAST(floor(epoch(lag(ts) OVER w)) AS BIGINT) > 1800 THEN 1
              ELSE 0 END AS is_new
  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
st AS (
  SELECT DISTINCT user_id, event_type,
         CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS UNBOUNDED PRECEDING)
              AS BIGINT) AS session_id
  FROM marked),
pairs AS (
  SELECT a.event_type AS e1, b.event_type AS e2, count(*) AS n_co
  FROM st a JOIN st b
    ON a.user_id = b.user_id AND a.session_id = b.session_id
   AND a.event_type < b.event_type
  GROUP BY 1, 2),
tot AS (SELECT event_type, count(*) AS n FROM st GROUP BY 1),
ns AS (SELECT count(*) AS n_sessions
       FROM (SELECT DISTINCT user_id, session_id FROM st))
SELECT e1, e2, CAST(n_co AS BIGINT) AS n_co,
       CAST(t1.n AS BIGINT) AS n_e1, CAST(t2.n AS BIGINT) AS n_e2,
       CAST(ns.n_sessions AS BIGINT) AS n_sessions,
       CAST((n_co * ns.n_sessions * 1000000) // (t1.n * t2.n) AS BIGINT)
         AS lift_ppm
FROM pairs JOIN tot t1 ON t1.event_type = e1
JOIN tot t2 ON t2.event_type = e2, ns"""

    o["events_rolling_wau"] = """
WITH ud AS (
  SELECT DISTINCT user_id,
         CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day
  FROM events),
days AS (SELECT DISTINCT day FROM ud)
SELECT d.day, CAST(count(DISTINCT u.user_id) AS BIGINT) AS wau
FROM days d JOIN ud u ON u.day BETWEEN d.day - 6 AND d.day
GROUP BY d.day"""

    o["events_daily_from_hourly"] = """
SELECT event_type,
       CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day,
       count(*) AS n,
       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
         AS sum_cents
FROM events GROUP BY 1, 2"""

    o["events_top_trigrams"] = """
WITH s AS (
  SELECT event_type AS e1,
         lead(event_type, 1) OVER w AS e2,
         lead(event_type, 2) OVER w AS e3
  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
SELECT e1, e2, e3, count(*) AS n
FROM s WHERE e3 IS NOT NULL
GROUP BY 1, 2, 3
ORDER BY n DESC, e1, e2, e3
LIMIT 10"""

    o["events_cusum_hourly"] = """
WITH RECURSIVE hourly AS (
  SELECT event_type,
         CAST(floor(epoch(ts)) AS BIGINT) // 3600 AS h,
         CAST(count(*) AS BIGINT) AS n
  FROM events GROUP BY 1, 2),
kk AS (SELECT event_type,
              CAST(CAST(sum(n) AS BIGINT) // count(*) AS BIGINT) AS ref_k
       FROM hourly GROUP BY 1),
idx AS (SELECT h.event_type, h.n, kk.ref_k AS k,
               row_number() OVER (PARTITION BY h.event_type ORDER BY h.h)
                 AS i
        FROM hourly h JOIN kk USING (event_type)),
e(event_type, i, s, peak, pos) AS (
  SELECT event_type, i, greatest(0, n - k), greatest(0, n - k),
         CAST(1 AS BIGINT)
  FROM idx WHERE i = 1
  UNION ALL
  SELECT x.event_type, x.i,
         greatest(0, e.s + x.n - x.k),
         greatest(e.peak, greatest(0, e.s + x.n - x.k)),
         CASE WHEN greatest(0, e.s + x.n - x.k) > e.peak
              THEN CAST(x.i AS BIGINT) ELSE e.pos END
  FROM e JOIN idx x ON x.event_type = e.event_type AND x.i = e.i + 1),
lst AS (SELECT event_type, max(i) AS mi FROM e GROUP BY 1)
SELECT e.event_type, CAST(l.mi AS BIGINT) AS n_points, kk.ref_k,
       CAST(e.peak AS BIGINT) AS peak_cusum,
       CAST(e.pos AS BIGINT) AS peak_pos
FROM e JOIN lst l ON e.event_type = l.event_type AND e.i = l.mi
JOIN kk ON kk.event_type = e.event_type"""

    o["events_state_dwell"] = """
WITH ordered AS (
  SELECT user_id, event_type, epoch_us(ts) AS us, event_id,
         lag(event_type) OVER (PARTITION BY user_id
                               ORDER BY ts, event_id) AS prev
  FROM events),
chg AS (
  SELECT user_id, event_type, us, event_id FROM ordered
  WHERE event_type IS DISTINCT FROM prev),
iv AS (
  SELECT user_id, event_type, us AS valid_from,
         lead(us) OVER (PARTITION BY user_id ORDER BY us, event_id)
           AS valid_to
  FROM chg),
cap AS (SELECT user_id, max(epoch_us(ts)) AS c FROM events
        GROUP BY user_id)
SELECT event_type AS state,
       CAST(sum(coalesce(valid_to, cap.c) - valid_from) AS BIGINT)
         AS dwell_us,
       count(*) AS n_intervals
FROM iv JOIN cap USING (user_id)
GROUP BY event_type"""

    o["events_scd2_lookup"] = """
WITH ordered AS (
  SELECT user_id, event_type, epoch_us(ts) AS us,
         lag(event_type) OVER (PARTITION BY user_id
                               ORDER BY ts, event_id) AS prev
  FROM events),
chg AS (
  SELECT user_id, event_type AS state, us AS valid_from
  FROM ordered WHERE event_type IS DISTINCT FROM prev),
facts AS (
  SELECT user_id, event_type, epoch_us(ts) - CAST(3600000000 AS BIGINT) AS lts
  FROM events)
SELECT f.event_type, coalesce(c.state, 'none') AS state_1h_ago,
       count(*) AS n
FROM facts f ASOF LEFT JOIN chg c
  ON f.user_id = c.user_id AND f.lts >= c.valid_from
GROUP BY 1, 2"""

    o["events_snapshot_diff"] = """
WITH snap_a AS (
  SELECT user_id, count(*) AS n_events,
         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents
  FROM events WHERE ts < TIMESTAMP '2024-01-20' GROUP BY user_id),
snap_b AS (
  SELECT user_id, count(*) AS n_events,
         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents
  FROM events WHERE ts < TIMESTAMP '2024-01-28' GROUP BY user_id),
hashed AS (
  -- mirror of row_hash's prefix-code canonicalization:
  -- len:value per column, bare chr(0) for NULL
  SELECT a.user_id AS ok, b.user_id AS nk,
         md5(concat_ws(chr(31),
           CASE WHEN a.n_events IS NULL THEN chr(0)
                ELSE CAST(length(CAST(a.n_events AS VARCHAR)) AS VARCHAR)
                     || ':' || CAST(a.n_events AS VARCHAR) END,
           CASE WHEN a.sum_cents IS NULL THEN chr(0)
                ELSE CAST(length(CAST(a.sum_cents AS VARCHAR)) AS VARCHAR)
                     || ':' || CAST(a.sum_cents AS VARCHAR) END)) AS oh,
         md5(concat_ws(chr(31),
           CASE WHEN b.n_events IS NULL THEN chr(0)
                ELSE CAST(length(CAST(b.n_events AS VARCHAR)) AS VARCHAR)
                     || ':' || CAST(b.n_events AS VARCHAR) END,
           CASE WHEN b.sum_cents IS NULL THEN chr(0)
                ELSE CAST(length(CAST(b.sum_cents AS VARCHAR)) AS VARCHAR)
                     || ':' || CAST(b.sum_cents AS VARCHAR) END)) AS nh
  FROM snap_a a FULL OUTER JOIN snap_b b ON a.user_id = b.user_id)
SELECT coalesce(ok, nk) AS user_id,
       CASE WHEN ok IS NULL THEN 'added'
            WHEN nk IS NULL THEN 'removed'
            WHEN oh <> nh THEN 'changed'
            ELSE 'unchanged' END AS status,
       coalesce(CASE WHEN ok IS NULL THEN NULL ELSE oh END, '') AS old_hash,
       coalesce(CASE WHEN nk IS NULL THEN NULL ELSE nh END, '') AS new_hash
FROM hashed
WHERE NOT (ok IS NOT NULL AND nk IS NOT NULL AND oh = nh)"""

    o["events_winsorized"] = """
WITH b AS (
  SELECT event_type,
         quantile_cont(value, 0.05) AS lo,
         quantile_cont(value, 0.95) AS hi
  FROM events GROUP BY event_type)
SELECT e.event_type,
       CAST(sum(CAST(round(least(greatest(value, lo), hi) * 100) AS BIGINT))
            AS BIGINT) AS sum_cents_winsorized,
       CAST(sum(CASE WHEN value < lo THEN 1 ELSE 0 END) AS BIGINT)
         AS n_clip_lo,
       CAST(sum(CASE WHEN value > hi THEN 1 ELSE 0 END) AS BIGINT)
         AS n_clip_hi,
       count(*) AS n
FROM events e JOIN b USING (event_type)
WHERE value IS NOT NULL
GROUP BY e.event_type"""

    o["events_debounce"] = """
WITH l AS (
  SELECT event_type,
         CASE WHEN lag(epoch_us(ts)) OVER (PARTITION BY user_id
                                           ORDER BY ts, event_id) IS NULL
                OR epoch_us(ts) - lag(epoch_us(ts))
                     OVER (PARTITION BY user_id ORDER BY ts, event_id)
                   > 1800 * 1000000
              THEN 1 ELSE 0 END AS kept
  FROM events)
SELECT event_type, CAST(sum(kept) AS BIGINT) AS n_kept,
       CAST(sum(1 - kept) AS BIGINT) AS n_dropped
FROM l GROUP BY event_type"""

    o["events_cumulative_users"] = """
WITH ft AS (
  SELECT user_id,
         CAST(floor(epoch(min(ts))) AS BIGINT) // 86400 AS day
  FROM events GROUP BY user_id),
daily AS (SELECT day, count(*) AS n_new FROM ft GROUP BY day)
SELECT day, n_new,
       CAST(sum(n_new) OVER (ORDER BY day
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         AS running_users
FROM daily"""

    o["events_native_session_window"] = """
WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS us FROM events),
marked AS (
  -- Spark's session window [t, t+gap) is end-EXCLUSIVE: an event at
  -- exactly prev+gap starts a NEW session, so the split test is >=
  SELECT user_id, us,
         CASE WHEN lag(us) OVER w IS NULL THEN 1
              WHEN us - lag(us) OVER w >= 1800 * 1000000 THEN 1
              ELSE 0 END AS is_new
  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
sessions AS (
  SELECT user_id, us,
         sum(is_new) OVER (PARTITION BY user_id ORDER BY us
                           ROWS UNBOUNDED PRECEDING) AS sid
  FROM marked)
SELECT user_id,
       CAST(min(us) AS BIGINT) AS start_us,
       CAST(max(us) + 1800 * 1000000 AS BIGINT) AS end_us,
       count(*) AS n_events
FROM sessions GROUP BY user_id, sid"""

    o["events_ab_experiment"] = f"""
WITH per_user AS (
  SELECT user_id,
         max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS conv
  FROM events GROUP BY user_id),
armed AS (
  SELECT CAST({hash60_sql('user_id', 'ab1')} % 2 AS INT) AS arm, conv
  FROM per_user)
SELECT arm, count(*) AS n_users,
       CAST(sum(conv) AS BIGINT) AS n_converted,
       CAST((CAST(sum(conv) AS BIGINT) * 10000) // count(*) AS BIGINT)
         AS conv_bps
FROM armed GROUP BY arm"""

    o["events_attribution"] = """
WITH d AS (
  SELECT event_type,
         first_value(CASE WHEN event_type <> 'purchase'
                          THEN event_type END IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           AS ft,
         last_value(CASE WHEN event_type <> 'purchase'
                         THEN event_type END IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           AS lt
  FROM events)
SELECT coalesce(ft, 'none') AS first_touch,
       coalesce(lt, 'none') AS last_touch,
       count(*) AS n_purchases
FROM d WHERE event_type = 'purchase'
GROUP BY 1, 2"""

    o["events_coverage_islands"] = """
WITH iv AS (
  SELECT user_id, epoch_us(ts) - 300 * CAST(1000000 AS BIGINT) AS s,
         epoch_us(ts) + 300 * CAST(1000000 AS BIGINT) AS e, event_id
  FROM events),
marked AS (
  SELECT user_id, s, e, event_id,
         CASE WHEN max(e) OVER (PARTITION BY user_id ORDER BY s, event_id
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                AND 1 PRECEDING) IS NULL
                OR s > max(e) OVER (PARTITION BY user_id
                                    ORDER BY s, event_id
                                    ROWS BETWEEN UNBOUNDED PRECEDING
                                    AND 1 PRECEDING)
              THEN 1 ELSE 0 END AS new_isl
  FROM iv),
isl AS (
  SELECT user_id, s, e,
         sum(new_isl) OVER (PARTITION BY user_id ORDER BY s, event_id
                            ROWS UNBOUNDED PRECEDING) AS isl
  FROM marked),
per AS (
  SELECT user_id, isl, max(e) - min(s) AS cov
  FROM isl GROUP BY user_id, isl)
SELECT user_id, count(*) AS n_islands,
       CAST(sum(cov) AS BIGINT) AS covered_us
FROM per GROUP BY user_id"""

    o["events_session_analytics_e2e"] = """
WITH marked AS (
  SELECT user_id, event_id, event_type, ts,
         CASE WHEN lag(ts) OVER w IS NULL THEN 1
              WHEN CAST(floor(epoch(ts)) AS BIGINT)
                   - CAST(floor(epoch(lag(ts) OVER w)) AS BIGINT) > 1800 THEN 1
              ELSE 0 END AS is_new
  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
sessions AS (
  SELECT user_id, event_type, ts,
         CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS UNBOUNDED PRECEDING)
              AS BIGINT) AS session_id
  FROM marked),
per AS (
  SELECT user_id, session_id, count(*) AS n_events,
         CAST(max(CAST(floor(epoch(ts)) AS BIGINT))
              - min(CAST(floor(epoch(ts)) AS BIGINT)) AS BIGINT)
           AS duration_s,
         CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
              AS BIGINT) AS n_purchases,
         CAST(min(CAST(floor(epoch(ts)) AS BIGINT)) // 86400 AS BIGINT)
           AS start_day
  FROM sessions GROUP BY user_id, session_id)
SELECT start_day, count(*) AS n_sessions,
       CAST(sum(n_events) AS BIGINT) AS n_events,
       CAST(sum(duration_s) AS BIGINT) AS sum_duration_s,
       CAST(sum(n_purchases) AS BIGINT) AS n_purchases,
       CAST(sum(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_bounce
FROM per GROUP BY start_day"""

    o["events_value_histogram"] = """
SELECT event_type,
       CAST(least(floor(value / 20.0), 19) AS INT) AS bin,
       count(*) AS n,
       CAST(CAST(least(floor(value / 20.0), 19) AS INT) * 20 AS BIGINT)
         AS bin_lo
FROM events WHERE value IS NOT NULL
GROUP BY 1, 2"""

    o["events_profile"] = """
SELECT col_name, n_rows, n_null, n_distinct FROM (
  SELECT 'event_id' AS col_name, count(*) AS n_rows,
         CAST(sum(CASE WHEN event_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
         CAST(count(DISTINCT event_id) AS BIGINT) AS n_distinct FROM events
  UNION ALL
  SELECT 'user_id', count(*),
         CAST(sum(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END) AS BIGINT),
         CAST(count(DISTINCT user_id) AS BIGINT) FROM events
  UNION ALL
  SELECT 'event_type', count(*),
         CAST(sum(CASE WHEN event_type IS NULL THEN 1 ELSE 0 END) AS BIGINT),
         CAST(count(DISTINCT event_type) AS BIGINT) FROM events
  UNION ALL
  SELECT 'value', count(*),
         CAST(sum(CASE WHEN value IS NULL THEN 1 ELSE 0 END) AS BIGINT),
         CAST(count(DISTINCT value) AS BIGINT) FROM events)"""

    o["events_conversion_latency"] = """
WITH s0 AS (SELECT user_id, min(CAST(floor(epoch(ts)) AS BIGINT)) AS t0
            FROM events WHERE event_type = 'signup' GROUP BY 1),
conv AS (SELECT p.user_id,
                min(CAST(floor(epoch(p.ts)) AS BIGINT)) AS t1,
                min(s0.t0) AS t0
         FROM events p JOIN s0 USING (user_id)
         WHERE p.event_type = 'purchase'
           AND CAST(floor(epoch(p.ts)) AS BIGINT) >= s0.t0
         GROUP BY 1)
SELECT count(*) AS n_converted,
       quantile_cont(CAST(t1 - t0 AS DOUBLE), 0.25) AS p25_s,
       quantile_cont(CAST(t1 - t0 AS DOUBLE), 0.5) AS p50_s,
       quantile_cont(CAST(t1 - t0 AS DOUBLE), 0.9) AS p90_s
FROM conv"""

    # Spark's percentile() and DuckDB's quantile_cont share the linear-
    # interpolation definition (bitwise-matched by agg_exact_quantiles)
    o["events_error_spikes"] = """
WITH c AS (SELECT user_id AS key,
                  CAST(floor(epoch(ts)) AS BIGINT) // 604800 AS period,
                  count(*) AS n
           FROM events WHERE event_type = 'error' GROUP BY 1, 2),
m AS (SELECT *, quantile_cont(CAST(n AS DOUBLE), 0.5)
                  OVER (PARTITION BY key) AS med FROM c),
d AS (SELECT *, quantile_cont(abs(n - med), 0.5)
                  OVER (PARTITION BY key) AS mad FROM m)
SELECT key, period, CAST(n AS BIGINT) AS n, med, mad,
       (n - med) > 3 * mad AS is_spike
FROM d"""

    # independent derivation: Spark assembles (first week, active-week
    # set) in one per-user aggregate; the oracle joins a min-week CTE
    # back to the distinct activity relation. 604800 = epoch-week;
    # floor-before-cast per the portability rules (epoch() is
    # fractional in DuckDB)
    o["events_cohort_retention"] = """
WITH w AS (SELECT DISTINCT user_id,
                  CAST(floor(epoch(ts)) AS BIGINT) // 604800 AS week
           FROM events),
c AS (SELECT user_id, min(week) AS cohort_period FROM w GROUP BY 1)
SELECT c.cohort_period, w.week - c.cohort_period AS periods_since,
       count(*) AS n_users
FROM w JOIN c USING (user_id)
GROUP BY 1, 2"""

    o["events_type_pivot"] = """
SELECT user_id,
       CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS n_click,
       CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS n_error,
       CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS n_purchase,
       CAST(sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS n_signup,
       CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS n_view
FROM events GROUP BY 1"""

    # independent derivation: Spark runs the union-tag + last-over-
    # running-window formulation (operators/asof.py); DuckDB uses its
    # NATIVE ASOF LEFT JOIN operator — same at-or-before semantics
    # (l.ts >= r.ts picks the greatest earlier right ts)
    o["events_asof_last_error"] = """
WITH err AS (SELECT user_id, ts AS error_ts, max(event_id) AS error_event_id
             FROM events WHERE event_type = 'error' GROUP BY 1, 2),
lft AS (SELECT event_id, user_id, ts, event_type FROM events
        WHERE event_type <> 'error')
SELECT l.event_id, l.user_id, epoch_us(l.ts) AS ts_us, l.event_type,
       COALESCE(r.error_event_id, -1) AS error_event_id,
       COALESCE(epoch_us(l.ts) - epoch_us(r.error_ts), -1) AS us_since_error
FROM lft l ASOF LEFT JOIN err r
  ON l.user_id = r.user_id AND l.ts >= r.error_ts"""

    # independent derivation: Spark bucketizes intervals and equi-joins
    # on (user, bucket); DuckDB evaluates the raw inequality join
    o["events_incident_rollup"] = """
WITH inc AS (SELECT event_id AS incident_id, user_id, ts AS start_ts,
                    ts + INTERVAL 10 MINUTE AS end_ts
             FROM events WHERE event_type = 'error'),
pts AS (SELECT event_id, user_id, ts, value FROM events
        WHERE event_type <> 'error')
SELECT i.incident_id, count(*) AS n_events,
       CAST(sum(CAST(round(p.value * 100) AS BIGINT)) AS BIGINT) AS value_cents
FROM inc i JOIN pts p
  ON p.user_id = i.user_id AND p.ts >= i.start_ts AND p.ts < i.end_ts
GROUP BY 1"""

    o["events_seasonality"] = """
SELECT event_type, CAST(hour(ts) AS INT) AS hour_of_day,
       count(*) AS n,
       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
         AS sum_cents,
       CAST(CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
            // count(*) AS BIGINT) AS mean_cents
FROM events GROUP BY 1, 2"""

    o["events_median_gap_histogram"] = """
WITH g AS (
  SELECT user_id,
         CAST(floor(epoch(ts)) AS BIGINT)
         - lag(CAST(floor(epoch(ts)) AS BIGINT))
             OVER (PARTITION BY user_id ORDER BY ts, event_id) AS gap
  FROM events),
med AS (
  SELECT user_id, quantile_cont(CAST(gap AS DOUBLE), 0.5) AS m
  FROM g WHERE gap IS NOT NULL GROUP BY user_id)
SELECT CAST(least(floor(m / 21600), 12) AS BIGINT) AS med_gap_6h_bucket,
       count(*) AS n_users
FROM med GROUP BY 1"""

    o["events_ecdf_normalize"] = """
WITH q AS (
  SELECT CAST(floor(value * 1e6) AS BIGINT) AS vq
  FROM events WHERE value IS NOT NULL),
c AS (SELECT vq, count(*) AS n_rows FROM q GROUP BY 1),
n AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM q)
SELECT vq, CAST(n_rows AS BIGINT) AS n_rows,
       CAST(coalesce(sum(n_rows) OVER (
         ORDER BY vq ROWS BETWEEN UNBOUNDED PRECEDING
         AND 1 PRECEDING), 0) AS BIGINT) AS cum_below,
       CAST((CAST(coalesce(sum(n_rows) OVER (
         ORDER BY vq ROWS BETWEEN UNBOUNDED PRECEDING
         AND 1 PRECEDING), 0) AS BIGINT) * 1000000) // n_total
         AS BIGINT) AS pct_ppm
FROM c, n"""

    # identity proof: the plain join the split form must reproduce
    o["events_skew_join"] = """
SELECT c.c_mktsegment AS segment, CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(CAST(floor(e.value * 100) AS BIGINT)) AS BIGINT)
         AS value_cents
FROM events e JOIN customer c ON e.user_id = c.c_custkey
GROUP BY 1"""

    # quantize-first: quantile_cont over BIGINT with i/8 fractions is
    # exact double arithmetic — bitwise equal to Spark's percentile()
    # (raw doubles diverged by an ulp at the median edge)
    o["events_equidepth_histogram"] = """
WITH q AS (
  SELECT CAST(floor(value * 1e6) AS BIGINT) AS vq
  FROM events WHERE value IS NOT NULL),
edges AS (
  SELECT quantile_cont(vq, [0.125, 0.25, 0.375, 0.5, 0.625, 0.75,
                            0.875]) AS e
  FROM q)
SELECT CAST(1 + len([x FOR x IN e IF vq > x]) AS INT) AS bucket,
       count(*) AS n
FROM q, edges
GROUP BY 1"""

    o["events_wow_change"] = """
WITH wk AS (
  SELECT CAST(date_trunc('week', ts) AS DATE) AS week, event_type,
         count(*) AS n
  FROM events GROUP BY 1, 2),
l AS (SELECT week, event_type, n,
             lag(n) OVER (PARTITION BY event_type ORDER BY week) AS prev
      FROM wk)
SELECT week, event_type, n,
       CAST(coalesce(prev, -1) AS BIGINT) AS prev_n,
       CAST(CASE WHEN coalesce(prev, -1) > 0
                 THEN ((n - prev) * 10000) // prev
                 ELSE 0 END AS BIGINT) AS chg_bps
FROM l"""

    o["events_autocorr"] = """
WITH hr AS (SELECT epoch_us(ts) // 3600000000 AS hour, count(*) AS n
            FROM events GROUP BY 1),
sh AS (SELECT CAST(l.lag AS INT) AS lag, hour + l.lag AS hour,
              n AS n_prev
       FROM hr, (VALUES (1), (2), (3)) AS l(lag)),
j AS (SELECT s.lag, h.n AS x, s.n_prev AS y
      FROM hr h JOIN sh s USING (hour))
SELECT lag, count(*) AS n_pairs,
       CAST(sum(x) AS BIGINT) AS sum_x,
       CAST(sum(y) AS BIGINT) AS sum_y,
       CAST(sum(x * y) AS BIGINT) AS sum_xy,
       CAST(sum(x * x) AS BIGINT) AS sum_xx,
       CAST(sum(y * y) AS BIGINT) AS sum_yy,
       count(*) * CAST(sum(x * y) AS BIGINT)
         - CAST(sum(x) AS BIGINT) * CAST(sum(y) AS BIGINT) AS cov_num
FROM j GROUP BY 1"""

    # CDC round-trip: the oracle asserts the identity recon == v2
    # directly (counts of v2, fp_equal = 1); the fingerprints are
    # computed and compared on the Spark side — any bug in the
    # changeset/apply chain yields fp_equal = 0 and a mismatch.
    o["events_cdc_roundtrip"] = f"""
WITH v2 AS (SELECT event_id, event_type,
                   CAST(floor(value * 100) AS BIGINT) AS val_cents
            FROM events),
fpv AS (SELECT count(*) AS n FROM v2),
nch AS (SELECT
    (SELECT count(*) FROM v2 WHERE event_id % 13 = 0)
  + (SELECT count(*) FROM v2
     WHERE event_id % 7 = 0 AND event_id % 13 <> 0)
  + (SELECT count(*) FROM v2 WHERE event_id % 17 = 0) AS n_changes)
SELECT n AS n_target, n AS n_recon, n_changes,
       CAST(1 AS INT) AS fp_equal
FROM fpv, nch"""

    o["events_holt_trend"] = """
WITH RECURSIVE hourly AS (
  SELECT event_type,
         CAST(floor(epoch(ts)) AS BIGINT) // 3600 AS h,
         CAST(count(*) AS BIGINT) AS n
  FROM events GROUP BY 1, 2),
idx AS (SELECT event_type, n,
               row_number() OVER (PARTITION BY event_type ORDER BY h) AS i
        FROM hourly),
init AS (
  SELECT a.event_type, 2 AS i,
         b.n * 1000 AS l, (b.n - a.n) * 1000 AS t
  FROM idx a JOIN idx b ON b.event_type = a.event_type AND b.i = 2
  WHERE a.i = 1),
e(event_type, i, l, t) AS (
  SELECT event_type, i, l, t FROM init
  UNION ALL
  SELECT h.event_type, h.i,
         (300 * h.n * 1000 + 700 * (e.l + e.t)) // 1000,
         (100 * (((300 * h.n * 1000 + 700 * (e.l + e.t)) // 1000) - e.l)
          + 900 * e.t) // 1000
  FROM e JOIN idx h ON h.event_type = e.event_type AND h.i = e.i + 1),
lst AS (SELECT event_type, max(i) AS mi FROM e GROUP BY 1),
np AS (SELECT event_type, CAST(max(i) AS BIGINT) AS n_points
       FROM idx GROUP BY 1)
SELECT e.event_type, np.n_points,
       CAST(e.l AS BIGINT) AS level_x1000,
       CAST(e.t AS BIGINT) AS trend_x1000,
       CAST(e.l + e.t AS BIGINT) AS forecast_x1000
FROM e JOIN lst ON e.event_type = lst.event_type AND e.i = lst.mi
JOIN np ON np.event_type = e.event_type
WHERE np.n_points >= 2"""

    o["events_trend_slope"] = """
WITH hourly AS (
  SELECT event_type,
         CAST(floor(epoch(ts)) AS BIGINT) // 3600 AS h,
         CAST(count(*) AS BIGINT) AS n
  FROM events GROUP BY 1, 2),
mn AS (SELECT event_type, min(h) AS m FROM hourly GROUP BY 1),
based AS (SELECT hourly.event_type,
                 CAST(hourly.h - mn.m AS BIGINT) AS x,
                 hourly.n AS y
          FROM hourly JOIN mn USING (event_type)),
agg AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
               CAST(sum(x) AS BIGINT) AS sx,
               CAST(sum(y) AS BIGINT) AS sy,
               CAST(sum(x * y) AS BIGINT) AS sxy,
               CAST(sum(x * x) AS BIGINT) AS sxx
        FROM based GROUP BY 1)
SELECT event_type, n,
       CAST(n * sxy - sx * sy AS BIGINT) AS slope_num,
       CAST(n * sxx - sx * sx AS BIGINT) AS slope_den,
       CAST(CASE WHEN n * sxx - sx * sx = 0 THEN 0
            ELSE ((n * sxy - sx * sy) * 1000000) // (n * sxx - sx * sx)
            END AS BIGINT) AS slope_x1e6
FROM agg"""

    o["events_props_variant"] = """
WITH kx AS (
  SELECT event_type,
         CAST(json_extract(props, '$.k') AS BIGINT) AS k
  FROM events)
SELECT event_type, CAST(count(*) AS BIGINT) AS n_rows,
       CAST(coalesce(sum(k), 0) AS BIGINT) AS sum_k,
       CAST(max(k) AS BIGINT) AS max_k,
       CAST(sum(CASE WHEN k >= 50 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_k_ge_50
FROM kx GROUP BY 1"""

    o["events_drift_index"] = """
WITH o_ AS (SELECT event_type AS bin, CAST(count(*) AS BIGINT) AS o
            FROM events WHERE ts < TIMESTAMP '2024-01-16 00:00:00'
            GROUP BY 1),
c_ AS (SELECT event_type AS bin, CAST(count(*) AS BIGINT) AS c
       FROM events WHERE ts >= TIMESTAMP '2024-01-16 00:00:00'
       GROUP BY 1),
j AS (SELECT coalesce(o_.bin, c_.bin) AS bin,
             coalesce(o, 0) AS o, coalesce(c, 0) AS c
      FROM o_ FULL OUTER JOIN c_ ON o_.bin = c_.bin),
tot AS (SELECT CAST(sum(o) AS BIGINT) AS t_o,
               CAST(sum(c) AS BIGINT) AS t_c FROM j),
per AS (SELECT bin, (o * 1000000) // t_o AS old_ppm,
               (c * 1000000) // t_c AS new_ppm
        FROM j, tot)
SELECT CAST(count(*) AS BIGINT) AS n_bins,
       CAST(sum(((new_ppm - old_ppm) * (new_ppm - old_ppm))
                // greatest(old_ppm, 1)) AS BIGINT) AS drift_x1e6
FROM per"""

    o["events_forecast_backtest"] = """
WITH hourly AS (
  SELECT event_type,
         CAST(floor(epoch(ts)) AS BIGINT) // 3600 AS h,
         CAST(count(*) AS BIGINT) AS n
  FROM events GROUP BY 1, 2),
scored AS (
  SELECT b.event_type,
         abs(b.n - s.n) AS es, abs(b.n - p.n) AS en
  FROM hourly b
  JOIN hourly s ON s.event_type = b.event_type AND s.h = b.h - 24
  JOIN hourly p ON p.event_type = b.event_type AND p.h = b.h - 1)
SELECT event_type, CAST(count(*) AS BIGINT) AS n_scored,
       CAST(sum(es) AS BIGINT) AS err_season,
       CAST(sum(en) AS BIGINT) AS err_naive,
       CAST((CAST(sum(es) AS BIGINT) * 1000000)
            // greatest(CAST(sum(en) AS BIGINT), 1) AS BIGINT)
         AS mase_x1e6
FROM scored GROUP BY 1"""

    o["events_attribution_windowed"] = """
WITH e AS (
  SELECT user_id, epoch_us(ts) AS us, event_id, event_type,
         CAST(round(value * 100) AS BIGINT) AS cents
  FROM events),
conv AS (SELECT * FROM e WHERE event_type = 'purchase'),
tch AS (SELECT * FROM e WHERE event_type IN ('click', 'view')),
j AS (SELECT c.event_id AS cid, c.cents, t.us, t.event_id AS tid,
             t.event_type AS tt
      FROM conv c LEFT JOIN tch t
        ON t.user_id = c.user_id
       AND t.us >= c.us - 604800000000
       AND t.us <= c.us - 1),
ranked AS (
  SELECT cid, cents, tt,
         row_number() OVER (PARTITION BY cid
                            ORDER BY us ASC NULLS LAST, tid ASC) AS rf,
         row_number() OVER (PARTITION BY cid
                            ORDER BY us DESC NULLS LAST, tid DESC) AS rl
  FROM j),
models AS (
  SELECT 'first' AS model, coalesce(tt, 'none') AS touch_type, cents
  FROM ranked WHERE rf = 1
  UNION ALL
  SELECT 'last', coalesce(tt, 'none'), cents FROM ranked WHERE rl = 1)
SELECT model, touch_type, CAST(count(*) AS BIGINT) AS n_conversions,
       CAST(sum(cents) AS BIGINT) AS cents
FROM models GROUP BY 1, 2"""

    o["events_behavior_diversity"] = """
WITH d AS (
  SELECT user_id, event_type,
         lag(event_type) OVER (PARTITION BY user_id
                               ORDER BY ts, event_id) AS prev
  FROM events),
per AS (
  SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
         CAST(count(DISTINCT event_type) AS BIGINT) AS n_types,
         CAST(sum(CASE WHEN prev IS NOT NULL THEN 1 ELSE 0 END)
              AS BIGINT) AS n_trans,
         CAST(count(DISTINCT CASE WHEN prev IS NOT NULL
                    THEN prev || '>' || event_type END) AS BIGINT)
           AS n_dtrans
  FROM d GROUP BY 1),
scored AS (
  SELECT *, (n_dtrans * 1000000) // greatest(n_trans, 1) AS div_
  FROM per)
SELECT least(9, div_ // 100000) AS decile,
       CAST(count(*) AS BIGINT) AS n_users,
       CAST(sum(n_events) AS BIGINT) AS sum_events,
       CAST(sum(n_trans) AS BIGINT) AS sum_trans,
       CAST(sum(n_dtrans) AS BIGINT) AS sum_distinct_trans
FROM scored GROUP BY 1"""

    # token bucket: cap 5e6 micro-tokens, refill (dus * 1e5) // 1e6,
    # spend 1e6 per admitted event — identical recurrence to the
    # Spark aggregate() fold, unrolled one row per step per key
    o["events_rate_limit"] = """
WITH RECURSIVE idx AS (
  SELECT event_type || ':' || CAST(CAST(ts AS DATE) AS VARCHAR) AS k,
         epoch_us(ts) AS u,
         row_number() OVER (
           PARTITION BY event_type || ':'
                        || CAST(CAST(ts AS DATE) AS VARCHAR)
           ORDER BY epoch_us(ts), event_id) AS i
  FROM events),
e(k, i, u, tok, adm) AS (
  SELECT k, i, u, CAST(4000000 AS BIGINT), CAST(1 AS BIGINT)
  FROM idx WHERE i = 1
  UNION ALL
  SELECT x.k, x.i, x.u,
         CASE WHEN least(5000000, e.tok + ((x.u - e.u) * 100000)
                    // 1000000) >= 1000000
              THEN least(5000000, e.tok + ((x.u - e.u) * 100000)
                         // 1000000) - 1000000
              ELSE least(5000000, e.tok + ((x.u - e.u) * 100000)
                         // 1000000) END,
         e.adm + CASE WHEN least(5000000, e.tok + ((x.u - e.u)
                            * 100000) // 1000000) >= 1000000
                      THEN 1 ELSE 0 END
  FROM idx x JOIN e ON x.k = e.k AND x.i = e.i + 1)
SELECT k, CAST(max(i) AS BIGINT) AS n_events,
       CAST(max(adm) AS BIGINT) AS n_admitted,
       CAST(max(i) - max(adm) AS BIGINT) AS n_dropped
FROM e GROUP BY 1"""

    o["events_slo_burn"] = """
WITH hourly AS (
  SELECT CAST(floor(epoch(ts)) AS BIGINT) // 3600 AS h,
         CAST(count(*) AS BIGINT) AS tot,
         CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
              AS BIGINT) AS err
  FROM events GROUP BY 1),
scored AS (
  SELECT h, err, tot,
         CAST(sum(err) OVER (ORDER BY h RANGE BETWEEN 5 PRECEDING
              AND CURRENT ROW) AS BIGINT) AS err6,
         CAST(sum(tot) OVER (ORDER BY h RANGE BETWEEN 5 PRECEDING
              AND CURRENT ROW) AS BIGINT) AS tot6
  FROM hourly)
SELECT h, err, tot, err6, tot6,
       CAST((err * 1000000) // tot AS BIGINT) AS rate1_ppm,
       CAST((err6 * 1000000) // tot6 AS BIGINT) AS rate6_ppm,
       CAST(CASE WHEN (err * 1000000) // tot > 250000
                  AND (err6 * 1000000) // tot6 > 250000
            THEN 1 ELSE 0 END AS INT) AS alert
FROM scored"""

    o["events_cohort_ltv"] = """
WITH base AS (
  SELECT user_id,
         CAST(floor(epoch(ts)) AS BIGINT) // 604800 AS w,
         event_type, CAST(round(value * 100) AS BIGINT) AS cents
  FROM events),
cohort AS (SELECT user_id, CAST(min(w) AS BIGINT) AS cw
           FROM base GROUP BY 1),
cells AS (
  SELECT cw, b.w - cw AS age,
         CAST(count(DISTINCT b.user_id) AS BIGINT) AS n_users_active,
         CAST(sum(CASE WHEN event_type = 'purchase' THEN cents
                  ELSE 0 END) AS BIGINT) AS cents
  FROM base b JOIN cohort c ON c.user_id = b.user_id
  GROUP BY 1, 2)
SELECT cw AS cohort_week, age AS age_weeks, n_users_active, cents,
       CAST(sum(cents) OVER (PARTITION BY cw ORDER BY age
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            AS BIGINT) AS cum_cents
FROM cells"""

    o["events_burstiness"] = """
WITH s_ AS (
  SELECT user_id, event_id, epoch_us(ts) // 1000000 AS s
  FROM events),
g AS (
  SELECT user_id,
         s - lag(s) OVER (PARTITION BY user_id
                          ORDER BY s, event_id) AS gap
  FROM s_),
per AS (
  SELECT user_id, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(gap) AS BIGINT) AS sg,
         CAST(sum(gap * gap) AS BIGINT) AS sg2
  FROM g WHERE gap IS NOT NULL GROUP BY 1),
scored AS (
  SELECT *, (n * sg2 - sg * sg) // (n * sg) AS d
  FROM per WHERE sg > 0)
SELECT least(9, (length(bin(d + 1)) - 1) // 2) AS dbin,
       CAST(count(*) AS BIGINT) AS n_users,
       CAST(sum(n) AS BIGINT) AS sum_gaps,
       CAST(sum(sg) AS BIGINT) AS sum_gap_s
FROM scored GROUP BY 1"""

    o["events_rfm_segments"] = """
WITH per AS (
  SELECT user_id,
         CAST((1706745600000000 - max(epoch_us(ts))) // 86400000000
              AS BIGINT) AS r_days,
         CAST(count(*) AS BIGINT) AS f_n,
         CAST(sum(CASE WHEN event_type = 'purchase'
                  THEN CAST(round(value * 100) AS BIGINT)
                  ELSE 0 END) AS BIGINT) AS m_cents
  FROM events GROUP BY 1),
edges AS (
  SELECT quantile_cont(CAST(r_days AS DOUBLE), 0.25) AS re1,
         quantile_cont(CAST(r_days AS DOUBLE), 0.5)  AS re2,
         quantile_cont(CAST(r_days AS DOUBLE), 0.75) AS re3,
         quantile_cont(CAST(f_n AS DOUBLE), 0.25) AS fe1,
         quantile_cont(CAST(f_n AS DOUBLE), 0.5)  AS fe2,
         quantile_cont(CAST(f_n AS DOUBLE), 0.75) AS fe3,
         quantile_cont(CAST(m_cents AS DOUBLE), 0.25) AS me1,
         quantile_cont(CAST(m_cents AS DOUBLE), 0.5)  AS me2,
         quantile_cont(CAST(m_cents AS DOUBLE), 0.75) AS me3
  FROM per),
banded AS (
  SELECT 5 - (1 + CAST(CAST(r_days AS DOUBLE) > re1 AS INT)
              + CAST(CAST(r_days AS DOUBLE) > re2 AS INT)
              + CAST(CAST(r_days AS DOUBLE) > re3 AS INT)) AS r_score,
         1 + CAST(CAST(f_n AS DOUBLE) > fe1 AS INT)
           + CAST(CAST(f_n AS DOUBLE) > fe2 AS INT)
           + CAST(CAST(f_n AS DOUBLE) > fe3 AS INT) AS f_score,
         1 + CAST(CAST(m_cents AS DOUBLE) > me1 AS INT)
           + CAST(CAST(m_cents AS DOUBLE) > me2 AS INT)
           + CAST(CAST(m_cents AS DOUBLE) > me3 AS INT) AS m_score,
         f_n, m_cents
  FROM per, edges)
SELECT CAST(r_score AS BIGINT) AS r_score,
       CAST(f_score AS BIGINT) AS f_score,
       CAST(m_score AS BIGINT) AS m_score,
       CAST(count(*) AS BIGINT) AS n_users,
       CAST(sum(f_n) AS BIGINT) AS sum_events,
       CAST(sum(m_cents) AS BIGINT) AS sum_cents
FROM banded GROUP BY 1, 2, 3"""

    # IVM identity: the oracle IS the recompute the operator avoids —
    # agg over the new snapshot directly.
    o["events_ivm_agg"] = """
WITH ev AS (SELECT event_id, event_type,
                   CAST(floor(value * 100) AS BIGINT) AS cents
            FROM events),
nw AS (SELECT event_type,
              cents + CASE WHEN event_id % 7 = 0 THEN 50 ELSE 0 END
                AS cents
       FROM ev WHERE event_id % 11 != 3)
SELECT event_type, CAST(count(*) AS BIGINT) AS n,
       CAST(sum(cents) AS BIGINT) AS total
FROM nw GROUP BY 1"""

    # integer ACF: dense per-key hourly grid (missing hours are 0),
    # n-scaled deviations, trunc-division ppm ratio — all BIGINT.
    o["events_acf"] = """
WITH b AS MATERIALIZED (
  SELECT event_type, date_trunc('hour', ts) AS hour,
         CAST(count(*) AS BIGINT) AS x
  FROM events GROUP BY 1, 2),
span AS (SELECT event_type, min(hour) AS lo, max(hour) AS hi
         FROM b GROUP BY 1),
grid AS (SELECT event_type,
                unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS hour
         FROM span),
dense AS MATERIALIZED (
  SELECT g.event_type,
         CAST(epoch(g.hour) AS BIGINT) // 3600 AS h,
         COALESCE(b.x, 0) AS x
  FROM grid g LEFT JOIN b ON b.event_type = g.event_type
                         AND b.hour = g.hour),
st AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
              CAST(sum(x) AS BIGINT) AS s
       FROM dense GROUP BY 1),
dev AS MATERIALIZED (
  SELECT d.event_type, d.h, d.x * st.n - st.s AS dv
  FROM dense d JOIN st USING (event_type)),
den AS (SELECT event_type, CAST(sum(dv * dv) AS BIGINT) AS den
        FROM dev GROUP BY 1),
num AS (
  SELECT a.event_type, k.lag, CAST(sum(a.dv * f.dv) AS BIGINT) AS num
  FROM dev a
  JOIN (VALUES (1), (2), (24)) AS k(lag) ON true
  JOIN dev f ON f.event_type = a.event_type AND f.h = a.h + k.lag
  GROUP BY 1, 2)
SELECT n.event_type, CAST(n.lag AS INT) AS lag, n.num, d.den,
       (1000000 * n.num) // d.den AS acf_x1e6
FROM num n JOIN den d USING (event_type)"""

    # changepoint: cumulative sums + integer split score, argmax with
    # earliest-t ties via a window over the collapsed daily table.
    o["events_changepoint"] = """
WITH daily AS (
  SELECT event_type,
         datediff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS t,
         CAST(count(*) AS BIGINT) AS v
  FROM events GROUP BY 1, 2),
cum AS (
  SELECT event_type, t,
         CAST(sum(v) OVER (PARTITION BY event_type ORDER BY t)
              AS BIGINT) AS s_l,
         CAST(count(*) OVER (PARTITION BY event_type ORDER BY t)
              AS BIGINT) AS n_l,
         CAST(sum(v) OVER (PARTITION BY event_type) AS BIGINT) AS s_t,
         CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS n_t
  FROM daily),
scored AS (
  SELECT event_type, t, s_l, n_l,
         s_t - s_l AS s_r, n_t - n_l AS n_r,
         (s_l * s_l) // n_l
           + ((s_t - s_l) * (s_t - s_l)) // (n_t - n_l) AS score
  FROM cum WHERE n_l < n_t),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY event_type
                               ORDER BY score DESC, t ASC) AS rn
  FROM scored)
SELECT event_type, CAST(t AS INT) AS split_t, score,
       (s_l * 100) // n_l AS mean_before_x100,
       (s_r * 100) // n_r AS mean_after_x100
FROM ranked WHERE rn = 1"""

    # missing-hour ranges: islands over the grid complement of the
    # sparsified stream; bounds as epoch-hours.
    o["events_missing_ranges"] = """
WITH obs AS MATERIALIZED (
  SELECT DISTINCT event_type, date_trunc('hour', ts) AS hour
  FROM events WHERE event_id % 7 = 0),
span AS (SELECT event_type, min(hour) AS lo, max(hour) AS hi
         FROM obs GROUP BY 1),
grid AS (SELECT event_type,
                unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS hour
         FROM span),
miss AS (
  SELECT g.event_type, CAST(epoch(g.hour) AS BIGINT) // 3600 AS h
  FROM grid g LEFT JOIN obs o ON o.event_type = g.event_type
                             AND o.hour = g.hour
  WHERE o.hour IS NULL),
isl AS (
  SELECT event_type, h,
         h - row_number() OVER (PARTITION BY event_type ORDER BY h)
           AS k
  FROM miss)
SELECT event_type, min(h) AS h_lo, max(h) AS h_hi,
       CAST(count(*) AS BIGINT) AS n_missing
FROM isl GROUP BY event_type, k"""

    # Poisson bootstrap: the deterministic draw (md5 ppm through the
    # floor-quantized Poisson(1) CDF) is part of the contract — the
    # constants here must equal stats.POISSON1_CDF_PPM.
    o["events_bootstrap_ci"] = """
WITH vals AS MATERIALIZED (
  SELECT event_id AS id, CAST(floor(value * 100) AS BIGINT) AS v
  FROM events),
rep AS (
  SELECT b, v,
         CAST('0x' || substr(md5('boot:' || CAST(id AS VARCHAR) || ':'
              || CAST(b AS VARCHAR)), 1, 15) AS BIGINT) % 1000000 AS u
  FROM vals CROSS JOIN (SELECT unnest(range(40)) AS b)),
wtd AS (
  SELECT b, v,
         CASE WHEN u < 367879 THEN 0 WHEN u < 735758 THEN 1
              WHEN u < 919698 THEN 2 WHEN u < 981011 THEN 3
              WHEN u < 996340 THEN 4 WHEN u < 999405 THEN 5
              WHEN u < 999916 THEN 6 WHEN u < 999989 THEN 7
              WHEN u < 999998 THEN 8 ELSE 9 END AS w
  FROM rep),
means AS (
  SELECT b, (100 * CAST(sum(w * v) AS BIGINT))
              // greatest(CAST(sum(w) AS BIGINT), 1) AS mean_x100
  FROM wtd GROUP BY b),
sorted AS (
  SELECT mean_x100, row_number() OVER (ORDER BY mean_x100) AS rn
  FROM means)
SELECT (SELECT CAST(count(*) AS BIGINT) FROM vals) AS n_rows,
       CAST(40 AS INT) AS n_reps,
       (SELECT (100 * CAST(sum(v) AS BIGINT))
                 // CAST(count(*) AS BIGINT) FROM vals) AS est_x100,
       (SELECT mean_x100 FROM sorted WHERE rn = 1) AS lo_x100,
       (SELECT mean_x100 FROM sorted WHERE rn = 39) AS hi_x100"""

    # Welch's t: integer (n, sum, sumsq) per md5-parity arm, then the
    # SAME parenthesization of IEEE double ops as the Spark side.
    o["events_ab_welch"] = """
WITH per AS (
  SELECT CAST('0x' || substr(md5('ab:' || CAST(user_id AS VARCHAR)),
              1, 15) AS BIGINT) % 2 AS arm,
         CAST(sum(floor(value * 100)) AS BIGINT) AS v
  FROM events WHERE event_type = 'purchase' GROUP BY user_id),
agg AS (
  SELECT arm, CAST(count(*) AS BIGINT) AS n, CAST(sum(v) AS BIGINT)
           AS s, CAST(sum(v * v) AS BIGINT) AS ss
  FROM per GROUP BY arm),
j AS (
  SELECT a.n AS n_a, a.s AS sa, a.ss AS ssa,
         b.n AS n_b, b.s AS sb, b.ss AS ssb
  FROM (SELECT * FROM agg WHERE arm = 0) a
  CROSS JOIN (SELECT * FROM agg WHERE arm = 1) b),
t AS (
  SELECT n_a, n_b, sa, sb, ssa, ssb,
         (100 * sa) // n_a AS mean_a_x100,
         (100 * sb) // n_b AS mean_b_x100,
         CAST(floor((((CAST(sa AS DOUBLE) / CAST(n_a AS DOUBLE)) -
            (CAST(sb AS DOUBLE) / CAST(n_b AS DOUBLE))) /
           sqrt(((CAST(ssa AS DOUBLE) - (CAST(sa AS DOUBLE) *
            CAST(sa AS DOUBLE)) / CAST(n_a AS DOUBLE)) /
            (CAST(n_a AS DOUBLE) - 1.0)) / CAST(n_a AS DOUBLE) +
            ((CAST(ssb AS DOUBLE) - (CAST(sb AS DOUBLE) *
            CAST(sb AS DOUBLE)) / CAST(n_b AS DOUBLE)) /
            (CAST(n_b AS DOUBLE) - 1.0)) / CAST(n_b AS DOUBLE)))
           * 1000000) AS BIGINT) AS t_x1e6
  FROM j)
SELECT n_a, n_b, mean_a_x100, mean_b_x100, t_x1e6,
       CAST(floor((((CAST(sa AS DOUBLE) / CAST(n_a AS DOUBLE)) -
          (CAST(sb AS DOUBLE) / CAST(n_b AS DOUBLE))) /
         sqrt((((CAST(ssa AS DOUBLE) - (CAST(sa AS DOUBLE) *
          CAST(sa AS DOUBLE)) / CAST(n_a AS DOUBLE))) +
          ((CAST(ssb AS DOUBLE) - (CAST(sb AS DOUBLE) *
          CAST(sb AS DOUBLE)) / CAST(n_b AS DOUBLE)))) /
          (CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE) - 2.0)))
         * 1000000) AS BIGINT) AS cohens_d_x1e6,
       CAST(abs(t_x1e6) >= 1960000 AS INT) AS significant
FROM t"""

    # Kaplan-Meier: risk table from churn-gap durations, then the
    # x1e6 product fold as a recursive CTE over the ordered table.
    o["events_km_survival"] = """
WITH RECURSIVE ev AS (
  SELECT user_id, CAST(epoch_us(ts) AS BIGINT) AS us FROM events),
g AS (
  SELECT user_id, us,
         lead(us) OVER (PARTITION BY user_id ORDER BY us) AS nxt
  FROM ev),
per AS (
  SELECT user_id, min(us) AS first_us, max(us) AS last_us,
         min(CASE WHEN nxt - us > 86400000000 THEN us END) AS churn_us
  FROM g GROUP BY user_id),
dur AS (
  SELECT CASE WHEN churn_us IS NOT NULL
              THEN (churn_us - first_us) // 3600000000
              ELSE (last_us - first_us) // 3600000000 END AS d,
         CAST(churn_us IS NOT NULL AS INT) AS o
  FROM per),
rt AS MATERIALIZED (
  SELECT d, CAST(sum(CAST(o = 1 AS BIGINT)) AS BIGINT) AS d_events,
         CAST(sum(CAST(o = 0 AS BIGINT)) AS BIGINT) AS n_cens
  FROM dur GROUP BY d),
risk AS MATERIALIZED (
  SELECT d, d_events, n_cens,
         (SELECT CAST(count(*) AS BIGINT) FROM dur)
           - COALESCE(CAST(sum(d_events + n_cens) OVER (
               ORDER BY d ROWS BETWEEN UNBOUNDED PRECEDING AND
               1 PRECEDING) AS BIGINT), 0) AS n_risk,
         row_number() OVER (ORDER BY d) AS rn
  FROM rt),
fold AS (
  SELECT rn, d, n_risk, d_events, n_cens,
         (1000000 * (n_risk - d_events)) // n_risk AS s_x1e6
  FROM risk WHERE rn = 1
  UNION ALL
  SELECT r.rn, r.d, r.n_risk, r.d_events, r.n_cens,
         (f.s_x1e6 * (r.n_risk - r.d_events)) // r.n_risk
  FROM risk r JOIN fold f ON r.rn = f.rn + 1)
SELECT d, n_risk, d_events, n_cens AS n_censored, s_x1e6 FROM fold"""

    o["events_subseq_patterns"] = """
WITH ev AS (
  SELECT user_id AS u, event_type AS it,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY ts, event_id) AS p
  FROM events),
st AS MATERIALIZED (
  SELECT u, it, min(p) AS lo, max(p) AS hi,
         list(p ORDER BY p) AS ps
  FROM ev GROUP BY 1, 2),
l2 AS (
  SELECT a.it || '>' || b.it AS pattern, CAST(2 AS INT) AS length,
         CAST(count(*) AS BIGINT) AS support
  FROM st a JOIN st b ON a.u = b.u
  WHERE a.lo < b.hi GROUP BY 1),
l3 AS (
  SELECT a.it || '>' || b.it || '>' || c.it AS pattern,
         CAST(3 AS INT) AS length,
         CAST(count(*) AS BIGINT) AS support
  FROM st a JOIN st b ON a.u = b.u JOIN st c ON a.u = c.u
  WHERE len(list_filter(b.ps, x -> x > a.lo AND x < c.hi)) > 0
  GROUP BY 1)
SELECT pattern, length, support
FROM (SELECT * FROM l2 UNION ALL SELECT * FROM l3)
WHERE support >= 2"""

    # CUPED: the theta/adjusted-variance/t expressions are imported
    # from operators.stats and embedded VERBATIM — the same strings
    # Spark evaluates — so both engines run the same IEEE tree.
    from logging_spark.operators.stats import (_CUPED_ARM,
                                               _CUPED_COMMON, _CUPED_T)
    o["events_ab_cuped"] = f"""
WITH per AS (
  SELECT CAST('0x' || substr(md5('ab:' || CAST(user_id AS VARCHAR)),
              1, 15) AS BIGINT) % 2 AS arm,
         CAST(sum(CASE WHEN ts < TIMESTAMP '2024-01-16 00:00:00'
                  THEN floor(value * 100) ELSE 0 END) AS BIGINT) AS x,
         CAST(sum(CASE WHEN ts >= TIMESTAMP '2024-01-16 00:00:00'
                  THEN floor(value * 100) ELSE 0 END) AS BIGINT) AS y
  FROM events GROUP BY user_id),
agg AS (
  SELECT arm, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
         CAST(sum(x * y) AS BIGINT) AS sxy,
         CAST(sum(x * x) AS BIGINT) AS sxx,
         CAST(sum(y * y) AS BIGINT) AS syy
  FROM per GROUP BY arm),
j AS (
  SELECT a.n AS n_a, a.sx AS sx_a, a.sy AS sy_a, a.sxy AS sxy_a,
         a.sxx AS sxx_a, a.syy AS syy_a,
         b.n AS n_b, b.sx AS sx_b, b.sy AS sy_b, b.sxy AS sxy_b,
         b.sxx AS sxx_b, b.syy AS syy_b
  FROM (SELECT * FROM agg WHERE arm = 0) a
  CROSS JOIN (SELECT * FROM agg WHERE arm = 1) b),
j2 AS (SELECT *, {_CUPED_COMMON} FROM j),
j3 AS (SELECT *, {_CUPED_ARM.format(m='a')},
               {_CUPED_ARM.format(m='b')} FROM j2)
SELECT n_a, n_b,
       CAST(floor(theta * 1000000) AS BIGINT) AS theta_x1e6,
       CAST(floor(({_CUPED_T}) * 1000000) AS BIGINT) AS t_x1e6,
       CAST(abs(CAST(floor(({_CUPED_T}) * 1000000) AS BIGINT))
            >= 1960000 AS INT) AS significant
FROM j3"""

    o["events_overdispersion"] = """
WITH b AS MATERIALIZED (
  SELECT event_type, date_trunc('hour', ts) AS hour,
         CAST(count(*) AS BIGINT) AS x
  FROM events GROUP BY 1, 2),
span AS (SELECT event_type, min(hour) AS lo, max(hour) AS hi
         FROM b GROUP BY 1),
grid AS (SELECT event_type,
                unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS hour
         FROM span),
dense AS (
  SELECT g.event_type, COALESCE(b.x, 0) AS x
  FROM grid g LEFT JOIN b ON b.event_type = g.event_type
                         AND b.hour = g.hour),
agg AS (
  SELECT event_type, CAST(count(*) AS BIGINT) AS n_hours,
         CAST(sum(x) AS BIGINT) AS s,
         CAST(sum(x * x) AS BIGINT) AS ssq
  FROM dense GROUP BY 1)
SELECT event_type, n_hours, (s * 100) // n_hours AS mean_x100,
       ((n_hours * ssq - s * s) * 1000000) // (n_hours * s)
         AS dispersion_ppm,
       CAST(((n_hours * ssq - s * s) * 1000000) // (n_hours * s)
            >= 1200000 AS INT) AS overdispersed
FROM agg"""

    from logging_spark.operators.stats import _LOGRANK_Z, _MWU_Z
    o["events_mannwhitney"] = f"""
WITH per AS (
  SELECT CAST('0x' || substr(md5('ab:' || CAST(user_id AS VARCHAR)),
              1, 15) AS BIGINT) % 2 AS arm,
         CAST(sum(floor(value * 100)) AS BIGINT) AS v
  FROM events WHERE event_type = 'purchase' GROUP BY user_id),
vals AS (
  SELECT v, CAST(sum(CAST(arm = 0 AS BIGINT)) AS BIGINT) AS ca,
         CAST(sum(CAST(arm = 1 AS BIGINT)) AS BIGINT) AS cb
  FROM per GROUP BY 1),
sc AS (
  SELECT ca, cb,
         COALESCE(CAST(sum(cb) OVER (ORDER BY v ROWS BETWEEN
           UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0)
           AS cum_b
  FROM vals),
agg AS (
  SELECT CAST(sum(ca) AS BIGINT) AS n_a,
         CAST(sum(cb) AS BIGINT) AS n_b,
         CAST(sum(ca * (2 * cum_b + cb)) AS BIGINT) AS u2,
         CAST(sum((ca + cb) * (ca + cb) * (ca + cb) - (ca + cb))
              AS BIGINT) AS t3t
  FROM sc)
SELECT n_a, n_b, u2, t3t,
       CAST(floor(({_MWU_Z}) * 1000000) AS BIGINT) AS z_x1e6,
       CAST(((u2 - n_a * n_b) * 1000000) // (n_a * n_b) AS BIGINT)
         AS rank_biserial_x1e6,
       CAST(abs(CAST(floor(({_MWU_Z}) * 1000000) AS BIGINT))
            >= 1960000 AS INT) AS significant
FROM agg"""

    o["events_logrank"] = f"""
WITH ev AS (
  SELECT user_id, CAST(epoch_us(ts) AS BIGINT) AS us FROM events),
g AS (
  SELECT user_id, us,
         lead(us) OVER (PARTITION BY user_id ORDER BY us) AS nxt
  FROM ev),
peru AS (
  SELECT user_id, min(us) AS first_us, max(us) AS last_us,
         min(CASE WHEN nxt - us > 86400000000 THEN us END) AS churn_us
  FROM g GROUP BY user_id),
dur AS (
  SELECT CASE WHEN churn_us IS NOT NULL
              THEN (churn_us - first_us) // 3600000000
              ELSE (last_us - first_us) // 3600000000 END AS d,
         CAST(churn_us IS NOT NULL AS INT) AS o,
         CAST('0x' || substr(md5('ab:' || CAST(user_id AS VARCHAR)),
              1, 15) AS BIGINT) % 2 AS arm
  FROM peru),
per AS MATERIALIZED (
  SELECT d,
         CAST(sum(CAST(o = 1 AND arm = 0 AS BIGINT)) AS BIGINT) AS da,
         CAST(sum(CAST(o = 1 AND arm = 1 AS BIGINT)) AS BIGINT) AS db,
         CAST(sum(CAST(arm = 0 AS BIGINT)) AS BIGINT) AS ta,
         CAST(sum(CAST(arm = 1 AS BIGINT)) AS BIGINT) AS tb
  FROM dur GROUP BY d),
risk AS (
  SELECT d, da, db,
         (SELECT CAST(sum(ta) AS BIGINT) FROM per)
           - COALESCE(CAST(sum(ta) OVER (ORDER BY d ROWS BETWEEN
               UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0)
           AS na,
         (SELECT CAST(sum(tb) AS BIGINT) FROM per)
           - COALESCE(CAST(sum(tb) OVER (ORDER BY d ROWS BETWEEN
               UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0)
           AS nb
  FROM per),
agg AS (
  SELECT CAST(sum(da) AS BIGINT) AS o_a,
         CAST(sum(((da + db) * na * 1000000) // (na + nb))
              AS BIGINT) AS e_a_x1e6,
         CAST(sum(CASE WHEN na + nb > 1 THEN
           ((da + db) * (na + nb - (da + db)) * na * nb * 1000000)
             // ((na + nb) * (na + nb) * (na + nb - 1))
           ELSE 0 END) AS BIGINT) AS v_x1e6
  FROM risk)
SELECT o_a, e_a_x1e6, v_x1e6,
       CAST(floor(({_LOGRANK_Z}) * 1000000) AS BIGINT) AS z_x1e6,
       CAST(abs(CAST(floor(({_LOGRANK_Z}) * 1000000) AS BIGINT))
            >= 1960000 AS INT) AS significant
FROM agg"""
