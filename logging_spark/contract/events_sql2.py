"""events family: DuckDB oracle SQL (part 2) — split mechanically from the original single contract module."""

from __future__ import annotations


def register_oracles(o):

    o["events_theil_sen"] = """
WITH daily AS MATERIALIZED (
  SELECT event_type,
         CAST(datediff('day', DATE '2024-01-01', CAST(ts AS DATE))
              AS BIGINT) AS x,
         CAST(count(*) AS BIGINT) AS y
  FROM events GROUP BY 1, 2),
pairs AS (
  SELECT a.event_type,
         ((b.y - a.y) * 1000000) // (b.x - a.x) AS s
  FROM daily a JOIN daily b
    ON a.event_type = b.event_type AND a.x < b.x),
g AS (
  SELECT event_type, CAST(count(*) AS BIGINT) AS n_pairs,
         list_sort(list(s)) AS ss
  FROM pairs GROUP BY 1)
SELECT event_type, n_pairs,
       CAST(ss[CAST((n_pairs + 1) // 2 AS INT)] AS BIGINT)
         AS slope_x1e6
FROM g"""

    o["events_crosscorr"] = """
WITH ev AS (
  SELECT event_type AS k, date_trunc('hour', ts) AS hour
  FROM events WHERE event_type IN ('error', 'purchase')),
b AS MATERIALIZED (
  SELECT k, hour, CAST(count(*) AS BIGINT) AS x
  FROM ev GROUP BY 1, 2),
span AS (SELECT min(hour) AS lo, max(hour) AS hi FROM b),
grid AS (
  SELECT k, unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS hour
  FROM span CROSS JOIN (SELECT DISTINCT k FROM ev)),
dense AS MATERIALIZED (
  SELECT g.k, CAST(epoch(g.hour) AS BIGINT) // 3600 AS h,
         COALESCE(b.x, 0) AS x
  FROM grid g LEFT JOIN b ON b.k = g.k AND b.hour = g.hour),
st AS (SELECT k, CAST(count(*) AS BIGINT) AS n,
              CAST(sum(x) AS BIGINT) AS s
       FROM dense GROUP BY 1),
dev AS MATERIALIZED (
  SELECT d.k, d.h, d.x * st.n - st.s AS dv
  FROM dense d JOIN st USING (k)),
da AS (SELECT h, dv AS dva FROM dev WHERE k = 'error'),
db AS (SELECT h, dv AS dvb FROM dev WHERE k = 'purchase'),
nums AS MATERIALIZED (
  SELECT l.lag, CAST(sum(da.dva * db.dvb) AS BIGINT) AS num
  FROM (SELECT CAST(unnest(range(-6, 7)) AS INT) AS lag) l
  JOIN da ON true
  JOIN db ON db.h = da.h + l.lag
  GROUP BY 1),
rk AS (SELECT *, row_number() OVER (ORDER BY num DESC, lag ASC) AS rn
       FROM nums)
SELECT lag, num, CAST(rn = 1 AS INT) AS is_best FROM rk"""

    o["events_churn_labels"] = """
WITH ev AS (
  SELECT user_id, event_type, ts FROM events
  WHERE ts >= TIMESTAMP '2024-01-13 00:00:00'
    AND ts < TIMESTAMP '2024-01-27 00:00:00'),
per AS (
  SELECT user_id,
         CAST(sum(CAST(ts < TIMESTAMP '2024-01-20 00:00:00'
                  AS BIGINT)) AS BIGINT) AS n_events,
         CAST(count(DISTINCT CASE WHEN ts < TIMESTAMP
           '2024-01-20 00:00:00' THEN event_type END) AS BIGINT)
           AS n_types,
         CAST(count(DISTINCT CASE WHEN ts < TIMESTAMP
           '2024-01-20 00:00:00' THEN CAST(ts AS DATE) END)
           AS BIGINT) AS days_active,
         max(CASE WHEN ts < TIMESTAMP '2024-01-20 00:00:00'
             THEN ts END) AS last_ts,
         CAST(sum(CAST(ts >= TIMESTAMP '2024-01-20 00:00:00'
                  AS BIGINT)) AS BIGINT) AS n_after
  FROM ev GROUP BY 1)
SELECT user_id, n_events, n_types, days_active,
       (CAST(epoch_us(TIMESTAMP '2024-01-20 00:00:00') AS BIGINT)
        - CAST(epoch_us(last_ts) AS BIGINT)) // 3600000000
         AS recency_hours,
       CAST(n_after = 0 AS INT) AS churned
FROM per WHERE n_events > 0"""

    from logging_spark.operators.stats import _ANOVA_F
    o["events_anova_hour"] = f"""
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
  SELECT g.event_type, hour(g.hour) AS hod, COALESCE(b.x, 0) AS x
  FROM grid g LEFT JOIN b ON b.event_type = g.event_type
                         AND b.hour = g.hour),
per AS (
  SELECT event_type, hod, CAST(count(*) AS BIGINT) AS ng,
         CAST(sum(x) AS BIGINT) AS sg,
         CAST(sum(x * x) AS BIGINT) AS ssqg
  FROM dense GROUP BY 1, 2),
agg AS (
  SELECT event_type, CAST(sum(ng) AS BIGINT) AS n,
         CAST(count(*) AS BIGINT) AS k,
         CAST(sum(sg) AS BIGINT) AS s,
         CAST(sum(ssqg) AS BIGINT) AS ssq,
         CAST(sum((sg * sg * 1000000) // ng) AS BIGINT) AS bq
  FROM per GROUP BY 1),
ss AS (
  SELECT event_type, n, k,
         bq - (s * s * 1000000) // n AS ssb_x1e6,
         ssq * 1000000 - bq AS ssw_x1e6
  FROM agg)
SELECT event_type, n, k, ssb_x1e6, ssw_x1e6,
       CAST((ssb_x1e6 * 1000000) // greatest(ssb_x1e6 + ssw_x1e6, 1)
            AS BIGINT) AS eta2_ppm,
       CAST(floor(({_ANOVA_F}) * 1000000) AS BIGINT) AS f_x1e6
FROM ss"""

    from logging_spark.operators.stats import _KS_STAT
    o["events_ks_test"] = f"""
WITH per AS (
  SELECT CAST('0x' || substr(md5('ab:' || CAST(user_id AS VARCHAR)),
              1, 15) AS BIGINT) % 2 AS arm,
         CAST(sum(floor(value * 100)) AS BIGINT) AS v
  FROM events WHERE event_type = 'purchase' GROUP BY user_id),
vals AS (
  SELECT v, CAST(sum(CAST(arm = 0 AS BIGINT)) AS BIGINT) AS ca,
         CAST(sum(CAST(arm = 1 AS BIGINT)) AS BIGINT) AS cb
  FROM per GROUP BY 1),
cum AS (
  SELECT CAST(sum(ca) OVER (ORDER BY v) AS BIGINT) AS cuma,
         CAST(sum(cb) OVER (ORDER BY v) AS BIGINT) AS cumb
  FROM vals),
tot AS (
  SELECT CAST(sum(CAST(arm = 0 AS BIGINT)) AS BIGINT) AS n_a,
         CAST(sum(CAST(arm = 1 AS BIGINT)) AS BIGINT) AS n_b
  FROM per),
agg AS (
  SELECT n_a, n_b,
         CAST(max(abs(cuma * n_b - cumb * n_a)) AS BIGINT) AS d_num
  FROM cum, tot GROUP BY n_a, n_b)
SELECT n_a, n_b, d_num,
       CAST(floor(({_KS_STAT}) * 1000000) AS BIGINT) AS d_x1e6,
       CAST(floor((1.358 * sqrt((CAST(n_a AS DOUBLE) +
         CAST(n_b AS DOUBLE)) / (CAST(n_a AS DOUBLE) *
         CAST(n_b AS DOUBLE)))) * 1000000) AS BIGINT) AS thr_x1e6,
       CAST(CAST(floor(({_KS_STAT}) * 1000000) AS BIGINT) >
            CAST(floor((1.358 * sqrt((CAST(n_a AS DOUBLE) +
              CAST(n_b AS DOUBLE)) / (CAST(n_a AS DOUBLE) *
              CAST(n_b AS DOUBLE)))) * 1000000) AS BIGINT)
            AS INT) AS significant
FROM agg"""

    o["events_chi2_daypart"] = """
WITH cells AS MATERIALIZED (
  SELECT event_type AS r, CAST(hour(ts) AS BIGINT) // 6 AS c,
         CAST(count(*) AS BIGINT) AS o
  FROM events GROUP BY 1, 2),
rm AS (SELECT r, CAST(sum(o) AS BIGINT) AS rn FROM cells GROUP BY 1),
cm AS (SELECT c, CAST(sum(o) AS BIGINT) AS cn FROM cells GROUP BY 1),
tot AS (SELECT CAST(sum(o) AS BIGINT) AS n,
               CAST(count(DISTINCT r) AS BIGINT) AS nr,
               CAST(count(DISTINCT c) AS BIGINT) AS nc
        FROM cells),
terms AS (
  SELECT cells.r, cells.c,
         ((CAST(o AS DOUBLE) - (CAST(rn AS DOUBLE) *
           CAST(cn AS DOUBLE)) / CAST(n AS DOUBLE)) *
          (CAST(o AS DOUBLE) - (CAST(rn AS DOUBLE) *
           CAST(cn AS DOUBLE)) / CAST(n AS DOUBLE))) /
         ((CAST(rn AS DOUBLE) * CAST(cn AS DOUBLE)) /
          CAST(n AS DOUBLE)) AS t
  FROM cells JOIN rm USING (r) JOIN cm USING (c), tot),
f AS (SELECT list_reduce(list(CAST(t AS DOUBLE) ORDER BY r, c),
                         (a, b) -> a + b) AS chi2
      FROM terms)
SELECT tot.n, tot.nr AS n_row_levels, tot.nc AS n_col_levels,
       CAST((tot.nr - 1) * (tot.nc - 1) AS BIGINT) AS df,
       CAST(floor(chi2 * 1000000) AS BIGINT) AS chi2_x1e6,
       CAST(floor((sqrt(chi2 / (CAST(tot.n AS DOUBLE) *
         CAST(least(tot.nr - 1, tot.nc - 1) AS DOUBLE))))
         * 1000000) AS BIGINT) AS cramers_v_x1e6,
       CAST(CAST(floor(chi2 * 1000000) AS BIGINT) > 21026000
            AS INT) AS significant
FROM f, tot"""

    from logging_spark.operators.stats import _SMD_GUARDED
    o["events_covariate_balance"] = f"""
WITH per AS (
  SELECT CAST('0x' || substr(md5('ab:' || CAST(user_id AS VARCHAR)),
              1, 15) AS BIGINT) % 2 AS arm,
         CAST(count(*) AS BIGINT) AS n_events,
         CAST(count(DISTINCT event_type) AS BIGINT) AS n_types,
         CAST(sum(floor(value * 100)) AS BIGINT) AS cents
  FROM events WHERE ts < TIMESTAMP '2024-01-16 00:00:00'
  GROUP BY user_id),
long AS (
  SELECT arm, 'n_events' AS cov, n_events AS x FROM per
  UNION ALL SELECT arm, 'n_types', n_types FROM per
  UNION ALL SELECT arm, 'cents', cents FROM per),
agg AS (
  SELECT cov, arm, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(x) AS BIGINT) AS s,
         CAST(sum(x * x) AS BIGINT) AS ss
  FROM long GROUP BY 1, 2),
j AS (
  SELECT a.cov, a.n AS n_a, a.s AS sa, a.ss AS ssa,
         b.n AS n_b, b.s AS sb, b.ss AS ssb
  FROM (SELECT * FROM agg WHERE arm = 0) a
  JOIN (SELECT * FROM agg WHERE arm = 1) b USING (cov))
SELECT cov, n_a, n_b,
       ({_SMD_GUARDED}) AS smd_x1e6,
       CAST(abs(({_SMD_GUARDED})) < 100000 AS INT) AS balanced
FROM j"""

    o["events_unique_users_curve"] = """
WITH first AS (
  SELECT user_id, min(CAST(ts AS DATE)) AS d
  FROM events GROUP BY 1),
daily AS (
  SELECT d, CAST(count(*) AS BIGINT) AS new_users
  FROM first GROUP BY 1)
SELECT strftime(d, '%Y-%m-%d') AS day, new_users,
       CAST(sum(new_users) OVER (ORDER BY d) AS BIGINT) AS cum_users
FROM daily"""

    o["events_ab_bootstrap_delta"] = """
WITH base AS MATERIALIZED (
  SELECT user_id AS id,
         CAST('0x' || substr(md5('ab:' || CAST(user_id AS VARCHAR)),
              1, 15) AS BIGINT) % 2 AS arm,
         CAST(sum(floor(value * 100)) AS BIGINT) AS v
  FROM events WHERE event_type = 'purchase' GROUP BY user_id),
rep AS (
  SELECT arm, b, v,
         CAST('0x' || substr(md5('boot:' || CAST(id AS VARCHAR) ||
              ':' || CAST(b AS VARCHAR)), 1, 15) AS BIGINT)
           % 1000000 AS u
  FROM base CROSS JOIN (SELECT unnest(range(40)) AS b)),
wtd AS (
  SELECT arm, b, v,
         CASE WHEN u < 367879 THEN 0 WHEN u < 735758 THEN 1
              WHEN u < 919698 THEN 2 WHEN u < 981011 THEN 3
              WHEN u < 996340 THEN 4 WHEN u < 999405 THEN 5
              WHEN u < 999916 THEN 6 WHEN u < 999989 THEN 7
              WHEN u < 999998 THEN 8 ELSE 9 END AS w
  FROM rep),
per AS (
  SELECT b, arm, CAST(sum(w * v) AS BIGINT) AS wv,
         CAST(sum(w) AS BIGINT) AS wn
  FROM wtd GROUP BY 1, 2),
deltas AS (
  SELECT b,
         (100 * CAST(sum(CASE WHEN arm = 0 THEN wv ELSE 0 END)
                AS BIGINT))
           // greatest(CAST(sum(CASE WHEN arm = 0 THEN wn ELSE 0
                       END) AS BIGINT), 1)
         - (100 * CAST(sum(CASE WHEN arm = 1 THEN wv ELSE 0 END)
                  AS BIGINT))
           // greatest(CAST(sum(CASE WHEN arm = 1 THEN wn ELSE 0
                       END) AS BIGINT), 1) AS d
  FROM per GROUP BY 1),
sorted AS (
  SELECT d, row_number() OVER (ORDER BY d) AS rn FROM deltas),
pt AS (
  SELECT CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_a,
         CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_b,
         (100 * CAST(sum(CASE WHEN arm = 0 THEN v ELSE 0 END)
                AS BIGINT))
           // greatest(CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0
                       END) AS BIGINT), 1)
         - (100 * CAST(sum(CASE WHEN arm = 1 THEN v ELSE 0 END)
                  AS BIGINT))
           // greatest(CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0
                       END) AS BIGINT), 1) AS delta_x100
  FROM base)
SELECT n_a, n_b, CAST(delta_x100 AS BIGINT) AS delta_x100,
       (SELECT d FROM sorted WHERE rn = 1) AS lo_x100,
       (SELECT d FROM sorted WHERE rn = 39) AS hi_x100,
       CAST((SELECT d FROM sorted WHERE rn = 1) > 0 OR
            (SELECT d FROM sorted WHERE rn = 39) < 0 AS INT)
         AS significant
FROM pt"""

    # identity oracle: the FULL recompute the incremental path must
    # reproduce; unix_timestamp (second floor, UTC session) twins as
    # epoch_us // 1000000
    o["events_sessionize_incremental"] = """
WITH ev AS (
  SELECT user_id, ts, epoch_us(ts) // 1000000 AS sec FROM events),
g AS (
  SELECT user_id, ts, sec,
         CASE WHEN lag(sec) OVER w IS NULL
                   OR sec - lag(sec) OVER w > 1800
              THEN 1 ELSE 0 END AS brk
  FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
s AS (
  SELECT user_id, ts,
         sum(brk) OVER (PARTITION BY user_id ORDER BY ts
                        ROWS UNBOUNDED PRECEDING) AS sid
  FROM g)
SELECT CAST(user_id AS BIGINT) AS user_id,
       CAST(sid AS BIGINT) AS session_id,
       CAST(count(*) AS BIGINT) AS n_turns,
       min(ts) AS session_start, max(ts) AS session_end
FROM s GROUP BY 1, 2"""

    o["events_policy_replay"] = """
WITH r AS (
  SELECT CAST(user_id % 3 AS BIGINT) AS segment,
         CAST(event_type = CASE WHEN user_id % 3 = 0 THEN 'purchase'
                                WHEN user_id % 3 = 1 THEN 'click'
                                ELSE 'view' END AS BIGINT) AS m,
         CAST(floor(value * 100) AS BIGINT) AS cents
  FROM events),
a AS (
  SELECT segment, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(m) AS BIGINT) AS n_matched,
         CAST(sum(m * cents) AS BIGINT) AS mr
  FROM r GROUP BY segment)
SELECT segment, n, n_matched,
       (n_matched * 1000000) // n AS match_ppm,
       CASE WHEN n_matched > 0 THEN (mr * 100) // n_matched
            ELSE NULL END AS replay_value_x100,
       (5 * mr * 100) // n AS ips_value_x100
FROM a"""

    # level emission twin: DuckDB range(a, b) is end-exclusive and
    # EMPTY when a >= b (no Spark-style descending surprise)
    o["events_quantile_normalize"] = """
WITH per AS (
  SELECT event_type AS grp, CAST(floor(value * 100) AS BIGINT) AS v,
         CAST(count(*) AS BIGINT) AS c
  FROM events GROUP BY 1, 2),
rk AS (
  SELECT grp, v,
         CAST(sum(c) OVER (PARTITION BY grp ORDER BY v) AS BIGINT) AS r,
         CAST(sum(c) OVER (PARTITION BY grp) AS BIGINT) AS n_group
  FROM per),
gl AS (
  SELECT CAST(floor(value * 100) AS BIGINT) AS gv,
         CAST(count(*) AS BIGINT) AS c
  FROM events GROUP BY 1),
gc AS (
  SELECT gv, CAST(sum(c) OVER (ORDER BY gv) AS BIGINT) AS cum,
         CAST(sum(c) OVER (ORDER BY gv) - c AS BIGINT) AS cum_prev,
         CAST(sum(c) OVER () AS BIGINT) AS n
  FROM gl),
lv AS (
  SELECT gv, CAST(t.p AS BIGINT) AS p
  FROM gc, unnest(range((cum_prev * 200) // n + 1,
                        (cum * 200) // n + 1)) AS t(p))
SELECT rk.grp AS event_type, rk.v AS cents, n_group, r,
       CAST((r * 200 + n_group - 1) // n_group AS BIGINT) AS q,
       gv AS norm_value
FROM rk JOIN lv ON (r * 200 + n_group - 1) // n_group = lv.p"""

    # Holt-Winters: DuckDB lists are 1-based (s[1] = the Spark fold's
    # acc.s[0] head); l_t's expression is repeated textually inside
    # b_t and s_t exactly like the Spark fold string
    _hw_l = ("(300 * (x.v * 1000 - r.s[1]) + 700 * (r.l + r.b)) "
             "// 1000")
    o["events_holt_winters"] = f"""
WITH RECURSIVE ser AS MATERIALIZED (
  SELECT event_type AS k, CAST(ts AS DATE) AS d,
         CAST(count(*) AS BIGINT) AS v
  FROM events GROUP BY 1, 2),
st AS MATERIALIZED (
  SELECT k, CAST(row_number() OVER (PARTITION BY k ORDER BY d)
                 AS BIGINT) AS t, v
  FROM ser),
nn AS MATERIALIZED (SELECT k, CAST(max(t) AS BIGINT) AS n
                    FROM st GROUP BY 1),
i1 AS (SELECT k,
         CAST(sum(CASE WHEN t <= 7 THEN v END) AS BIGINT) AS s1,
         CAST(sum(CASE WHEN t > 7 AND t <= 14 THEN v END) AS BIGINT)
           AS s2
       FROM st GROUP BY 1),
i2 AS MATERIALIZED (
  SELECT k, (s1 * 1000) // 7 AS l0, ((s2 - s1) * 1000) // 49 AS b0
  FROM i1),
i3 AS (SELECT st.k, list(st.v * 1000 - i2.l0 ORDER BY st.t) AS s0
       FROM st JOIN i2 ON st.k = i2.k WHERE st.t <= 7 GROUP BY 1),
init AS MATERIALIZED (
  SELECT i2.k, l0 AS l, b0 AS b, s0 AS s
  FROM i2 JOIN i3 ON i2.k = i3.k),
rec(k, t, l, b, s) AS (
  SELECT k, CAST(7 AS BIGINT), l, b, s FROM init
  UNION ALL
  SELECT r.k, r.t + 1,
         {_hw_l},
         (100 * (({_hw_l}) - r.l) + 900 * r.b) // 1000,
         r.s[2:] || [(200 * (x.v * 1000 - ({_hw_l})) + 800 * r.s[1])
                     // 1000]
  FROM rec r JOIN st x ON x.k = r.k AND x.t = r.t + 1),
fin AS (
  SELECT rec.k, nn.n, rec.l, rec.b, rec.s
  FROM rec JOIN nn ON rec.k = nn.k AND rec.t = nn.n
  WHERE nn.n >= 14)
SELECT k AS event_type, n AS n_points,
       CAST(l AS BIGINT) AS level_x1000,
       CAST(b AS BIGINT) AS trend_x1000,
       CAST(s[1] AS BIGINT) AS season_next_x1000,
       CAST(l + b + s[1] AS BIGINT) AS forecast_x1000
FROM fin"""

    o["events_props_key_drift"] = """
WITH p AS (
  SELECT datediff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS day,
         CASE WHEN datediff('day', DATE '2024-01-01', CAST(ts AS DATE))
                   >= 14 AND event_id % 3 = 0
              THEN '{"k": 1, "new_feat": 2}'
              WHEN datediff('day', DATE '2024-01-01', CAST(ts AS DATE))
                   >= 21 AND event_id % 5 = 0
              THEN '{"k": 1, "exp_id": "x"}'
              WHEN event_id % 7 = 0 THEN '{"k": 1, "legacy": true}'
              ELSE props END AS pr
  FROM events),
ks AS (SELECT CAST(day AS BIGINT) AS day, unnest(json_keys(pr)) AS key
       FROM p)
SELECT key, CAST(count(*) AS BIGINT) AS n_rows,
       CAST(min(day) AS BIGINT) AS first_day,
       CAST(max(day) AS BIGINT) AS last_day,
       CAST(count(DISTINCT day) AS BIGINT) AS n_days,
       CAST(min(day) >= 7 AS INT) AS appeared_midstream
FROM ks GROUP BY 1"""
