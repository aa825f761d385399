"""Regular-grid time-series operators: gap filling and LOCF.

Log/metric series are sparse — hours with zero events simply have no
row — but downstream consumers (rate alerting, charting, forecasting
features) need a REGULAR grid. `gapfill_hourly` densifies each key's
series over its own [min, max] hour span, and `locf` carries the last
observation forward across the filled gaps (the standard monotone
imputation for metrics like "last reported value").

Scale shape: the grid is generated per key with sequence() + explode —
a narrow flatMap whose output is (span_hours) rows per key, never a
cross join against a global calendar dimension. The left join back to
the observed buckets is an equi-join on (key, hour); LOCF is one
window per key (a single hash partition + sort — same wide dep the
per-key aggregate already paid).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def hourly_buckets(df: DataFrame, key_col: str, ts_col: str,
                   aggs: list[Column]) -> DataFrame:
    """Observed (key, hour) buckets with the caller's aggregates."""
    return (df.groupBy(F.col(key_col),
                       F.date_trunc("hour", F.col(ts_col)).alias("hour"))
            .agg(*aggs))


def gapfill_hourly(buckets: DataFrame, key_col: str,
                   zero_cols: list[str] | None = None) -> DataFrame:
    """Densify per-key hourly buckets over each key's own span.

    Missing hours appear with NULL aggregate columns, except
    `zero_cols` which are coalesced to 0 (counts / sums where absence
    means zero). Expects a `hour` timestamp column from
    hourly_buckets.
    """
    grid = (buckets.groupBy(key_col)
            .agg(F.min("hour").alias("_lo"), F.max("hour").alias("_hi"))
            .select(key_col,
                    F.explode(F.sequence(
                        "_lo", "_hi", F.expr("INTERVAL 1 HOUR")))
                    .alias("hour")))
    out = grid.join(buckets, [key_col, "hour"], "left")
    for c in zero_cols or []:
        out = out.withColumn(c, F.coalesce(F.col(c), F.lit(0)))
    return out


def locf(df: DataFrame, key_col: str, order_col: str, value_col: str,
         out_col: str | None = None) -> DataFrame:
    """Last-observation-carried-forward within each key, in order.
    Leading rows before the first observation stay NULL (there is
    nothing to carry) — callers needing a dense column coalesce a
    sentinel or seed value."""
    w = (Window.partitionBy(key_col).orderBy(order_col)
         .rowsBetween(Window.unboundedPreceding, 0))
    return df.withColumn(out_col or f"{value_col}_locf",
                         F.last(value_col, ignorenulls=True).over(w))


def ewma_fold(df: DataFrame, key: str, order_col: str, value_col: str,
              den: int = 4) -> DataFrame:
    """Per-key integer EWMA over an ordered series — the recursive
    smoother expressed as a HOF fold, no UDF and no per-row Python:
    s_0 = x_0, s_t = ((den-1)*s_{t-1} + x_t) DIV den. All terms stay
    non-negative for count series, so integral DIV (truncation) and
    floor agree and the fold is engine-portable (the oracle runs the
    same recurrence as a recursive CTE).

    The series is collected per key (collect_list + array_sort), so a
    key's full history must fit a row — fine for period-aggregated
    series (a decade of hourly points is ~90k longs). One shuffle on
    the key. Output: (key, n_points, final_ewma, peak_ewma)."""
    pts = (df.groupBy(key)
           .agg(F.expr(
               f"transform(array_sort(collect_list("
               f"struct({order_col} AS o, {value_col} AS v))), p -> p.v)")
               .alias("_xs")))
    fold = (
        f"aggregate(slice(_xs, 2, size(_xs) - 1), "
        f"named_struct('s', _xs[0], 'mx', _xs[0]), "
        f"(acc, x) -> named_struct("
        f"'s', ({den - 1} * acc.s + x) DIV {den}, "
        f"'mx', greatest(acc.mx, ({den - 1} * acc.s + x) DIV {den})))")
    return (pts.where(F.size("_xs") > 0)
            .select(key,
                    F.size("_xs").cast("long").alias("n_points"),
                    F.expr(f"CAST({fold}.s AS BIGINT)").alias("final_ewma"),
                    F.expr(f"CAST({fold}.mx AS BIGINT)").alias("peak_ewma")))


def cusum_fold(df: DataFrame, key: str, order_col: str, value_col: str,
               ref_col: str) -> DataFrame:
    """One-sided CUSUM change-point statistic per key, as a HOF fold:
    S_0 = max(0, x_0 - k), S_t = max(0, S_{t-1} + x_t - k) — the
    classic upward-shift detector (Page 1954). Tracks the peak S and
    its 1-based position (first-peak-wins), which localizes WHERE the
    rate shifted. Pure integer add/max (no division), so the fold is
    engine-portable; ``ref_col`` is the per-key reference level k
    (constant within a key — e.g. the key's integer mean rate).

    Same collect-per-key shape as ewma_fold: one shuffle, a key's
    series must fit a row. Output: (key, n_points, ref_k, peak_cusum,
    peak_pos)."""
    pts = (df.groupBy(key)
           .agg(F.expr(
               f"transform(array_sort(collect_list("
               f"struct({order_col} AS o, {value_col} AS v))), p -> p.v)")
               .alias("_xs"),
               F.first(ref_col).cast("long").alias("_k")))
    fold = (
        "aggregate(slice(_xs, 2, size(_xs) - 1), "
        "named_struct("
        "'s', greatest(0L, _xs[0] - _k), "
        "'peak', greatest(0L, _xs[0] - _k), "
        "'pos', 1L, 'i', 1L), "
        "(acc, x) -> named_struct("
        "'s', greatest(0L, acc.s + x - _k), "
        "'peak', greatest(acc.peak, greatest(0L, acc.s + x - _k)), "
        "'pos', IF(greatest(0L, acc.s + x - _k) > acc.peak,"
        " acc.i + 1, acc.pos), "
        "'i', acc.i + 1))")
    return (pts.where(F.size("_xs") > 0)
            .select(key,
                    F.size("_xs").cast("long").alias("n_points"),
                    F.col("_k").alias("ref_k"),
                    F.expr(f"CAST({fold}.peak AS BIGINT)")
                     .alias("peak_cusum"),
                    F.expr(f"CAST({fold}.pos AS BIGINT)")
                     .alias("peak_pos")))


def lag_moments(series: DataFrame, key_col: str, val_col: str,
                lags: list[int]) -> DataFrame:
    """Integer autocovariance MOMENTS of a regular integer series at
    each lag: (lag, n_pairs, sum_x, sum_y, sum_xy, sum_xx, sum_yy,
    cov_num) where cov_num = n*sum_xy - sum_x*sum_y (the exact
    integer covariance numerator; Pearson r = cov_num /
    sqrt((n*sxx - sx^2)(n*syy - sy^2)) is one float the CONSUMER
    computes — the engine-portable split used by every fixed-point
    stat here).

    Shape: one shifted-union of the (tiny, already-aggregated) series
    per lag, then one equi-join on the grid key and one grouped agg —
    distributed end to end, no single-partition ordering window, so
    the same plan holds when the series is per-entity x hourly at
    10^9 rows (add the entity to key_col upstream).
    """
    base = series.select(F.col(key_col).alias("_k"),
                         F.col(val_col).cast("long").alias("_x"))
    shifted = None
    for lag in lags:
        s = series.select(
            F.lit(lag).cast("int").alias("lag"),
            (F.col(key_col) + lag).alias("_k"),
            F.col(val_col).cast("long").alias("_y"))
        shifted = s if shifted is None else shifted.unionByName(s)
    j = base.join(shifted, "_k")
    return (j.groupBy("lag")
            .agg(F.count(F.lit(1)).alias("n_pairs"),
                 F.sum("_x").cast("long").alias("sum_x"),
                 F.sum("_y").cast("long").alias("sum_y"),
                 F.sum(F.col("_x") * F.col("_y")).cast("long")
                 .alias("sum_xy"),
                 F.sum(F.col("_x") * F.col("_x")).cast("long")
                 .alias("sum_xx"),
                 F.sum(F.col("_y") * F.col("_y")).cast("long")
                 .alias("sum_yy"))
            .withColumn("cov_num",
                        F.expr("n_pairs * sum_xy - sum_x * sum_y")))


def holt_fold(df: DataFrame, key: str, order_col: str, value_col: str,
              alpha_x1000: int = 300, beta_x1000: int = 100) -> DataFrame:
    """Per-key integer Holt (double-exponential) smoothing — level +
    trend — expressed as a HOF fold like ewma_fold: no UDF, no per-row
    Python, oracle-portable because every step is BIGINT add/mul/DIV
    (Spark DIV and DuckDB // both truncate toward zero, measured —
    see contract.py header).

    Fixed point x1000: l_1 = y_1*1000, b_1 = (y_1 - y_0)*1000, then
    for t >= 2
        l_t = (a*y_t*1000 + (1000-a)*(l + b)) DIV 1000
        b_t = (b*(l_t - l_{t-1}) + (1000-b)*b_{t-1}) DIV 1000
    (a = alpha_x1000, b = beta_x1000). Trend may go negative; trunc
    division is identical in both engines so the twins stay bit-equal.

    Same scale shape as ewma_fold: one shuffle on the key, a key's
    series must fit a row (period-aggregated series only). Output:
    (key, n_points, level_x1000, trend_x1000, forecast_x1000) where
    forecast = one-step-ahead l + b. Keys with < 2 points are dropped
    (no trend is defined)."""
    a, b = int(alpha_x1000), int(beta_x1000)
    pts = (df.groupBy(key)
           .agg(F.expr(
               f"transform(array_sort(collect_list("
               f"struct({order_col} AS o, {value_col} AS v))), p -> p.v)")
               .alias("_xs")))
    lnew = f"(({a} * x * 1000 + {1000 - a} * (acc.l + acc.b)) DIV 1000)"
    fold = (
        f"aggregate(slice(_xs, 3, size(_xs) - 2), "
        f"named_struct('l', _xs[1] * 1000, 'b', (_xs[1] - _xs[0]) * 1000), "
        f"(acc, x) -> named_struct("
        f"'l', {lnew}, "
        f"'b', ({b} * ({lnew} - acc.l) + {1000 - b} * acc.b) DIV 1000))")
    # bind the fold ONCE as a struct column (Catalyst does not inline
    # a non-cheap expression into each of several references)
    return (pts.where(F.size("_xs") >= 2)
            .select(key, F.size("_xs").cast("long").alias("n_points"),
                    F.expr(fold).alias("_f"))
            .select(key, "n_points",
                    F.expr("CAST(_f.l AS BIGINT)").alias("level_x1000"),
                    F.expr("CAST(_f.b AS BIGINT)").alias("trend_x1000"),
                    F.expr("CAST(_f.l + _f.b AS BIGINT)")
                     .alias("forecast_x1000")))


def trend_slope(df: DataFrame, key: str, x_col: str,
                y_col: str) -> DataFrame:
    """Per-key OLS trend slope over an integer series, exact-integer
    numerator/denominator split: slope = (n*Sxy - Sx*Sy) /
    (n*Sxx - Sx^2), reported with the x1e6 truncated quotient. ONE
    grouped aggregate (map-side combined); x is re-based to the key's
    own min via a same-key window (AQE reuses the window's hash
    partitioning, so the groupBy adds no second exchange).

    Overflow budget: with x re-based, |n*Sxx| <~ n^2 * span^2 / 3 —
    safe to ~50k points per key; past that consume the exact moments
    and divide downstream (the same rule as lag_moments/kappa).
    Slope may be negative: truncating DIV is engine-identical."""
    w = Window.partitionBy(key)
    based = df.select(
        F.col(key),
        (F.col(x_col) - F.min(x_col).over(w)).cast("long").alias("_x"),
        F.col(y_col).cast("long").alias("_y"))
    agg = based.groupBy(key).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("_x").cast("long").alias("sx"),
        F.sum("_y").cast("long").alias("sy"),
        F.sum(F.col("_x") * F.col("_y")).cast("long").alias("sxy"),
        F.sum(F.col("_x") * F.col("_x")).cast("long").alias("sxx"))
    return agg.select(
        key, "n",
        F.expr("n * sxy - sx * sy").alias("slope_num"),
        F.expr("n * sxx - sx * sx").alias("slope_den"),
        F.expr("CASE WHEN n * sxx - sx * sx = 0 THEN 0 ELSE "
               "((n * sxy - sx * sy) * 1000000) DIV (n * sxx - sx * sx) "
               "END").alias("slope_x1e6"))


def naive_backtest(df: DataFrame, key: str, x_col: str, y_col: str,
                   season: int = 24) -> DataFrame:
    """Forecast backtest of the SEASONAL-naive model (y_hat = y at
    x-season) against the step-naive baseline (y at x-1), per key —
    the MASE-shaped sanity check run before any real forecaster ships.

    Sparse-grid exact: lags are equi-joins on (key, x-season) /
    (key, x-1), so a missing hour never silently pairs with the wrong
    predecessor (a positional ``lag()`` window would). A row is
    scored only where BOTH references exist. All three joins key on
    the same (key, x)-derived columns, so after the first shuffle the
    data is co-partitioned — two local joins, not three wide stages.

    Output per key: ``n_scored``, integer absolute-error sums for both
    models, and ``mase_x1e6 = (err_season * 1e6) DIV err_naive``
    (<1e6 means the seasonal model beats the baseline). Values must be
    integers (counts, cents); errors/sums are exact BIGINTs.
    """
    base = df.select(F.col(key), F.col(x_col).cast("long").alias("_x"),
                     F.col(y_col).cast("long").alias("_y"))
    # pin: base feeds itself + both lag sides — without it the
    # upstream period-aggregation subtree runs three times in one
    # plan (plan-audited: 3 scans -> 1). The input is the COLLAPSED
    # per-(key, period) series, so the checkpoint is small by
    # contract.
    base = base.localCheckpoint()
    sea = base.select(F.col(key),
                      (F.col("_x") + season).alias("_x"),
                      F.col("_y").alias("_ys"))
    stp = base.select(F.col(key), (F.col("_x") + 1).alias("_x"),
                      F.col("_y").alias("_yn"))
    scored = (base.join(sea, [key, "_x"]).join(stp, [key, "_x"])
              .select(F.col(key),
                      F.abs(F.col("_y") - F.col("_ys")).alias("_es"),
                      F.abs(F.col("_y") - F.col("_yn")).alias("_en")))
    agg = scored.groupBy(key).agg(
        F.count(F.lit(1)).cast("long").alias("n_scored"),
        F.sum("_es").cast("long").alias("err_season"),
        F.sum("_en").cast("long").alias("err_naive"))
    return agg.select(
        key, "n_scored", "err_season", "err_naive",
        F.expr("(err_season * 1000000) DIV greatest(err_naive, 1L)")
        .cast("long").alias("mase_x1e6"))


def acf_integer(df: DataFrame, key: str, ts_col: str,
                lags: list[int]) -> DataFrame:
    """Integer-exact lag-k autocorrelation of each key's hourly count
    series (the standard ACF: autocovariance at lag k over the lag-0
    variance, both about the series mean).

    Exactness trick: with integer counts x_t over a DENSE n-hour grid
    (missing hours count 0 — the grid matters: lags align on HOURS,
    not row order), the n-scaled deviation d_t = n*x_t - S is an
    exact BIGINT, so

        r_k = sum(d_t * d_{t+k}) / sum(d_t^2)

    needs no floats; the result ships as ``acf_x1e6 = (1e6 * num) DIV
    den`` (trunc-toward-zero in both engines, identical for negative
    numerators). Magnitudes: |d| <= n*max(x), so the numerator sum is
    bounded by n^3*max(x)^2 — ~1e15 for a year of hourly counts at
    1e4/hour, safely inside BIGINT.

    Scale shape: one groupBy to hourly buckets, a per-key sequence()
    grid (never a global calendar cross join), one equi self-join per
    lag on (key, hour_idx + k) over the COLLAPSED series — the raw
    rows are touched exactly once.
    """
    buckets = hourly_buckets(
        df, key, ts_col, [F.count(F.lit(1)).cast("long").alias("x")])
    dense = gapfill_hourly(buckets, key, zero_cols=["x"])
    dense = dense.select(
        F.col(key),
        (F.unix_timestamp(F.col("hour").cast("timestamp"))
         / 3600).cast("long").alias("h"),
        F.col("x").cast("long").alias("x"))
    # collapsed series is tiny relative to the raw rows; pin it so the
    # stats join + per-lag self-joins don't re-run the bucket agg
    dense = dense.localCheckpoint()
    stats = dense.groupBy(key).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("s"))
    dev = (dense.join(stats, key)
           .select(F.col(key), "h", "n",
                   (F.col("n") * F.col("x") - F.col("s")).alias("d")))
    dev = dev.localCheckpoint()
    den = dev.groupBy(key).agg(
        F.sum(F.col("d") * F.col("d")).cast("long").alias("den"))
    out = None
    for k in lags:
        lead = dev.select(F.col(key), (F.col("h") - F.lit(k)).alias("h"),
                          F.col("d").alias("d_lead"))
        num = (dev.join(lead, [key, "h"])
               .groupBy(key)
               .agg(F.sum(F.col("d") * F.col("d_lead"))
                    .cast("long").alias("num"))
               .withColumn("lag", F.lit(k).cast("int")))
        out = num if out is None else out.unionByName(num)
    return (out.join(den, key)
            .select(F.col(key), "lag", "num", "den",
                    F.expr("(1000000 * num) DIV den")
                    .cast("long").alias("acf_x1e6")))


def changepoint_single(df: DataFrame, key: str, order_col: str,
                       value_col: str) -> DataFrame:
    """Single best changepoint per key by least-squares split (binary
    segmentation, depth 1): choose the boundary t that minimizes
    SSE(left)+SSE(right) of a piecewise-constant fit — equivalently
    maximizes S_L^2/n_L + S_R^2/n_R (the total sum-of-squares term is
    constant in t).

    The score is kept integer: ``(S_L*S_L) DIV n_L + (S_R*S_R) DIV
    n_R`` — truncation is identical in both engines and, at BIGINT
    magnitudes (scores ~1e13 for 365 daily points at 1e4), far below
    the discrimination the argmax needs. Ties break to the EARLIEST
    boundary via max over a (score, -order) struct — order_col must
    therefore be numeric (pass a day index, not a date).

    One sort per key (a cumulative window supplies S_L and n_L; the
    totals ride the same partition), then a windowless argmax —
    no self-join, no second exchange.
    """
    base = df.select(F.col(key), F.col(order_col).alias("t"),
                     F.col(value_col).cast("long").alias("v"))
    w = Window.partitionBy(key).orderBy("t").rowsBetween(
        Window.unboundedPreceding, 0)
    wall = Window.partitionBy(key)
    cum = base.select(
        F.col(key), "t",
        F.sum("v").over(w).alias("s_l"),
        F.count(F.lit(1)).over(w).cast("long").alias("n_l"),
        F.sum("v").over(wall).alias("s_t"),
        F.count(F.lit(1)).over(wall).cast("long").alias("n_t"))
    scored = (cum.where(F.col("n_l") < F.col("n_t"))  # boundary splits
              .select(
                  F.col(key), "t", "s_l", "n_l",
                  (F.col("s_t") - F.col("s_l")).alias("s_r"),
                  (F.col("n_t") - F.col("n_l")).alias("n_r"))
              .withColumn("score", F.expr(
                  "(s_l * s_l) DIV n_l + (s_r * s_r) DIV n_r")))
    # windowless argmax: max over (score, -t, payload) picks the
    # highest score and, among ties, the EARLIEST boundary (largest
    # -t) — no self-join, no second pass over the series.
    best = scored.groupBy(key).agg(
        F.max(F.struct(
            F.col("score"), (-F.col("t")).alias("_negt"),
            F.col("s_l"), F.col("n_l"), F.col("s_r"), F.col("n_r"),
        )).alias("_m"))
    return best.select(
        F.col(key),
        (-F.col("_m._negt")).alias("split_t"),
        F.col("_m.score").alias("score"),
        F.expr("(_m.s_l * 100) DIV _m.n_l").cast("long")
        .alias("mean_before_x100"),
        F.expr("(_m.s_r * 100) DIV _m.n_r").cast("long")
        .alias("mean_after_x100"))


def missing_hour_ranges(df: DataFrame, key: str, ts_col: str) -> DataFrame:
    """Compress each key's MISSING hours (inside its own [min, max]
    span) into contiguous ranges — the backfill planner's work list.

    Gaps-and-islands over the complement: generate the per-key dense
    hour grid, anti-join the observed hours, then group consecutive
    missing hours with the classic ``hour_idx - row_number()`` island
    key (one window per key over the MISSING rows only).

    Scale shape: the grid is per-key sequence() (span-bounded), the
    anti-join is an equi-join, and the island window sorts only the
    missing rows — at a 100-TB corpus the missing set is by
    construction far smaller than the observed set; if a key's span
    is pathologically sparse the grid itself, not this plan, is the
    cost.
    """
    obs = (df.groupBy(F.col(key),
                      F.date_trunc("hour", F.col(ts_col)).alias("hour"))
           .agg(F.count(F.lit(1)).alias("_n")))
    grid = (obs.groupBy(key)
            .agg(F.min("hour").alias("_lo"), F.max("hour").alias("_hi"))
            .select(key, F.explode(F.sequence(
                "_lo", "_hi", F.expr("INTERVAL 1 HOUR"))).alias("hour")))
    missing = (grid.join(obs, [key, "hour"], "left_anti")
               .select(F.col(key),
                       (F.unix_timestamp(F.col("hour").cast("timestamp"))
                        / 3600).cast("long").alias("h")))
    w = Window.partitionBy(key).orderBy("h")
    isl = missing.withColumn(
        "_isl", F.col("h") - F.row_number().over(w))
    return (isl.groupBy(key, "_isl")
            .agg(F.min("h").alias("_lo"), F.max("h").alias("_hi"),
                 F.count(F.lit(1)).cast("long").alias("n_missing"))
            .select(
                F.col(key),
                F.timestamp_seconds(F.col("_lo") * 3600)
                .alias("range_start"),
                F.timestamp_seconds(F.col("_hi") * 3600)
                .alias("range_end"),
                "n_missing"))


def overdispersion(df: DataFrame, key: str, ts_col: str,
                   threshold_ppm: int = 1200000) -> DataFrame:
    """Arrival-process audit: variance-to-mean ratio (index of
    dispersion) of each key's dense hourly count series. A Poisson
    arrival process has ratio 1 (1e6 ppm); bursty/clumped streams
    read higher — the number that says whether rate-based alerting
    thresholds can assume Poisson tails.

    Integer-exact: with S = sum x, SSQ = sum x^2 over n dense hours
    (missing hours count 0), population var/mean = (n*SSQ - S^2) /
    (n*S), shipped as ppm with one DIV.
    """
    buckets = hourly_buckets(
        df, key, ts_col, [F.count(F.lit(1)).cast("long").alias("x")])
    dense = gapfill_hourly(buckets, key, zero_cols=["x"])
    agg = dense.groupBy(key).agg(
        F.count(F.lit(1)).cast("long").alias("n_hours"),
        F.sum("x").cast("long").alias("_s"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("_ssq"))
    return agg.select(
        key, "n_hours",
        F.expr("(_s * 100) DIV n_hours").cast("long").alias("mean_x100"),
        F.expr("((n_hours * _ssq - _s * _s) * 1000000) DIV "
               "(n_hours * _s)").cast("long").alias("dispersion_ppm")
    ).select("*", (F.col("dispersion_ppm") >= threshold_ppm)
             .cast("int").alias("overdispersed"))


def theil_sen(df: DataFrame, key: str, x_col: str,
              y_col: str) -> DataFrame:
    """Theil-Sen robust trend slope per key: the median of all
    pairwise slopes — up to ~29% contaminated points can't move it,
    where OLS (trend_slope) follows every outlier.

    Integer-exact: slopes are ((y2-y1)*1e6) DIV (x2-x1) fixed point,
    the median is the LOWER median order statistic (element
    ceil(m/2) of the sorted slope list — deterministic, no
    averaging). The pairwise expansion is per key over the COLLAPSED
    series (n^2/2 pairs of the daily/hourly rollup, not raw rows) —
    fine for per-period series; for very long series subsample
    pairs upstream, the estimator tolerates it.
    """
    base = df.select(F.col(key), F.col(x_col).cast("long").alias("x"),
                     F.col(y_col).cast("long").alias("y"))
    a = base.select(F.col(key), F.col("x").alias("xa"),
                    F.col("y").alias("ya"))
    b = base.select(F.col(key), F.col("x").alias("xb"),
                    F.col("y").alias("yb"))
    pairs = (a.join(b, key)
             .where(F.col("xa") < F.col("xb"))
             .select(F.col(key),
                     F.expr("((yb - ya) * 1000000) DIV (xb - xa)")
                     .alias("s")))
    g = pairs.groupBy(key).agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        F.sort_array(F.collect_list("s")).alias("_ss"))
    return g.select(
        key, "n_pairs",
        F.expr("CAST(element_at(_ss, CAST((n_pairs + 1) DIV 2 AS INT))"
               " AS BIGINT)").alias("slope_x1e6"))


def cross_correlation(df: DataFrame, key: str, ts_col: str,
                      key_a: str, key_b: str,
                      max_lag: int = 6) -> DataFrame:
    """Lead-lag detection between two keys' hourly count series:
    at which shift does series A best predict series B? ("errors
    lead purchases by 2 hours.")

    Same n-scaled integer deviations as acf_integer, on the shared
    hour grid of the two series (union span, missing hours 0). For
    a FIXED pair the cross-correlation denominator
    sqrt(den_a * den_b) is constant across lags, so ranking lags by
    the integer numerator num_k = sum(da_t * db_{t+k}) IS ranking by
    correlation — the argmax needs no float at all. Output one row
    per lag in [-max_lag, +max_lag] (positive lag = A leads B) with
    num_k, plus is_best marking the argmax (ties -> smallest lag).
    """
    ev = df.where(F.col(key).isin([key_a, key_b]))
    buckets = (ev.groupBy(F.col(key).alias("k"),
                          F.date_trunc("hour", F.col(ts_col))
                          .alias("hour"))
               .agg(F.count(F.lit(1)).cast("long").alias("x")))
    span = buckets.agg(F.min("hour").alias("_lo"),
                       F.max("hour").alias("_hi"))
    grid = (span.select(F.explode(F.sequence(
        "_lo", "_hi", F.expr("INTERVAL 1 HOUR"))).alias("hour"))
        .crossJoin(F.broadcast(
            ev.select(F.col(key).alias("k")).distinct())))
    dense = (grid.join(buckets, ["k", "hour"], "left")
             .select("k",
                     (F.unix_timestamp(F.col("hour").cast("timestamp"))
                      / 3600).cast("long").alias("h"),
                     F.coalesce("x", F.lit(0)).alias("x")))
    dense = dense.localCheckpoint()
    stats = dense.groupBy("k").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("s"))
    dev = (dense.join(stats, "k")
           .select("k", "h",
                   (F.col("n") * F.col("x") - F.col("s")).alias("d")))
    # pin: dev feeds both the A and B sides — without it the whole
    # grid+stats subtree runs once per side
    dev = dev.localCheckpoint()
    da = dev.where(F.col("k") == key_a).select("h", F.col("d").alias("da"))
    db = dev.where(F.col("k") == key_b).select("h", F.col("d").alias("db"))
    # all lags in ONE equi-join: each A deviation probes its 2L+1
    # shifted hours via a narrow explode, then one groupBy(lag) —
    # not 2L+1 sequential joins (each with its own stage overhead)
    probes = (da.select(
        "da", F.explode(F.sequence(F.lit(-max_lag), F.lit(max_lag)))
        .alias("lag"), "h")
        .select("da", "lag", (F.col("h") + F.col("lag")).alias("h")))
    out = (probes.join(db, "h")
           .groupBy(F.col("lag").cast("int").alias("lag"))
           .agg(F.sum(F.col("da") * F.col("db")).cast("long")
                .alias("num")))
    best = out.agg(F.max(F.struct(
        F.col("num"), (-F.col("lag")).alias("_nl"))).alias("_m"))
    return (out.crossJoin(F.broadcast(best))
            .select("lag", "num",
                    ((F.col("num") == F.col("_m.num")) &
                     (F.col("lag") == -F.col("_m._nl")))
                    .cast("int").alias("is_best")))


def holt_winters_fold(df: DataFrame, key: str, order_col: str,
                      value_col: str, period: int,
                      alpha_x1000: int = 300, beta_x1000: int = 100,
                      gamma_x1000: int = 200) -> DataFrame:
    """Per-key integer additive Holt-Winters (triple-exponential:
    level + trend + seasonality) as a HOF fold — the seasonal rung
    above holt_fold, still zero UDFs and oracle-portable because every
    step is BIGINT add/mul/DIV (trunc division, engine-identical).

    Classic init over the first two seasons (m = period):
        l0   = sum(x_1..m) * 1000 DIV m
        b0   = (sum(x_{m+1..2m}) - sum(x_1..m)) * 1000 DIV m^2
        s_j  = x_j * 1000 - l0                (j = 1..m)
    then for t = m+1 .. n (seasonal state is a rotating m-list whose
    HEAD is always s_{t-m}):
        l_t = (a*(x_t*1000 - s_head) + (1000-a)*(l + b)) DIV 1000
        b_t = (beta*(l_t - l_{t-1}) + (1000-beta)*b)     DIV 1000
        s_t = (g*(x_t*1000 - l_t) + (1000-g)*s_head)     DIV 1000
    Output: key, n_points, level_x1000, trend_x1000,
    season_next_x1000 (the head after the fold = the seasonal the
    next period reuses), forecast_x1000 = l + b + season_next.
    Keys with fewer than 2m points are dropped (no seasonal init).

    Same scale shape as ewma/holt: one shuffle on the key, a key's
    PERIOD-AGGREGATED series must fit a row. The init lambdas bind
    `_xs` (a column) — the interpreted-HOF rule; the O(m^2) init
    re-evaluation is over m ~ tens, not the series.
    """
    m = int(period)
    a, bb, g = int(alpha_x1000), int(beta_x1000), int(gamma_x1000)
    pts = (df.groupBy(key)
           .agg(F.expr(
               f"transform(array_sort(collect_list("
               f"struct({order_col} AS o, {value_col} AS v))), p -> p.v)")
               .alias("_xs")))
    sum1 = f"aggregate(slice(_xs, 1, {m}), 0L, (s, x) -> s + x)"
    sum2 = f"aggregate(slice(_xs, {m + 1}, {m}), 0L, (s, x) -> s + x)"
    l0 = f"(({sum1}) * 1000 DIV {m})"
    b0 = f"((({sum2}) - ({sum1})) * 1000 DIV {m * m})"
    s0 = f"transform(slice(_xs, 1, {m}), x -> x * 1000 - {l0})"
    # acc.s[0] is the 0-BASED head = s_{t-m} (Spark [] indexes from 0;
    # slice() below is 1-based — the mixed-base trap, keep them apart)
    lnew = (f"(({a} * (x * 1000 - acc.s[0]) "
            f"+ {1000 - a} * (acc.l + acc.b)) DIV 1000)")
    snew = (f"(({g} * (x * 1000 - {lnew}) "
            f"+ {1000 - g} * acc.s[0]) DIV 1000)")
    fold = (
        f"aggregate(slice(_xs, {m + 1}, size(_xs) - {m}), "
        f"named_struct('l', {l0}, 'b', {b0}, 's', {s0}), "
        f"(acc, x) -> named_struct("
        f"'l', {lnew}, "
        f"'b', ({bb} * ({lnew} - acc.l) + {1000 - bb} * acc.b) DIV 1000, "
        f"'s', concat(slice(acc.s, 2, {m - 1}), array({snew}))))")
    # one fold per key, bound as a struct column (see holt_fold)
    return (pts.where(F.size("_xs") >= 2 * m)
            .select(key, F.size("_xs").cast("long").alias("n_points"),
                    F.expr(fold).alias("_f"))
            .select(key, "n_points",
                    F.expr("CAST(_f.l AS BIGINT)").alias("level_x1000"),
                    F.expr("CAST(_f.b AS BIGINT)").alias("trend_x1000"),
                    F.expr("CAST(_f.s[0] AS BIGINT)")
                    .alias("season_next_x1000"),
                    F.expr("CAST(_f.l + _f.b + _f.s[0] AS BIGINT)")
                    .alias("forecast_x1000")))
