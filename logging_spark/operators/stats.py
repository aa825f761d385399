"""Distributed statistical inference: Poisson-bootstrap confidence
intervals, Welch's two-sample t-test (A/B), and Kaplan-Meier survival
— each deterministic and integer-exact (or deterministic-double) so
the same numbers come out of any partitioning and of the DuckDB
oracle twin.

Why these shapes at 100 TB:

- The classical bootstrap (resample n rows B times) is impossible on
  a distributed table — you can't draw "exactly n with replacement"
  without a global pass per replicate. The POISSON bootstrap
  (Chamandy et al., "Estimating Uncertainty for Massive Data
  Streams", Google 2012) gives each row an independent
  Poisson(1) weight per replicate, turning resampling into a single
  map-side expression: the B-fold blowup exists only inside the map
  stage and partial aggregation collapses it to B rows before any
  shuffle. Here the Poisson draw is DETERMINISTIC: u = md5(id:rep)
  mod 1e6 pushed through the floor-quantized ppm CDF of Poisson(1).

- Welch's t needs only (n, sum, sum of squares) per arm — two
  integer aggregates; the float work happens once on the driver-side
  final projection via the repo's deterministic-double pattern
  (exact BIGINT inputs -> identically parenthesized IEEE ops -> one
  floor(x*1e6)).

- Kaplan-Meier collapses a billion subjects to a risk table with one
  row per distinct duration, then a single fixed-point product fold
  (s' = s * (n_risk - d) DIV n_risk at x1e6) — the curve is exact
  integer arithmetic, no log-space trick.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

# floor-quantized ppm thresholds of the Poisson(1) CDF: weight k iff
# u in [CDF(k-1), CDF(k)) * 1e6. Identical constants live in the
# oracle SQL — the draw is part of the contract.
POISSON1_CDF_PPM = [367879, 735758, 919698, 981011, 996340,
                    999405, 999916, 999989, 999998]


def _poisson_weight(u):
    """Map u in [0, 1e6) to a Poisson(1) variate via the baked CDF."""
    expr = F.lit(len(POISSON1_CDF_PPM))  # tail: 9+
    for k in range(len(POISSON1_CDF_PPM) - 1, -1, -1):
        expr = F.when(u < POISSON1_CDF_PPM[k], F.lit(k)).otherwise(expr)
    return expr.cast("long")


def poisson_bootstrap_ci(df: DataFrame, id_col: str, value_col: str,
                         n_reps: int = 40, seed: str = "boot",
                         fast: bool = False) -> DataFrame:
    """95% percentile-bootstrap CI for the mean of an integer value
    column, via n_reps deterministic Poisson(1) resamples.

    One row out: n_rows, n_reps, est_x100 (full-sample mean),
    lo_x100 / hi_x100 (order statistics ceil(.025*B) and
    ceil(.975*B), 1-indexed, of the sorted replicate means).

    Plan: the replicate explode is a narrow flatMap (B rows per input
    row, no shuffle); the per-replicate sums partially aggregate
    map-side so the exchange carries exactly B rows. The final
    order-stat selection sorts a B-element array on one row.
    """
    b = F.explode(F.sequence(F.lit(0), F.lit(n_reps - 1))).alias("_b")
    if fast:
        # xxhash64 production twin: ~10x cheaper per draw than md5
        # (one JVM hash vs hex + conv), rows-only by design — DuckDB
        # has no xxhash64, so the md5 path is the value-checked one
        u = F.expr(
            f"pmod(xxhash64('{seed}', _id, _b), 1000000)")
    else:
        u = F.expr(
            f"CAST(conv(substring(md5(concat('{seed}:', CAST(_id AS "
            f"STRING), ':', CAST(_b AS STRING))), 1, 15), 16, 10) AS "
            f"BIGINT) % 1000000")
    rep = (df.select(F.col(id_col).alias("_id"),
                     F.col(value_col).cast("long").alias("_v"), b)
           .select("_id", "_v", "_b", u.alias("_u"))
           .select("_b", "_v", _poisson_weight(F.col("_u")).alias("_w"))
           .groupBy("_b")
           .agg(F.sum(F.col("_w") * F.col("_v")).alias("_wv"),
                F.sum("_w").alias("_wn"))
           .select("_b", F.expr("(100 * _wv) DIV greatest(_wn, 1L)")
                   .alias("_mean_x100")))
    means = rep.agg(
        F.sort_array(F.collect_list("_mean_x100")).alias("_ms"))
    base = df.agg(F.count(F.lit(1)).cast("long").alias("n_rows"),
                  F.sum(F.col(value_col).cast("long")).alias("_s"))
    import math
    lo_i = math.ceil(0.025 * n_reps)   # 1-indexed order stats
    hi_i = math.ceil(0.975 * n_reps)
    return base.crossJoin(means).select(
        "n_rows", F.lit(n_reps).cast("int").alias("n_reps"),
        F.expr("(100 * _s) DIV n_rows").cast("long").alias("est_x100"),
        F.element_at("_ms", lo_i).cast("long").alias("lo_x100"),
        F.element_at("_ms", hi_i).cast("long").alias("hi_x100"))


def welch_ab_test(df: DataFrame, unit_col: str, value_col: str,
                  seed: str = "ab", z_crit_x1e6: int = 1960000
                  ) -> DataFrame:
    """Deterministic A/B assignment (md5(unit) parity) + Welch's
    unequal-variance t on a per-unit integer metric.

    Input must already be one row per experimental unit (aggregate
    first — randomization units, not events, carry the independence
    assumption). Output one row: per-arm n / mean_x100, the Welch t
    statistic as floor(t*1e6), and significant = |t_x1e6| >=
    z_crit_x1e6 (normal approximation; arms here are large).

    Deterministic-double: n, sum, sumsq per arm are exact BIGINTs;
    mean/var/t use one fixed parenthesization mirrored in the oracle.
    """
    arm = (F.expr(
        f"CAST(conv(substring(md5(concat('{seed}:', CAST(_u AS "
        f"STRING))), 1, 15), 16, 10) AS BIGINT) % 2"))
    per = (df.select(F.col(unit_col).alias("_u"),
                     F.col(value_col).cast("long").alias("_v"))
           .select(arm.alias("_arm"), "_v"))
    agg = per.groupBy("_arm").agg(
        F.count(F.lit(1)).cast("long").alias("_n"),
        F.sum("_v").alias("_s"),
        F.sum(F.col("_v") * F.col("_v")).alias("_ss"))
    a = agg.where("_arm = 0").select(
        F.col("_n").alias("n_a"), F.col("_s").alias("_sa"),
        F.col("_ss").alias("_ssa"))
    bb = agg.where("_arm = 1").select(
        F.col("_n").alias("n_b"), F.col("_s").alias("_sb"),
        F.col("_ss").alias("_ssb"))
    j = a.crossJoin(bb)
    # fixed parenthesization — mirrored verbatim in the oracle
    t_expr = (
        "((CAST(_sa AS DOUBLE) / CAST(n_a AS DOUBLE)) - "
        " (CAST(_sb AS DOUBLE) / CAST(n_b AS DOUBLE))) / "
        "sqrt(((CAST(_ssa AS DOUBLE) - (CAST(_sa AS DOUBLE) * "
        "CAST(_sa AS DOUBLE)) / CAST(n_a AS DOUBLE)) / "
        "(CAST(n_a AS DOUBLE) - 1.0)) / CAST(n_a AS DOUBLE) + "
        "((CAST(_ssb AS DOUBLE) - (CAST(_sb AS DOUBLE) * "
        "CAST(_sb AS DOUBLE)) / CAST(n_b AS DOUBLE)) / "
        "(CAST(n_b AS DOUBLE) - 1.0)) / CAST(n_b AS DOUBLE))")
    # Cohen's d rides the same six sums: the t answers "is there an
    # effect?", d answers "how big?" in pooled-sd units
    d_expr = (
        "((CAST(_sa AS DOUBLE) / CAST(n_a AS DOUBLE)) - "
        " (CAST(_sb AS DOUBLE) / CAST(n_b AS DOUBLE))) / "
        "sqrt((((CAST(_ssa AS DOUBLE) - (CAST(_sa AS DOUBLE) * "
        "CAST(_sa AS DOUBLE)) / CAST(n_a AS DOUBLE))) + "
        "((CAST(_ssb AS DOUBLE) - (CAST(_sb AS DOUBLE) * "
        "CAST(_sb AS DOUBLE)) / CAST(n_b AS DOUBLE)))) / "
        "(CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE) - 2.0))")
    return j.select(
        "n_a", "n_b",
        F.expr("(100 * _sa) DIV n_a").cast("long").alias("mean_a_x100"),
        F.expr("(100 * _sb) DIV n_b").cast("long").alias("mean_b_x100"),
        F.expr(f"CAST(floor(({t_expr}) * 1000000) AS BIGINT)")
        .alias("t_x1e6"),
        F.expr(f"CAST(floor(({d_expr}) * 1000000) AS BIGINT)")
        .alias("cohens_d_x1e6"),
    ).select(
        "*",
        (F.abs(F.col("t_x1e6")) >= z_crit_x1e6).cast("int")
        .alias("significant"))


def km_survival(durations: DataFrame, dur_col: str,
                observed_col: str) -> DataFrame:
    """Kaplan-Meier survival curve over integer durations.

    Input: one row per subject with an integer duration and observed
    in {0, 1} (0 = right-censored at that duration). Output: one row
    per distinct duration d with n_risk (subjects with duration >=
    d), d_events, n_censored, and s_x1e6 — the KM product
    prod_{d' <= d} (n_risk - d_events) / n_risk in x1e6 fixed point,
    folded left-to-right with integer DIV (the truncation is the
    contract; at 1e6 scale it is far below any decision threshold).

    Plan: one groupBy collapses subjects to the risk table (one row
    per distinct duration), a cumulative window computes n_risk from
    the totals, and the product fold runs in a single aggregate() HOF
    over the sort_array-collected table — the only single-row stage
    touches (distinct durations) structs, never subjects.
    """
    per = (durations
           .select(F.col(dur_col).cast("long").alias("d"),
                   F.col(observed_col).cast("int").alias("o"))
           .groupBy("d")
           .agg(F.sum(F.expr("CAST(o = 1 AS BIGINT)")).alias("d_events"),
                F.sum(F.expr("CAST(o = 0 AS BIGINT)")).alias("n_cens")))
    w = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, -1)
    total = per.agg(F.sum(F.col("d_events") + F.col("n_cens"))
                    .alias("_tot"))
    risk = per.crossJoin(F.broadcast(total)).select(
        "d", "d_events", "n_cens",
        (F.col("_tot") - F.coalesce(
            F.sum(F.col("d_events") + F.col("n_cens")).over(w),
            F.lit(0))).alias("n_risk"))
    rows = risk.agg(F.sort_array(F.collect_list(F.struct(
        "d", "n_risk", "d_events", "n_cens"))).alias("_rt"))
    folded = rows.select(F.expr(
        "aggregate(_rt, "
        " struct(CAST(1000000 AS BIGINT) AS s, "
        "        CAST(array() AS ARRAY<STRUCT<d: BIGINT, n_risk: "
        "BIGINT, d_events: BIGINT, n_cens: BIGINT, s_x1e6: BIGINT>>) "
        "AS out), "
        " (acc, r) -> struct("
        "   (acc.s * (r.n_risk - r.d_events)) DIV r.n_risk AS s, "
        "   array_append(acc.out, named_struct("
        "     'd', r.d, 'n_risk', r.n_risk, 'd_events', r.d_events, "
        "     'n_cens', r.n_cens, 's_x1e6', "
        "     (acc.s * (r.n_risk - r.d_events)) DIV r.n_risk)) "
        "   AS out), "
        " acc -> acc.out) AS _curve"))
    return (folded.select(F.explode("_curve").alias("_r"))
            .select(F.col("_r.d").alias("d"),
                    F.col("_r.n_risk").alias("n_risk"),
                    F.col("_r.d_events").alias("d_events"),
                    F.col("_r.n_cens").alias("n_censored"),
                    F.col("_r.s_x1e6").alias("s_x1e6")))


# The CUPED t-statistic expression is ONE shared SQL string evaluated
# by both Spark and DuckDB (both parse the same arithmetic grammar),
# so the IEEE parenthesization is identical by construction. Inputs
# are exact per-arm BIGINT sums: n, sx, sy, sxy, sxx, syy per arm
# (suffix _a/_b) — everything float happens inside this one string.
_CUPED_COMMON = """
  CAST(n_a + n_b AS DOUBLE) AS nn,
  (CAST(sxy_a + sxy_b AS DOUBLE) - (CAST(sx_a + sx_b AS DOUBLE) *
    CAST(sy_a + sy_b AS DOUBLE)) / CAST(n_a + n_b AS DOUBLE)) /
  (CAST(sxx_a + sxx_b AS DOUBLE) - (CAST(sx_a + sx_b AS DOUBLE) *
    CAST(sx_a + sx_b AS DOUBLE)) / CAST(n_a + n_b AS DOUBLE)) AS theta,
  (CAST(sx_a + sx_b AS DOUBLE) / CAST(n_a + n_b AS DOUBLE)) AS xbar
"""

# per-arm adjusted mean and variance of y' = y - theta*(x - xbar),
# expanded so only the integer sums and (theta, xbar) appear:
#   sum(y')  = sy - theta*sx + theta*xbar*n
#   sum(y'2) = syy - 2*theta*sxy + theta*theta*sxx
#              + 2*theta*xbar*sy - 2*theta*theta*xbar*sx
#              + theta*theta*xbar*xbar*n
_CUPED_ARM = """
  (CAST(sy_{m} AS DOUBLE) - theta * CAST(sx_{m} AS DOUBLE)
   + theta * xbar * CAST(n_{m} AS DOUBLE)) AS syp_{m},
  (CAST(syy_{m} AS DOUBLE) - 2.0 * theta * CAST(sxy_{m} AS DOUBLE)
   + theta * theta * CAST(sxx_{m} AS DOUBLE)
   + 2.0 * theta * xbar * CAST(sy_{m} AS DOUBLE)
   - 2.0 * theta * theta * xbar * CAST(sx_{m} AS DOUBLE)
   + theta * theta * xbar * xbar * CAST(n_{m} AS DOUBLE)) AS sypp_{m}
"""

_CUPED_T = """
  ((syp_a / CAST(n_a AS DOUBLE)) - (syp_b / CAST(n_b AS DOUBLE))) /
  sqrt(((sypp_a - (syp_a * syp_a) / CAST(n_a AS DOUBLE)) /
        (CAST(n_a AS DOUBLE) - 1.0)) / CAST(n_a AS DOUBLE) +
       ((sypp_b - (syp_b * syp_b) / CAST(n_b AS DOUBLE)) /
        (CAST(n_b AS DOUBLE) - 1.0)) / CAST(n_b AS DOUBLE))
"""


def cuped_ab_test(df: DataFrame, unit_col: str, pre_col: str,
                  post_col: str, seed: str = "ab",
                  z_crit_x1e6: int = 1960000) -> DataFrame:
    """CUPED-adjusted A/B readout: Welch's t on the variance-reduced
    outcome y' = y - theta*(x - xbar), where x is the unit's
    PRE-experiment covariate and theta = cov(x,y)/var(x) pooled over
    all units — the standard experimentation-platform trick that
    shrinks arm variance by the pre/post correlation (often 30-60%)
    at zero bias.

    Everything distributed is integer: one groupBy collapses each
    arm to (n, sum x, sum y, sum xy, sum x^2, sum y^2); theta, xbar
    and the t statistic evaluate in ONE shared SQL expression string
    (identical text on the oracle side -> identical IEEE
    parenthesization). Output one row: arm sizes, theta_x1e6, the
    adjusted t as floor(t*1e6), significance at z_crit.
    """
    arm = (F.expr(
        f"CAST(conv(substring(md5(concat('{seed}:', CAST(_u AS "
        f"STRING))), 1, 15), 16, 10) AS BIGINT) % 2"))
    per = (df.select(F.col(unit_col).alias("_u"),
                     F.col(pre_col).cast("long").alias("_x"),
                     F.col(post_col).cast("long").alias("_y"))
           .select(arm.alias("_arm"), "_x", "_y"))
    agg = per.groupBy("_arm").agg(
        F.count(F.lit(1)).cast("long").alias("_n"),
        F.sum("_x").alias("_sx"), F.sum("_y").alias("_sy"),
        F.sum(F.col("_x") * F.col("_y")).alias("_sxy"),
        F.sum(F.col("_x") * F.col("_x")).alias("_sxx"),
        F.sum(F.col("_y") * F.col("_y")).alias("_syy"))

    def side(m, flag):
        return agg.where(f"_arm = {flag}").select(
            *[F.col(f"_{c}").alias(f"{c}_{m}")
              for c in ("n", "sx", "sy", "sxy", "sxx", "syy")])

    j = side("a", 0).crossJoin(side("b", 1))
    j = j.selectExpr("*", *_CUPED_COMMON.split(",\n"))
    j = j.selectExpr("*", *_CUPED_ARM.format(m="a").split(",\n"),
                     *_CUPED_ARM.format(m="b").split(",\n"))
    return j.selectExpr(
        "n_a", "n_b",
        "CAST(floor(theta * 1000000) AS BIGINT) AS theta_x1e6",
        f"CAST(floor(({_CUPED_T}) * 1000000) AS BIGINT) AS t_x1e6",
    ).selectExpr(
        "n_a", "n_b", "theta_x1e6", "t_x1e6",
        f"CAST(abs(t_x1e6) >= {z_crit_x1e6} AS INT) AS significant")


# Mann-Whitney z from exact integers (u2 = 2U, t3t = sum(t^3 - t)
# over tie groups): one shared string, evaluated by both engines.
_MWU_Z = """
  ((CAST(u2 AS DOUBLE) - CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE))
   / 2.0) /
  sqrt((CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE) / 12.0) *
       ((CAST(n_a + n_b AS DOUBLE) + 1.0) -
        CAST(t3t AS DOUBLE) /
        (CAST(n_a + n_b AS DOUBLE) *
         (CAST(n_a + n_b AS DOUBLE) - 1.0))))
"""


def mann_whitney_u(df: DataFrame, unit_col: str, value_col: str,
                   seed: str = "ab",
                   z_crit_x1e6: int = 1960000) -> DataFrame:
    """Mann-Whitney U rank-sum test between md5-parity arms — the
    nonparametric A/B readout that doesn't care about outliers or
    skew (t-tests on revenue-like metrics do).

    U is EXACT integer arithmetic without any global rank sort: the
    metric collapses to distinct values with per-arm counts, and
    2U = sum_v ca(v) * (2*cumB(<v) + cb(v)) needs one prefix sum
    over the value domain. The normal approximation with tie
    correction evaluates in one shared-verbatim double expression
    (_MWU_Z). Output: n_a, n_b, u2 (= 2U), t3t (tie term),
    z_x1e6, significant.

    The prefix-sum window runs on the COLLAPSED value table (one row
    per distinct value) — for a value domain too large to sort in
    one partition, pre-bucket values the way sample.budget_head
    two-phases its prefix sum.
    """
    arm = (F.expr(
        f"CAST(conv(substring(md5(concat('{seed}:', CAST(_u AS "
        f"STRING))), 1, 15), 16, 10) AS BIGINT) % 2"))
    per = (df.select(F.col(unit_col).alias("_u"),
                     F.col(value_col).cast("long").alias("_v"))
           .select(arm.alias("_arm"), "_v"))
    vals = per.groupBy("_v").agg(
        F.sum(F.expr("CAST(_arm = 0 AS BIGINT)")).alias("ca"),
        F.sum(F.expr("CAST(_arm = 1 AS BIGINT)")).alias("cb"))
    wv = Window.orderBy("_v").rowsBetween(Window.unboundedPreceding, -1)
    scored = vals.select(
        "ca", "cb",
        F.coalesce(F.sum("cb").over(wv), F.lit(0)).alias("cum_b"))
    agg = scored.agg(
        F.sum("ca").cast("long").alias("n_a"),
        F.sum("cb").cast("long").alias("n_b"),
        F.sum(F.expr("ca * (2 * cum_b + cb)")).cast("long").alias("u2"),
        F.sum(F.expr("(ca + cb) * (ca + cb) * (ca + cb) - (ca + cb)"))
        .cast("long").alias("t3t"))
    return agg.selectExpr(
        "n_a", "n_b", "u2", "t3t",
        f"CAST(floor(({_MWU_Z}) * 1000000) AS BIGINT) AS z_x1e6",
        # rank-biserial effect size r = 2U/(na*nb) - 1, exact
        # integers: ((u2 - na*nb) * 1e6) DIV (na*nb)
        "CAST(((u2 - n_a * n_b) * 1000000) DIV (n_a * n_b) "
        "AS BIGINT) AS rank_biserial_x1e6",
    ).selectExpr(
        "n_a", "n_b", "u2", "t3t", "z_x1e6", "rank_biserial_x1e6",
        f"CAST(abs(z_x1e6) >= {z_crit_x1e6} AS INT) AS significant")


# log-rank z: O_a, E (x1e6) and V (x1e6) summed as integers over the
# collapsed risk table, one double expression at the end.
_LOGRANK_Z = """
  (CAST(o_a AS DOUBLE) * 1000000.0 - CAST(e_a_x1e6 AS DOUBLE)) /
  sqrt(CAST(v_x1e6 AS DOUBLE) * 1000000.0)
"""


def logrank_test(durations: DataFrame, dur_col: str,
                 observed_col: str, group_col: str,
                 z_crit_x1e6: int = 1960000) -> DataFrame:
    """Two-group log-rank test: do the survival curves of group 0 and
    group 1 differ? (The hypothesis test that belongs next to
    km_survival's curve.)

    All per-time quantities are integers over the collapsed risk
    table: at each distinct duration t, observed group-0 events
    d_a(t), expected e_a(t) = d(t)*n_a(t)/n(t) accumulated as x1e6
    integers, and the hypergeometric variance accumulated as x1e6
    integers (per-time truncation <= 1e-6, deterministic and
    identical in the oracle — magnitudes hold to ~10k subjects per
    group at the x1e6 scale). The z statistic is one shared-verbatim
    double expression. ``group_col`` must be 0/1.
    """
    per = (durations
           .select(F.col(dur_col).cast("long").alias("d"),
                   F.col(observed_col).cast("int").alias("o"),
                   F.col(group_col).cast("int").alias("g"))
           .groupBy("d")
           .agg(F.sum(F.expr("CAST(o = 1 AND g = 0 AS BIGINT)"))
                .alias("da"),
                F.sum(F.expr("CAST(o = 1 AND g = 1 AS BIGINT)"))
                .alias("db"),
                F.sum(F.expr("CAST(g = 0 AS BIGINT)")).alias("ta"),
                F.sum(F.expr("CAST(g = 1 AS BIGINT)")).alias("tb")))
    w = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, -1)
    tot = per.agg(F.sum("ta").alias("_na"), F.sum("tb").alias("_nb"))
    risk = (per.crossJoin(F.broadcast(tot))
            .select("d", "da", "db",
                    (F.col("_na") - F.coalesce(
                        F.sum("ta").over(w), F.lit(0))).alias("na"),
                    (F.col("_nb") - F.coalesce(
                        F.sum("tb").over(w), F.lit(0))).alias("nb")))
    # Per-time E and V terms ride DECIMAL(38,0): the BIGINT products
    # (da+db)*na*1e6 and (da+db)*(n-(da+db))*na*nb*1e6 wrap silently
    # (non-ANSI) past ~3e6 / ~10k subjects at risk with ties; the
    # decimal forms are exact to ~4.5e8 at risk and, past THAT, raise
    # NUMERIC_VALUE_OUT_OF_RANGE under ANSI instead of returning a
    # wrong z. Quotients are small, so DIV's BIGINT result is exact;
    # the oracle's DuckDB `//` on BIGINT is checked arithmetic and
    # agrees everywhere it doesn't itself error.
    agg = risk.agg(
        F.sum("da").cast("long").alias("o_a"),
        F.sum(F.expr(
            "(CAST(da + db AS DECIMAL(38,0)) * na * 1000000) "
            "DIV (na + nb)"))
        .cast("long").alias("e_a_x1e6"),
        F.sum(F.expr(
            "CASE WHEN na + nb > 1 THEN "
            "(CAST(da + db AS DECIMAL(38,0)) * (na + nb - (da + db)) "
            "* na * nb * 1000000) "
            "DIV (CAST(na + nb AS DECIMAL(38,0)) * (na + nb) * "
            "(na + nb - 1)) "
            "ELSE CAST(0 AS BIGINT) END")).cast("long").alias("v_x1e6"))
    return agg.selectExpr(
        "o_a", "e_a_x1e6", "v_x1e6",
        f"CAST(floor(({_LOGRANK_Z}) * 1000000) AS BIGINT) AS z_x1e6",
    ).selectExpr(
        "o_a", "e_a_x1e6", "v_x1e6", "z_x1e6",
        f"CAST(abs(z_x1e6) >= {z_crit_x1e6} AS INT) AS significant")


# F statistic from the x1e6 integer sums of squares — one shared
# string evaluated by both engines.
_ANOVA_F = """
  (CAST(ssb_x1e6 AS DOUBLE) / (CAST(k AS DOUBLE) - 1.0)) /
  (CAST(ssw_x1e6 AS DOUBLE) / (CAST(n AS DOUBLE) - CAST(k AS DOUBLE)))
"""


def anova_oneway(df: DataFrame, key: str, group_col: str,
                 value_col: str) -> DataFrame:
    """One-way ANOVA per key: how much of the value's variance is
    explained by the grouping? (eta^2 and the F statistic — e.g.
    "is hour-of-day structure real for this event type, or noise?")

    Integer-exact partition of sums of squares via
    SSB = sum_g S_g^2/n_g - S^2/N and SSW = sum y^2 - sum_g S_g^2/n_g,
    each ratio quantized once to x1e6 (truncation identical in the
    oracle; bounds hold to S_g ~ 3e5 per group at the x1e6 scale).
    Output: key, n, k, ssb_x1e6, ssw_x1e6, eta2_ppm, f_x1e6 — the F
    evaluates in one shared-verbatim double expression. Two grouped
    aggregates, both collapsing: rows -> (key, group) -> key.
    """
    per = (df.select(F.col(key).alias("_key"),
                     F.col(group_col).alias("_g"),
                     F.col(value_col).cast("long").alias("_y"))
           .groupBy("_key", "_g")
           .agg(F.count(F.lit(1)).cast("long").alias("_ng"),
                F.sum("_y").alias("_sg"),
                F.sum(F.col("_y") * F.col("_y")).alias("_ssqg")))
    agg = per.groupBy("_key").agg(
        F.sum("_ng").cast("long").alias("n"),
        F.count(F.lit(1)).cast("long").alias("k"),
        F.sum("_sg").cast("long").alias("_s"),
        F.sum("_ssqg").cast("long").alias("_ssq"),
        F.sum(F.expr("(_sg * _sg * 1000000) DIV _ng"))
        .cast("long").alias("_b"))
    out = agg.select(
        F.col("_key").alias(key), "n", "k",
        F.expr("_b - (_s * _s * 1000000) DIV n").cast("long")
        .alias("ssb_x1e6"),
        F.expr("_ssq * 1000000 - _b").cast("long").alias("ssw_x1e6"))
    return out.selectExpr(
        f"`{key}`", "n", "k", "ssb_x1e6", "ssw_x1e6",
        "CAST((ssb_x1e6 * 1000000) DIV "
        "greatest(ssb_x1e6 + ssw_x1e6, 1L) AS BIGINT) AS eta2_ppm",
        f"CAST(floor(({_ANOVA_F}) * 1000000) AS BIGINT) AS f_x1e6")


# KS significance: D > c(alpha) * sqrt((na+nb)/(na*nb)) with
# c(.05) = 1.358, evaluated on integers: d_num/(na*nb) > thr
# <=> d_num^2 * 1e12 > c^2_x1e12-scaled bound — kept in doubles via
# one shared string instead (d_num and the sizes are exact BIGINTs).
_KS_STAT = """
  CAST(d_num AS DOUBLE) / (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE))
"""


def ks_test(df: DataFrame, unit_col: str, value_col: str,
            seed: str = "ab", c_alpha: float = 1.358) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov test between md5-parity arms:
    did the WHOLE distribution shift, not just the mean? (Catches
    variance/shape changes Welch and Mann-Whitney can miss.)

    The D statistic is exact integer arithmetic end to end:
    D = max_v |cumA(v)*n_b - cumB(v)*n_a| / (n_a*n_b), where the
    numerator and the cumulative counts come from one prefix-sum
    pass over the COLLAPSED value table (same shape as
    mann_whitney_u — distinct values, not rows, cross the window).
    Output: n_a, n_b, d_num (the exact scaled sup), d_x1e6, the
    alpha=0.05 asymptotic threshold as thr_x1e6, significant.
    """
    arm = (F.expr(
        f"CAST(conv(substring(md5(concat('{seed}:', CAST(_u AS "
        f"STRING))), 1, 15), 16, 10) AS BIGINT) % 2"))
    per = (df.select(F.col(unit_col).alias("_u"),
                     F.col(value_col).cast("long").alias("_v"))
           .select(arm.alias("_arm"), "_v"))
    vals = per.groupBy("_v").agg(
        F.sum(F.expr("CAST(_arm = 0 AS BIGINT)")).alias("ca"),
        F.sum(F.expr("CAST(_arm = 1 AS BIGINT)")).alias("cb"))
    # arm totals from the COLLAPSED value table — never a second
    # scan of the per-unit rows; pin vals BEFORE deriving either
    # consumer (the window AND the totals) or the window path keeps
    # the unpinned lineage and re-runs the per-unit aggregate
    vals = vals.localCheckpoint()
    wv = Window.orderBy("_v").rowsBetween(Window.unboundedPreceding, 0)
    cum = vals.select(
        F.sum("ca").over(wv).alias("cuma"),
        F.sum("cb").over(wv).alias("cumb"))
    tot = vals.agg(F.sum("ca").alias("n_a"),
                   F.sum("cb").alias("n_b"))
    agg = (cum.crossJoin(F.broadcast(tot))
           .agg(F.first("n_a").cast("long").alias("n_a"),
                F.first("n_b").cast("long").alias("n_b"),
                F.max(F.abs(F.col("cuma") * F.col("n_b")
                            - F.col("cumb") * F.col("n_a")))
                .cast("long").alias("d_num")))
    return agg.selectExpr(
        "n_a", "n_b", "d_num",
        f"CAST(floor(({_KS_STAT}) * 1000000) AS BIGINT) AS d_x1e6",
        f"CAST(floor(({c_alpha!r} * sqrt((CAST(n_a AS DOUBLE) + "
        f"CAST(n_b AS DOUBLE)) / (CAST(n_a AS DOUBLE) * "
        f"CAST(n_b AS DOUBLE)))) * 1000000) AS BIGINT) AS thr_x1e6",
    ).selectExpr(
        "n_a", "n_b", "d_num", "d_x1e6", "thr_x1e6",
        "CAST(d_x1e6 > thr_x1e6 AS INT) AS significant")


def chi2_independence(df: DataFrame, row_col: str, col_col: str,
                      crit_x1e6: int) -> DataFrame:
    """Pearson chi-square test of independence over a contingency
    table (are the two categoricals related, e.g. event type x
    daypart?). One row out: n, n_rows_levels, n_cols_levels, df,
    chi2_x1e6, significant (vs the caller's critical value for this
    df at alpha=.05).

    Portability pattern (new here): the per-cell terms
    (o - e)^2 / e are IEEE doubles, and their SUM is made
    order-deterministic by folding over the cell list SORTED by
    (row, col) — Spark aggregate() over sort_array(collect_list)
    mirrored by DuckDB list_reduce over list(... ORDER BY ...), both
    seeded so (0.0 + t1) == t1 exactly. Use this fold when a
    statistic's integer form would overflow BIGINT (here (o*N-r*c)^2
    can pass 2^63) but per-term doubles are fine.
    """
    cells = (df.groupBy(F.col(row_col).alias("_r"),
                        F.col(col_col).alias("_c"))
             .agg(F.count(F.lit(1)).cast("long").alias("_o")))
    cells = cells.localCheckpoint()  # feeds margins + the fold
    rm = cells.groupBy("_r").agg(F.sum("_o").alias("_rn"))
    cm = cells.groupBy("_c").agg(F.sum("_o").alias("_cn"))
    tot = cells.agg(F.sum("_o").alias("_n"),
                    F.count_distinct("_r").cast("long").alias("_nr"),
                    F.count_distinct("_c").cast("long").alias("_nc"))
    j = (cells.join(F.broadcast(rm), "_r")
         .join(F.broadcast(cm), "_c")
         .crossJoin(F.broadcast(tot)))
    term = ("((CAST(_o AS DOUBLE) - (CAST(_rn AS DOUBLE) * "
            "CAST(_cn AS DOUBLE)) / CAST(_n AS DOUBLE)) * "
            "(CAST(_o AS DOUBLE) - (CAST(_rn AS DOUBLE) * "
            "CAST(_cn AS DOUBLE)) / CAST(_n AS DOUBLE))) / "
            "((CAST(_rn AS DOUBLE) * CAST(_cn AS DOUBLE)) / "
            "CAST(_n AS DOUBLE))")
    folded = (j.select("_r", "_c", "_n", "_nr", "_nc",
                       F.expr(term).alias("_t"))
              .groupBy()
              .agg(F.first("_n").cast("long").alias("n"),
                   F.first("_nr").cast("long").alias("n_row_levels"),
                   F.first("_nc").cast("long").alias("n_col_levels"),
                   F.expr("aggregate(sort_array(collect_list("
                          "struct(_r, _c, _t))), CAST(0.0 AS DOUBLE), "
                          "(acc, x) -> acc + x._t)").alias("_chi2")))
    # Cramer's V effect size rides the same fold output: the
    # significance answer ("is there ANY association?") saturates at
    # big n, V answers "how strong?" on a 0..1 scale
    v = ("sqrt(_chi2 / (CAST(n AS DOUBLE) * CAST(least("
         "n_row_levels - 1, n_col_levels - 1) AS DOUBLE)))")
    return folded.selectExpr(
        "n", "n_row_levels", "n_col_levels",
        "CAST((n_row_levels - 1) * (n_col_levels - 1) AS BIGINT) "
        "AS df",
        "CAST(floor(_chi2 * 1000000) AS BIGINT) AS chi2_x1e6",
        f"CAST(floor(({v}) * 1000000) AS BIGINT) AS cramers_v_x1e6",
        f"CAST(CAST(floor(_chi2 * 1000000) AS BIGINT) > {crit_x1e6} "
        f"AS INT) AS significant")


def binned_ks(cur: DataFrame, ref: DataFrame, bucket_col: str,
              cnt_col: str) -> DataFrame:
    """Binned two-sample KS distance between two histograms: D over
    the bucketed ECDFs, exact integers (D_num = max |cumCur*nRef -
    cumRef*nCur| over the full-outer bucket union). With matched
    binning this IS the KS statistic of the binned data; the binning
    granularity is the only approximation and it is explicit in the
    input.

    One row: n_cur, n_ref, d_num, d_x1e6.
    """
    c = cur.select(F.col(bucket_col).cast("long").alias("b"),
                   F.col(cnt_col).cast("long").alias("cc"))
    r = ref.select(F.col(bucket_col).cast("long").alias("b"),
                   F.col(cnt_col).cast("long").alias("cr"))
    u = (c.join(r, "b", "full_outer")
         .select("b", F.coalesce("cc", F.lit(0)).alias("cc"),
                 F.coalesce("cr", F.lit(0)).alias("cr")))
    w = Window.orderBy("b").rowsBetween(Window.unboundedPreceding, 0)
    cum = u.select(F.sum("cc").over(w).alias("cumc"),
                   F.sum("cr").over(w).alias("cumr"))
    tot = u.agg(F.sum("cc").alias("n_cur"), F.sum("cr").alias("n_ref"))
    return (cum.crossJoin(F.broadcast(tot))
            .agg(F.first("n_cur").cast("long").alias("n_cur"),
                 F.first("n_ref").cast("long").alias("n_ref"),
                 F.max(F.abs(F.col("cumc") * F.col("n_ref")
                             - F.col("cumr") * F.col("n_cur")))
                 .cast("long").alias("d_num"))
            .selectExpr(
                "n_cur", "n_ref", "d_num",
                "CAST(floor((CAST(d_num AS DOUBLE) / "
                "(CAST(n_cur AS DOUBLE) * CAST(n_ref AS DOUBLE))) "
                "* 1000000) AS BIGINT) AS d_x1e6"))


_SMD = """
  ((CAST(sa AS DOUBLE) / CAST(n_a AS DOUBLE)) -
   (CAST(sb AS DOUBLE) / CAST(n_b AS DOUBLE))) /
  sqrt((((CAST(ssa AS DOUBLE) - (CAST(sa AS DOUBLE) *
    CAST(sa AS DOUBLE)) / CAST(n_a AS DOUBLE)) /
    (CAST(n_a AS DOUBLE) - 1.0)) +
       ((CAST(ssb AS DOUBLE) - (CAST(sb AS DOUBLE) *
    CAST(sb AS DOUBLE)) / CAST(n_b AS DOUBLE)) /
    (CAST(n_b AS DOUBLE) - 1.0))) / 2.0)
"""

# a constant covariate (both arms zero-variance) has no standardized
# scale: 0 when the means agree, a signed "infinite" sentinel when
# they differ (999e6 = SMD 999, far past any balance threshold).
# The guard conditions are exact integers, so both engines branch
# identically — and ANSI double division never sees a 0 denominator.
_SMD_GUARDED = f"""
  CASE WHEN n_a < 2 OR n_b < 2 THEN CAST(0 AS BIGINT)
       WHEN ssa * n_a - sa * sa = 0 AND ssb * n_b - sb * sb = 0
       THEN CASE WHEN sa * n_b = sb * n_a THEN CAST(0 AS BIGINT)
                 ELSE CAST(CASE WHEN sa * n_b > sb * n_a
                           THEN 999000000 ELSE -999000000 END
                      AS BIGINT) END
       ELSE CAST(floor(({_SMD}) * 1000000) AS BIGINT) END
"""


def covariate_balance(df: DataFrame, unit_col: str,
                      covariate_cols: list[str], seed: str = "ab",
                      smd_max_x1e6: int = 100000) -> DataFrame:
    """Randomization-health check: standardized mean difference of
    every PRE-experiment covariate between the md5-parity arms. An
    |SMD| above ~0.1 means the split is unlucky (or the hash is
    correlated with behavior) and the experiment readout needs
    adjustment — the audit every platform runs before trusting an
    A/B number.

    One pass: covariates unpivot long-form (stack), one grouped
    aggregate per (covariate, arm) collapses to 6 BIGINTs, SMD
    evaluates in one shared-verbatim double expression. Output one
    row per covariate: n_a, n_b, smd_x1e6, balanced.
    """
    k = len(covariate_cols)
    stack = ", ".join(f"'{c}', CAST(`{c}` AS BIGINT)"
                      for c in covariate_cols)
    arm = (F.expr(
        f"CAST(conv(substring(md5(concat('{seed}:', CAST(`{unit_col}`"
        f" AS STRING))), 1, 15), 16, 10) AS BIGINT) % 2"))
    long = (df.select(arm.alias("_arm"),
                      F.expr(f"stack({k}, {stack}) AS (cov, x)"))
            .groupBy("cov", "_arm")
            .agg(F.count(F.lit(1)).cast("long").alias("n"),
                 F.sum("x").alias("s"),
                 F.sum(F.col("x") * F.col("x")).alias("ss")))
    # pin: the collapsed (covariate, arm) table feeds both join
    # sides — without it the per-unit aggregate subtree runs twice
    long = long.localCheckpoint()
    a = long.where("_arm = 0").select(
        "cov", F.col("n").alias("n_a"), F.col("s").alias("sa"),
        F.col("ss").alias("ssa"))
    b = long.where("_arm = 1").select(
        "cov", F.col("n").alias("n_b"), F.col("s").alias("sb"),
        F.col("ss").alias("ssb"))
    return (a.join(b, "cov")
            .selectExpr(
                "cov", "n_a", "n_b",
                f"({_SMD_GUARDED}) AS smd_x1e6")
            .selectExpr(
                "cov", "n_a", "n_b", "smd_x1e6",
                f"CAST(abs(smd_x1e6) < {smd_max_x1e6} AS INT) "
                f"AS balanced"))


def ab_bootstrap_delta(df: DataFrame, unit_col: str, value_col: str,
                       n_reps: int = 40, seed: str = "boot",
                       arm_seed: str = "ab") -> DataFrame:
    """Poisson-bootstrap CI on the A/B treatment effect itself —
    the mean difference between md5-parity arms with a 95%
    percentile interval, the number an experiment readout actually
    ships (a CI on the delta, not just a yes/no test).

    Same deterministic machinery as poisson_bootstrap_ci: per
    replicate each unit gets an independent Poisson(1) weight, arms
    resample independently, delta_b = meanA_b - meanB_b in x100
    integer fixed point, CI = order statistics of the sorted
    replicate deltas. The replicate explode partially aggregates to
    2*n_reps rows before the only shuffle. One row out: n_a, n_b,
    delta_x100 (point estimate), lo_x100, hi_x100, significant
    (CI excludes zero).
    """
    import math
    arm = (F.expr(
        f"CAST(conv(substring(md5(concat('{arm_seed}:', CAST(_id AS "
        f"STRING))), 1, 15), 16, 10) AS BIGINT) % 2"))
    b = F.explode(F.sequence(F.lit(0), F.lit(n_reps - 1))).alias("_b")
    u = F.expr(
        f"CAST(conv(substring(md5(concat('{seed}:', CAST(_id AS "
        f"STRING), ':', CAST(_b AS STRING))), 1, 15), 16, 10) AS "
        f"BIGINT) % 1000000")
    base = df.select(F.col(unit_col).alias("_id"),
                     F.col(value_col).cast("long").alias("_v"))
    rep = (base.select("_id", "_v", arm.alias("_arm"), b)
           .select("_id", "_v", "_arm", "_b", u.alias("_u"))
           .select("_arm", "_b", "_v",
                   _poisson_weight(F.col("_u")).alias("_w"))
           .groupBy("_b", "_arm")
           .agg(F.sum(F.col("_w") * F.col("_v")).alias("_wv"),
                F.sum("_w").alias("_wn")))
    deltas = (rep.groupBy("_b")
              .agg(F.expr(
                  "(100 * sum(CASE WHEN _arm = 0 THEN _wv ELSE 0 END))"
                  " DIV greatest(sum(CASE WHEN _arm = 0 THEN _wn "
                  "ELSE 0 END), 1L) - "
                  "(100 * sum(CASE WHEN _arm = 1 THEN _wv ELSE 0 END))"
                  " DIV greatest(sum(CASE WHEN _arm = 1 THEN _wn "
                  "ELSE 0 END), 1L)").alias("_d")))
    ds = deltas.agg(F.sort_array(F.collect_list("_d")).alias("_ds"))
    pt = (base.select(arm.alias("_arm"), "_v")
          .groupBy("_arm")
          .agg(F.count(F.lit(1)).cast("long").alias("_n"),
               F.sum("_v").alias("_s")))
    pt = (pt.agg(
        F.sum(F.expr("CASE WHEN _arm = 0 THEN _n ELSE 0 END"))
        .cast("long").alias("n_a"),
        F.sum(F.expr("CASE WHEN _arm = 1 THEN _n ELSE 0 END"))
        .cast("long").alias("n_b"),
        F.expr("(100 * sum(CASE WHEN _arm = 0 THEN _s ELSE 0 END)) "
               "DIV greatest(sum(CASE WHEN _arm = 0 THEN _n ELSE 0 "
               "END), 1L) - "
               "(100 * sum(CASE WHEN _arm = 1 THEN _s ELSE 0 END)) "
               "DIV greatest(sum(CASE WHEN _arm = 1 THEN _n ELSE 0 "
               "END), 1L)").cast("long").alias("delta_x100")))
    lo_i = math.ceil(0.025 * n_reps)
    hi_i = math.ceil(0.975 * n_reps)
    return (pt.crossJoin(F.broadcast(ds))
            .select("n_a", "n_b", "delta_x100",
                    F.element_at("_ds", lo_i).cast("long")
                    .alias("lo_x100"),
                    F.element_at("_ds", hi_i).cast("long")
                    .alias("hi_x100"))
            .selectExpr("n_a", "n_b", "delta_x100", "lo_x100",
                        "hi_x100",
                        "CAST(lo_x100 > 0 OR hi_x100 < 0 AS INT) "
                        "AS significant"))
