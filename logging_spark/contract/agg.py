"""agg family: contract queries (+ oracles) — split mechanically from the original single contract module; statement order preserved."""

from __future__ import annotations

from logging_spark.contract._fixtures import (
    F, KMV_SPACE, Window, _read, grouped_sketch, hash56_sql, hash60_sql,
    kmv_audit, kmv_estimate, kmv_sketch, merge_sketches, salted_agg)


def register(q):

    def agg_exact_quantiles(spark, sf):
        # percentile() (exact, interpolated) matches DuckDB's
        # quantile_cont bitwise — verified, no rounding needed
        ev = _read(spark, sf, "events")
        return (ev.groupBy("event_type")
                .agg(F.expr("percentile(value, 0.5)").alias("p50"),
                     F.expr("percentile(value, 0.95)").alias("p95"),
                     F.count(F.lit(1)).alias("n")))
    q["agg_exact_quantiles"] = agg_exact_quantiles

    def agg_grouping_sets(spark, sf):
        li = _read(spark, sf, "lineitem")
        return (li.groupingSets([["l_returnflag"], ["l_returnflag", "l_linestatus"]],
                                "l_returnflag", "l_linestatus")
                .agg(F.count(F.lit(1)).alias("n"),
                     F.grouping_id("l_returnflag", "l_linestatus").cast("int").alias("gid")))
    q["agg_grouping_sets"] = agg_grouping_sets

    # argmax WITHOUT a window pass: max over a (value, -tiebreak)
    # struct is one map-side-combinable aggregate — the shuffle
    # carries one struct per (group, partition) instead of every row
    # sorting through a rank window. Deterministic: highest balance,
    # lowest custkey on ties.
    def agg_argmax(spark, sf):
        cu = _read(spark, sf, "customer")
        cents = F.round(F.col("c_acctbal") * 100).cast("long")
        packed = F.max(F.struct(cents.alias("bal"),
                                (-F.col("c_custkey")).alias("nck")))
        return (cu.groupBy("c_mktsegment")
                .agg(packed.alias("_m"),
                     F.count(F.lit(1)).alias("n_customers"))
                .select("c_mktsegment",
                        F.col("_m.bal").alias("best_bal_cents"),
                        (-F.col("_m.nck")).cast("long")
                         .alias("best_custkey"),
                        "n_customers"))
    q["agg_argmax"] = agg_argmax

    def agg_cube(spark, sf):
        # full CUBE lattice with grouping_id disambiguation; labels
        # coalesced so subtotal rows stay NULL-free for the comparator
        li = _read(spark, sf, "lineitem")
        return (li.cube("l_returnflag", "l_linestatus")
                .agg(F.count(F.lit(1)).alias("n"),
                     F.grouping_id("l_returnflag", "l_linestatus")
                      .cast("int").alias("gid"))
                .select(F.coalesce("l_returnflag", F.lit("ALL"))
                         .alias("rf"),
                        F.coalesce("l_linestatus", F.lit("ALL"))
                         .alias("ls"),
                        "n", "gid"))
    q["agg_cube"] = agg_cube

    # -- approximate-quantile audit: percentile_approx vs the exact
    # p50, checked against the exact [p25, p75] band. Same pattern as
    # agg_hll_audit: the sketch VALUE is engine-specific, the
    # in-band boolean is portable. All fracs dyadic (1/4, 1/2, 3/4)
    # over quantized BIGINT, so the exact edges are engine-identical
    # and p50*2 / p25*4 surface as exact longs.
    def agg_quantile_audit(spark, sf):
        ev = _read(spark, sf, "events").where(F.col("value").isNotNull())
        ev = ev.withColumn("vq", F.floor(F.col("value") * 1e6).cast("long"))
        g = ev.groupBy("event_type").agg(
            F.count(F.lit(1)).alias("n"),
            (F.percentile(F.col("vq"), 0.5) * 2).cast("long").alias("p50_x2"),
            F.percentile(F.col("vq"), 0.25).alias("_p25"),
            F.percentile(F.col("vq"), 0.75).alias("_p75"),
            F.percentile_approx("vq", 0.5, 10000).alias("_approx"))
        ok = (F.col("_approx").cast("double").between(
            F.col("_p25"), F.col("_p75"))).cast("int")
        return g.select("event_type", "n", "p50_x2",
                        ok.alias("approx_in_band"))
    q["agg_quantile_audit"] = agg_quantile_audit

    # -- salted two-phase aggregation (operators/skew.py): the manual
    # skew-split for aggregations (AQE only splits JOIN partitions).
    # Oracle is the PLAIN group-by — the contract row proves the
    # salted plan is result-identical, partitioning-independent.
    def agg_salted_rollup(spark, sf):
        ev = _read(spark, sf, "events").withColumn(
            "vq", F.floor(F.col("value") * 1e6).cast("long"))
        return salted_agg(
            ev, ["event_type"],
            {"n": (F.count(F.lit(1)), "sum"),
             "sum_vq": (F.sum(F.coalesce(F.col("vq"), F.lit(0))), "sum"),
             "max_vq": (F.max("vq"), "max")},
            salt_from="user_id", salt_buckets=16)
    q["agg_salted_rollup"] = agg_salted_rollup

    # -- HLL sketch audit: approx_count_distinct vs the exact count,
    # asserted within its 2%-rsd configuration (x5 slack). The sketch
    # VALUE is engine-specific, so the contract pins the exact count
    # plus the portable boolean — the pattern for auditing any
    # approximate operator against its error budget.
    def agg_hll_audit(spark, sf):
        ev = _read(spark, sf, "events")
        g = ev.groupBy("event_type").agg(
            F.count_distinct(F.col("user_id")).alias("n_exact"),
            F.approx_count_distinct("user_id", 0.02).alias("_hll"))
        ok = (F.abs(F.col("_hll") - F.col("n_exact")) * 100
              <= F.col("n_exact") * 10).cast("int")
        return g.select("event_type", F.col("n_exact").cast("long")
                        .alias("n_exact"), ok.alias("hll_ok"))
    q["agg_hll_audit"] = agg_hll_audit

    # -- count-min sketch audit (operators/sketch.py): the frequency
    # sketch as a d x w relational table (md5-bucket groupBy), probed
    # for every distinct key and audited against exact counts — the
    # one-sided guarantee (n_underestimates = 0) plus quantified
    # collision overcounts. Fully oracle-checked because the sketch
    # state itself is engine-portable.
    def agg_countmin_audit(spark, sf):
        from logging_spark.operators.sketch import countmin_audit
        return countmin_audit(_read(spark, sf, "events"), "user_id",
                              depth=4, width=1024)
    q["agg_countmin_audit"] = agg_countmin_audit

    # -- distributed weighted median (operators/weighted.py): lower
    # weighted median of line price cents weighted by quantity —
    # two-phase prefix sum, no single-partition window; the oracle
    # runs the naive global-window plan and must agree exactly.
    def agg_weighted_median(spark, sf):
        from logging_spark.operators.weighted import weighted_median
        li = _read(spark, sf, "lineitem").select(
            F.floor(F.col("l_extendedprice") * 100).cast("long")
            .alias("cents"),
            F.floor("l_quantity").cast("long").alias("qty"))
        return weighted_median(li, "cents", "qty")
    q["agg_weighted_median"] = agg_weighted_median

    # -- theta-sketch intersection (operators/kmv.py): distinct-user
    # overlap between clickers and high-value purchasers (user_id %
    # 3 == 0 restriction keeps the overlap a strict subset on this
    # dense data), estimated from two 64-row sketches that never see
    # the raw id sets — audited against the exact distinct join.
    def agg_kmv_intersection(spark, sf):
        from logging_spark.operators.kmv import kmv_intersect_estimate
        ev = _read(spark, sf, "events")
        a = kmv_sketch(ev.where("event_type = 'click'"),
                       "user_id", k=64)
        b = kmv_sketch(ev.where("event_type = 'purchase' "
                                "AND user_id % 3 = 0"),
                       "user_id", k=64)
        est = kmv_intersect_estimate(a, b)
        ua = (ev.where("event_type = 'click'")
              .select("user_id").distinct())
        ub = (ev.where("event_type = 'purchase' AND user_id % 3 = 0")
              .select("user_id").distinct())
        exact = ua.join(ub, "user_id").agg(
            F.count(F.lit(1)).alias("exact_intersection"))
        return (est.crossJoin(exact)
                .select("n_common", "est_intersection",
                        "exact_intersection",
                        F.expr("abs(est_intersection - "
                               "exact_intersection) * 1000 DIV "
                               "exact_intersection")
                        .alias("err_permille"))
                .withColumn("within_budget",
                            (F.col("err_permille") <= 600).cast("int")))
    q["agg_kmv_intersection"] = agg_kmv_intersection

    # -- per-key skew report: the shuffle-planning census (is this
    # groupBy key safe, or does it need salting?). Exact dyadic
    # percentiles over BIGINT counts + top-1 share in permille.
    def agg_skew_report(spark, sf):
        per = (_read(spark, sf, "events")
               .groupBy("user_id").agg(F.count(F.lit(1)).alias("n")))
        return (per.agg(F.count(F.lit(1)).alias("n_keys"),
                        F.sum("n").cast("long").alias("total"),
                        F.max("n").alias("max_n"),
                        F.expr("percentile(n, 0.5D)").alias("p50_n"),
                        F.expr("percentile(n, 0.75D)").alias("p75_n"))
                .withColumn("top1_permille",
                            F.expr("max_n * 1000 DIV total")))
    q["agg_skew_report"] = agg_skew_report

    # -- KMV distinct sketch (operators/kmv.py): the mergeable
    # approximate-distinct primitive (theta-sketch family), audited
    # against the exact count — the repo's standard approximate-op
    # audit shape. 56-bit md5 hashes + integer estimate, so the
    # whole audit is engine-identical.
    def agg_kmv_audit(spark, sf):
        return kmv_audit(_read(spark, sf, "events"), "user_id", k=64)
    q["agg_kmv_audit"] = agg_kmv_audit

    # -- KMV mergeability proof: estimate from MERGED per-day sketches
    # equals the direct global sketch's estimate EXACTLY (min-k of
    # unioned per-day min-ks IS the global min-k — every global
    # survivor has at most k-1 smaller hashes in its own day). The
    # sketch twin of the daily-FROM-hourly aggregate-merge proof:
    # raw values never leave their shard, only k hashes do.
    def agg_kmv_merge_proof(spark, sf):
        ev = _read(spark, sf, "events").withColumn(
            "day", F.to_date("ts"))
        daily = grouped_sketch(ev, "user_id", ["day"], k=64)
        merged = kmv_estimate(merge_sketches(daily, k=64))
        direct = kmv_estimate(kmv_sketch(ev, "user_id", k=64))
        return (merged.select(F.col("est_distinct").alias("est_merged"))
                .crossJoin(direct.select(
                    F.col("est_distinct").alias("est_direct")))
                .withColumn("merged_equals_direct",
                            (F.col("est_merged") == F.col("est_direct"))
                            .cast("int")))
    q["agg_kmv_merge_proof"] = agg_kmv_merge_proof

    # -- mergeable quantile sketch (operators/sketch.py histogram_*):
    # completes the sketch taxonomy (KMV distinct / CMS frequency /
    # theta set-ops / THIS quantiles). Per-day sketches merge by
    # union+re-sum EXACTLY (proven in-row vs the direct sketch);
    # the recovered median edge is within one bucket width of the
    # true median by construction — the audit row carries the bound.
    def agg_quantile_sketch(spark, sf):
        from logging_spark.operators.sketch import (
            histogram_sketch, merge_histogram_sketches,
            sketch_quantile_edge)
        ev = (_read(spark, sf, "events")
              .withColumn("day", F.to_date("ts"))
              .withColumn("cents",
                          F.expr("CAST(floor(value * 100.0) AS BIGINT)")))
        daily = histogram_sketch(ev, "cents", 7, group_by=["day"])
        merged = merge_histogram_sketches(daily.select("bucket", "cnt"))
        direct = histogram_sketch(ev, "cents", 7).localCheckpoint()
        mism = (merged.withColumnRenamed("cnt", "cm")
                .join(direct.withColumnRenamed("cnt", "cd"),
                      "bucket", "full_outer")
                .agg(F.coalesce(
                    F.sum((F.coalesce("cm", F.lit(-1)) !=
                           F.coalesce("cd", F.lit(-2))).cast("long")),
                    F.lit(0)).cast("long").alias("n_mismatch")))
        est = sketch_quantile_edge(direct, 1, 2, width_pow2=7)
        # exact median: smallest cents value whose cumulative count
        # reaches rank — the cumulative window runs over DISTINCT
        # cents values (bounded by the value domain, not row count)
        vals = (ev.groupBy("cents").agg(F.count(F.lit(1)).alias("c")))
        wv = (Window.orderBy("cents")
              .rowsBetween(Window.unboundedPreceding, Window.currentRow))
        exact = (vals.withColumn("cum", F.sum("c").over(wv))
                 .crossJoin(F.broadcast(
                     est.select(F.col("target_rank").alias("r"))))
                 .where(F.col("cum") >= F.col("r"))
                 .agg(F.min("cents").cast("long").alias("exact_median")))
        return (est.crossJoin(mism).crossJoin(exact)
                .select("n", "target_rank", "edge", "exact_median",
                        F.lit(128).cast("long").alias("bucket_width"),
                        (F.col("n_mismatch") == 0).cast("int")
                        .alias("merged_equals_direct"),
                        ((F.col("edge") <= F.col("exact_median")) &
                         (F.col("exact_median") < F.col("edge") + 128))
                        .cast("int").alias("within_bound")))
    q["agg_quantile_sketch"] = agg_quantile_sketch

    # -- block-packed bitmap membership index (operators/bitmap.py):
    # EXACT audience overlap across every event-type pair — members
    # collapse to n/62 (set, block, bits) rows, intersections are
    # block-aligned popcounts, and the in-query audit recomputes the
    # same intersections member-at-a-time (a different plan) and
    # asserts bit-for-bit equality. The exact complement to the
    # approximate KMV/theta set sketches.
    def agg_bitmap_overlap(spark, sf):
        from logging_spark.operators.bitmap import bitmap_pair_audit
        return bitmap_pair_audit(_read(spark, sf, "events"),
                                 "event_type", "user_id")
    q["agg_bitmap_overlap"] = agg_bitmap_overlap

    # -- exact join-size prediction from per-key counts only
    # (operators/planning.py): the number you check BEFORE launching
    # a 100-TB join — predicted rows + hottest-key share.
    def agg_join_cardinality(spark, sf):
        from logging_spark.operators.planning import join_cardinality
        li = _read(spark, sf, "lineitem").select(
            F.col("l_orderkey").alias("k"))
        od = _read(spark, sf, "orders").select(
            F.col("o_orderkey").alias("k"))
        return join_cardinality(li, od, "k")
    q["agg_join_cardinality"] = agg_join_cardinality

    # -- reshard-churn audit: rendezvous (HRW) vs mod-hash moved-key
    # fractions when growing 8 -> 9 shards, exact over the real key
    # population. HRW's minimal-movement guarantee (~1/9 moved vs
    # ~8/9 for mod) is the measured output, not an assumption.
    def agg_rendezvous_stability(spark, sf):
        from logging_spark.operators.planning import rendezvous_stability
        return rendezvous_stability(
            _read(spark, sf, "events"), "user_id", 8, 9)
    q["agg_rendezvous_stability"] = agg_rendezvous_stability


def register_oracles(o):

    o["agg_exact_quantiles"] = """
SELECT event_type, quantile_cont(value, 0.5) AS p50,
       quantile_cont(value, 0.95) AS p95, count(*) AS n
FROM events GROUP BY event_type"""

    o["agg_grouping_sets"] = """
SELECT l_returnflag, l_linestatus, count(*) AS n,
       CAST(grouping(l_returnflag, l_linestatus) AS INT) AS gid
FROM lineitem
GROUP BY GROUPING SETS ((l_returnflag), (l_returnflag, l_linestatus))"""

    o["agg_argmax"] = """
WITH c AS (SELECT c_mktsegment, c_custkey,
                  CAST(round(c_acctbal * 100) AS BIGINT) AS cents
           FROM customer),
r AS (SELECT c_mktsegment, c_custkey, cents,
             row_number() OVER (PARTITION BY c_mktsegment
                                ORDER BY cents DESC, c_custkey) AS rn,
             count(*) OVER (PARTITION BY c_mktsegment) AS n_customers
      FROM c)
SELECT c_mktsegment, cents AS best_bal_cents,
       CAST(c_custkey AS BIGINT) AS best_custkey,
       CAST(n_customers AS BIGINT) AS n_customers
FROM r WHERE rn = 1"""

    o["agg_cube"] = """
SELECT coalesce(l_returnflag, 'ALL') AS rf,
       coalesce(l_linestatus, 'ALL') AS ls,
       count(*) AS n,
       CAST(GROUPING(l_returnflag, l_linestatus) AS INT) AS gid
FROM lineitem
GROUP BY CUBE (l_returnflag, l_linestatus)"""

    o["agg_quantile_audit"] = """
WITH q AS (
  SELECT event_type, CAST(floor(value * 1e6) AS BIGINT) AS vq
  FROM events WHERE value IS NOT NULL)
SELECT event_type, count(*) AS n,
       CAST(quantile_cont(vq, 0.5) * 2 AS BIGINT) AS p50_x2,
       CAST(1 AS INT) AS approx_in_band
FROM q GROUP BY 1"""

    o["agg_salted_rollup"] = """
SELECT event_type, count(*) AS n,
       CAST(sum(coalesce(CAST(floor(value * 1e6) AS BIGINT), 0))
            AS BIGINT) AS sum_vq,
       max(CAST(floor(value * 1e6) AS BIGINT)) AS max_vq
FROM events GROUP BY 1"""

    # the HLL VALUE is engine-specific; the contract pins the exact
    # distinct count and the portable within-error-budget boolean
    o["agg_hll_audit"] = """
SELECT event_type,
       CAST(count(DISTINCT user_id) AS BIGINT) AS n_exact,
       CAST(1 AS INT) AS hll_ok
FROM events GROUP BY 1"""

    # count-min mirror: same md5 bucket hashes, same d x w sketch
    _cm_h = [hash60_sql("user_id", f"cm{r}") for r in range(4)]
    _cm_sketch = " UNION ALL ".join(
        f"SELECT {r} AS r, ({h}) % 1024 AS bucket FROM events"
        for r, h in enumerate(_cm_h))
    _cm_probe = " UNION ALL ".join(
        f"SELECT user_id, n_exact, {r} AS r, ({h}) % 1024 AS bucket FROM ex"
        for r, h in enumerate(_cm_h))
    o["agg_countmin_audit"] = f"""
WITH ex AS (SELECT user_id, count(*) AS n_exact FROM events GROUP BY 1),
sk AS (SELECT r, bucket, count(*) AS c FROM ({_cm_sketch}) GROUP BY 1, 2),
pr AS ({_cm_probe}),
est AS (SELECT user_id, n_exact, min(c) AS est
        FROM pr JOIN sk USING (r, bucket) GROUP BY 1, 2)
SELECT count(*) AS n_keys,
       CAST(sum(CASE WHEN est < n_exact THEN 1 ELSE 0 END) AS BIGINT)
         AS n_underestimates,
       CAST(sum(est - n_exact) AS BIGINT) AS total_overcount,
       CAST(max(est - n_exact) AS BIGINT) AS max_overcount
FROM est"""

    o["agg_skew_report"] = """
WITH per AS (SELECT user_id, count(*) AS n FROM events GROUP BY 1)
SELECT count(*) AS n_keys, CAST(sum(n) AS BIGINT) AS total,
       max(n) AS max_n,
       quantile_cont(n, 0.5) AS p50_n,
       quantile_cont(n, 0.75) AS p75_n,
       (max(n) * 1000) // CAST(sum(n) AS BIGINT) AS top1_permille
FROM per"""

    o["agg_weighted_median"] = """
WITH per AS (SELECT CAST(floor(l_extendedprice * 100) AS BIGINT) AS v,
                    CAST(sum(CAST(floor(l_quantity) AS BIGINT))
                         AS BIGINT) AS w
             FROM lineitem GROUP BY 1),
c AS (SELECT v, sum(w) OVER (ORDER BY v) AS cum FROM per),
t AS (SELECT CAST(sum(w) AS BIGINT) AS W FROM per)
SELECT W AS total_weight,
       (SELECT min(v) FROM c, t WHERE 2 * cum >= W) AS median
FROM t"""

    _kmv_u = hash56_sql("user_id", "kmv")
    o["agg_kmv_intersection"] = f"""
WITH ha AS (SELECT DISTINCT {_kmv_u} AS hv FROM events
            WHERE event_type = 'click'),
hb AS (SELECT DISTINCT {_kmv_u} AS hv FROM events
       WHERE event_type = 'purchase' AND user_id % 3 = 0),
ska AS (SELECT hv FROM ha ORDER BY hv LIMIT 64),
skb AS (SELECT hv FROM hb ORDER BY hv LIMIT 64),
th AS (SELECT least((SELECT max(hv) FROM ska),
                    (SELECT max(hv) FROM skb)) AS theta),
cm AS (SELECT count(*) AS n_common
       FROM ska JOIN skb USING (hv), th WHERE hv < theta),
est AS (SELECT n_common,
               (n_common * {KMV_SPACE}) // theta AS est_intersection
        FROM cm, th),
ex AS (SELECT count(*) AS exact_intersection FROM
         (SELECT DISTINCT user_id FROM events
          WHERE event_type = 'click') a
       JOIN (SELECT DISTINCT user_id FROM events
             WHERE event_type = 'purchase' AND user_id % 3 = 0) b
       USING (user_id)),
j AS (SELECT n_common, est_intersection, exact_intersection,
             (abs(est_intersection - exact_intersection) * 1000)
               // exact_intersection AS err_permille
      FROM est, ex)
SELECT n_common, est_intersection, exact_intersection, err_permille,
       CAST(CASE WHEN err_permille <= 600 THEN 1 ELSE 0 END AS INT)
         AS within_budget
FROM j"""

    # KMV mirrors: same 56-bit md5 hashes, same integer estimate.
    _kmv_h = hash56_sql("user_id", "kmv")
    o["agg_kmv_audit"] = f"""
WITH h AS (SELECT DISTINCT {_kmv_h} AS hv FROM events),
sk AS (SELECT hv FROM h ORDER BY hv LIMIT 64),
est0 AS (SELECT count(*) AS k_used, max(hv) AS kth FROM sk),
est AS (SELECT k_used, ((k_used - 1) * {KMV_SPACE}) // kth
                         AS est_distinct
        FROM est0),
ex AS (SELECT count(DISTINCT user_id) AS exact_distinct FROM events),
j AS (SELECT k_used, est_distinct, exact_distinct,
             (abs(est_distinct - exact_distinct) * 1000)
               // exact_distinct AS err_permille
      FROM est, ex)
SELECT k_used, est_distinct, exact_distinct, err_permille,
       CAST(CASE WHEN err_permille <= 375 THEN 1 ELSE 0 END AS INT)
         AS within_budget
FROM j"""

    o["agg_kmv_merge_proof"] = f"""
WITH h AS (SELECT DISTINCT CAST(ts AS DATE) AS day, {_kmv_h} AS hv
           FROM events),
daily AS (SELECT day, hv FROM h
          QUALIFY row_number() OVER (PARTITION BY day ORDER BY hv)
                    <= 64),
msk AS (SELECT DISTINCT hv FROM daily ORDER BY hv LIMIT 64),
dsk AS (SELECT DISTINCT hv FROM h ORDER BY hv LIMIT 64),
m AS (SELECT ((count(*) - 1) * {KMV_SPACE}) // max(hv) AS est_merged
      FROM msk),
d AS (SELECT ((count(*) - 1) * {KMV_SPACE}) // max(hv) AS est_direct
      FROM dsk)
SELECT est_merged, est_direct,
       CAST(CASE WHEN est_merged = est_direct THEN 1 ELSE 0 END AS INT)
         AS merged_equals_direct
FROM m, d"""

    o["agg_quantile_sketch"] = """
WITH ev AS (SELECT CAST(floor(value * 100.0) AS BIGINT) AS cents,
                   CAST(ts AS DATE) AS day FROM events),
daily AS (SELECT day, cents // 128 AS bucket,
                 CAST(count(*) AS BIGINT) AS cnt
          FROM ev GROUP BY 1, 2),
merged AS (SELECT bucket, CAST(sum(cnt) AS BIGINT) AS cm
           FROM daily GROUP BY 1),
direct AS MATERIALIZED (SELECT cents // 128 AS bucket,
                               CAST(count(*) AS BIGINT) AS cd
                        FROM ev GROUP BY 1),
mism AS (SELECT CAST(coalesce(sum(CASE WHEN coalesce(cm, -1)
                   != coalesce(cd, -2) THEN 1 ELSE 0 END), 0)
                 AS BIGINT) AS n_mismatch
         FROM merged FULL OUTER JOIN direct USING (bucket)),
rk AS (SELECT CAST(count(*) AS BIGINT) AS n,
              CAST((CAST(count(*) AS BIGINT) + 1) // 2 AS BIGINT)
                AS target_rank
       FROM ev),
cum AS (SELECT bucket,
               sum(cd) OVER (ORDER BY bucket ROWS UNBOUNDED PRECEDING)
                 AS cum
        FROM direct),
est AS (SELECT rk.n, rk.target_rank,
               CAST(min(bucket) * 128 AS BIGINT) AS edge
        FROM cum, rk WHERE cum.cum >= rk.target_rank GROUP BY 1, 2),
vcum AS (SELECT cents,
                sum(c) OVER (ORDER BY cents ROWS UNBOUNDED PRECEDING)
                  AS cum
         FROM (SELECT cents, count(*) AS c FROM ev GROUP BY 1)),
ex AS (SELECT CAST(min(cents) AS BIGINT) AS exact_median
       FROM vcum, rk WHERE vcum.cum >= rk.target_rank)
SELECT est.n, est.target_rank, est.edge, ex.exact_median,
       CAST(128 AS BIGINT) AS bucket_width,
       CAST(CASE WHEN mism.n_mismatch = 0 THEN 1 ELSE 0 END AS INT)
         AS merged_equals_direct,
       CAST(CASE WHEN est.edge <= ex.exact_median
                  AND ex.exact_median < est.edge + 128
            THEN 1 ELSE 0 END AS INT) AS within_bound
FROM est, ex, mism"""

    # bitmap mirror: same 62-bit blocks, same popcount algebra; the
    # exact twin is the distinct member self-join. idx feeds two
    # scans + a self-join -> MATERIALIZED (the CTE-inlining trap).
    o["agg_bitmap_overlap"] = """
WITH idx AS MATERIALIZED (
  SELECT event_type AS set_id,
         CAST(user_id AS BIGINT) // 62 AS block,
         bit_or(CAST(1 AS BIGINT) << CAST(user_id % 62 AS INT)) AS bits
  FROM events GROUP BY 1, 2),
card AS MATERIALIZED (
  SELECT set_id, CAST(sum(bit_count(bits)) AS BIGINT) AS n
  FROM idx GROUP BY 1),
inter AS (
  SELECT a.set_id AS set_a, b.set_id AS set_b,
         CAST(sum(bit_count(a.bits & b.bits)) AS BIGINT) AS n_inter
  FROM idx a JOIN idx b USING (block)
  WHERE a.set_id < b.set_id GROUP BY 1, 2),
m AS MATERIALIZED (
  SELECT DISTINCT event_type AS set_id, CAST(user_id AS BIGINT) AS mm
  FROM events),
ex AS (
  SELECT x.set_id AS set_a, y.set_id AS set_b,
         CAST(count(*) AS BIGINT) AS n_inter_exact
  FROM m x JOIN m y USING (mm)
  WHERE x.set_id < y.set_id GROUP BY 1, 2)
SELECT set_a, set_b, ca.n AS n_a, cb.n AS n_b, n_inter,
       CAST(ca.n + cb.n - n_inter AS BIGINT) AS n_union,
       (n_inter * 1000000) // (ca.n + cb.n - n_inter) AS jaccard_ppm,
       COALESCE(n_inter_exact, 0) AS n_inter_exact,
       CAST(n_inter = COALESCE(n_inter_exact, 0) AS INT) AS exact_match
FROM inter
JOIN card ca ON ca.set_id = set_a
JOIN card cb ON cb.set_id = set_b
LEFT JOIN ex USING (set_a, set_b)"""

    o["agg_join_cardinality"] = """
WITH lc AS (SELECT l_orderkey AS k, CAST(count(*) AS BIGINT) AS cl
            FROM lineitem GROUP BY 1),
rc AS (SELECT o_orderkey AS k, CAST(count(*) AS BIGINT) AS cr
       FROM orders GROUP BY 1),
pk AS (SELECT lc.k, cl * cr AS rows_k FROM lc JOIN rc USING (k))
SELECT CAST(count(*) AS BIGINT) AS n_keys_joined,
       CAST(sum(rows_k) AS BIGINT) AS predicted_rows,
       CAST(max(rows_k) AS BIGINT) AS max_key_rows,
       (CAST(max(rows_k) AS BIGINT) * 1000000)
         // CAST(sum(rows_k) AS BIGINT) AS max_key_share_ppm
FROM pk"""

    # rendezvous vs mod-hash churn: identical md5/60-bit weights;
    # HRW argmax via a (weight DESC, shard DESC) window to mirror
    # Spark's max(struct(w, s)).
    o["agg_rendezvous_stability"] = """
WITH keys AS MATERIALIZED (SELECT DISTINCT user_id AS k FROM events),
asg AS MATERIALIZED (
  SELECT k, n_shards, s,
         row_number() OVER (
           PARTITION BY k, n_shards
           ORDER BY CAST('0x' || substr(md5(CAST(k AS VARCHAR) || ':'
                     || CAST(s AS VARCHAR)), 1, 15) AS BIGINT) DESC,
                    s DESC) AS rn
  FROM keys
  CROSS JOIN (SELECT 8 AS n_shards UNION ALL SELECT 9)
  CROSS JOIN (SELECT unnest(range(9)) AS s)
  WHERE s < n_shards),
hrw AS (
  SELECT a8.k,
         CAST(a8.s != a9.s AS BIGINT) AS mv
  FROM (SELECT k, s FROM asg WHERE n_shards = 8 AND rn = 1) a8
  JOIN (SELECT k, s FROM asg WHERE n_shards = 9 AND rn = 1) a9
    USING (k)),
modmv AS (
  SELECT CAST(
    CAST('0x' || substr(md5(CAST(k AS VARCHAR)), 1, 15) AS BIGINT) % 8
    != CAST('0x' || substr(md5(CAST(k AS VARCHAR)), 1, 15) AS BIGINT)
       % 9 AS BIGINT) AS mv
  FROM keys)
SELECT (SELECT CAST(count(*) AS BIGINT) FROM keys) AS n_keys,
       (SELECT CAST(sum(mv) AS BIGINT) FROM hrw) AS moved_hrw,
       (SELECT CAST(sum(mv) AS BIGINT) FROM modmv) AS moved_mod,
       ((SELECT CAST(sum(mv) AS BIGINT) FROM hrw) * 1000000)
         // (SELECT CAST(count(*) AS BIGINT) FROM keys)
         AS moved_hrw_ppm,
       ((SELECT CAST(sum(mv) AS BIGINT) FROM modmv) * 1000000)
         // (SELECT CAST(count(*) AS BIGINT) FROM keys)
         AS moved_mod_ppm"""
