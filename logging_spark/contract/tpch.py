"""tpch family: contract queries (+ oracles) — split mechanically from the original single contract module; statement order preserved."""

from __future__ import annotations

from logging_spark.contract._fixtures import F, Window, _read


def register(q):

    # -- relational: TPC-H-ish ---------------------------------------------
    def tpch_q1_pricing(spark, sf):
        li = _read(spark, sf, "lineitem")
        dec = lambda c: F.col(c).cast("decimal(18,2)")  # noqa: E731
        one = F.lit(1).cast("decimal(18,2)")
        return (
            li.where(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp_ntz"))
            .groupBy("l_returnflag", "l_linestatus")
            .agg(
                F.sum(dec("l_quantity")).cast("double").alias("sum_qty"),
                F.sum(dec("l_extendedprice")).cast("double").alias("sum_base_price"),
                F.sum(dec("l_extendedprice") * (one - dec("l_discount")))
                 .cast("double").alias("sum_disc_price"),
                F.count(F.lit(1)).alias("count_order"),
            )
        )
    q["tpch_q1_pricing"] = tpch_q1_pricing

    def tpch_q5_local_supplier_volume(spark, sf):
        # TPC-H Q5 shape: 6-table star+snowflake join — Catalyst gets
        # the dims broadcast and the join order; we only declare it.
        # Decimal money math, double only at the very end (oracle rule)
        dec = lambda c: F.col(c).cast("decimal(18,2)")  # noqa: E731
        one = F.lit(1).cast("decimal(18,2)")
        cu = _read(spark, sf, "customer")
        o = _read(spark, sf, "orders").where(
            (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp_ntz"))
            & (F.col("o_orderdate") < F.lit("1997-01-01 00:00:00").cast("timestamp_ntz")))
        li = _read(spark, sf, "lineitem")
        su = _read(spark, sf, "supplier")
        na = _read(spark, sf, "nation")
        re = _read(spark, sf, "region").where(F.col("r_name") == "ASIA")
        j = (cu.join(o, cu["c_custkey"] == o["o_custkey"])
             .join(li, li["l_orderkey"] == o["o_orderkey"])
             .join(su, (li["l_suppkey"] == su["s_suppkey"])
                   & (cu["c_nationkey"] == su["s_nationkey"]))
             .join(na, su["s_nationkey"] == na["n_nationkey"])
             .join(re, na["n_regionkey"] == re["r_regionkey"]))
        return (j.groupBy("n_name")
                .agg(F.sum(dec("l_extendedprice") * (one - dec("l_discount")))
                      .cast("double").alias("revenue")))
    q["tpch_q5_local_supplier_volume"] = tpch_q5_local_supplier_volume

    def tpch_q18_large_orders(spark, sf):
        # TPC-H Q18 shape: HAVING-filtered aggregate feeding a
        # semi-join back onto the fact — the "large customers" audit.
        # Quantities are integral; the sum stays decimal-exact and
        # surfaces as a long (x100) to dodge double-hash drift.
        li = _read(spark, sf, "lineitem")
        big = (li.groupBy("l_orderkey")
               .agg(F.sum(F.col("l_quantity").cast("decimal(18,2)")).alias("_q"))
               .where(F.col("_q") > 300))
        o = _read(spark, sf, "orders")
        cu = _read(spark, sf, "customer")
        j = (big.join(o, big["l_orderkey"] == o["o_orderkey"])
             .join(cu, o["o_custkey"] == cu["c_custkey"]))
        return j.select(
            "c_name", "c_custkey", "o_orderkey",
            F.unix_timestamp(F.col("o_orderdate").cast("timestamp"))
             .alias("o_orderdate_s"),
            (F.col("_q") * 100).cast("long").alias("qty_x100"))
    q["tpch_q18_large_orders"] = tpch_q18_large_orders

    # TPC-H Q4 shape (EXISTS -> left-semi join): orders placed in 1997
    # having at least one returned lineitem shipped in 1997, counted
    # per priority. The semi join never duplicates orders no matter
    # how many lineitems match.
    def tpch_q4_priority_semijoin(spark, sf):
        ts = lambda s: F.lit(s).cast("timestamp_ntz")  # noqa: E731
        o = _read(spark, sf, "orders").where(
            (F.col("o_orderdate") >= ts("1997-01-01 00:00:00"))
            & (F.col("o_orderdate") < ts("1998-01-01 00:00:00")))
        li = _read(spark, sf, "lineitem").where(
            (F.col("l_returnflag") == "R")
            & (F.col("l_shipdate") >= ts("1997-01-01 00:00:00"))
            & (F.col("l_shipdate") < ts("1998-01-01 00:00:00")))
        return (o.join(li, o["o_orderkey"] == li["l_orderkey"],
                       "left_semi")
                .groupBy("o_orderpriority")
                .agg(F.count(F.lit(1)).alias("n_orders")))
    q["tpch_q4_priority_semijoin"] = tpch_q4_priority_semijoin

    # TPC-H Q13 shape (left outer join + two-level aggregate): how many
    # customers placed exactly k orders since 2001? The LEFT join keeps
    # zero-order customers, count(o_orderkey) counts only matches.
    def tpch_q13_order_distribution(spark, sf):
        cu = _read(spark, sf, "customer")
        o = _read(spark, sf, "orders").where(
            F.col("o_orderdate")
            >= F.lit("2001-01-01 00:00:00").cast("timestamp_ntz"))
        per_cust = (cu.join(o, cu["c_custkey"] == o["o_custkey"], "left")
                    .groupBy("c_custkey")
                    .agg(F.count("o_orderkey").alias("c_count")))
        return (per_cust.groupBy("c_count")
                .agg(F.count(F.lit(1)).alias("custdist")))
    q["tpch_q13_order_distribution"] = tpch_q13_order_distribution

    # TPC-H Q16 flavor (NOT EXISTS -> left-anti join): parts with no
    # sale since 2001, rolled up per brand. The anti side is itself a
    # join (lineitem⨝orders date-restricted) — Catalyst prunes it to
    # the two key columns before the anti join.
    def tpch_parts_unsold_2001(spark, sf):
        pa = _read(spark, sf, "part")
        o = _read(spark, sf, "orders").where(
            F.col("o_orderdate")
            >= F.lit("2001-01-01 00:00:00").cast("timestamp_ntz"))
        li = _read(spark, sf, "lineitem")
        sold = li.join(o, li["l_orderkey"] == o["o_orderkey"]) \
                 .select("l_partkey")
        return (pa.join(sold, pa["p_partkey"] == sold["l_partkey"],
                        "left_anti")
                .groupBy("p_brand")
                .agg(F.count(F.lit(1)).alias("n_parts"),
                     F.min(F.round(F.col("p_retailprice") * 100)
                           .cast("long")).alias("min_price_cents"),
                     F.max(F.round(F.col("p_retailprice") * 100)
                           .cast("long")).alias("max_price_cents")))
    q["tpch_parts_unsold_2001"] = tpch_parts_unsold_2001

    # TPC-H Q19 shape (OR-of-ANDs across both join sides): disjunctive
    # brand/size/quantity predicates that can't be pushed below the
    # join as a whole — the plan keeps the part-side IN-list pushable
    # while the mixed terms evaluate post-join.
    def tpch_q19_or_predicates(spark, sf):
        dec = lambda c: F.col(c).cast("decimal(18,2)")  # noqa: E731
        one = F.lit(1).cast("decimal(18,2)")
        li = _read(spark, sf, "lineitem")
        pa = _read(spark, sf, "part")
        j = li.join(F.broadcast(pa), li["l_partkey"] == pa["p_partkey"])
        cond = (
            ((F.col("p_brand") == "Brand#12")
             & F.col("p_size").between(1, 15)
             & F.col("l_quantity").between(1, 11))
            | ((F.col("p_brand") == "Brand#23")
               & F.col("p_size").between(1, 25)
               & F.col("l_quantity").between(10, 20))
            | ((F.col("p_brand") == "Brand#34")
               & F.col("p_size").between(1, 35)
               & F.col("l_quantity").between(20, 30)))
        return (j.where(cond)
                .agg(F.sum(dec("l_extendedprice") * (one - dec("l_discount")))
                      .cast("double").alias("revenue"),
                     F.count(F.lit(1)).alias("n_items")))
    q["tpch_q19_or_predicates"] = tpch_q19_or_predicates

    # TPC-H Q22 shape (scalar subquery + anti join): customers richer
    # than the positive-balance average with no order since 2001. The
    # threshold is integer-exact (cents, decimal division, floor) so
    # the filter can't flip on engine float rounding; the single-row
    # average broadcasts as a cross join.
    def tpch_q22_dormant_customers(spark, sf):
        cu = _read(spark, sf, "customer").withColumn(
            "_cents", F.round(F.col("c_acctbal") * 100).cast("long"))
        thr = (cu.where(F.col("_cents") > 0)
               .agg(F.floor(F.sum(F.col("_cents").cast("decimal(38,6)"))
                            / F.count(F.lit(1)))
                    .cast("long").alias("_thr")))
        o = _read(spark, sf, "orders").where(
            F.col("o_orderdate")
            >= F.lit("2001-01-01 00:00:00").cast("timestamp_ntz"))
        dormant = (cu.crossJoin(F.broadcast(thr))
                   .where(F.col("_cents") > F.col("_thr"))
                   .join(o, cu["c_custkey"] == o["o_custkey"],
                         "left_anti"))
        return (dormant.groupBy("c_mktsegment")
                .agg(F.count(F.lit(1)).alias("n_custs"),
                     F.sum("_cents").alias("sum_cents")))
    q["tpch_q22_dormant_customers"] = tpch_q22_dormant_customers

    def tpch_q3_top_revenue(spark, sf):
        cu = _read(spark, sf, "customer").where(F.col("c_mktsegment") == "BUILDING")
        o = _read(spark, sf, "orders")
        li = _read(spark, sf, "lineitem")
        dec = lambda c: F.col(c).cast("decimal(18,2)")  # noqa: E731
        one = F.lit(1).cast("decimal(18,2)")
        joined = (li.join(o, li.l_orderkey == o.o_orderkey)
                  .join(F.broadcast(cu), o.o_custkey == cu.c_custkey))
        rev = (joined.groupBy("o_orderkey")
               .agg(F.sum(dec("l_extendedprice") * (one - dec("l_discount")))
                    .cast("double").alias("revenue"),
                    F.count(F.lit(1)).alias("n_items")))
        return rev.orderBy(F.col("revenue").desc(), "o_orderkey").limit(10)
    q["tpch_q3_top_revenue"] = tpch_q3_top_revenue

    # TPC-H Q7 shape (volume shipping between nation pairs): the fact
    # table reaches TWO copies of the nation dim through different
    # paths (supplier side, customer side). Nation/supplier broadcast;
    # the nation restriction is applied to the integer keys BEFORE the
    # joins so only matching suppliers/customers ever shuffle.
    def tpch_q7_nation_volume(spark, sf):
        dec = lambda c: F.col(c).cast("decimal(18,2)")  # noqa: E731
        one = F.lit(1).cast("decimal(18,2)")
        ts = lambda s: F.lit(s).cast("timestamp_ntz")  # noqa: E731
        li = _read(spark, sf, "lineitem").where(
            (F.col("l_shipdate") >= ts("1999-01-01 00:00:00"))
            & (F.col("l_shipdate") < ts("2001-01-01 00:00:00")))
        su = _read(spark, sf, "supplier").where(
            F.col("s_nationkey").isin(1, 2))
        cu = _read(spark, sf, "customer").where(
            F.col("c_nationkey").isin(3, 4))
        o = _read(spark, sf, "orders")
        n1 = _read(spark, sf, "nation").select(
            F.col("n_nationkey").alias("_snk"),
            F.col("n_name").alias("supp_nation"))
        n2 = _read(spark, sf, "nation").select(
            F.col("n_nationkey").alias("_cnk"),
            F.col("n_name").alias("cust_nation"))
        j = (li.join(F.broadcast(su), li["l_suppkey"] == su["s_suppkey"])
             .join(o, li["l_orderkey"] == o["o_orderkey"])
             .join(cu, o["o_custkey"] == cu["c_custkey"])
             .join(F.broadcast(n1), F.col("s_nationkey") == F.col("_snk"))
             .join(F.broadcast(n2), F.col("c_nationkey") == F.col("_cnk")))
        return (j.groupBy("supp_nation", "cust_nation",
                          F.year("l_shipdate").alias("l_year"))
                .agg(F.sum(dec("l_extendedprice") * (one - dec("l_discount")))
                      .cast("double").alias("revenue"),
                     F.count(F.lit(1)).alias("n_items")))
    q["tpch_q7_nation_volume"] = tpch_q7_nation_volume

    # TPC-H Q10 shape (returned-item revenue ranking): 3-way join,
    # per-customer decimal-exact revenue surfaced as x10000 longs so
    # the ordered top-20 ties deterministically on (revenue, custkey).
    def tpch_q10_returned_revenue(spark, sf):
        dec = lambda c: F.col(c).cast("decimal(18,2)")  # noqa: E731
        one = F.lit(1).cast("decimal(18,2)")
        ts = lambda s: F.lit(s).cast("timestamp_ntz")  # noqa: E731
        li = _read(spark, sf, "lineitem").where(F.col("l_returnflag") == "R")
        o = _read(spark, sf, "orders").where(
            (F.col("o_orderdate") >= ts("1999-01-01 00:00:00"))
            & (F.col("o_orderdate") < ts("1999-07-01 00:00:00")))
        cu = _read(spark, sf, "customer")
        j = (li.join(o, li["l_orderkey"] == o["o_orderkey"])
             .join(cu, o["o_custkey"] == cu["c_custkey"]))
        rev = (j.groupBy("c_custkey", "c_name")
               .agg((F.sum(dec("l_extendedprice") * (one - dec("l_discount")))
                     * 10000).cast("long").alias("rev_x10000"),
                    F.count(F.lit(1)).alias("n_items")))
        return rev.orderBy(F.col("rev_x10000").desc(), "c_custkey").limit(20)
    q["tpch_q10_returned_revenue"] = tpch_q10_returned_revenue

    # TPC-H Q14 shape (promo revenue share): conditional aggregate over
    # a broadcast dim join, ratio in integer basis points (x10000-cent
    # longs, integral DIV) so no engine's decimal-division rounding can
    # flip the result.
    def tpch_q14_promo_share(spark, sf):
        dec = lambda c: F.col(c).cast("decimal(18,2)")  # noqa: E731
        one = F.lit(1).cast("decimal(18,2)")
        ts = lambda s: F.lit(s).cast("timestamp_ntz")  # noqa: E731
        li = _read(spark, sf, "lineitem").where(
            (F.col("l_shipdate") >= ts("2000-01-01 00:00:00"))
            & (F.col("l_shipdate") < ts("2000-04-01 00:00:00")))
        pa = _read(spark, sf, "part")
        j = li.join(F.broadcast(pa), li["l_partkey"] == pa["p_partkey"])
        rev = dec("l_extendedprice") * (one - dec("l_discount"))
        sums = j.agg(
            (F.sum(F.when(F.col("p_type") == "PROMO", rev)
                   .otherwise(F.lit(0).cast("decimal(18,2)"))) * 10000)
            .cast("long").alias("promo_x10000"),
            (F.sum(rev) * 10000).cast("long").alias("total_x10000"),
            F.count(F.lit(1)).alias("n_items"))
        return sums.withColumn(
            "promo_share_bps",
            F.expr("CAST((promo_x10000 * 10000) DIV total_x10000 AS BIGINT)"))
    q["tpch_q14_promo_share"] = tpch_q14_promo_share

    # TPC-H Q17 shape (correlated avg subquery -> groupBy + join-back):
    # revenue from small-quantity lineitems, where "small" is relative
    # to the part's own average quantity. The avg comparison is done
    # integer-exact by cross-multiplying (5*qty*cnt < sum_qty) instead
    # of dividing.
    def tpch_q17_small_qty_revenue(spark, sf):
        li = _read(spark, sf, "lineitem").withColumn(
            "_qty", F.floor("l_quantity").cast("long"))
        pa = _read(spark, sf, "part").where(
            F.col("p_brand").isin("Brand#12", "Brand#23"))
        lib = li.join(F.broadcast(pa), li["l_partkey"] == pa["p_partkey"])
        stats = (lib.groupBy(F.col("l_partkey").alias("_pk"))
                 .agg(F.sum("_qty").alias("_sum_q"),
                      F.count(F.lit(1)).alias("_cnt")))
        small = (lib.join(stats, lib["l_partkey"] == stats["_pk"])
                 .where(F.col("_qty") * F.col("_cnt") * 5 < F.col("_sum_q")))
        return (small.groupBy("p_brand")
                .agg((F.sum(F.col("l_extendedprice").cast("decimal(18,2)"))
                      * 100).cast("long").alias("total_cents"),
                     F.count(F.lit(1)).alias("n_items")))
    q["tpch_q17_small_qty_revenue"] = tpch_q17_small_qty_revenue

    # TPC-H Q21 shape (EXISTS + NOT EXISTS on the same fact): suppliers
    # who were the ONLY supplier with a returned line on a multi-
    # supplier order. One distinct pair frame feeds a left-semi (some
    # other supplier shipped the order) and a left-anti (no other
    # supplier had a return) — both non-equi on the supplier key.
    def tpch_q21_lone_fault_supplier(spark, sf):
        li = _read(spark, sf, "lineitem")
        pairs = li.select("l_orderkey", "l_suppkey").distinct()
        ret = (li.where(F.col("l_returnflag") == "R")
               .select("l_orderkey", "l_suppkey").distinct())
        other = pairs.select(F.col("l_orderkey").alias("_ok"),
                             F.col("l_suppkey").alias("_sk"))
        multi = ret.join(
            other, (ret["l_orderkey"] == other["_ok"])
            & (ret["l_suppkey"] != other["_sk"]), "left_semi")
        oret = ret.select(F.col("l_orderkey").alias("_rok"),
                          F.col("l_suppkey").alias("_rsk"))
        lone = multi.join(
            oret, (multi["l_orderkey"] == oret["_rok"])
            & (multi["l_suppkey"] != oret["_rsk"]), "left_anti")
        su = _read(spark, sf, "supplier")
        return (lone.join(F.broadcast(su),
                          lone["l_suppkey"] == su["s_suppkey"])
                .groupBy("s_name")
                .agg(F.count(F.lit(1)).alias("numwait")))
    q["tpch_q21_lone_fault_supplier"] = tpch_q21_lone_fault_supplier

    # TPC-H Q2 shape (correlated min-cost subquery): for each part,
    # the EUROPE-region supplier(s) achieving the minimum observed
    # unit price. Q2's correlated `cost = (SELECT min(ps_supplycost)
    # ...)` becomes one min-over-window on the region-restricted cost
    # table — no self-join, ties kept (Q2 returns all tied suppliers).
    # Cost table derived from lineitem (fixture has no partsupp):
    # min line price per (part, supplier) in cents.
    def tpch_q2_min_cost_supplier(spark, sf):
        li = _read(spark, sf, "lineitem")
        su = _read(spark, sf, "supplier")
        na = _read(spark, sf, "nation")
        re = _read(spark, sf, "region").where(F.col("r_name") == "EUROPE")
        eu = (su.join(F.broadcast(na), su["s_nationkey"] == na["n_nationkey"])
              .join(F.broadcast(re), na["n_regionkey"] == re["r_regionkey"])
              .select("s_suppkey", "s_name", "n_name"))
        cost = (li.groupBy("l_partkey", "l_suppkey")
                .agg((F.min(F.col("l_extendedprice").cast("decimal(18,2)"))
                      * 100).cast("long").alias("cost_cents")))
        cost_eu = cost.join(F.broadcast(eu),
                            cost["l_suppkey"] == eu["s_suppkey"])
        w = Window.partitionBy("l_partkey")
        best = (cost_eu
                .withColumn("_best", F.min("cost_cents").over(w))
                .where(F.col("cost_cents") == F.col("_best")))
        pa = _read(spark, sf, "part").where(F.col("p_type") == "STANDARD")
        return (best.join(F.broadcast(pa),
                          best["l_partkey"] == pa["p_partkey"])
                .select("p_partkey", "p_name", "s_name", "n_name",
                        "cost_cents"))
    q["tpch_q2_min_cost_supplier"] = tpch_q2_min_cost_supplier

    # TPC-H Q15 shape (max over an aggregated view): quarterly revenue
    # per supplier, then the supplier(s) hitting the global max. The
    # view aggregates once; the max is a single-row broadcast joined
    # back by equality — no rank window over the whole view. Revenue
    # is integer-exact: cents x discount-complement-percent (both
    # round-to-integer), so the max comparison is engine-portable.
    def tpch_q15_top_supplier(spark, sf):
        li = _read(spark, sf, "lineitem").where(
            (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp_ntz"))
            & (F.col("l_shipdate") < F.lit("1996-04-01 00:00:00").cast("timestamp_ntz")))
        rev_unit = (F.round(F.col("l_extendedprice") * 100).cast("long")
                    * F.round((F.lit(1.0) - F.col("l_discount")) * 100)
                    .cast("long"))
        view = (li.groupBy("l_suppkey")
                .agg(F.sum(rev_unit).alias("total_rev")))
        mx = view.agg(F.max("total_rev").alias("_mx"))
        su = _read(spark, sf, "supplier")
        return (view.join(F.broadcast(mx),
                          view["total_rev"] == mx["_mx"])
                .join(su, view["l_suppkey"] == su["s_suppkey"])
                .select("s_suppkey", "s_name", "total_rev"))
    q["tpch_q15_top_supplier"] = tpch_q15_top_supplier

    # TPC-H Q20 shape (nested semi-join with aggregate threshold):
    # suppliers of 'small %' parts whose 2001 shipments of that part
    # exceed half their all-time shipments of it — Q20's
    # `ps_availqty > 0.5 * sum(l_quantity)` re-expressed over the
    # fixture (no partsupp). The threshold compare is 2*recent > total
    # (integers, no halves); the supplier list is a left-semi join so
    # fact rows never fan out.
    def tpch_q20_recent_heavy_suppliers(spark, sf):
        li = _read(spark, sf, "lineitem").withColumn(
            "_qty", F.floor("l_quantity").cast("long"))
        pa = _read(spark, sf, "part").where(F.col("p_name").like("small %"))
        lip = li.join(F.broadcast(pa), li["l_partkey"] == pa["p_partkey"])
        recent = F.when(
            F.col("l_shipdate") >= F.lit("2001-07-01 00:00:00")
            .cast("timestamp_ntz"), F.col("_qty")).otherwise(F.lit(0))
        per_pair = (lip.groupBy("l_partkey", "l_suppkey")
                    .agg(F.count(F.lit(1)).alias("_n_lines"),
                         F.sum("_qty").alias("_total"),
                         F.sum(recent).alias("_recent")))
        # >=2 lines keeps single-line pairs from trivially qualifying
        # (43/100 suppliers pass at sf0.01 — the semi-join filters)
        heavy = per_pair.where((F.col("_n_lines") >= 2)
                               & (2 * F.col("_recent") > F.col("_total")))
        su = _read(spark, sf, "supplier")
        na = _read(spark, sf, "nation")
        return (su.join(heavy.select("l_suppkey").distinct(),
                        su["s_suppkey"] == F.col("l_suppkey"), "left_semi")
                .join(F.broadcast(na), su["s_nationkey"] == na["n_nationkey"])
                .select("s_suppkey", "s_name", "n_name"))
    q["tpch_q20_recent_heavy_suppliers"] = tpch_q20_recent_heavy_suppliers

    # TPC-H Q12 shape (two-way conditional counts, condition from the
    # JOINED side): per line status, urgent-or-high vs other orders.
    def tpch_q12_priority_split(spark, sf):
        li = _read(spark, sf, "lineitem")
        o = _read(spark, sf, "orders")
        hi = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
        return (li.join(o, li["l_orderkey"] == o["o_orderkey"])
                .groupBy("l_linestatus")
                .agg(F.sum(F.when(hi, 1).otherwise(0)).cast("long")
                      .alias("n_high"),
                     F.sum(F.when(hi, 0).otherwise(1)).cast("long")
                      .alias("n_low")))
    q["tpch_q12_priority_split"] = tpch_q12_priority_split

    # TPC-H Q11 shape (group HAVING vs a global scalar): parts whose
    # revenue exceeds 1/2000 of total revenue — the group filter is an
    # integer cross-multiplication against a broadcast single-row
    # total, rolled up per brand.
    def tpch_q11_important_parts(spark, sf):
        dec = lambda c: F.col(c).cast("decimal(18,2)")  # noqa: E731
        one = F.lit(1).cast("decimal(18,2)")
        li = _read(spark, sf, "lineitem")
        rev = dec("l_extendedprice") * (one - dec("l_discount"))
        per_part = (li.groupBy("l_partkey")
                    .agg(F.floor(F.sum(rev) * 100).cast("long")
                          .alias("_rev_cents")))
        total = per_part.agg(F.sum("_rev_cents").alias("_total"))
        pa = _read(spark, sf, "part")
        big = (per_part.crossJoin(F.broadcast(total))
               .where(F.col("_rev_cents") * 2000 >= F.col("_total")))
        return (big.join(F.broadcast(pa),
                         big["l_partkey"] == pa["p_partkey"])
                .groupBy("p_brand")
                .agg(F.count(F.lit(1)).alias("n_parts"),
                     F.sum("_rev_cents").cast("long")
                      .alias("rev_cents")))
    q["tpch_q11_important_parts"] = tpch_q11_important_parts

    # cross-table reconciliation audit: order header totals vs the sum
    # of their lines' gross amounts, bucketed by signed discrepancy
    # (magnitude DIV under abs, so truncation==floor both engines).
    def tpch_reconciliation(spark, sf):
        dec = lambda c: F.col(c).cast("decimal(18,2)")  # noqa: E731
        one = F.lit(1).cast("decimal(18,2)")
        li = _read(spark, sf, "lineitem")
        gross = dec("l_extendedprice") * (one - dec("l_discount")) \
            * (one + dec("l_tax"))
        per_order = (li.groupBy("l_orderkey")
                     .agg(F.floor(F.sum(gross) * 100).cast("long")
                          .alias("_li_cents")))
        o = _read(spark, sf, "orders").select(
            "o_orderkey",
            F.round(F.col("o_totalprice") * 100).cast("long")
             .alias("_o_cents"))
        j = o.join(per_order, o["o_orderkey"] == per_order["l_orderkey"])
        diff = F.col("_o_cents") - F.col("_li_cents")
        bucket = (F.when(diff >= 0, F.expr(
                      "CAST((_o_cents - _li_cents) DIV 1000000 AS BIGINT)"))
                  .otherwise(-F.expr(
                      "CAST((_li_cents - _o_cents) DIV 1000000 AS BIGINT)")))
        return (j.groupBy(bucket.alias("diff_bucket_10k"))
                .agg(F.count(F.lit(1)).alias("n_orders"),
                     F.min(diff).cast("long").alias("min_diff_cents"),
                     F.max(diff).cast("long").alias("max_diff_cents")))
    q["tpch_reconciliation"] = tpch_reconciliation

    # -- TPC-H Q6 shape: the pure scan-filter-aggregate — no join at
    # all; at 100 TB this is THE query predicate pushdown exists for
    # (all three filters reach the parquet reader). Discount matched
    # in integer cents (round(x*100) is the same double op both
    # engines) — never `double BETWEEN double`.
    def tpch_q6_forecast_revenue(spark, sf):
        dec = lambda c: F.col(c).cast("decimal(18,2)")  # noqa: E731
        ts = lambda s: F.lit(s).cast("timestamp_ntz")  # noqa: E731
        cents = F.round(F.col("l_discount") * 100).cast("int")
        li = _read(spark, sf, "lineitem").where(
            (F.col("l_shipdate") >= ts("1999-01-01 00:00:00"))
            & (F.col("l_shipdate") < ts("2000-01-01 00:00:00"))
            & cents.between(5, 7) & (F.col("l_quantity") < 24))
        return li.agg(
            (F.sum(dec("l_extendedprice") * dec("l_discount")) * 10000)
            .cast("long").alias("revenue_x10000"),
            F.count(F.lit(1)).alias("n_items"))
    q["tpch_q6_forecast_revenue"] = tpch_q6_forecast_revenue

    # -- TPC-H Q8 shape: national market share — the two-level
    # conditional-share aggregate over the full 7-table join. Both
    # sums ride ONE aggregate (no second pass for the numerator);
    # share via the integral x10000 DIV idiom.
    def tpch_q8_market_share(spark, sf):
        dec = lambda c: F.col(c).cast("decimal(18,2)")  # noqa: E731
        one = F.lit(1).cast("decimal(18,2)")
        ts = lambda s: F.lit(s).cast("timestamp_ntz")  # noqa: E731
        li = _read(spark, sf, "lineitem")
        pa = _read(spark, sf, "part").where(F.col("p_type") == "ECONOMY")
        su = _read(spark, sf, "supplier")
        o = _read(spark, sf, "orders").where(
            (F.col("o_orderdate") >= ts("1999-01-01 00:00:00"))
            & (F.col("o_orderdate") < ts("2001-01-01 00:00:00")))
        cu = _read(spark, sf, "customer")
        n1 = _read(spark, sf, "nation").select(
            F.col("n_nationkey").alias("_sn_key"),
            F.col("n_name").alias("supp_nation"))
        n2 = (_read(spark, sf, "nation")
              .join(_read(spark, sf, "region")
                    .where(F.col("r_name") == "ASIA"),
                    F.col("n_regionkey") == F.col("r_regionkey"))
              .select(F.col("n_nationkey").alias("_cn_key")))
        j = (li.join(F.broadcast(pa), li["l_partkey"] == pa["p_partkey"])
             .join(o, li["l_orderkey"] == o["o_orderkey"])
             .join(cu, o["o_custkey"] == cu["c_custkey"])
             .join(F.broadcast(n2), cu["c_nationkey"] == F.col("_cn_key"),
                   "left_semi")
             .join(F.broadcast(su), li["l_suppkey"] == su["s_suppkey"])
             .join(F.broadcast(n1), su["s_nationkey"] == F.col("_sn_key")))
        vol = dec("l_extendedprice") * (one - dec("l_discount"))
        g = j.groupBy(F.year("o_orderdate").alias("o_year")).agg(
            (F.sum(F.when(F.col("supp_nation") == "NATION_7", vol)
                   .otherwise(F.lit(0).cast("decimal(18,2)"))) * 10000)
            .cast("long").alias("focal_x10000"),
            (F.sum(vol) * 10000).cast("long").alias("total_x10000"),
            F.count(F.lit(1)).alias("n_items"))
        return g.withColumn(
            "mkt_share_bps",
            F.expr("CAST((focal_x10000 * 10000) DIV total_x10000 AS BIGINT)"))
    q["tpch_q8_market_share"] = tpch_q8_market_share

    # -- TPC-H Q9 shape: product-type profit per (nation, year). The
    # testdata has no partsupp table, so supply cost is the
    # deterministic stand-in floor(p_retailprice*10) integer cents
    # (10% of retail) — the join SHAPE (part-name filter fanned
    # across lineitem x supplier x orders x nation) is what Q9
    # exercises, and profit stays integer-exact end to end.
    def tpch_q9_product_profit(spark, sf):
        dec = lambda c: F.col(c).cast("decimal(18,2)")  # noqa: E731
        one = F.lit(1).cast("decimal(18,2)")
        li = _read(spark, sf, "lineitem")
        pa = _read(spark, sf, "part").where(F.col("p_name").like("%widget%"))
        su = _read(spark, sf, "supplier")
        na = _read(spark, sf, "nation")
        o = _read(spark, sf, "orders")
        cost_cents = F.floor(dec("p_retailprice") * 10).cast("long")
        qty = F.col("l_quantity").cast("decimal(18,2)").cast("long")
        j = (li.join(F.broadcast(pa), li["l_partkey"] == pa["p_partkey"])
             .join(o, li["l_orderkey"] == o["o_orderkey"])
             .join(F.broadcast(su), li["l_suppkey"] == su["s_suppkey"])
             .join(F.broadcast(na), su["s_nationkey"] == na["n_nationkey"]))
        rev = dec("l_extendedprice") * (one - dec("l_discount"))
        return (j.groupBy(F.col("n_name").alias("nation"),
                          F.year("o_orderdate").alias("o_year"))
                .agg(((F.sum(rev) * 10000).cast("long")
                      - F.sum(cost_cents * 100 * qty))
                     .alias("profit_x10000"),
                     F.count(F.lit(1)).alias("n_items")))
    q["tpch_q9_product_profit"] = tpch_q9_product_profit


def register_oracles(o):

    o["tpch_q1_pricing"] = """
SELECT l_returnflag, l_linestatus,
       CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))))
            AS DOUBLE) AS sum_disc_price,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus"""

    o["tpch_q3_top_revenue"] = """
SELECT o_orderkey,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))))
            AS DOUBLE) AS revenue,
       count(*) AS n_items
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
GROUP BY o_orderkey
ORDER BY revenue DESC, o_orderkey LIMIT 10"""

    o["tpch_q5_local_supplier_volume"] = """
SELECT n_name,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))))
            AS DOUBLE) AS revenue
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation   ON s_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate <  TIMESTAMP '1997-01-01'
GROUP BY n_name"""

    o["tpch_q18_large_orders"] = """
WITH big AS (SELECT l_orderkey,
                    sum(CAST(l_quantity AS DECIMAL(18,2))) AS q
             FROM lineitem GROUP BY 1
             HAVING sum(CAST(l_quantity AS DECIMAL(18,2))) > 300)
SELECT c_name, c_custkey, o_orderkey,
       CAST(floor(epoch(o_orderdate)) AS BIGINT) AS o_orderdate_s,
       CAST(q * 100 AS BIGINT) AS qty_x100
FROM big JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey"""

    o["tpch_q4_priority_semijoin"] = """
SELECT o_orderpriority, count(*) AS n_orders
FROM orders
WHERE o_orderdate >= TIMESTAMP '1997-01-01'
  AND o_orderdate <  TIMESTAMP '1998-01-01'
  AND EXISTS (SELECT 1 FROM lineitem
              WHERE l_orderkey = o_orderkey
                AND l_returnflag = 'R'
                AND l_shipdate >= TIMESTAMP '1997-01-01'
                AND l_shipdate <  TIMESTAMP '1998-01-01')
GROUP BY o_orderpriority"""

    o["tpch_q13_order_distribution"] = """
WITH per_cust AS (
  SELECT c_custkey, count(o_orderkey) AS c_count
  FROM customer LEFT JOIN orders
    ON c_custkey = o_custkey
   AND o_orderdate >= TIMESTAMP '2001-01-01'
  GROUP BY c_custkey)
SELECT c_count, count(*) AS custdist
FROM per_cust GROUP BY c_count"""

    o["tpch_parts_unsold_2001"] = """
SELECT p_brand, count(*) AS n_parts,
       CAST(min(round(p_retailprice * 100)) AS BIGINT) AS min_price_cents,
       CAST(max(round(p_retailprice * 100)) AS BIGINT) AS max_price_cents
FROM part
WHERE NOT EXISTS (
  SELECT 1 FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  WHERE l_partkey = p_partkey
    AND o_orderdate >= TIMESTAMP '2001-01-01')
GROUP BY p_brand"""

    o["tpch_q19_or_predicates"] = """
SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
               * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))))
            AS DOUBLE) AS revenue,
       count(*) AS n_items
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15
       AND l_quantity BETWEEN 1 AND 11)
   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 25
       AND l_quantity BETWEEN 10 AND 20)
   OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 35
       AND l_quantity BETWEEN 20 AND 30)"""

    o["tpch_q22_dormant_customers"] = """
WITH cents AS (SELECT c_custkey, c_mktsegment,
                      CAST(round(c_acctbal * 100) AS BIGINT) AS c_cents
               FROM customer),
thr AS (SELECT CAST(floor(sum(CAST(c_cents AS DECIMAL(38,6))) / count(*))
               AS BIGINT) AS t
        FROM cents WHERE c_cents > 0)
SELECT c_mktsegment, count(*) AS n_custs,
       CAST(sum(c_cents) AS BIGINT) AS sum_cents
FROM cents, thr
WHERE c_cents > thr.t
  AND NOT EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey
                    AND o_orderdate >= TIMESTAMP '2001-01-01')
GROUP BY c_mktsegment"""

    o["tpch_q7_nation_volume"] = """
SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
       CAST(year(l_shipdate) AS INT) AS l_year,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))))
            AS DOUBLE) AS revenue,
       count(*) AS n_items
FROM lineitem
JOIN supplier ON l_suppkey = s_suppkey
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation n1 ON s_nationkey = n1.n_nationkey
JOIN nation n2 ON c_nationkey = n2.n_nationkey
WHERE l_shipdate >= TIMESTAMP '1999-01-01'
  AND l_shipdate <  TIMESTAMP '2001-01-01'
  AND s_nationkey IN (1, 2) AND c_nationkey IN (3, 4)
GROUP BY 1, 2, 3"""

    o["tpch_q10_returned_revenue"] = """
SELECT c_custkey, c_name,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))))
            * 10000 AS BIGINT) AS rev_x10000,
       count(*) AS n_items
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE l_returnflag = 'R'
  AND o_orderdate >= TIMESTAMP '1999-01-01'
  AND o_orderdate <  TIMESTAMP '1999-07-01'
GROUP BY c_custkey, c_name
ORDER BY rev_x10000 DESC, c_custkey
LIMIT 20"""

    o["tpch_q14_promo_share"] = """
WITH sums AS (
  SELECT
    CAST(sum(CASE WHEN p_type = 'PROMO'
             THEN CAST(l_extendedprice AS DECIMAL(18,2))
                  * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))
             ELSE CAST(0 AS DECIMAL(18,2)) END) * 10000 AS BIGINT)
      AS promo_x10000,
    CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
             * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))))
         * 10000 AS BIGINT) AS total_x10000,
    count(*) AS n_items
  FROM lineitem JOIN part ON l_partkey = p_partkey
  WHERE l_shipdate >= TIMESTAMP '2000-01-01'
    AND l_shipdate <  TIMESTAMP '2000-04-01')
SELECT promo_x10000, total_x10000, n_items,
       CAST((promo_x10000 * 10000) // total_x10000 AS BIGINT)
         AS promo_share_bps
FROM sums"""

    o["tpch_q17_small_qty_revenue"] = """
WITH lib AS (
  SELECT l_partkey, p_brand, l_extendedprice,
         CAST(floor(l_quantity) AS BIGINT) AS qty
  FROM lineitem JOIN part ON l_partkey = p_partkey
  WHERE p_brand IN ('Brand#12', 'Brand#23')),
stats AS (
  SELECT l_partkey AS pk, CAST(sum(qty) AS BIGINT) AS sum_q,
         count(*) AS cnt
  FROM lib GROUP BY 1)
SELECT p_brand,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) * 100 AS BIGINT)
         AS total_cents,
       count(*) AS n_items
FROM lib JOIN stats ON l_partkey = pk
WHERE qty * cnt * 5 < sum_q
GROUP BY p_brand"""

    o["tpch_q21_lone_fault_supplier"] = """
WITH pairs AS (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem),
ret AS (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem
        WHERE l_returnflag = 'R')
SELECT s_name, count(*) AS numwait
FROM ret r JOIN supplier ON r.l_suppkey = s_suppkey
WHERE EXISTS (SELECT 1 FROM pairs p
              WHERE p.l_orderkey = r.l_orderkey
                AND p.l_suppkey <> r.l_suppkey)
  AND NOT EXISTS (SELECT 1 FROM ret r2
                  WHERE r2.l_orderkey = r.l_orderkey
                    AND r2.l_suppkey <> r.l_suppkey)
GROUP BY s_name"""

    # Q2 oracle keeps the textbook CORRELATED min subquery so the
    # window-argmin plan is proven equivalent to the reference shape
    o["tpch_q2_min_cost_supplier"] = """
WITH eu AS (
  SELECT s_suppkey, s_name, n_name
  FROM supplier JOIN nation ON s_nationkey = n_nationkey
                JOIN region ON n_regionkey = r_regionkey
  WHERE r_name = 'EUROPE'),
cost AS (
  SELECT l_partkey, l_suppkey,
         CAST(min(CAST(l_extendedprice AS DECIMAL(18,2))) * 100 AS BIGINT)
           AS cost_cents
  FROM lineitem GROUP BY 1, 2),
ce AS (SELECT c.*, eu.s_name, eu.n_name
       FROM cost c JOIN eu ON c.l_suppkey = eu.s_suppkey)
SELECT p_partkey, p_name, s_name, n_name, cost_cents
FROM ce JOIN part ON ce.l_partkey = p_partkey
WHERE p_type = 'STANDARD'
  AND cost_cents = (SELECT min(c2.cost_cents) FROM ce c2
                    WHERE c2.l_partkey = ce.l_partkey)"""

    o["tpch_q15_top_supplier"] = """
WITH revenue AS (
  SELECT l_suppkey,
         CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
                  * CAST(round((1 - l_discount) * 100) AS BIGINT))
              AS BIGINT) AS total_rev
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
    AND l_shipdate < TIMESTAMP '1996-04-01'
  GROUP BY 1)
SELECT s_suppkey, s_name, total_rev
FROM revenue JOIN supplier ON l_suppkey = s_suppkey
WHERE total_rev = (SELECT max(total_rev) FROM revenue)"""

    o["tpch_q20_recent_heavy_suppliers"] = """
WITH per_pair AS (
  SELECT l_partkey, l_suppkey, count(*) AS n_lines,
         CAST(sum(CAST(floor(l_quantity) AS BIGINT)) AS BIGINT) AS total,
         CAST(sum(CASE WHEN l_shipdate >= TIMESTAMP '2001-07-01'
                       THEN CAST(floor(l_quantity) AS BIGINT)
                       ELSE 0 END) AS BIGINT) AS recent
  FROM lineitem JOIN part ON l_partkey = p_partkey
  WHERE p_name LIKE 'small %'
  GROUP BY 1, 2)
SELECT s_suppkey, s_name, n_name
FROM supplier JOIN nation ON s_nationkey = n_nationkey
WHERE s_suppkey IN (SELECT l_suppkey FROM per_pair
                    WHERE n_lines >= 2 AND 2 * recent > total)"""

    o["tpch_q12_priority_split"] = """
SELECT l_linestatus,
       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                THEN 1 ELSE 0 END) AS BIGINT) AS n_high,
       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                THEN 0 ELSE 1 END) AS BIGINT) AS n_low
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY l_linestatus"""

    o["tpch_q11_important_parts"] = """
WITH per_part AS (
  SELECT l_partkey,
         CAST(floor(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                    * (CAST(1 AS DECIMAL(18,2))
                       - CAST(l_discount AS DECIMAL(18,2)))) * 100)
              AS BIGINT) AS rev_cents
  FROM lineitem GROUP BY l_partkey),
total AS (SELECT CAST(sum(rev_cents) AS BIGINT) AS t FROM per_part)
SELECT p_brand, count(*) AS n_parts,
       CAST(sum(rev_cents) AS BIGINT) AS rev_cents
FROM per_part, total
JOIN part ON l_partkey = p_partkey
WHERE rev_cents * 2000 >= total.t
GROUP BY p_brand"""

    o["tpch_reconciliation"] = """
WITH per_order AS (
  SELECT l_orderkey,
         CAST(floor(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                  * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))
                  * (CAST(1 AS DECIMAL(18,2)) + CAST(l_tax AS DECIMAL(18,2))))
              * 100) AS BIGINT) AS li_cents
  FROM lineitem GROUP BY l_orderkey),
j AS (
  SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS o_cents, li_cents
  FROM orders JOIN per_order ON o_orderkey = l_orderkey)
SELECT CASE WHEN o_cents >= li_cents
            THEN (o_cents - li_cents) // 1000000
            ELSE -((li_cents - o_cents) // 1000000) END AS diff_bucket_10k,
       count(*) AS n_orders,
       CAST(min(o_cents - li_cents) AS BIGINT) AS min_diff_cents,
       CAST(max(o_cents - li_cents) AS BIGINT) AS max_diff_cents
FROM j GROUP BY 1"""

    o["tpch_q6_forecast_revenue"] = """
SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
               * CAST(l_discount AS DECIMAL(18,2))) * 10000 AS BIGINT)
         AS revenue_x10000,
       count(*) AS n_items
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1999-01-01'
  AND l_shipdate <  TIMESTAMP '2000-01-01'
  AND CAST(round(l_discount * 100) AS INT) BETWEEN 5 AND 7
  AND l_quantity < 24"""

    o["tpch_q8_market_share"] = """
WITH vols AS (
  SELECT CAST(year(o_orderdate) AS INT) AS o_year,
         n1.n_name AS supp_nation,
         CAST(l_extendedprice AS DECIMAL(18,2))
           * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))
           AS vol
  FROM lineitem
  JOIN part     ON l_partkey = p_partkey
  JOIN orders   ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN nation n2 ON c_nationkey = n2.n_nationkey
  JOIN region   ON n2.n_regionkey = r_regionkey
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation n1 ON s_nationkey = n1.n_nationkey
  WHERE p_type = 'ECONOMY' AND r_name = 'ASIA'
    AND o_orderdate >= TIMESTAMP '1999-01-01'
    AND o_orderdate <  TIMESTAMP '2001-01-01'),
sums AS (
  SELECT o_year,
         CAST(sum(CASE WHEN supp_nation = 'NATION_7' THEN vol
                       ELSE CAST(0 AS DECIMAL(18,2)) END) * 10000 AS BIGINT)
           AS focal_x10000,
         CAST(sum(vol) * 10000 AS BIGINT) AS total_x10000,
         count(*) AS n_items
  FROM vols GROUP BY 1)
SELECT o_year, focal_x10000, total_x10000, n_items,
       CAST((focal_x10000 * 10000) // total_x10000 AS BIGINT)
         AS mkt_share_bps
FROM sums"""

    o["tpch_q9_product_profit"] = """
SELECT n_name AS nation, CAST(year(o_orderdate) AS INT) AS o_year,
       CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))))
            * 10000 AS BIGINT)
       - sum(CAST(floor(CAST(p_retailprice AS DECIMAL(18,2)) * 10) AS BIGINT)
             * 100 * CAST(CAST(l_quantity AS DECIMAL(18,2)) AS BIGINT))
         AS BIGINT) AS profit_x10000,
       count(*) AS n_items
FROM lineitem
JOIN part     ON l_partkey = p_partkey
JOIN orders   ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation   ON s_nationkey = n_nationkey
WHERE p_name LIKE '%widget%'
GROUP BY 1, 2"""
