"""audit family: contract queries (+ oracles) — split mechanically from the original single contract module; statement order preserved."""

from __future__ import annotations

from logging_spark.contract._fixtures import (
    F, _read, hash60_sql, table_fingerprint)


def register(q):

    # -- table fingerprint (operators/dq.py): commutative bit_xor of
    # 60-bit md5 row hashes per returnflag — the cross-run content
    # checksum. Canonicalization is integer-exact (cents / floored
    # quantities), never raw doubles.
    def audit_fingerprint(spark, sf):
        li = _read(spark, sf, "lineitem")
        return table_fingerprint(
            li,
            cols=[F.col("l_orderkey"), F.col("l_linenumber"),
                  F.floor("l_quantity").cast("long"),
                  F.round(F.col("l_extendedprice") * 100).cast("long")],
            group_by=["l_returnflag"])
    q["audit_fingerprint"] = audit_fingerprint

    # -- referential-integrity census: orphan facts via LEFT ANTI
    # joins (key side broadcast) + the dormant-entity check that is
    # only non-empty when time-restricted (plain anti-joins are EMPTY
    # on this dense synthetic data — the round-4 lesson). One row per
    # check so a regression is a visible row delta, not a silent sum.
    def audit_referential(spark, sf):
        li = _read(spark, sf, "lineitem")
        od = _read(spark, sf, "orders")
        cu = _read(spark, sf, "customer")
        def chk(name, bad, total):
            return (bad.agg(F.count(F.lit(1)).cast("long")
                            .alias("n_bad"))
                    .crossJoin(F.broadcast(
                        total.agg(F.count(F.lit(1)).cast("long")
                                  .alias("n_total"))))
                    .select(F.lit(name).alias("check"),
                            "n_bad", "n_total"))
        orphan_li = li.join(F.broadcast(od.select("o_orderkey")),
                            li["l_orderkey"] == od["o_orderkey"],
                            "left_anti")
        orphan_od = od.join(F.broadcast(cu.select("c_custkey")),
                            od["o_custkey"] == cu["c_custkey"],
                            "left_anti")
        recent = od.where("o_orderdate >= DATE '2001-01-01'")
        dormant = cu.join(recent.select("o_custkey"),
                          cu["c_custkey"] == recent["o_custkey"],
                          "left_anti")
        return (chk("lineitem_orphans", orphan_li, li)
                .unionByName(chk("order_orphans", orphan_od, od))
                .unionByName(chk("dormant_customers", dormant, cu)))
    q["audit_referential"] = audit_referential


def register_oracles(o):

    _fp_row = ("concat_ws(chr(31), coalesce(CAST(l_orderkey AS VARCHAR), ''),"
               " coalesce(CAST(l_linenumber AS VARCHAR), ''),"
               " coalesce(CAST(CAST(floor(l_quantity) AS BIGINT) AS VARCHAR), ''),"
               " coalesce(CAST(CAST(round(l_extendedprice * 100) AS BIGINT)"
               " AS VARCHAR), ''))")
    o["audit_fingerprint"] = f"""
SELECT l_returnflag,
       bit_xor({hash60_sql(_fp_row, 'fp')}) AS fingerprint,
       count(*) AS n_rows
FROM lineitem GROUP BY l_returnflag"""

    o["audit_referential"] = """
SELECT 'lineitem_orphans' AS check,
       CAST((SELECT count(*) FROM lineitem
             WHERE l_orderkey NOT IN (SELECT o_orderkey FROM orders))
            AS BIGINT) AS n_bad,
       CAST((SELECT count(*) FROM lineitem) AS BIGINT) AS n_total
UNION ALL
SELECT 'order_orphans',
       CAST((SELECT count(*) FROM orders
             WHERE o_custkey NOT IN (SELECT c_custkey FROM customer))
            AS BIGINT),
       CAST((SELECT count(*) FROM orders) AS BIGINT)
UNION ALL
SELECT 'dormant_customers',
       CAST((SELECT count(*) FROM customer
             WHERE c_custkey NOT IN (
               SELECT o_custkey FROM orders
               WHERE o_orderdate >= DATE '2001-01-01'))
            AS BIGINT),
       CAST((SELECT count(*) FROM customer) AS BIGINT)"""
