"""window family: contract queries (+ oracles) — split mechanically from the original single contract module; statement order preserved."""

from __future__ import annotations

from logging_spark.contract._fixtures import F, Window, _read


def register(q):

    # -- rank-family windows (rank/dense_rank/percent_rank/cume_dist)
    # over per-segment balance order: tied cents get tied ranks, so
    # every output is deterministic without a tiebreak column.
    def window_rank_family(spark, sf):
        cu = _read(spark, sf, "customer")
        cents = F.round(F.col("c_acctbal") * 100).cast("long")
        w = Window.partitionBy("c_mktsegment").orderBy(
            F.col("_cents").desc())
        return (cu.withColumn("_cents", cents)
                .select("c_mktsegment", "c_custkey",
                        F.col("_cents").alias("bal_cents"),
                        F.rank().over(w).cast("long").alias("rnk"),
                        F.dense_rank().over(w).cast("long").alias("drnk"),
                        F.percent_rank().over(w).alias("prk"),
                        F.cume_dist().over(w).alias("cd")))
    q["window_rank_family"] = window_rank_family

    def window_top3_orders(spark, sf):
        o = _read(spark, sf, "orders")
        w = Window.partitionBy("o_custkey").orderBy(
            F.col("o_totalprice").desc(), "o_orderkey")
        return (o.withColumn("rnk", F.row_number().over(w).cast("int"))
                .where(F.col("rnk") <= 3)
                .select("o_custkey", "o_orderkey", "rnk"))
    q["window_top3_orders"] = window_top3_orders

    # -- inter-order gaps: lag + lead + a gap rank per customer, the
    # classic purchase-cadence window triple. epoch-day integers so
    # every column is exact; single (customer, date, key) sort serves
    # all three functions.
    def window_order_gaps(spark, sf):
        o = _read(spark, sf, "orders")
        w = Window.partitionBy("o_custkey").orderBy(
            "day", "o_orderkey")
        d = F.datediff(F.col("o_orderdate"), F.lit("1992-01-01"))
        base = o.select(
            "o_custkey", "o_orderkey", d.cast("long").alias("day"))
        g = base.select(
            "o_custkey", "o_orderkey", "day",
            (F.col("day") - F.lag("day").over(w)).cast("long")
            .alias("gap_days"),
            F.coalesce(F.lead("day").over(w) - F.col("day"),
                       F.lit(-1)).cast("long")
            .alias("next_gap_days"))  # -1 sentinel: NULL-free contract
        wr = Window.partitionBy("o_custkey").orderBy(
            F.col("gap_days").desc(), "o_orderkey")
        return (g.where(F.col("gap_days").isNotNull())
                .withColumn("gap_rank",
                            F.row_number().over(wr).cast("long")))
    q["window_order_gaps"] = window_order_gaps


def register_oracles(o):

    o["window_rank_family"] = """
WITH c AS (SELECT c_mktsegment, c_custkey,
                  CAST(round(c_acctbal * 100) AS BIGINT) AS bal_cents
           FROM customer)
SELECT c_mktsegment, c_custkey, bal_cents,
       CAST(rank() OVER w AS BIGINT) AS rnk,
       CAST(dense_rank() OVER w AS BIGINT) AS drnk,
       percent_rank() OVER w AS prk,
       cume_dist() OVER w AS cd
FROM c
WINDOW w AS (PARTITION BY c_mktsegment ORDER BY bal_cents DESC)"""

    o["window_top3_orders"] = """
SELECT o_custkey, o_orderkey, rnk FROM (
  SELECT o_custkey, o_orderkey,
         CAST(row_number() OVER (PARTITION BY o_custkey
                                 ORDER BY o_totalprice DESC, o_orderkey) AS INT) AS rnk
  FROM orders) WHERE rnk <= 3"""

    o["window_order_gaps"] = """
WITH base AS (
  SELECT o_custkey, o_orderkey,
         CAST(datediff('day', DATE '1992-01-01', o_orderdate)
              AS BIGINT) AS day
  FROM orders),
g AS (
  SELECT o_custkey, o_orderkey, day,
         day - lag(day) OVER w AS gap_days,
         lead(day) OVER w - day AS next_gap_days
  FROM base
  WINDOW w AS (PARTITION BY o_custkey ORDER BY day, o_orderkey))
SELECT o_custkey, o_orderkey, day,
       CAST(gap_days AS BIGINT) AS gap_days,
       CAST(coalesce(next_gap_days, -1) AS BIGINT) AS next_gap_days,
       CAST(row_number() OVER (PARTITION BY o_custkey
                               ORDER BY gap_days DESC, o_orderkey)
            AS BIGINT) AS gap_rank
FROM g WHERE gap_days IS NOT NULL"""
