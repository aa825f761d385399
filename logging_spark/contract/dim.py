"""dim family: contract queries (+ oracles) — split mechanically from the original single contract module; statement order preserved."""

from __future__ import annotations

from logging_spark.contract._fixtures import F, Window, _read, rfm_segments


def register(q):

    # -- percent-of-total window: per-segment revenue share in integer
    # basis points (window total + integral DIV, no float division).
    # The window runs over the 5-row AGGREGATED frame, not the facts.
    def dim_revenue_share(spark, sf):
        o = _read(spark, sf, "orders")
        cu = _read(spark, sf, "customer")
        seg = (o.join(F.broadcast(cu), o["o_custkey"] == cu["c_custkey"])
               .groupBy("c_mktsegment")
               .agg((F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
                     * 100).cast("long").alias("rev_cents"),
                    F.count(F.lit(1)).alias("n_orders")))
        return seg.withColumn(
            "share_bps",
            F.expr("CAST((rev_cents * 10000) DIV "
                   "(sum(rev_cents) OVER ()) AS BIGINT)"))
    q["dim_revenue_share"] = dim_revenue_share

    # top-N-plus-OTHER: the reporting rollup — per segment keep the 2
    # most common priorities, fold the tail into one OTHER row. The
    # rank window runs over the AGGREGATED (segment, priority) frame
    # (25 rows), never the facts.
    def dim_topn_other(spark, sf):
        o = _read(spark, sf, "orders")
        cu = _read(spark, sf, "customer")
        counts = (o.join(F.broadcast(cu), o["o_custkey"] == cu["c_custkey"])
                  .groupBy("c_mktsegment", "o_orderpriority")
                  .agg(F.count(F.lit(1)).alias("cnt")))
        w = Window.partitionBy("c_mktsegment").orderBy(
            F.col("cnt").desc(), "o_orderpriority")
        ranked = counts.withColumn("_rn", F.row_number().over(w))
        label = (F.when(F.col("_rn") <= 2, F.col("o_orderpriority"))
                 .otherwise(F.lit("OTHER")))
        return (ranked.groupBy("c_mktsegment", label.alias("priority"))
                .agg(F.sum("cnt").cast("long").alias("n_orders"),
                     F.count(F.lit(1)).alias("n_groups")))
    q["dim_topn_other"] = dim_topn_other

    def dim_join_rollup(spark, sf):
        r = _read(spark, sf, "region")
        n = _read(spark, sf, "nation")
        cu = _read(spark, sf, "customer")
        return (
            cu.join(F.broadcast(n), cu.c_nationkey == n.n_nationkey)
            .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
            .groupBy("r_name", "n_name")
            .agg(F.count(F.lit(1)).alias("n_customers"),
                 F.sum(F.col("c_acctbal").cast("decimal(18,2)"))
                  .cast("double").alias("total_acctbal"))
        )
    q["dim_join_rollup"] = dim_join_rollup

    # -- RFM segmentation (operators/segments.py): one map-side-
    # combined agg -> three lifecycle dimensions; 90-day recency
    # quarters (capped) + engine-exact log2 tiers for freq/monetary.
    def dim_rfm_segments(spark, sf):
        return rfm_segments(_read(spark, sf, "orders"))
    q["dim_rfm_segments"] = dim_rfm_segments

    # -- record linkage (operators/linkage.py): Fellegi-Sunter-lite —
    # block candidate pairs on the part-name noun (cap-before-expand,
    # like every LSH family here), score integer agreement weights
    # over (first word, brand, type, size-within-2), classify by two
    # thresholds. The per-class census is the ER tuning report.
    def dim_entity_matches(spark, sf):
        from logging_spark.operators.linkage import (blocked_pairs,
                                                     match_scores)
        p = _read(spark, sf, "part").select(
            "p_partkey", "p_brand", "p_type", "p_size",
            F.split("p_name", " ").getItem(0).alias("w1"),
            F.split("p_name", " ").getItem(1).alias("w2"),
            F.floor(F.col("p_retailprice") * 10).cast("long")
            .alias("price_d"))
        # block on (noun, brand): ~8 x 25 keys, block sizes grow as
        # n / 200 — the composite-key refinement that keeps blocks
        # under the cap at ANY scale factor (noun alone blows past
        # max_block at sf0.1)
        pairs = blocked_pairs(
            p, "p_partkey",
            F.concat_ws("|", F.col("w2"), F.col("p_brand")),
            max_block=10_000)
        rules = [
            (F.col("a.w1") == F.col("b.w1"), 3, -2),
            (F.col("a.p_type") == F.col("b.p_type"), 1, -1),
            (F.abs(F.col("a.p_size") - F.col("b.p_size")) <= 2, 1, -1),
            (F.abs(F.col("a.price_d") - F.col("b.price_d")) <= 10,
             1, -1),
        ]
        scored = match_scores(pairs, "p_partkey", rules,
                              t_match=5, t_possible=0)
        return (scored.groupBy("match_class")
                .agg(F.count(F.lit(1)).alias("n_pairs"),
                     F.min("score").alias("min_score"),
                     F.max("score").alias("max_score")))
    q["dim_entity_matches"] = dim_entity_matches

    # -- survivorship (linkage.golden_records): collapse accepted
    # match pairs (score >= 2 — the sf-stable acceptance band; the
    # FS 'match' class is empty below sf0.1) into golden part records
    # via connected components + per-field rules. Oracle mirrors with
    # a recursive reachability CTE (the docs_dup_family_sizes CC
    # pattern) and window-argmax survivors.
    def dim_golden_parts(spark, sf):
        from logging_spark.operators.linkage import (blocked_pairs,
                                                     golden_records,
                                                     match_scores)
        p = _read(spark, sf, "part").select(
            "p_partkey", "p_name", "p_brand", "p_type", "p_size",
            F.split("p_name", " ").getItem(0).alias("w1"),
            F.split("p_name", " ").getItem(1).alias("w2"),
            F.floor(F.col("p_retailprice") * 10).cast("long")
            .alias("price_d"))
        pairs = blocked_pairs(
            p, "p_partkey",
            F.concat_ws("|", F.col("w2"), F.col("p_brand")),
            max_block=10_000)
        rules = [
            (F.col("a.w1") == F.col("b.w1"), 3, -2),
            (F.col("a.p_type") == F.col("b.p_type"), 1, -1),
            (F.abs(F.col("a.p_size") - F.col("b.p_size")) <= 2, 1, -1),
            (F.abs(F.col("a.price_d") - F.col("b.price_d")) <= 10,
             1, -1),
        ]
        matched = (match_scores(pairs, "p_partkey", rules,
                                t_match=5, t_possible=0)
                   .where("score >= 2").select("id_a", "id_b"))
        g = golden_records(
            p.select("p_partkey", "p_name", "p_brand", "p_size",
                     "price_d"),
            "p_partkey", matched,
            {"p_name": "longest", "p_brand": "mode",
             "p_size": "max", "price_d": "min"})
        return g.select(
            F.col("cluster_id").cast("long").alias("cluster_id"),
            "n_members", "p_name", "p_brand",
            F.col("p_size").cast("long").alias("p_size"), "price_d")
    q["dim_golden_parts"] = dim_golden_parts


def register_oracles(o):

    o["dim_revenue_share"] = """
WITH seg AS (
  SELECT c_mktsegment,
         CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT)
           AS rev_cents,
         count(*) AS n_orders
  FROM orders JOIN customer ON o_custkey = c_custkey
  GROUP BY c_mktsegment)
SELECT c_mktsegment, rev_cents, n_orders,
       CAST((rev_cents * 10000) // (sum(rev_cents) OVER ()) AS BIGINT)
         AS share_bps
FROM seg"""

    o["dim_topn_other"] = """
WITH counts AS (
  SELECT c_mktsegment, o_orderpriority, count(*) AS cnt
  FROM orders JOIN customer ON o_custkey = c_custkey
  GROUP BY 1, 2),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY c_mktsegment
                               ORDER BY cnt DESC, o_orderpriority)
              AS rn
  FROM counts)
SELECT c_mktsegment,
       CASE WHEN rn <= 2 THEN o_orderpriority ELSE 'OTHER' END
         AS priority,
       CAST(sum(cnt) AS BIGINT) AS n_orders,
       count(*) AS n_groups
FROM ranked GROUP BY 1, 2"""

    o["dim_rfm_segments"] = """
WITH per AS (SELECT o_custkey AS cust,
                    max(CAST(o_orderdate AS DATE)) AS last_d,
                    count(*) AS frequency,
                    CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT))
                         AS BIGINT) AS monetary_cents
             FROM orders GROUP BY 1),
f AS (SELECT cust,
             CAST(datediff('day', last_d, DATE '2002-01-01') AS BIGINT)
               AS recency_days,
             CAST(frequency AS BIGINT) AS frequency, monetary_cents
      FROM per)
SELECT cust, recency_days, frequency, monetary_cents,
       CAST(least(recency_days // 90, 7) AS BIGINT) AS r_bin,
       CAST(length(bin(frequency)) AS BIGINT) AS f_bin,
       CAST(length(bin(monetary_cents // 100)) AS BIGINT) AS m_bin
FROM f"""

    o["dim_join_rollup"] = """
SELECT r_name, n_name, count(*) AS n_customers,
       CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_acctbal
FROM customer JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name, n_name"""

    o["dim_entity_matches"] = """
WITH e AS (SELECT p_partkey,
                  string_split(p_name, ' ')[1] AS w1,
                  string_split(p_name, ' ')[2] || '|' || p_brand
                    AS blk_key,
                  p_type, p_size,
                  CAST(floor(p_retailprice * 10) AS BIGINT) AS price_d
           FROM part),
blk AS (SELECT * FROM e
        QUALIFY count(*) OVER (PARTITION BY blk_key) <= 10000),
pr AS (SELECT a.p_partkey AS id_a, b.p_partkey AS id_b,
              (CASE WHEN a.w1 = b.w1 THEN 3 ELSE -2 END
               + CASE WHEN a.p_type = b.p_type THEN 1 ELSE -1 END
               + CASE WHEN abs(a.p_size - b.p_size) <= 2
                      THEN 1 ELSE -1 END
               + CASE WHEN abs(a.price_d - b.price_d) <= 10
                      THEN 1 ELSE -1 END) AS score
       FROM blk a JOIN blk b
         ON a.blk_key = b.blk_key AND a.p_partkey < b.p_partkey)
SELECT CASE WHEN score >= 5 THEN 'match'
            WHEN score >= 0 THEN 'possible'
            ELSE 'non_match' END AS match_class,
       count(*) AS n_pairs,
       CAST(min(score) AS INT) AS min_score,
       CAST(max(score) AS INT) AS max_score
FROM pr GROUP BY 1"""

    _register_golden_oracle(o)


def _register_golden_oracle(o):
    o["dim_golden_parts"] = """
WITH RECURSIVE e AS (
  SELECT p_partkey, p_name, p_brand, p_size,
         string_split(p_name, ' ')[1] AS w1,
         string_split(p_name, ' ')[2] || '|' || p_brand AS blk_key,
         p_type, CAST(floor(p_retailprice * 10) AS BIGINT) AS price_d
  FROM part),
blk AS (SELECT * FROM e
        QUALIFY count(*) OVER (PARTITION BY blk_key) <= 10000),
pr AS (SELECT a.p_partkey AS id_a, b.p_partkey AS id_b
       FROM blk a JOIN blk b
         ON a.blk_key = b.blk_key AND a.p_partkey < b.p_partkey
       WHERE (CASE WHEN a.w1 = b.w1 THEN 3 ELSE -2 END
              + CASE WHEN a.p_type = b.p_type THEN 1 ELSE -1 END
              + CASE WHEN abs(a.p_size - b.p_size) <= 2
                     THEN 1 ELSE -1 END
              + CASE WHEN abs(a.price_d - b.price_d) <= 10
                     THEN 1 ELSE -1 END) >= 2),
und AS (SELECT id_a AS s, id_b AS d FROM pr
        UNION SELECT id_b, id_a FROM pr),
reach(node, r) AS (
  SELECT s, d FROM und
  UNION
  SELECT reach.node, und.d FROM reach JOIN und ON reach.r = und.s),
cl AS (SELECT node, least(node, min(r)) AS canonical_id
       FROM reach GROUP BY node),
m AS (SELECT e.*,
             CAST(coalesce(cl.canonical_id, e.p_partkey) AS BIGINT)
               AS cluster_id
      FROM e LEFT JOIN cl ON e.p_partkey = cl.node),
name_pick AS (
  SELECT cluster_id, p_name FROM m
  QUALIFY row_number() OVER (PARTITION BY cluster_id
                             ORDER BY length(p_name) DESC,
                                      p_name DESC) = 1),
brand_cnt AS (
  SELECT cluster_id, p_brand, count(*) AS n
  FROM m GROUP BY 1, 2),
brand_pick AS (
  SELECT cluster_id, p_brand FROM brand_cnt
  QUALIFY row_number() OVER (PARTITION BY cluster_id
                             ORDER BY n DESC, p_brand ASC) = 1),
agg AS (
  SELECT cluster_id, CAST(count(*) AS BIGINT) AS n_members,
         CAST(max(p_size) AS BIGINT) AS p_size,
         CAST(min(price_d) AS BIGINT) AS price_d
  FROM m GROUP BY 1)
SELECT agg.cluster_id, n_members, name_pick.p_name,
       brand_pick.p_brand, p_size, price_d
FROM agg
JOIN name_pick ON agg.cluster_id = name_pick.cluster_id
JOIN brand_pick ON agg.cluster_id = brand_pick.cluster_id"""
