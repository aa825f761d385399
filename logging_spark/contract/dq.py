"""dq family: contract queries (+ oracles) — split mechanically from the original single contract module; statement order preserved."""

from __future__ import annotations

from logging_spark.contract._fixtures import (
    F, LOOKUP_CTE, T, TOKS, _read, dq_checks, lookup_df)


def register(q):

    # -- data-quality expectations (operators/dq.py): one row per
    # check; all row-local checks share a single aggregate pass, the
    # uniqueness check shuffles keys only, the FK check is an anti
    # join against the pruned orders key. The 0.05 discount ceiling is
    # deliberately tight so n_violations is non-zero.
    def dq_lineitem_checks(spark, sf):
        li = _read(spark, sf, "lineitem")
        o = _read(spark, sf, "orders")
        return dq_checks(
            li,
            not_null=["l_orderkey", "l_quantity"],
            ranges={"l_discount": (0.0, 0.05), "l_quantity": (1.0, 50.0)},
            accepted={"l_returnflag": ["A", "N", "R"]},
            unique=[["l_orderkey", "l_linenumber"]],
            foreign_keys=[("l_orderkey", o, "o_orderkey")])
    q["dq_lineitem_checks"] = dq_lineitem_checks

    # -- k-anonymity audit: the privacy-governance twin of dq_checks.
    # Quasi-identifier combos (namespace, node_name, pod_name) whose
    # population is below k are re-identification risks; the audit
    # returns exactly those groups. One groupBy over the dimension —
    # at scale the QI rollup is map-side combined to the combo count.
    def dq_k_anonymity(spark, sf):
        lk = lookup_df(spark, sf)
        return (lk.groupBy("namespace", "node_name", "pod_name")
                .agg(F.count(F.lit(1)).alias("n"))
                .where(F.col("n") < 5))
    q["dq_k_anonymity"] = dq_k_anonymity

    # -- JSON validity audit: schema-on-read governance for the raw
    # props payload — parse rate, required-key presence, type
    # conformance, rolled up per event type. from_json is the
    # codegen'd validator; corrupt payloads surface as NULL structs
    # (the JSONL dead-letter stance, measured not assumed).
    def dq_json_validity(spark, sf):
        # corrupt 1/7 of payloads (truncate -> malformed) and strip k
        # from 1/11 (valid, key missing) so BOTH failure modes are
        # exercised — never trust the fixture to cover the twins
        ev = _read(spark, sf, "events")
        props = (F.when(F.col("event_id") % 7 == 0,
                        F.substring("props", 1,
                                    F.length("props") - 1))
                 .when(F.col("event_id") % 11 == 0, F.lit('{"x": 1}'))
                 .otherwise(F.col("props")))
        # PERMISSIVE from_json NEVER yields a NULL struct (malformed
        # input -> all-NULL fields, measured) — parse success is only
        # observable via the corrupt-record column in the schema
        parsed = ev.withColumn(
            "_j", F.from_json(props, "k int, _bad string",
                              {"columnNameOfCorruptRecord": "_bad"}))
        return (parsed.groupBy("event_type").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("_j._bad").isNull().cast("long")).cast("long")
            .alias("n_parsed"),
            F.sum(F.col("_j.k").isNotNull().cast("long")).cast("long")
            .alias("n_with_k")))
    q["dq_json_validity"] = dq_json_validity

    # -- FK join-cardinality audit (operators/dq.fk_cardinality):
    # parent-side multiplicity buckets + orphan-child count for
    # recent orders -> customer. Time-restricted child side so the
    # '0' bucket is non-empty on this dense synthetic data (the
    # dormant-customer census).
    def dq_join_cardinality(spark, sf):
        from logging_spark.operators.dq import fk_cardinality
        recent = (_read(spark, sf, "orders")
                  .where("o_orderdate >= DATE '2001-01-01'"))
        return fk_cardinality(recent, _read(spark, sf, "customer"),
                              "o_custkey", "c_custkey")
    q["dq_join_cardinality"] = dq_join_cardinality

    # -- inter-annotator agreement (Cohen's kappa, operators/dq.py):
    # label-quality audit between two deterministic "annotators"
    # (char-count band vs token-count band). Integer-exact numerator/
    # denominator split; one shuffle over <=25 confusion cells.
    def dq_label_kappa(spark, sf):
        from logging_spark.operators.dq import cohen_kappa
        d = _read(spark, sf, "documents")
        lab = d.select(
            F.expr("least(4L, n_chars DIV 250)").alias("ann_a"),
            F.expr("least(4L, (CAST(size(CASE WHEN length(trim(text)) = 0 "
                   "THEN array() ELSE split(trim(text), '\\\\s+') END) "
                   "AS BIGINT) * 6) DIV 250)").alias("ann_b"))
        return cohen_kappa(lab, "ann_a", "ann_b")
    q["dq_label_kappa"] = dq_label_kappa

    # -- keep-rate ranking with uncertainty (dq.wilson_lower_bound):
    # Wilson lower bound per source — deterministic-double arithmetic
    # (exact integer inputs, IEEE-identical ops, one floor at the
    # end), the same portability class as the dyadic percentile
    # interpolation. Oracle spells the formula with identical
    # parenthesization.
    def dq_wilson_keep(spark, sf):
        from logging_spark.operators.dq import wilson_lower_bound
        d = _read(spark, sf, "documents")
        flags = d.select("source",
                         (F.col("n_chars") >= 300).cast("long")
                         .alias("keep"))
        return wilson_lower_bound(flags, ["source"], "keep")
    q["dq_wilson_keep"] = dq_wilson_keep

    # -- l-diversity audit: the sensitive-attribute sibling of
    # dq_k_anonymity. A QI group whose members all share one (or two)
    # service identities leaks the service even when the group is
    # k-large; report groups with < 3 distinct sensitive values.
    def dq_l_diversity(spark, sf):
        lk = lookup_df(spark, sf)
        return (lk.groupBy("namespace", "node_name")
                .agg(F.count(F.lit(1)).alias("n_rows"),
                     F.countDistinct("service_name").cast("long")
                     .alias("n_sensitive"))
                .where(F.col("n_sensitive") < 3))
    q["dq_l_diversity"] = dq_l_diversity

    # -- model-eval family (operators/mleval.py): the audits a model-
    # gated corpus needs at 100 TB, each an exact-integer aggregate.
    # Exact tie-aware ROC AUC per source: does the (deterministic ppm)
    # score rank en docs above the rest? Pair counting happens on
    # score-COLLAPSED rows (one per distinct score per group), so the
    # wide stages are bounded by score cardinality, not corpus size.
    def dq_score_auc(spark, sf):
        from logging_spark.operators.mleval import auc_exact
        d = _read(spark, sf, "documents")
        lab = d.select("source",
                       (F.col("n_chars") * 1000).cast("long")
                       .alias("score_ppm"),
                       (F.col("lang") == "en").cast("long").alias("y"))
        return auc_exact(lab, "score_ppm", "y", by=["source"])
    q["dq_score_auc"] = dq_score_auc

    # -- reliability bins: 10-bin calibration report for a ppm score
    # vs a deterministic pseudo-label; one grouped agg, all integer.
    def dq_calibration(spark, sf):
        from logging_spark.operators.mleval import calibration_bins
        d = _read(spark, sf, "documents")
        lab = d.select((F.col("n_chars") * 1000).cast("long")
                       .alias("score_ppm"),
                       (F.col("doc_id") % 7 < 3).cast("long").alias("y"))
        return calibration_bins(lab, "score_ppm", "y", n_bins=10)
    q["dq_calibration"] = dq_calibration

    # -- expected calibration error: ONE more aggregate over the bins
    # output (never a second corpus pass).
    def dq_calibration_ece(spark, sf):
        from logging_spark.operators.mleval import calibration_bins, ece
        d = _read(spark, sf, "documents")
        lab = d.select((F.col("n_chars") * 1000).cast("long")
                       .alias("score_ppm"),
                       (F.col("doc_id") % 7 < 3).cast("long").alias("y"))
        return ece(calibration_bins(lab, "score_ppm", "y", n_bins=10))
    q["dq_calibration_ece"] = dq_calibration_ece

    # -- Brier score per source: mean squared error of the clipped
    # ppm probability vs the pseudo-label. BIGINT-exact to ~9.2e6
    # rows/group (decimal(38,0) path pytest-covered past that).
    def dq_brier(spark, sf):
        from logging_spark.operators.mleval import brier_score
        d = _read(spark, sf, "documents")
        lab = d.select("source",
                       F.least(F.lit(1000000),
                               (F.col("n_chars") * 1800)).cast("long")
                       .alias("score_ppm"),
                       (F.col("doc_id") % 7 < 3).cast("long").alias("y"))
        return brier_score(lab, "score_ppm", "y", by=["source"])
    q["dq_brier"] = dq_brier

    # -- Fleiss' kappa (dq.fleiss_kappa): multi-rater agreement over
    # long-form ratings; three deterministic "raters" each band every
    # doc into {0,1,2}. Categories are PRE-PROJECTED below the
    # explode (Generate re-evaluates raw select exprs per exploded
    # row — CLAUDE.md third-session note).
    def dq_fleiss_kappa(spark, sf):
        from logging_spark.operators.dq import fleiss_kappa
        d = _read(spark, sf, "documents")
        toksz = ("CAST(size(CASE WHEN length(trim(text)) = 0 "
                 "THEN array() ELSE split(trim(text), '\\\\s+') END) "
                 "AS BIGINT)")
        lab = d.select(
            "doc_id",
            F.expr("least(2L, n_chars DIV 200)").alias("c1"),
            F.expr(f"least(2L, ({toksz} * 6) DIV 400)").alias("c2"),
            F.expr("least(2L, (n_chars + doc_id % 97) DIV 220)")
            .alias("c3"))
        long_ = lab.select("doc_id", F.explode(
            F.array("c1", "c2", "c3")).alias("cat"))
        return fleiss_kappa(long_, "doc_id", "cat")
    q["dq_fleiss_kappa"] = dq_fleiss_kappa

    # -- Benford first-digit audit (dq.benford_audit) over lineitem
    # money cents: expectations are baked log10 ppm constants, so no
    # float log runs at query time in either engine.
    def dq_benford(spark, sf):
        from logging_spark.operators.dq import benford_audit
        li = _read(spark, sf, "lineitem")
        cents = li.select(
            F.expr("CAST(round(l_extendedprice * 100) AS BIGINT)")
            .alias("cents"))
        return benford_audit(cents, "cents")
    q["dq_benford"] = dq_benford

    # -- freshness audit (dq.freshness): staleness per event_type at
    # a FIXED as_of instant (parameter, never wall-clock now()).
    def dq_freshness(spark, sf):
        from logging_spark.operators.dq import freshness
        ev = _read(spark, sf, "events")
        return freshness(ev, "ts", ["event_type"],
                         as_of="2024-02-01T00:00:00")
    q["dq_freshness"] = dq_freshness

    # -- threshold-coverage audit: pick the global p75 score edge
    # (exact dyadic interpolation) and report per-source keep rates
    # against the global rate — the conformal-style "does the gate
    # cover every stratum equally?" check.
    def dq_threshold_coverage(spark, sf):
        d = _read(spark, sf, "documents")
        scored = d.select("source",
                          (F.col("n_chars") * 1000).cast("long")
                          .alias("score"))
        edge = scored.agg(
            F.expr("percentile(CAST(score AS DOUBLE), 0.75)")
            .alias("thr"))
        per = (scored.crossJoin(F.broadcast(edge))
               .groupBy("source")
               .agg(F.count(F.lit(1)).cast("long").alias("n_docs"),
                    F.sum((F.expr("CAST(score AS DOUBLE)") >=
                           F.col("thr")).cast("long")).cast("long")
                    .alias("n_keep")))
        tot = per.agg(F.sum("n_docs").cast("long").alias("tn"),
                      F.sum("n_keep").cast("long").alias("tk"))
        return (per.crossJoin(F.broadcast(tot))
                .select("source", "n_docs", "n_keep",
                        F.expr("(n_keep * 1000000) DIV n_docs")
                        .cast("long").alias("keep_ppm"),
                        F.expr("(n_keep * 1000000) DIV n_docs - "
                               "(tk * 1000000) DIV tn").cast("long")
                        .alias("delta_vs_global_ppm")))
    q["dq_threshold_coverage"] = dq_threshold_coverage

    # -- monotone calibration map (operators/mleval.py isotonic_fit):
    # isotonic regression over the reliability bins via the exact
    # minimax formula in x1e6 fixed point (floor commutes with
    # min/max, so no PAVA iteration and no engine divergence). The
    # O(n^3) interval expansion runs on the 10 COLLAPSED bins.
    def dq_isotonic(spark, sf):
        from logging_spark.operators.mleval import (calibration_bins,
                                                    isotonic_fit)
        d = _read(spark, sf, "documents")
        lab = d.select((F.col("n_chars") * 1000).cast("long")
                       .alias("score_ppm"),
                       (F.col("doc_id") % 7 < 3).cast("long").alias("y"))
        bins = calibration_bins(lab, "score_ppm", "y", n_bins=10)
        return isotonic_fit(bins, "bin", "n", "n_pos").select(
            "bin", "n", "n_pos", "acc_ppm", "fit_x1e6")
    q["dq_isotonic"] = dq_isotonic

    # -- Simpson's-paradox audit: sign of the length-vocabulary
    # association per source vs pooled (exact integer covariance
    # numerators; flip would mean the pooled trend lies).
    def dq_simpson(spark, sf):
        from logging_spark.functions import text as T
        from logging_spark.operators.dq import simpson_flip
        d = _read(spark, sf, "documents").select(
            "source", F.col("n_chars").cast("long").alias("len"),
            T.distinct_token_count("text").cast("long").alias("vocab"))
        return simpson_flip(d, "source", "len", "vocab")
    q["dq_simpson"] = dq_simpson

    # -- exact PR curve: one point per distinct score threshold from
    # a descending prefix sum over the score-collapsed table (the
    # auc_exact shape); f1 is one DIV.
    def dq_pr_curve(spark, sf):
        from logging_spark.operators.mleval import pr_curve
        d = _read(spark, sf, "documents")
        lab = d.select((F.col("n_chars") * 1000).cast("long")
                       .alias("score_ppm"),
                       (F.col("doc_id") % 7 < 3).cast("long").alias("y"))
        return pr_curve(lab, "score_ppm", "y")
    q["dq_pr_curve"] = dq_pr_curve

    # -- retrieval ranking metrics (operators/ranking.py): nDCG@10 /
    # MRR / recall@10 per source over a deterministic ranked list
    # (n_chars-desc rank, doc_id-derived graded relevance). The DCG
    # weights are floor(1e9/log2(i+1)) BIGINT constants baked in
    # Python and shared verbatim with the oracle — no float log in
    # either engine; everything else is commutative integer sums.
    def _ranked_docs(spark, sf):
        from pyspark.sql import Window
        d = _read(spark, sf, "documents")
        w = Window.partitionBy("source").orderBy(
            F.col("n_chars").desc(), F.col("doc_id"))
        return (d.select("source", "doc_id",
                         F.row_number().over(w).alias("rank"))
                .where("rank <= 25")
                .withColumn("gain", F.expr(
                    "CAST(shiftleft(1, CAST(doc_id % 4 AS INT)) "
                    "AS BIGINT) - 1"))
                .withColumn("rel", F.expr(
                    "CAST(doc_id % 7 = 0 AS INT)")))

    def dq_retrieval_ndcg(spark, sf):
        from logging_spark.operators.ranking import ndcg_at_k
        return ndcg_at_k(_ranked_docs(spark, sf), "source", "rank",
                         "gain", k=10)
    q["dq_retrieval_ndcg"] = dq_retrieval_ndcg

    def dq_retrieval_mrr(spark, sf):
        from logging_spark.operators.ranking import mrr
        return mrr(_ranked_docs(spark, sf), "source", "rank", "rel")
    q["dq_retrieval_mrr"] = dq_retrieval_mrr

    def dq_retrieval_recall(spark, sf):
        from logging_spark.operators.ranking import recall_at_k
        return recall_at_k(_ranked_docs(spark, sf), "source", "rank",
                           "rel", k=10)
    q["dq_retrieval_recall"] = dq_retrieval_recall

    # -- split-conformal coverage (mleval.conformal_threshold/_audit):
    # distribution-free prediction-set calibration — q_hat is the
    # ceil((n+1)(1-alpha))-th smallest calibration score (an exact
    # integer order statistic via the collapsed-value prefix sum; no
    # global row sort) and the audit checks held-out coverage against
    # the 90% target. Splits by doc_id parity, scored per source.
    def dq_conformal_coverage(spark, sf):
        from logging_spark.operators.mleval import conformal_audit
        d = _read(spark, sf, "documents").select(
            "source", "doc_id",
            F.expr("CAST(n_chars * 1000 + doc_id % 997 AS BIGINT)")
            .alias("score"))
        cal = d.where("doc_id % 2 = 0")
        tst = d.where("doc_id % 2 = 1")
        return conformal_audit(cal, tst, "score", ["source"],
                               alpha_ppm=100_000)
    q["dq_conformal_coverage"] = dq_conformal_coverage


def register_oracles(o):

    o["dq_lineitem_checks"] = """
WITH raw AS (
  SELECT 'not_null:l_orderkey' AS check_name, count(*) AS n_checked,
         CAST(sum(CASE WHEN l_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS n_violations
  FROM lineitem
  UNION ALL
  SELECT 'not_null:l_quantity', count(*),
         CAST(sum(CASE WHEN l_quantity IS NULL THEN 1 ELSE 0 END) AS BIGINT)
  FROM lineitem
  UNION ALL
  SELECT 'range:l_discount', count(*),
         CAST(sum(CASE WHEN l_discount IS NOT NULL
                        AND (l_discount < 0.0 OR l_discount > 0.05)
                  THEN 1 ELSE 0 END) AS BIGINT)
  FROM lineitem
  UNION ALL
  SELECT 'range:l_quantity', count(*),
         CAST(sum(CASE WHEN l_quantity IS NOT NULL
                        AND (l_quantity < 1.0 OR l_quantity > 50.0)
                  THEN 1 ELSE 0 END) AS BIGINT)
  FROM lineitem
  UNION ALL
  SELECT 'accepted:l_returnflag', count(*),
         CAST(sum(CASE WHEN l_returnflag IS NOT NULL
                        AND l_returnflag NOT IN ('A', 'N', 'R')
                  THEN 1 ELSE 0 END) AS BIGINT)
  FROM lineitem
  UNION ALL
  SELECT 'unique:l_orderkey,l_linenumber',
         CAST(sum(c) AS BIGINT), CAST(sum(c - 1) AS BIGINT)
  FROM (SELECT count(*) AS c FROM lineitem
        GROUP BY l_orderkey, l_linenumber)
  UNION ALL
  SELECT 'fk:l_orderkey->o_orderkey',
         count(*),
         CAST(sum(CASE WHEN NOT EXISTS
                       (SELECT 1 FROM orders WHERE o_orderkey = l_orderkey)
                  THEN 1 ELSE 0 END) AS BIGINT)
  FROM lineitem WHERE l_orderkey IS NOT NULL)
SELECT check_name, n_checked, n_violations,
       CAST(CASE WHEN n_violations = 0 THEN 1 ELSE 0 END AS INT) AS passed
FROM raw"""

    o["dq_k_anonymity"] = "WITH " + LOOKUP_CTE + """
SELECT namespace, node_name, pod_name, count(*) AS n
FROM lookup GROUP BY 1, 2, 3 HAVING count(*) < 5"""

    o["dq_json_validity"] = """
WITH aug AS (
  SELECT event_type,
         CASE WHEN event_id % 7 = 0
                THEN substr(props, 1, length(props) - 1)
              WHEN event_id % 11 = 0 THEN '{"x": 1}'
              ELSE props END AS props
  FROM events)
SELECT event_type, count(*) AS n,
       CAST(sum(CASE WHEN json_valid(props) THEN 1 ELSE 0 END)
            AS BIGINT) AS n_parsed,
       CAST(sum(CASE WHEN json_valid(props)
                     AND json_extract(props, '$.k') IS NOT NULL
                     AND json_type(json_extract(props, '$.k'))
                         IN ('INTEGER', 'UBIGINT', 'BIGINT')
                THEN 1 ELSE 0 END) AS BIGINT) AS n_with_k
FROM aug GROUP BY 1"""

    o["dq_join_cardinality"] = """
WITH recent AS (SELECT * FROM orders
                WHERE o_orderdate >= DATE '2001-01-01'),
cnt AS (SELECT o_custkey AS k, count(*) AS n FROM recent GROUP BY 1),
per AS (SELECT coalesce(cnt.n, 0) AS n
        FROM customer LEFT JOIN cnt ON c_custkey = cnt.k),
b AS (SELECT CASE WHEN n = 0 THEN '0' WHEN n = 1 THEN '1'
                  WHEN n <= 10 THEN '2-10' ELSE '>10' END AS bucket,
             count(*) AS n
      FROM per GROUP BY 1),
orph AS (SELECT 'orphan_child_rows' AS bucket,
                CAST(coalesce(sum(n), 0) AS BIGINT) AS n
         FROM cnt WHERE k NOT IN (SELECT c_custkey FROM customer))
SELECT bucket, n FROM b UNION ALL SELECT bucket, n FROM orph"""

    o["dq_label_kappa"] = r"""
WITH lab AS (
  SELECT least(4, n_chars // 250) AS a,
         least(4, (CAST(len(CASE WHEN trim(text) = '' THEN []
                   ELSE string_split_regex(trim(text), '\s+') END)
                   AS BIGINT) * 6) // 250) AS b
  FROM documents),
cells AS (SELECT a, b, CAST(count(*) AS BIGINT) AS n FROM lab GROUP BY 1, 2),
rows_ AS (SELECT a, CAST(sum(n) AS BIGINT) AS ra FROM cells GROUP BY 1),
cols_ AS (SELECT b, CAST(sum(n) AS BIGINT) AS cb FROM cells GROUP BY 1),
pe AS (SELECT CAST(coalesce(sum(ra * cb), 0) AS BIGINT) AS pe_num
       FROM rows_ JOIN cols_ ON rows_.a = cols_.b),
tot AS (SELECT CAST(coalesce(sum(n), 0) AS BIGINT) AS n,
               CAST(coalesce(sum(CASE WHEN a = b THEN n END), 0) AS BIGINT)
                 AS n_agree
        FROM cells)
SELECT n, n_agree, pe_num,
       CAST(CASE WHEN n * n - pe_num = 0 THEN 1000000
            ELSE ((n * n_agree - pe_num) * 1000000) // (n * n - pe_num)
            END AS BIGINT) AS kappa_x1e6
FROM tot, pe"""

    _z, _z2 = 1.96, 1.96 * 1.96
    o["dq_wilson_keep"] = f"""
WITH agg AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n,
         CAST(coalesce(sum(CASE WHEN n_chars >= 300 THEN 1 ELSE 0 END),
                       0) AS BIGINT) AS k
  FROM documents GROUP BY 1)
SELECT source, n, k,
       CAST(floor(1000000 * (
         (CAST(k AS DOUBLE) / CAST(n AS DOUBLE) + {_z2} /
          (2.0 * CAST(n AS DOUBLE))
          - {_z} * sqrt((CAST(k AS DOUBLE) / CAST(n AS DOUBLE) *
          (1.0 - CAST(k AS DOUBLE) / CAST(n AS DOUBLE)) + {_z2} /
          (4.0 * CAST(n AS DOUBLE))) / CAST(n AS DOUBLE)))
         / (1.0 + {_z2} / CAST(n AS DOUBLE)))) AS BIGINT)
         AS wilson_lb_x1e6
FROM agg"""

    o["dq_l_diversity"] = "WITH " + LOOKUP_CTE + """
SELECT namespace, node_name, count(*) AS n_rows,
       CAST(count(DISTINCT service_name) AS BIGINT) AS n_sensitive
FROM lookup GROUP BY 1, 2
HAVING count(DISTINCT service_name) < 3"""

    o["dq_score_auc"] = """
WITH lab AS (
  SELECT source, CAST(n_chars * 1000 AS BIGINT) AS s,
         CAST(CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS BIGINT) AS y
  FROM documents),
per AS (SELECT source, s, CAST(sum(y) AS BIGINT) AS p,
               CAST(sum(1 - y) AS BIGINT) AS q
        FROM lab GROUP BY 1, 2),
walked AS (
  SELECT source, p, q,
         CAST(sum(q) OVER (PARTITION BY source ORDER BY s
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - q
           AS BIGINT) AS cq
  FROM per),
agg AS (SELECT source,
               CAST(sum(p * cq) AS BIGINT) AS concordant,
               CAST(sum(p * q) AS BIGINT) AS tied,
               CAST(sum(p) AS BIGINT) AS n_pos,
               CAST(sum(q) AS BIGINT) AS n_neg
        FROM walked GROUP BY 1)
SELECT source, n_pos, n_neg, concordant, tied,
       CAST(CASE WHEN n_pos = 0 OR n_neg = 0 THEN -1
            ELSE ((2 * concordant + tied) * 1000000)
                 // (2 * n_pos * n_neg) END AS BIGINT) AS auc_x1e6
FROM agg"""

    o["dq_calibration"] = """
WITH lab AS (
  SELECT CAST(n_chars * 1000 AS BIGINT) AS score_ppm,
         CAST(CASE WHEN doc_id % 7 < 3 THEN 1 ELSE 0 END AS BIGINT) AS y
  FROM documents),
b AS (SELECT least(9, (score_ppm * 10) // 1000000) AS bin, score_ppm, y
      FROM lab)
SELECT CAST(bin AS BIGINT) AS bin, CAST(count(*) AS BIGINT) AS n,
       CAST(sum(y) AS BIGINT) AS n_pos,
       CAST(CAST(sum(score_ppm) AS BIGINT)
            // CAST(count(*) AS BIGINT) AS BIGINT) AS conf_ppm,
       CAST((CAST(sum(y) AS BIGINT) * 1000000)
            // CAST(count(*) AS BIGINT) AS BIGINT) AS acc_ppm,
       CAST((CAST(sum(y) AS BIGINT) * 1000000)
            // CAST(count(*) AS BIGINT)
            - CAST(sum(score_ppm) AS BIGINT)
            // CAST(count(*) AS BIGINT) AS BIGINT) AS gap_ppm
FROM b GROUP BY 1"""

    o["dq_calibration_ece"] = """
WITH lab AS (
  SELECT CAST(n_chars * 1000 AS BIGINT) AS score_ppm,
         CAST(CASE WHEN doc_id % 7 < 3 THEN 1 ELSE 0 END AS BIGINT) AS y
  FROM documents),
b AS (SELECT least(9, (score_ppm * 10) // 1000000) AS bin, score_ppm, y
      FROM lab),
bins AS (
  SELECT bin, CAST(count(*) AS BIGINT) AS n,
         CAST((CAST(sum(y) AS BIGINT) * 1000000)
              // CAST(count(*) AS BIGINT)
              - CAST(sum(score_ppm) AS BIGINT)
              // CAST(count(*) AS BIGINT) AS BIGINT) AS gap_ppm
  FROM b GROUP BY 1)
SELECT CAST(sum(n) AS BIGINT) AS n_total,
       CAST(CAST(sum(n * abs(gap_ppm)) AS BIGINT)
            // CAST(sum(n) AS BIGINT) AS BIGINT) AS ece_x1e6
FROM bins"""

    o["dq_brier"] = """
WITH lab AS (
  SELECT source,
         least(1000000, CAST(n_chars * 1800 AS BIGINT)) AS score_ppm,
         CAST(CASE WHEN doc_id % 7 < 3 THEN 1 ELSE 0 END AS BIGINT) AS y
  FROM documents)
SELECT source, CAST(count(*) AS BIGINT) AS n,
       CAST(CAST(sum((score_ppm - y * 1000000)
                     * (score_ppm - y * 1000000)) AS BIGINT)
            // (CAST(count(*) AS BIGINT) * 1000000) AS BIGINT)
         AS brier_x1e6
FROM lab GROUP BY 1"""

    o["dq_fleiss_kappa"] = r"""
WITH lab AS (
  SELECT doc_id,
         least(2, n_chars // 200) AS c1,
         least(2, (CAST(len(CASE WHEN trim(text) = '' THEN []
                   ELSE string_split_regex(trim(text), '\s+') END)
                   AS BIGINT) * 6) // 400) AS c2,
         least(2, (n_chars + doc_id % 97) // 220) AS c3
  FROM documents),
long_ AS (SELECT doc_id, u.cat
          FROM lab, unnest([c1, c2, c3]) AS u(cat)),
cells AS (SELECT doc_id AS s, cat,
                 CAST(count(*) AS BIGINT) AS n
          FROM long_ GROUP BY 1, 2),
per_subj AS (SELECT s, CAST(sum(n * n) AS BIGINT) AS sq,
                    CAST(sum(n) AS BIGINT) AS r
             FROM cells GROUP BY 1),
subj AS (SELECT CAST(count(*) AS BIGINT) AS n_subjects,
                CAST(sum(sq) AS BIGINT) AS a,
                CAST(min(r) AS BIGINT) AS r_min,
                CAST(max(r) AS BIGINT) AS n_raters
         FROM per_subj),
marg AS (SELECT CAST(sum(n) AS BIGINT) AS cj FROM cells GROUP BY cat),
cat_ AS (SELECT CAST(count(*) AS BIGINT) AS n_categories,
                CAST(sum(cj * cj) AS BIGINT) AS c
         FROM marg)
SELECT n_subjects, n_raters, r_min, n_categories,
       CAST(((a - n_subjects * n_raters) * 1000000)
            // (n_subjects * n_raters * (n_raters - 1)) AS BIGINT)
         AS p_bar_x1e6,
       CAST((c * 1000000)
            // (n_subjects * n_raters * n_subjects * n_raters)
            AS BIGINT) AS p_e_x1e6,
       CAST(CASE WHEN (n_raters - 1) *
                 (n_subjects * n_raters * n_subjects * n_raters - c)
                 = 0 THEN 1000000
            ELSE (((a - n_subjects * n_raters) * n_subjects * n_raters
                   - c * (n_raters - 1)) * 1000000)
                 // ((n_raters - 1) *
                     (n_subjects * n_raters * n_subjects * n_raters
                      - c)) END AS BIGINT) AS kappa_x1e6
FROM subj, cat_"""

    o["dq_benford"] = """
WITH v AS (SELECT CAST(round(l_extendedprice * 100) AS BIGINT) AS cents
           FROM lineitem),
d AS (SELECT CAST(substring(CAST(cents AS VARCHAR), 1, 1) AS BIGINT)
        AS digit
      FROM v WHERE cents > 0),
cnt AS (SELECT digit, CAST(count(*) AS BIGINT) AS n FROM d GROUP BY 1),
tot AS (SELECT CAST(sum(n) AS BIGINT) AS t FROM cnt),
exp_ AS (SELECT [301029, 176091, 124938, 96910, 79181,
                 66946, 57991, 51152, 45757] AS e)
SELECT digit, n,
       CAST((n * 1000000) // t AS BIGINT) AS share_ppm,
       CAST(e[CAST(digit AS INT)] AS BIGINT) AS expected_ppm,
       CAST((n * 1000000) // t - e[CAST(digit AS INT)] AS BIGINT)
         AS dev_ppm
FROM cnt, tot, exp_"""

    o["dq_freshness"] = """
SELECT event_type, CAST(count(*) AS BIGINT) AS n_rows,
       CAST(max(epoch_us(ts)) AS BIGINT) AS max_us,
       CAST((epoch_us(TIMESTAMP '2024-02-01 00:00:00')
             - CAST(max(epoch_us(ts)) AS BIGINT)) // 1000000
            AS BIGINT) AS staleness_s
FROM events GROUP BY 1"""

    o["dq_threshold_coverage"] = """
WITH scored AS (SELECT source, CAST(n_chars * 1000 AS BIGINT) AS score
                FROM documents),
edge AS (SELECT quantile_cont(CAST(score AS DOUBLE), 0.75) AS thr
         FROM scored),
per AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(CASE WHEN CAST(score AS DOUBLE) >= thr
                        THEN 1 ELSE 0 END) AS BIGINT) AS n_keep
        FROM scored, edge GROUP BY 1),
tot AS (SELECT CAST(sum(n_docs) AS BIGINT) AS tn,
               CAST(sum(n_keep) AS BIGINT) AS tk FROM per)
SELECT source, n_docs, n_keep,
       CAST((n_keep * 1000000) // n_docs AS BIGINT) AS keep_ppm,
       CAST((n_keep * 1000000) // n_docs - (tk * 1000000) // tn
            AS BIGINT) AS delta_vs_global_ppm
FROM per, tot"""

    # isotonic minimax with the identical fixed-point floor order
    o["dq_isotonic"] = """
WITH lab AS (
  SELECT least(CAST(9 AS BIGINT),
               (CAST(n_chars * 1000 AS BIGINT) * 10) // 1000000)
           AS bin,
         CAST(doc_id % 7 < 3 AS BIGINT) AS y
  FROM documents),
bins AS MATERIALIZED (
  SELECT bin, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(y) AS BIGINT) AS npos
  FROM lab GROUP BY 1),
cum AS MATERIALIZED (
  SELECT bin, n, npos,
         CAST(sum(n) OVER (ORDER BY bin) AS BIGINT) AS cw,
         CAST(sum(npos) OVER (ORDER BY bin) AS BIGINT) AS cs
  FROM bins),
iv AS (
  SELECT j.bin AS ji, k.bin AS ki,
         ((k.cs - (j.cs - j.npos)) * 1000000)
           // (k.cw - (j.cw - j.n)) AS a
  FROM cum j JOIN cum k ON j.bin <= k.bin),
mn AS (
  SELECT b.bin AS i, iv.ji, min(a) AS m
  FROM iv JOIN cum b ON iv.ji <= b.bin AND b.bin <= iv.ki
  GROUP BY 1, 2),
f AS (SELECT i AS bin, CAST(max(m) AS BIGINT) AS fit_x1e6
      FROM mn GROUP BY 1)
SELECT b.bin, b.n, b.npos AS n_pos,
       (b.npos * 1000000) // b.n AS acc_ppm, f.fit_x1e6
FROM bins b JOIN f USING (bin)"""

    o["dq_simpson"] = f"""
WITH toks AS (SELECT doc_id, source,
                     CAST(n_chars AS BIGINT) AS len,
                     {TOKS} AS toks
              FROM documents),
d AS (SELECT source, len,
             CAST(len(list_distinct(toks)) AS BIGINT) AS vocab
      FROM toks),
per AS MATERIALIZED (
  SELECT source AS g, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(len) AS BIGINT) AS sx,
         CAST(sum(vocab) AS BIGINT) AS sy,
         CAST(sum(len * vocab) AS BIGINT) AS sxy
  FROM d GROUP BY 1),
pooled AS (
  SELECT CAST(sum(n) * sum(sxy) - sum(sx) * sum(sy) AS BIGINT)
           AS pooled_cov_num
  FROM per)
SELECT g AS source, n,
       CAST(n * sxy - sx * sy AS BIGINT) AS cov_num,
       pooled_cov_num,
       CAST(sign(n * sxy - sx * sy) * sign(pooled_cov_num) < 0
            AS INT) AS flip
FROM per, pooled"""

    o["dq_pr_curve"] = """
WITH lab AS (
  SELECT CAST(n_chars * 1000 AS BIGINT) AS t,
         CAST(doc_id % 7 < 3 AS BIGINT) AS y
  FROM documents),
s AS MATERIALIZED (
  SELECT t, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(y) AS BIGINT) AS pos
  FROM lab GROUP BY 1),
tot AS (SELECT CAST(sum(pos) AS BIGINT) AS p_all FROM s),
cum AS (
  SELECT t, p_all,
         CAST(sum(pos) OVER (ORDER BY t DESC) AS BIGINT) AS tp,
         CAST(sum(n) OVER (ORDER BY t DESC) AS BIGINT)
           - CAST(sum(pos) OVER (ORDER BY t DESC) AS BIGINT) AS fp
  FROM s, tot)
SELECT t AS threshold_ppm, tp, fp, p_all - tp AS fn,
       (tp * 1000000) // (tp + fp) AS precision_ppm,
       (tp * 1000000) // greatest(p_all, 1) AS recall_ppm,
       (2 * tp * 1000000) // greatest(2 * tp + fp + (p_all - tp), 1)
         AS f1_ppm
FROM cum"""

    _register_ranking_oracles(o)


def _register_ranking_oracles(o):
    from logging_spark.operators.ranking import dcg_weights_x1e9

    w9 = dcg_weights_x1e9(10)
    cases = " ".join(f"WHEN {i + 1} THEN {w}" for i, w in enumerate(w9))
    ranked = """
ranked AS (
  SELECT source AS query, doc_id,
         row_number() OVER (PARTITION BY source
                            ORDER BY n_chars DESC, doc_id) AS rk
  FROM documents),
g AS (SELECT query, rk,
             CAST((1 << CAST(doc_id % 4 AS INT)) - 1 AS BIGINT) AS gain,
             CAST(doc_id % 7 = 0 AS INT) AS rel
      FROM ranked WHERE rk <= 25)"""

    # intra-tie order in the ideal ranking is irrelevant: tied gains
    # occupy a FIXED set of positions, and sum(g * w[pos]) over that
    # set does not depend on which tied row got which position
    o["dq_retrieval_ndcg"] = f"""
WITH {ranked},
i AS (SELECT query, rk, gain,
             row_number() OVER (PARTITION BY query
                                ORDER BY gain DESC) AS irk
      FROM g),
s AS (SELECT query,
             CAST(count(*) AS BIGINT) AS n_ranked,
             CAST(sum(gain * CASE rk {cases} ELSE 0 END) AS BIGINT)
               AS dcg_x1e9,
             CAST(sum(gain * CASE irk {cases} ELSE 0 END) AS BIGINT)
               AS idcg_x1e9
      FROM i GROUP BY query)
SELECT query, n_ranked, dcg_x1e9, idcg_x1e9,
       CASE WHEN idcg_x1e9 > 0
            THEN (dcg_x1e9 * 1000000) // idcg_x1e9
            ELSE CAST(0 AS BIGINT) END AS ndcg_x1e6
FROM s"""

    o["dq_retrieval_mrr"] = f"""
WITH {ranked},
s AS (SELECT query, min(CASE WHEN rel > 0 THEN rk END) AS first_rel_rank
      FROM g GROUP BY query)
SELECT query, CAST(first_rel_rank AS BIGINT) AS first_rel_rank,
       CASE WHEN first_rel_rank IS NOT NULL
            THEN 1000000 // first_rel_rank
            ELSE CAST(0 AS BIGINT) END AS rr_x1e6
FROM s"""

    o["dq_retrieval_recall"] = f"""
WITH {ranked},
s AS (SELECT query,
             CAST(sum(CASE WHEN rel > 0 AND rk <= 10 THEN 1 ELSE 0 END)
                  AS BIGINT) AS rel_topk,
             CAST(sum(CASE WHEN rel > 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS rel_total
      FROM g GROUP BY query)
SELECT query, rel_topk, rel_total,
       (rel_topk * 1000000) // rel_total AS recall_x1e6
FROM s WHERE rel_total > 0"""

    # conformal: ceil((n+1)*(1-alpha)) via (x + 1e6 - 1) // 1e6 on ppm;
    # DuckDB's default ORDER BY window frame is RANGE, which groups
    # tied scores exactly like the collapsed-value prefix sum. A source
    # with k > n_cal keeps its row with NULL q_hat and NULL coverage,
    # as the operator's LEFT join does
    o["dq_conformal_coverage"] = """
WITH scored AS (
  SELECT source, CAST(n_chars * 1000 + doc_id % 997 AS BIGINT) AS s,
         doc_id % 2 AS half
  FROM documents),
cal AS (SELECT source, s FROM scored WHERE half = 0),
n AS (SELECT source, CAST(count(*) AS BIGINT) AS n_cal
      FROM cal GROUP BY source),
kk AS (SELECT source, n_cal,
              CAST(((n_cal + 1) * 900000 + 999999) // 1000000
                   AS BIGINT) AS k
       FROM n),
per AS (SELECT source, s, CAST(count(*) AS BIGINT) AS c
        FROM cal GROUP BY 1, 2),
cum AS (SELECT source, s,
               CAST(sum(c) OVER (PARTITION BY source ORDER BY s)
                    AS BIGINT) AS cum
        FROM per),
q AS (SELECT kk.source, kk.n_cal, kk.k,
             CAST(min(cum.s) AS BIGINT) AS q_hat
      FROM kk LEFT JOIN cum ON cum.source = kk.source AND cum.cum >= kk.k
      GROUP BY 1, 2, 3),
t AS (SELECT source, s FROM scored WHERE half = 1)
SELECT q.source, n_cal, k, q_hat,
       CAST(count(*) AS BIGINT) AS n_test,
       CAST((sum(CAST(t.s <= q_hat AS BIGINT)) * 1000000)
            // count(*) AS BIGINT) AS coverage_ppm,
       CAST(900000 AS BIGINT) AS target_ppm
FROM t JOIN q ON t.source = q.source
GROUP BY 1, 2, 3, 4"""
