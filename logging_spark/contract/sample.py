"""sample family: contract queries (+ oracles) — split mechanically from the original single contract module; statement order preserved."""

from __future__ import annotations

from logging_spark.contract._fixtures import (
    CORPUS_CTE, F, HASH_SPACE, SPLIT_WEIGHTS, TOKS, TURNS_CTE, _read,
    corpus_df, deterministic_sample, deterministic_split, domain_cap,
    global_order, global_shuffle, hash60_sql, importance_scores,
    importance_weighted_sample, mix_corpora, mix_temperature,
    split_thresholds, stratified_balance, turns_df)


def register(q):

    # -- deterministic sampling / splitting / mixing ------------------------
    # integer-exact md5 thresholds (operators/sample.py): membership is
    # a pure function of (seed, id), reproducible on any engine
    q["sample_deterministic"] = lambda spark, sf: deterministic_sample(
        corpus_df(spark, sf), 0.25, seed="bench").select("doc_id")

    q["sample_split"] = lambda spark, sf: deterministic_split(
        corpus_df(spark, sf), SPLIT_WEIGHTS, seed="bench").select(
            "doc_id", "split")

    def sample_mix(spark, sf):
        docs = _read(spark, sf, "documents").select("doc_id", "text")
        dups = docs.where(F.col("doc_id") % 10 == 0).select(
            (F.col("doc_id") + 10000).alias("doc_id"), "text")
        return mix_corpora({"web": (docs, 0.5), "replay": (dups, 0.9)},
                           seed="bench").select("doc_id", "source")
    q["sample_mix"] = sample_mix

    # per-domain cap: at most k docs per source, unbiased deterministic
    # pick (window over the domain key — one hash partition, no global
    # sort)
    q["sample_domain_cap"] = lambda spark, sf: domain_cap(
        _read(spark, sf, "documents"), domain_col="source", k=10,
        id_col="doc_id", seed="cap").select("doc_id", "source")

    # temperature-scaled source mixing (operators/sample.py
    # mix_temperature): quota ~ sqrt(source bytes) — T=0.5 rebalancing;
    # IEEE sqrt is correctly rounded so floor(sqrt) is engine-exact
    q["sample_temperature"] = lambda spark, sf: mix_temperature(
        _read(spark, sf, "documents"), source_col="source",
        size_col="n_chars", budget=10000)

    # curriculum order (operators/sample.py global_order): contiguous
    # global training rank by (difficulty ASC, deterministic hash) —
    # the windowless distributed row_number; easy docs first, shuffled
    # within a difficulty tier. Plan-tested: no single-partition
    # window (tests/test_plans.py).
    def sample_curriculum(spark, sf):
        d = _read(spark, sf, "documents").select(
            "doc_id",
            F.length(F.bin("n_chars")).cast("long")
             .alias("difficulty_bin"),
            F.md5(F.concat(F.lit("cur:"),
                           F.col("doc_id").cast("string"))).alias("_k"))
        out = global_order(d, ["difficulty_bin", "_k", "doc_id"],
                           rank_col="train_rank")
        return out.select("doc_id", "difficulty_bin", "train_rank")
    q["sample_curriculum"] = sample_curriculum

    # class balance: every lang downsampled to the SMALLEST lang's
    # count (data-derived cap, broadcast single-row min), deterministic
    # md5 pick — one window shuffle, one tiny count agg
    q["sample_stratified_balance"] = lambda spark, sf: stratified_balance(
        _read(spark, sf, "documents"), group_col="lang",
        id_col="doc_id", seed="bal").select("doc_id", "lang")

    # DSIR-style importance scores (operators/importance.py): target =
    # the src0 slice, background = the whole corpus; fixed-point
    # integer likelihood ratios so both engines agree bit-for-bit
    def sample_importance(spark, sf):
        d = _read(spark, sf, "documents")
        target = d.where(F.col("source") == "src0").select("doc_id", "text")
        return importance_scores(d.select("doc_id", "text"), target,
                                 n=2, buckets=4096, seed="dsir")
    q["sample_importance"] = sample_importance

    # the DSIR RESAMPLING step: deterministic Bernoulli keep with
    # inclusion probability ∝ importance score (integer-exact)
    def sample_importance_weighted(spark, sf):
        d = _read(spark, sf, "documents")
        target = d.where(F.col("source") == "src0").select("doc_id", "text")
        return importance_weighted_sample(
            d.select("doc_id", "text"), target, rate_ppm=250_000,
            n=2, buckets=4096, seed="dsir", sample_seed="dsir-rs")
    q["sample_importance_weighted"] = sample_importance_weighted

    # -- Kish effective sample size of the DSIR weights per source
    # (importance.ess_audit): ESS << n flags a selection dominated by
    # a few heavy documents. DECIMAL(38,0) square sums; quotients are
    # exact BIGINTs.
    def sample_ess(spark, sf):
        from logging_spark.operators.importance import ess_audit
        d = _read(spark, sf, "documents")
        target = d.where(F.col("source") == "src0")                   .select("doc_id", "text")
        scores = importance_scores(d.select("doc_id", "text"), target,
                                   n=2, buckets=4096, seed="dsir")
        lab = scores.join(d.select("doc_id", "source"), "doc_id")
        return ess_audit(lab, "score", by=["source"])
    q["sample_ess"] = sample_ess

    # reproducible global permutation: one range-partitioned sort; the
    # value check verifies the permutation KEY per doc (order itself is
    # compared order-insensitively by the driver, so the key is the
    # portable witness of the ordering)
    q["sample_global_shuffle"] = lambda spark, sf: global_shuffle(
        corpus_df(spark, sf), seed="bench").select("doc_id", "shuffle_key")

    # -- leakage-free group split: split membership decided on the
    # GROUP key (conv_id), so every turn of a conversation lands in
    # one split — the heldout-hygiene rule for multi-turn data.  The
    # audit is in-query: n_leaked counts conversations seen in >1
    # split (must be 0 by construction).
    def sample_group_split(spark, sf):
        t = turns_df(spark, sf)
        s = deterministic_split(t, {"train": 0.8, "val": 0.1, "test": 0.1},
                                seed="gs", id_col="conv_id")
        per_conv = s.groupBy("conv_id").agg(
            F.count(F.lit(1)).alias("n_turns"),
            F.count_distinct("split").alias("_nsplits"),
            F.min("split").alias("split"))
        return (per_conv.groupBy("split")
                .agg(F.count(F.lit(1)).alias("n_convs"),
                     F.sum("n_turns").alias("n_turns"),
                     F.sum((F.col("_nsplits") > 1).cast("long"))
                     .alias("n_leaked")))
    q["sample_group_split"] = sample_group_split

    # -- temperature-weighted mixture plan (alpha = 0.5): per-source
    # target shares ∝ sqrt(n) — the standard upweight-the-tail rule
    # for multi-source training mixes. sqrt is deterministic-double
    # per VALUE (exact integer in, one correctly-rounded sqrt + mul,
    # one floor); the NORMALIZATION sums the quantized BIGINT weights
    # (order-free), never raw doubles — float sums across partitions
    # are order-dependent and would break the oracle.
    def sample_temperature_mix(spark, sf):
        d = _read(spark, sf, "documents")
        per = d.groupBy("source").agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"))
        w = per.withColumn(
            "w_x1e6",
            F.expr("CAST(floor(sqrt(CAST(n_docs AS DOUBLE)) * 1000000)"
                   " AS BIGINT)"))
        tot = w.agg(F.sum("n_docs").cast("long").alias("tn"),
                    F.sum("w_x1e6").cast("long").alias("tw"))
        return (w.crossJoin(F.broadcast(tot))
                .select("source", "n_docs", "w_x1e6",
                        F.expr("(n_docs * 1000000) DIV tn")
                        .cast("long").alias("share_ppm"),
                        F.expr("(w_x1e6 * 1000000) DIV tw")
                        .cast("long").alias("target_ppm"),
                        F.expr("CASE WHEN (n_docs * 1000000) DIV tn"
                               " = 0 THEN 0 ELSE "
                               "(((w_x1e6 * 1000000) DIV tw)"
                               " * 1000000) DIV "
                               "((n_docs * 1000000) DIV tn) END")
                        .cast("long").alias("boost_x1e6")))
    q["sample_temperature_mix"] = sample_temperature_mix

    # -- Neyman-optimal allocation (operators/sample.py): split a
    # 1000-row sampling budget across sources by N_h*S_h, which
    # collapses to ONE deterministic-double sqrt per stratum
    # (N*S = sqrt(SSD)); seats distribute by largest remainder so
    # sum(alloc_n) == budget exactly.
    def sample_neyman(spark, sf):
        from logging_spark.operators.sample import neyman_allocation
        return neyman_allocation(
            _read(spark, sf, "documents"), "source", "n_chars", 1000)
    q["sample_neyman"] = sample_neyman

    # -- raking / IPF (operators/sample.py raking_weights): x1e6
    # weights that pull the corpus toward uniform lang and source
    # marginals, two unrolled adjustment rounds on the collapsed
    # (lang, source) cell table.
    def sample_raking(spark, sf):
        from logging_spark.operators.sample import raking_weights
        return raking_weights(_read(spark, sf, "documents"),
                              "lang", "source", rounds=2)
    q["sample_raking"] = sample_raking


def register_oracles(o):

    _h60 = hash60_sql("doc_id", "bench")
    o["sample_deterministic"] = f"""
WITH {CORPUS_CTE}
SELECT doc_id FROM corpus
WHERE {_h60} < {int(0.25 * HASH_SPACE)}"""

    _split_case = "CASE " + " ".join(
        f"WHEN {_h60} < {thr} THEN '{name}'"
        for name, thr in split_thresholds(SPLIT_WEIGHTS)[:-1]
    ) + f" ELSE '{list(SPLIT_WEIGHTS)[-1]}' END"
    o["sample_split"] = f"""
WITH {CORPUS_CTE}
SELECT doc_id, {_split_case} AS split FROM corpus"""

    o["sample_mix"] = f"""
SELECT doc_id, 'replay' AS source
FROM (SELECT doc_id + 10000 AS doc_id FROM documents WHERE doc_id % 10 = 0)
WHERE {hash60_sql("doc_id", "bench:replay")} < {int(0.9 * HASH_SPACE)}
UNION ALL
SELECT doc_id, 'web' AS source FROM documents
WHERE {hash60_sql("doc_id", "bench:web")} < {int(0.5 * HASH_SPACE)}"""

    o["sample_curriculum"] = """
SELECT doc_id, CAST(length(bin(n_chars)) AS BIGINT) AS difficulty_bin,
       CAST(row_number() OVER (ORDER BY length(bin(n_chars)),
            md5('cur:' || CAST(doc_id AS VARCHAR)), doc_id) - 1
            AS BIGINT) AS train_rank
FROM documents"""

    o["sample_temperature"] = """
WITH per AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
                    CAST(sum(n_chars) AS BIGINT) AS size
             FROM documents GROUP BY 1),
w AS (SELECT source, n_docs, size,
             CAST(floor(sqrt(size)) AS BIGINT) AS weight FROM per),
t AS (SELECT sum(weight) AS tw FROM w)
SELECT source, n_docs, size, weight,
       CAST((weight * 1000000) // tw AS BIGINT) AS share_ppm,
       CAST(((weight * 1000000) // tw) * 10000 // 1000000 AS BIGINT)
         AS quota
FROM w CROSS JOIN t"""

    o["sample_domain_cap"] = """
SELECT doc_id, source FROM documents
QUALIFY row_number() OVER (
  PARTITION BY source
  ORDER BY md5('cap:' || CAST(doc_id AS VARCHAR)), doc_id) <= 10"""

    o["sample_stratified_balance"] = """
WITH k AS (SELECT min(n) AS k FROM (
             SELECT count(*) AS n FROM documents GROUP BY lang))
SELECT doc_id, lang FROM documents, k
QUALIFY row_number() OVER (
  PARTITION BY lang
  ORDER BY md5('bal:' || CAST(doc_id AS VARCHAR)), doc_id) <= k.k"""

    # independent plan again: Spark joins a broadcast weight table onto
    # the gram stream; the oracle computes everything through one
    # unnested gram relation
    o["sample_importance"] = f"""
WITH t AS (SELECT doc_id, source, {TOKS} AS toks FROM documents),
g AS (SELECT doc_id, source, unnest(CASE WHEN len(toks) >= 2
          THEN list_transform(range(1, len(toks)),
                              i -> array_to_string(toks[i:i+1], ' '))
          ELSE [] END) AS gram
      FROM t),
b AS (SELECT doc_id, source,
             CAST('0x' || substr(md5('dsir:' || gram), 1, 15) AS BIGINT) % 4096 AS bk
      FROM g),
tgt AS (SELECT bk, count(*) AS tc FROM b WHERE source = 'src0' GROUP BY bk),
bg AS (SELECT bk, count(*) AS bc FROM b GROUP BY bk),
w AS (SELECT bk, (COALESCE(tc, 0) + 1) * 1000000 // (bc + 1) AS wt
      FROM bg LEFT JOIN tgt USING (bk))
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams,
       CAST(sum(wt) AS BIGINT) AS score
FROM b JOIN w USING (bk) GROUP BY doc_id"""

    o["sample_importance_weighted"] = f"""
WITH t AS (SELECT doc_id, source, {TOKS} AS toks FROM documents),
g AS (SELECT doc_id, source, unnest(CASE WHEN len(toks) >= 2
          THEN list_transform(range(1, len(toks)),
                              i -> array_to_string(toks[i:i+1], ' '))
          ELSE [] END) AS gram
      FROM t),
b AS (SELECT doc_id, source,
             CAST('0x' || substr(md5('dsir:' || gram), 1, 15) AS BIGINT) % 4096 AS bk
      FROM g),
tgt AS (SELECT bk, count(*) AS tc FROM b WHERE source = 'src0' GROUP BY bk),
bg AS (SELECT bk, count(*) AS bc FROM b GROUP BY bk),
w AS (SELECT bk, (COALESCE(tc, 0) + 1) * 1000000 // (bc + 1) AS wt
      FROM bg LEFT JOIN tgt USING (bk)),
s AS (SELECT doc_id, CAST(sum(wt) AS BIGINT) AS score
      FROM b JOIN w USING (bk) GROUP BY doc_id),
tot AS (SELECT CAST(sum(score) AS BIGINT) AS W,
               CAST(count(*) AS BIGINT) AS n FROM s)
SELECT doc_id, score
FROM s CROSS JOIN tot
WHERE (CAST('0x' || substr(md5('dsir-rs:' || CAST(doc_id AS VARCHAR)), 1, 15)
       AS BIGINT) % 1000000) * W < score * 250000 * n"""

    o["sample_global_shuffle"] = f"""
WITH {CORPUS_CTE}
SELECT doc_id, md5('bench:' || CAST(doc_id AS VARCHAR)) AS shuffle_key
FROM corpus"""

    _gs = hash60_sql("conv_id", "gs")
    _gthr = split_thresholds({"train": 0.8, "val": 0.1, "test": 0.1})
    o["sample_group_split"] = "WITH " + TURNS_CTE + f""",
s AS (
  SELECT conv_id,
         CASE WHEN {_gs} < {_gthr[0][1]} THEN 'train'
              WHEN {_gs} < {_gthr[1][1]} THEN 'val'
              ELSE 'test' END AS split
  FROM turns),
pc AS (
  SELECT conv_id, count(*) AS n_turns,
         count(DISTINCT split) AS nsplits, min(split) AS split
  FROM s GROUP BY 1)
SELECT split, count(*) AS n_convs,
       CAST(sum(n_turns) AS BIGINT) AS n_turns,
       CAST(sum(CASE WHEN nsplits > 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_leaked
FROM pc GROUP BY 1"""

    o["sample_temperature_mix"] = """
WITH per AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs
             FROM documents GROUP BY 1),
w AS (SELECT *, CAST(floor(sqrt(CAST(n_docs AS DOUBLE)) * 1000000)
                AS BIGINT) AS w_x1e6
      FROM per),
tot AS (SELECT CAST(sum(n_docs) AS BIGINT) AS tn,
               CAST(sum(w_x1e6) AS BIGINT) AS tw FROM w)
SELECT source, n_docs, w_x1e6,
       CAST((n_docs * 1000000) // tn AS BIGINT) AS share_ppm,
       CAST((w_x1e6 * 1000000) // tw AS BIGINT) AS target_ppm,
       CAST(CASE WHEN (n_docs * 1000000) // tn = 0 THEN 0
            ELSE (((w_x1e6 * 1000000) // tw) * 1000000)
                 // ((n_docs * 1000000) // tn) END AS BIGINT)
         AS boost_x1e6
FROM w, tot"""

    o["sample_neyman"] = """
WITH per AS MATERIALIZED (
  SELECT source AS stratum, CAST(count(*) AS BIGINT) AS n_rows,
         CAST(floor(sqrt(CAST(
           CAST(count(*) AS BIGINT)
             * CAST(sum(CAST(n_chars AS BIGINT)
                        * CAST(n_chars AS BIGINT)) AS BIGINT)
             - CAST(sum(n_chars) AS BIGINT)
               * CAST(sum(n_chars) AS BIGINT)
           AS DOUBLE))) AS BIGINT) AS weight
  FROM documents GROUP BY 1),
tot AS (SELECT CAST(sum(weight) AS BIGINT) AS wt FROM per),
quo AS MATERIALIZED (
  SELECT stratum, n_rows, weight,
         (1000 * weight) // greatest(wt, 1) AS base,
         (1000 * weight) % greatest(wt, 1) AS rem
  FROM per, tot),
rk AS (
  SELECT *, row_number() OVER (ORDER BY rem DESC, stratum ASC) AS rk,
         (SELECT 1000 - CAST(sum(base) AS BIGINT) FROM quo) AS leftn
  FROM quo)
SELECT stratum, n_rows, weight,
       CAST(base + CASE WHEN rk <= leftn THEN 1 ELSE 0 END AS BIGINT)
         AS alloc_n
FROM rk"""

    # raking: two unrolled IPF rounds with the same x1e6 DIV chain
    o["sample_raking"] = """
WITH cells AS MATERIALIZED (
  SELECT lang AS r, source AS c, CAST(count(*) AS BIGINT) AS n
  FROM documents GROUP BY 1, 2),
w0 AS (SELECT r, c, n, CAST(1000000 AS BIGINT) AS w FROM cells),
m1 AS (SELECT r, CAST(sum(n * w) AS BIGINT) AS m FROM w0 GROUP BY 1),
t1 AS (SELECT CAST(sum(n * w) AS BIGINT) AS t,
              CAST(count(DISTINCT r) AS BIGINT) AS k FROM w0),
w1 AS MATERIALIZED (
  SELECT w0.r, w0.c, w0.n,
         (w0.w * ((t1.t // t1.k) * 1000000 // m1.m)) // 1000000 AS w
  FROM w0, m1, t1 WHERE w0.r = m1.r),
m2 AS (SELECT c, CAST(sum(n * w) AS BIGINT) AS m FROM w1 GROUP BY 1),
t2 AS (SELECT CAST(sum(n * w) AS BIGINT) AS t,
              CAST(count(DISTINCT c) AS BIGINT) AS k FROM w1),
w2 AS (
  SELECT w1.r, w1.c, w1.n,
         (w1.w * ((t2.t // t2.k) * 1000000 // m2.m)) // 1000000 AS w
  FROM w1, m2, t2 WHERE w1.c = m2.c)
SELECT r AS lang, c AS source, n, CAST(w AS BIGINT) AS w_x1e6
FROM w2"""

    _register_ess_oracle(o)


def _register_ess_oracle(o):
    from logging_spark.contract._fixtures import TOKS

    # DuckDB sums are HUGEINT — exact for the squared products; the
    # final quotients cast back to BIGINT
    o["sample_ess"] = f"""
WITH t AS (SELECT doc_id, source, {TOKS} AS toks FROM documents),
g AS (SELECT doc_id, source, unnest(CASE WHEN len(toks) >= 2
          THEN list_transform(range(1, len(toks)),
                              i -> array_to_string(toks[i:i+1], ' '))
          ELSE [] END) AS gram
      FROM t),
b AS (SELECT doc_id, source,
             CAST('0x' || substr(md5('dsir:' || gram), 1, 15)
                  AS BIGINT) % 4096 AS bk
      FROM g),
tgt AS (SELECT bk, count(*) AS tc FROM b WHERE source = 'src0'
        GROUP BY bk),
bg AS (SELECT bk, count(*) AS bc FROM b GROUP BY bk),
w AS (SELECT bk, (COALESCE(tc, 0) + 1) * 1000000 // (bc + 1) AS wt
      FROM bg LEFT JOIN tgt USING (bk)),
s AS (SELECT doc_id, CAST(sum(wt) AS BIGINT) AS score
      FROM b JOIN w USING (bk) GROUP BY doc_id),
lab AS (SELECT s.doc_id, d.source, s.score
        FROM s JOIN documents d ON s.doc_id = d.doc_id),
agg AS (SELECT source, CAST(count(*) AS BIGINT) AS n,
               sum(score) AS s1,
               sum(score * score) AS s2
        FROM lab GROUP BY 1)
SELECT source, n, CAST(s1 AS BIGINT) AS sum_w,
       CASE WHEN s2 > 0 THEN CAST((s1 * s1 * 100) // s2 AS BIGINT)
            ELSE CAST(0 AS BIGINT) END AS ess_x100,
       CASE WHEN s2 > 0 THEN CAST((s1 * s1 * 1000000) // (s2 * n)
                                  AS BIGINT)
            ELSE CAST(0 AS BIGINT) END AS ess_ratio_ppm
FROM agg"""
