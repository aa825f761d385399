"""sim family: contract queries (+ oracles) — split mechanically from the original single contract module; statement order preserved."""

from __future__ import annotations

from logging_spark.contract._fixtures import (
    F, T, _read, brute_force_topk_expr, brute_force_topk_sharded,
    embedding_near_duplicates, hard_negatives_expr, hash60_sql, ivf_topk,
    kmeans_summary, lsh_topk, negative_samples, plane_signs,
    quantize_int8_summary, semdedup_summary)


def register(q):

    # -- similarity search --------------------------------------------------
    def sim_topk_cosine(spark, sf):
        e = _read(spark, sf, "embeddings")
        topk = brute_force_topk_expr(e.where(F.col("vec_id") < 30), e, k=5)
        return topk.select("query_id", "neighbor_id", F.col("rank").cast("int").alias("rank"),
                           F.round("cosine", 4).alias("cosine"))
    q["sim_topk_cosine"] = sim_topk_cosine

    # hard-negative mining (contrastive-training sampler): top-k most
    # similar DIFFERENT-label candidates; exact expr tier (the kernel
    # over-fetch tier is pinned against it in test_similarity)
    def sim_hard_negatives(spark, sf):
        e = _read(spark, sf, "embeddings")
        hn = hard_negatives_expr(e.where(F.col("vec_id") < 30), e, k=5)
        return hn.select("query_id", "neighbor_id",
                         F.col("rank").cast("int").alias("rank"),
                         F.round("cosine", 4).alias("cosine"))
    q["sim_hard_negatives"] = sim_hard_negatives

    # -- kNN label agreement (label-noise mining, Confident-Learning-
    # adjacent): fraction of each anchor's top-5 exact-cosine
    # neighbors sharing its label, rolled up per label — low agreement
    # flags mislabeled regions. Composition of the oracle-checked
    # exact top-k with two label joins; anchors bounded like
    # sim_topk_cosine (the kernel/sharded tiers are the scale path).
    def sim_label_agreement(spark, sf):
        e = _read(spark, sf, "embeddings")
        topk = brute_force_topk_expr(e.where(F.col("vec_id") < 40),
                                     e, k=5)
        lab = _read(spark, sf, "embeddings").select("vec_id", "label")
        j = (topk
             .join(lab.select(F.col("vec_id").alias("query_id"),
                              F.col("label").alias("qlab")), "query_id")
             .join(lab.select(F.col("vec_id").alias("neighbor_id"),
                              F.col("label").alias("nlab")),
                   "neighbor_id"))
        per = (j.groupBy("query_id", "qlab")
               .agg(F.sum((F.col("nlab") == F.col("qlab"))
                          .cast("long")).alias("agree")))
        return (per.groupBy(F.col("qlab").alias("label"))
                .agg(F.count(F.lit(1)).alias("n_anchors"),
                     F.sum("agree").cast("long").alias("n_agree"),
                     F.expr("(CAST(sum(agree) AS BIGINT) * 1000)"
                            " DIV (count(1) * 5)")
                     .alias("agreement_permille")))
    q["sim_label_agreement"] = sim_label_agreement

    # int8 symmetric quantization audit: scale/sum/saturation per
    # vector, pure expression projection (no shuffle)
    def sim_quantize_int8(spark, sf):
        return quantize_int8_summary(_read(spark, sf, "embeddings"))
    q["sim_quantize_int8"] = sim_quantize_int8

    # deterministic uniform negative sampling (contrastive training):
    # pure md5 arithmetic over dense ids — no RNG state, identical
    # draws on any engine/partitioning
    def sim_negative_samples(spark, sf):
        return negative_samples(_read(spark, sf, "embeddings"), k=4)
    q["sim_negative_samples"] = sim_negative_samples

    def sim_near_dup(spark, sf):
        # production path: LSH-bucketed candidates + exact re-rank (no
        # cross join anywhere in the plan — tests/test_plans.py). The
        # oracle mirrors the integer-exact sign buckets, so the check
        # verifies the candidate generation itself, not just re-rank.
        # n_planes=4 keeps buckets coarse enough that a 0.40-cosine
        # pair still collides often at the test corpus size.
        e = _read(spark, sf, "embeddings")
        nd = embedding_near_duplicates(e, threshold=0.40, id_col="vec_id",
                                       dim=64, tables=8, n_planes=4)
        return nd.select("doc_a", "doc_b", F.round("cosine", 4).alias("cosine"))
    q["sim_near_dup"] = sim_near_dup

    def sim_near_dup_exact(spark, sf):
        # all-pairs verification mode (exact=True): small-n only
        e = _read(spark, sf, "embeddings")
        nd = embedding_near_duplicates(e, threshold=0.40, id_col="vec_id",
                                       exact=True)
        return nd.select("doc_a", "doc_b", F.round("cosine", 4).alias("cosine"))
    q["sim_near_dup_exact"] = sim_near_dup_exact

    # recall of the LSH production path vs exact, AS AN ORACLE-CHECKED
    # METRIC: the verified-candidate pairs are a subset of the exact
    # pairs, so recall = |lsh| / |exact| in integral bps. Both sides
    # use the already-mirrored constructions, so the driver value-
    # checks the evaluation itself — quality measurement as data.
    def sim_near_dup_recall(spark, sf):
        e = _read(spark, sf, "embeddings")
        lsh = embedding_near_duplicates(e, threshold=0.40, id_col="vec_id",
                                        dim=64, tables=8, n_planes=4)
        exact = embedding_near_duplicates(e, threshold=0.40,
                                          id_col="vec_id", exact=True)
        nl = lsh.agg(F.count(F.lit(1)).alias("n_lsh"))
        ne = exact.agg(F.count(F.lit(1)).alias("n_exact"))
        return (nl.crossJoin(ne)
                .withColumn("recall_bps",
                            F.expr("CAST((n_lsh * 10000) DIV n_exact"
                                   " AS BIGINT)")))
    q["sim_near_dup_recall"] = sim_near_dup_recall

    def sim_topk_sharded(spark, sf):
        # the beyond-broadcast exact path: top-k of per-shard top-ks
        e = _read(spark, sf, "embeddings")
        topk = brute_force_topk_sharded(e.where(F.col("vec_id") < 30), e,
                                        k=5, n_shards=4)
        return topk.select("query_id", "neighbor_id",
                           F.col("rank").cast("int").alias("rank"),
                           F.round("cosine", 4).alias("cosine"))
    q["sim_topk_sharded"] = sim_topk_sharded

    def sim_lsh_topk(spark, sf):  # rows-only: hyperplanes not expressible in SQL
        e = _read(spark, sf, "embeddings")
        # n_planes sizes buckets: 2^6 buckets/table keeps groups dense
        # enough for the per-bucket matmul kernel to amortize
        return lsh_topk(e, k=5, dim=64, tables=4, n_planes=6)
    q["sim_lsh_topk"] = sim_lsh_topk

    def sim_ivf_topk(spark, sf):  # rows-only: k-means cells, no SQL twin
        e = _read(spark, sf, "embeddings")
        return ivf_topk(e, k=5, n_centroids=16, n_probe=4)
    q["sim_ivf_topk"] = sim_ivf_topk

    # -- pooled label centroids: integer-exact per-label mean
    # embedding in long form (the class-prototype op for semantic
    # balance audits / nearest-class-mean labeling). Reuses the
    # k-means quantized-points machinery; output is (label, pos,
    # cval) rows — never a collected array.
    def sim_label_centroids(spark, sf):
        from logging_spark.operators.kmeans import quantized_points
        emb = _read(spark, sf, "embeddings")
        pts = quantized_points(emb, id_col="vec_id")
        lab = emb.select("vec_id", "label")
        return (pts.join(lab, "vec_id")
                .groupBy("label", "pos")
                .agg(F.expr("CAST(sum(val) AS BIGINT) DIV count(*)")
                     .alias("cval"),
                     F.count(F.lit(1)).cast("long").alias("n")))
    q["sim_label_centroids"] = sim_label_centroids

    # -- distributed integer-exact Lloyd k-means (operators/kmeans.py):
    # the SemDeDup cell pass, 2 rounds from deterministic seeds;
    # oracle unrolls both rounds. Per-cluster size + exact inertia.
    q["sim_kmeans"] = lambda spark, sf: kmeans_summary(
        _read(spark, sf, "embeddings"), k=4, rounds=2)

    # -- SemDeDup (operators/kmeans.semdedup_summary): k-means cells,
    # then first-wins drop of within-cell cosine >= 2/5 neighbors.
    # The whole chain — Lloyd rounds AND the similarity test — is
    # integer-exact, so the oracle unrolls all of it.
    q["sim_semdedup"] = lambda spark, sf: semdedup_summary(
        _read(spark, sf, "embeddings"), k=4, rounds=2)

    # -- semantic decontamination: eval-set embeddings (vec_id % 97
    # == 0, standing in for the benchmark's encoded prompts) are
    # BROADCAST; one pass over the corpus flags vectors with
    # quantized cosine >= 7/20 to ANY eval vector. The embedding twin
    # of docs_contamination_hits — corpus vectors never shuffle.
    def sim_decontaminate(spark, sf):
        emb = _read(spark, sf, "embeddings")
        qv = F.transform(
            "embedding",
            lambda x: F.floor(x.cast("double") * 1000).cast("long"))
        nn = F.aggregate(F.transform("qv", lambda x: x * x),
                         F.lit(0).cast("long"), lambda a, x: a + x)
        v = (emb.select("vec_id", "label", qv.alias("qv"))
             .withColumn("nn", nn))
        ev = (v.where(F.col("vec_id") % 97 == 0)
              .select(F.col("qv").alias("eqv"),
                      F.col("nn").alias("enn")))
        corpus = v.where(F.col("vec_id") % 97 != 0)
        d = F.aggregate(F.zip_with("qv", "eqv", lambda x, y: x * y),
                        F.lit(0).cast("long"), lambda a, x: a + x)
        # let-bind the dot product: the filter collapses into the
        # join condition, where an unbound `d` would re-run the
        # zip_with aggregate 3x per pair (the quality_features
        # subexpression lesson)
        cond = T.let(d, lambda dd: (dd > 0)
                     & (F.lit(400) * dd * dd
                        >= F.lit(49) * F.col("nn") * F.col("enn")))
        hits = (corpus.crossJoin(F.broadcast(ev))
                .where(cond)
                .select("vec_id").distinct()
                .withColumn("_hit", F.lit(1)))
        return (corpus.join(F.broadcast(hits), "vec_id", "left")
                .groupBy("label")
                .agg(F.count(F.lit(1)).alias("n_vectors"),
                     F.sum(F.coalesce("_hit", F.lit(0))).cast("long")
                     .alias("n_flagged")))
    q["sim_decontaminate"] = sim_decontaminate

    # -- embedding centroid drift: per-label integer centroid of the
    # even-id half vs the odd-id half, squared L2 between them — the
    # train/serve drift monitor (a healthy embedding table's halves
    # agree; a re-embedding mid-table shows up as per-label drift).
    def sim_centroid_drift(spark, sf):
        from logging_spark.operators.kmeans import quantized_points
        emb = _read(spark, sf, "embeddings")
        pts = quantized_points(emb).join(
            emb.select("vec_id", "label",
                       (F.col("vec_id") % 2).cast("int").alias("half")),
            "vec_id")
        cent = (pts.groupBy("label", "half", "pos")
                .agg(F.expr("CAST(sum(val) AS BIGINT) DIV count(*)")
                     .alias("cval"),
                     F.count(F.lit(1)).alias("_n")))
        piv = (cent.groupBy("label", "pos")
               .agg(F.max(F.when(F.col("half") == 0, F.col("cval")))
                    .alias("c0"),
                    F.max(F.when(F.col("half") == 1, F.col("cval")))
                    .alias("c1"),
                    F.max(F.when(F.col("half") == 0, F.col("_n")))
                    .alias("n0"),
                    F.max(F.when(F.col("half") == 1, F.col("_n")))
                    .alias("n1")))
        return (piv.groupBy("label")
                .agg(F.sum(F.expr("(c0 - c1) * (c0 - c1)"))
                     .cast("long").alias("drift_sq"),
                     F.max("n0").cast("long").alias("n_even"),
                     F.max("n1").cast("long").alias("n_odd")))
    q["sim_centroid_drift"] = sim_centroid_drift

    # -- cross-source semantic affinity (kmeans.centroid_affinity):
    # pairwise cosine between source centroids — everything collapses
    # to |sources| x dims rows before any pairing; cosine is
    # deterministic-double over exact integer dots/norms.
    def sim_source_affinity(spark, sf):
        from logging_spark.operators.kmeans import (
            centroid_affinity, quantized_points)
        emb = _read(spark, sf, "embeddings")
        grp = _read(spark, sf, "documents").select(
            F.col("doc_id").alias("vec_id"),
            F.col("source").alias("grp"))
        return centroid_affinity(quantized_points(emb), grp,
                                 id_col="vec_id", group_col="grp")
    q["sim_source_affinity"] = sim_source_affinity


def register_oracles(o):

    _vcos = ("list_dot_product(a.v, b.v) / "
             "(sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v)))")
    o["sim_topk_cosine"] = f"""
WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
           FROM embeddings),
scored AS (
  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id, {_vcos} AS cos
  FROM v a JOIN v b ON a.vec_id != b.vec_id WHERE a.vec_id < 30)
SELECT query_id, neighbor_id, CAST(rnk AS INT) AS rank, round(cos, 4) AS cosine
FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY cos DESC, neighbor_id) AS rnk
      FROM scored) WHERE rnk <= 5"""

    o["sim_label_agreement"] = f"""
WITH v AS (SELECT vec_id, label,
                  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
           FROM embeddings),
scored AS (
  SELECT a.vec_id AS qid, a.label AS qlab, b.vec_id AS nid,
         b.label AS nlab, {_vcos} AS cos
  FROM v a JOIN v b ON a.vec_id != b.vec_id WHERE a.vec_id < 40),
top AS (SELECT qid, qlab, nlab
        FROM (SELECT *, row_number() OVER (PARTITION BY qid
                        ORDER BY cos DESC, nid) AS rnk FROM scored)
        WHERE rnk <= 5),
per AS (SELECT qid, qlab,
               sum(CASE WHEN nlab = qlab THEN 1 ELSE 0 END) AS agree
        FROM top GROUP BY 1, 2)
SELECT qlab AS label, count(*) AS n_anchors,
       CAST(sum(agree) AS BIGINT) AS n_agree,
       (CAST(sum(agree) AS BIGINT) * 1000) // (count(*) * 5)
         AS agreement_permille
FROM per GROUP BY 1"""

    o["sim_near_dup_exact"] = f"""
WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
           FROM embeddings)
SELECT a.vec_id AS doc_a, b.vec_id AS doc_b, round({_vcos}, 4) AS cosine
FROM v a JOIN v b ON a.vec_id < b.vec_id
WHERE {_vcos} >= 0.40"""

    # Mirror of similarity.sign_bucket / near_dup_candidates for the
    # bucketed production path (tables=8, n_planes=4): bucket bits come
    # from EXACT integer dot products (floor(x*1e6) quantization), so
    # both engines compute bit-identical bucket ids; DuckDB's double
    # accumulation of integer-valued products is exact below 2^53.
    _nd_rows = []
    for _t in range(8):
        _bits = " + ".join(
            "(CASE WHEN list_dot_product(q, ["
            + ", ".join(str(s) for s in plane_signs(64, _t, _p))
            + f"]) > 0 THEN {1 << _p} ELSE 0 END)"
            for _p in range(4))
        _nd_rows.append(f"  SELECT vec_id, {_t} AS tbl, {_bits} AS bucket FROM q")
    _nd_banded = "\n  UNION ALL\n".join(_nd_rows)
    _vcos_ab = ("list_dot_product(va.v, vb.v) / "
                "(sqrt(list_dot_product(va.v, va.v)) * sqrt(list_dot_product(vb.v, vb.v)))")
    o["sim_near_dup"] = f"""
WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
           FROM embeddings),
q AS (SELECT vec_id, list_transform(v, x -> floor(x * 1000000)) AS q FROM v),
bucketed_raw AS (
{_nd_banded}),
bucketed AS (
  -- mirror of near_dup_candidates' max_bucket=10000 guard
  SELECT * FROM bucketed_raw
  QUALIFY count(*) OVER (PARTITION BY tbl, bucket) <= 10000),
cand AS (
  SELECT DISTINCT a.vec_id AS doc_a, b.vec_id AS doc_b
  FROM bucketed a JOIN bucketed b
    ON a.tbl = b.tbl AND a.bucket = b.bucket AND a.vec_id < b.vec_id)
SELECT doc_a, doc_b, round({_vcos_ab}, 4) AS cosine
FROM cand JOIN v va ON va.vec_id = doc_a JOIN v vb ON vb.vec_id = doc_b
WHERE {_vcos_ab} >= 0.40"""

    o["sim_topk_sharded"] = o["sim_topk_cosine"]

    # both sides reuse the mirrored constructions verbatim (DuckDB
    # accepts WITH inside a parenthesized subquery)
    o["sim_near_dup_recall"] = f"""
SELECT n_lsh, n_exact,
       CAST((n_lsh * 10000) // n_exact AS BIGINT) AS recall_bps
FROM (SELECT count(*) AS n_lsh FROM ({o["sim_near_dup"]})),
     (SELECT count(*) AS n_exact FROM ({o["sim_near_dup_exact"]}))"""

    o["sim_hard_negatives"] = f"""
WITH v AS (SELECT vec_id, label,
                  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
           FROM embeddings),
scored AS (
  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id, {_vcos} AS cos
  FROM v a JOIN v b ON a.label <> b.label WHERE a.vec_id < 30)
SELECT query_id, neighbor_id, CAST(rnk AS INT) AS rank,
       round(cos, 4) AS cosine
FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY cos DESC, neighbor_id) AS rnk
      FROM scored) WHERE rnk <= 5"""

    o["sim_quantize_int8"] = """
WITH v AS (SELECT vec_id,
                  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
                  len(embedding) AS dim
           FROM embeddings),
s AS (SELECT vec_id, dim, v,
             list_max(list_transform(v, x -> abs(x))) AS scale
      FROM v),
q AS (SELECT vec_id, dim, scale,
             CASE WHEN scale = 0
                  THEN list_transform(v, x -> CAST(0 AS BIGINT))
                  ELSE list_transform(v, x -> CAST(floor(127.0 * x / scale)
                                                   AS BIGINT)) END AS qv
      FROM s)
SELECT vec_id,
       CAST(floor(scale * 1000000) AS BIGINT) AS scale_ppm,
       CAST(list_sum(qv) AS BIGINT) AS sum_q,
       CAST(len(list_filter(qv, x -> abs(x) >= 127)) AS INT) AS n_sat,
       CAST(dim AS INT) AS dim
FROM q"""

    _neg_draw = hash60_sql(
        "concat(CAST(vec_id AS VARCHAR), ':', CAST(slot AS VARCHAR))", "neg")
    o["sim_negative_samples"] = f"""
WITH n AS (SELECT count(*) AS n FROM embeddings),
slots AS (SELECT vec_id, CAST(s.slot AS INT) AS slot
          FROM embeddings, (SELECT unnest(range(1, 5)) AS slot) s),
d AS (SELECT vec_id, slot, {_neg_draw} % (n.n - 1) AS draw
      FROM slots, n)
SELECT vec_id, slot,
       CAST(CASE WHEN draw >= vec_id THEN draw + 1 ELSE draw END AS BIGINT)
         AS neg_id
FROM d"""

    o["sim_label_centroids"] = """
WITH q AS (SELECT vec_id, label,
                  list_transform(list_transform(embedding,
                                                x -> CAST(x AS DOUBLE)),
                                 x -> CAST(floor(x * 10000) AS BIGINT))
                    AS qv
           FROM embeddings),
pts AS (SELECT vec_id, label, unnest(qv) AS val,
               generate_subscripts(qv, 1) AS pos
        FROM q)
SELECT label, pos,
       CAST(sum(val) AS BIGINT) // count(*) AS cval,
       count(*) AS n
FROM pts GROUP BY 1, 2"""

    # k-means unrolled: seed centroids = vec_id < 4, two Lloyd rounds,
    # integer means (// count) and exact integer squared distances
    _km_pts = """
q AS (SELECT vec_id,
             list_transform(list_transform(embedding, x -> CAST(x AS DOUBLE)),
                            x -> CAST(floor(x * 10000) AS BIGINT)) AS qv
      FROM embeddings),
pts AS (SELECT vec_id, unnest(qv) AS val,
               generate_subscripts(qv, 1) AS pos
        FROM q)"""
    _km_unroll = """
c0 AS (SELECT vec_id AS cid, pos, val AS cval FROM pts WHERE vec_id < 4),
d1 AS (SELECT p.vec_id, c.cid,
              CAST(sum((p.val - c.cval) * (p.val - c.cval)) AS BIGINT) AS dist
       FROM pts p JOIN c0 c USING (pos) GROUP BY 1, 2),
a1 AS (SELECT vec_id, cid AS cluster
       FROM (SELECT vec_id, cid,
                    row_number() OVER (PARTITION BY vec_id
                                       ORDER BY dist, cid) AS rn
             FROM d1)
       WHERE rn = 1),
c1 AS (SELECT a.cluster AS cid, p.pos,
              CAST(sum(p.val) AS BIGINT) // count(*) AS cval
       FROM a1 a JOIN pts p USING (vec_id) GROUP BY 1, 2),
d2 AS (SELECT p.vec_id, c.cid,
              CAST(sum((p.val - c.cval) * (p.val - c.cval)) AS BIGINT) AS dist
       FROM pts p JOIN c1 c USING (pos) GROUP BY 1, 2),
a2 AS (SELECT vec_id, cid AS cluster, dist
       FROM (SELECT vec_id, cid, dist,
                    row_number() OVER (PARTITION BY vec_id
                                       ORDER BY dist, cid) AS rn
             FROM d2)
       WHERE rn = 1)"""

    o["sim_kmeans"] = f"""
WITH {_km_pts},
{_km_unroll}
SELECT cluster, count(*) AS n, CAST(sum(dist) AS BIGINT) AS inertia
FROM a2 GROUP BY 1"""

    # SemDeDup mirror: the same Lloyd unroll, then within-cell pairs
    # at sim_scale=1000 (cos >= 2/5 as 25 d^2 >= 4 na nb, d > 0).
    # vv feeds three joins -> AS MATERIALIZED (DuckDB re-inlines
    # multiply-referenced CTEs otherwise — the pagerank lesson).
    o["sim_semdedup"] = f"""
WITH {_km_pts},
{_km_unroll},
q1 AS (SELECT vec_id,
              list_transform(list_transform(embedding,
                                            x -> CAST(x AS DOUBLE)),
                             x -> CAST(floor(x * 1000) AS BIGINT))
                AS qv
       FROM embeddings),
vv AS MATERIALIZED (
  SELECT q1.vec_id, a2.cluster, q1.qv,
         CAST(list_dot_product(q1.qv, q1.qv) AS BIGINT) AS nn
  FROM q1 JOIN a2 USING (vec_id)),
pr AS (SELECT b.vec_id AS vid_b,
              CAST(list_dot_product(a.qv, b.qv) AS BIGINT) AS d,
              a.nn AS na, b.nn AS nb
       FROM vv a JOIN vv b
         ON a.cluster = b.cluster AND a.vec_id < b.vec_id),
drp AS (SELECT DISTINCT vid_b AS vec_id FROM pr
        WHERE d > 0 AND 25 * d * d >= 4 * na * nb)
SELECT cluster, count(*) AS n,
       CAST(sum(CASE WHEN drp.vec_id IS NOT NULL THEN 1 ELSE 0 END)
            AS BIGINT) AS n_dropped
FROM vv LEFT JOIN drp USING (vec_id) GROUP BY 1"""

    o["sim_decontaminate"] = """
WITH q AS (SELECT vec_id, label,
                  list_transform(list_transform(embedding,
                                                x -> CAST(x AS DOUBLE)),
                                 x -> CAST(floor(x * 1000) AS BIGINT))
                    AS qv
           FROM embeddings),
n AS MATERIALIZED (
  SELECT vec_id, label, qv,
         CAST(list_dot_product(qv, qv) AS BIGINT) AS nn
  FROM q),
e AS (SELECT qv AS eqv, nn AS enn FROM n WHERE vec_id % 97 = 0),
c AS (SELECT * FROM n WHERE vec_id % 97 <> 0),
pr AS (SELECT c.vec_id,
              CAST(list_dot_product(c.qv, e.eqv) AS BIGINT) AS d,
              c.nn, e.enn
       FROM c, e),
hits AS (SELECT DISTINCT vec_id FROM pr
         WHERE d > 0 AND 400 * d * d >= 49 * nn * enn)
SELECT label, count(*) AS n_vectors,
       CAST(sum(CASE WHEN h.vec_id IS NOT NULL THEN 1 ELSE 0 END)
            AS BIGINT) AS n_flagged
FROM c LEFT JOIN hits h USING (vec_id) GROUP BY 1"""

    o["sim_centroid_drift"] = """
WITH q AS (SELECT vec_id, label, vec_id % 2 AS half,
                  list_transform(list_transform(embedding,
                                                x -> CAST(x AS DOUBLE)),
                                 x -> CAST(floor(x * 10000) AS BIGINT))
                    AS qv
           FROM embeddings),
pts AS (SELECT vec_id, label, half, unnest(qv) AS val,
               generate_subscripts(qv, 1) AS pos
        FROM q),
cent AS (SELECT label, half, pos,
                CAST(sum(val) AS BIGINT) // count(*) AS cval,
                count(*) AS n
         FROM pts GROUP BY 1, 2, 3),
piv AS (SELECT label, pos,
               max(CASE WHEN half = 0 THEN cval END) AS c0,
               max(CASE WHEN half = 1 THEN cval END) AS c1,
               max(CASE WHEN half = 0 THEN n END) AS n0,
               max(CASE WHEN half = 1 THEN n END) AS n1
        FROM cent GROUP BY 1, 2)
SELECT label,
       CAST(sum((c0 - c1) * (c0 - c1)) AS BIGINT) AS drift_sq,
       CAST(max(n0) AS BIGINT) AS n_even,
       CAST(max(n1) AS BIGINT) AS n_odd
FROM piv GROUP BY 1"""

    o["sim_source_affinity"] = """
WITH q AS (SELECT vec_id,
                  list_transform(list_transform(embedding,
                                                x -> CAST(x AS DOUBLE)),
                                 x -> CAST(floor(x * 10000) AS BIGINT))
                    AS qv
           FROM embeddings),
pts AS (SELECT vec_id, unnest(qv) AS val,
               generate_subscripts(qv, 1) AS pos
        FROM q),
g AS (SELECT p.pos, d.source AS grp, p.val
      FROM pts p JOIN documents d ON d.doc_id = p.vec_id),
cent AS MATERIALIZED (
  SELECT grp, pos,
         CAST(CAST(sum(val) AS BIGINT) // CAST(count(*) AS BIGINT)
              AS BIGINT) AS m
  FROM g GROUP BY 1, 2),
dots AS (SELECT a.grp AS group_a, b.grp AS group_b,
                CAST(sum(a.m * b.m) AS BIGINT) AS dot
         FROM cent a JOIN cent b ON a.pos = b.pos AND a.grp < b.grp
         GROUP BY 1, 2),
norms AS MATERIALIZED (
  SELECT grp, CAST(sum(m * m) AS BIGINT) AS nrm
  FROM cent GROUP BY 1)
SELECT group_a, group_b, dot,
       na.nrm AS norm_a, nb.nrm AS norm_b,
       CASE WHEN na.nrm = 0 OR nb.nrm = 0 THEN 0
            ELSE CAST(floor((CAST(dot AS DOUBLE) * 1000000.0) /
                 (sqrt(CAST(na.nrm AS DOUBLE)) *
                  sqrt(CAST(nb.nrm AS DOUBLE)))) AS BIGINT)
       END AS cos_x1e6
FROM dots
JOIN norms na ON na.grp = dots.group_a
JOIN norms nb ON nb.grp = dots.group_b"""
