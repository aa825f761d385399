"""dedup family: contract queries (+ oracles) — split mechanically from the original single contract module; statement order preserved."""

from __future__ import annotations

from logging_spark.contract._fixtures import (
    CORPUS_CTE, F, SHINGLES, TOKS, _lsh_ctes, _lsh_pairs, _read,
    containment_pairs, corpus_df, dedup_clusters_df, edit_distance_near_dups,
    exact_duplicates, jaccard_threshold_pairs, keep_canonical,
    lsh_candidate_pairs, lsh_pairs_portable, minhash_estimate_audit,
    ngram_jaccard_pairs, shingles_w3, simhash)


def register(q):

    # -- dedup family -------------------------------------------------------
    q["dedup_exact"] = lambda spark, sf: exact_duplicates(corpus_df(spark, sf))

    q["dedup_minhash_lsh"] = lambda spark, sf: lsh_pairs_portable(spark, sf)

    # -- audit the sketch (operators/textdedup.py minhash_estimate_
    # audit): signature-agreement Jaccard estimate vs EXACT shingle-set
    # Jaccard over the candidate pairs, in integral x1000 — the
    # HLL-audit pattern applied to MinHash. Reuses the session's
    # memoized pair graph and shingle build.
    def dedup_minhash_audit(spark, sf):
        return minhash_estimate_audit(
            corpus_df(spark, sf), pairs=lsh_pairs_portable(spark, sf),
            sh_df=shingles_w3(spark, sf))
    q["dedup_minhash_audit"] = dedup_minhash_audit

    # production-path variant: numeric xxhash64 permutations (rows-only
    # check — DuckDB has no xxhash64; the portable md5 twin above is
    # the value-checked one)
    q["dedup_minhash_lsh_fast"] = lambda spark, sf: lsh_candidate_pairs(
        corpus_df(spark, sf), num_perm=8, bands=4, w=3, portable=False)

    q["dedup_ngram_jaccard"] = lambda spark, sf: ngram_jaccard_pairs(
        corpus_df(spark, sf), w=3, min_intersection=30)

    # asymmetric containment: |A∩B| / min(|A|,|B|) in integral bps —
    # quote-inclusion detection symmetric Jaccard misses
    q["dedup_containment"] = lambda spark, sf: containment_pairs(
        corpus_df(spark, sf), w=3, threshold_bps=6000,
        sh_df=shingles_w3(spark, sf))

    # prefix-filtered set-similarity join (textdedup.
    # jaccard_threshold_pairs): the oracle computes the SAME result
    # from the naive every-sharing-pair plan — an algorithm-
    # equivalence check that the prefix filter is lossless
    q["dedup_jaccard_threshold"] = lambda spark, sf: jaccard_threshold_pairs(
        corpus_df(spark, sf), t_pct=50, w=3, sh_df=shingles_w3(spark, sf))

    # candidate-then-verify: LSH pairs re-checked by exact Levenshtein
    # (textdedup.edit_distance_near_dups) — rejects banding collisions
    q["dedup_edit_distance"] = lambda spark, sf: edit_distance_near_dups(
        corpus_df(spark, sf), max_dist=20, portable=True)

    # cluster assembly over the LSH pair graph: connected components
    # via iterative min-label propagation, canonical = min id. The
    # oracle reaches the same fixpoint with a recursive CTE.
    q["dedup_cluster"] = lambda spark, sf: dedup_clusters_df(spark, sf)

    # pairs -> clusters -> curated corpus, end to end: drop every doc
    # whose cluster canonical is a different doc
    q["dedup_keep_canonical"] = lambda spark, sf: keep_canonical(
        corpus_df(spark, sf), dedup_clusters_df(spark, sf)).select("doc_id")

    # portable signature (md5-derived 60-bit token hashes): bit-exact
    # across engines, value-checked against the DuckDB oracle
    q["dedup_simhash"] = lambda spark, sf: corpus_df(spark, sf).select(
        "doc_id", simhash("text", bits=60, portable=True).alias("sig"))
    # production-path twin: xxhash64 token hashes (rows-only — DuckDB
    # has no xxhash64), same expression shape
    q["dedup_simhash_fast"] = lambda spark, sf: corpus_df(spark, sf).select(
        "doc_id", simhash("text").alias("sig"))

    # -- duplicate provenance: for every exact-dup family (md5(text),
    # n >= 2), does it live inside ONE source (re-crawl / re-ingest)
    # or span sources (syndication / boilerplate)? The split decides
    # the fix — dedup-at-ingest vs corpus-level — so the rollup is a
    # standing governance row. Two aggs over hashes, text never
    # shuffles twice.
    def dedup_provenance(spark, sf):
        d = _read(spark, sf, "documents")
        fam = (d.groupBy(F.md5("text").alias("fp"))
               .agg(F.count(F.lit(1)).alias("n_docs"),
                    F.count_distinct("source").alias("n_sources"))
               .where(F.col("n_docs") >= 2))
        kind = F.when(F.col("n_sources") == 1,
                      F.lit("intra_source")).otherwise(
                          F.lit("cross_source"))
        return (fam.groupBy(kind.alias("kind"))
                .agg(F.count(F.lit(1)).alias("n_families"),
                     F.sum("n_docs").cast("long").alias("n_docs"),
                     F.sum(F.col("n_docs") - 1).cast("long")
                     .alias("n_removable")))
    q["dedup_provenance"] = dedup_provenance

    # -- human-review sampling: a deterministic per-similarity-band
    # sample of near-dup pairs (2 per Jaccard decile, picked by md5
    # of the pair key — reviewable, reproducible, and partitioning-
    # independent). The query every dedup-threshold tuning loop needs:
    # "show me borderline pairs from each band".
    def dedup_review_sample(spark, sf):
        from pyspark.sql import Window
        pairs = jaccard_threshold_pairs(
            corpus_df(spark, sf), t_pct=30, w=3,
            sh_df=shingles_w3(spark, sf))
        banded = pairs.select(
            "doc_a", "doc_b", "inter", "uni",
            F.expr("(inter * 10) DIV uni").cast("long").alias("band"),
            F.expr("(inter * 10000) DIV uni").cast("long")
            .alias("jaccard_bps"),
            F.expr("md5(concat(CAST(doc_a AS STRING), ':', "
                   "CAST(doc_b AS STRING)))").alias("_h"))
        w = Window.partitionBy("band").orderBy("_h")
        return (banded
                .withColumn("_rn", F.row_number().over(w))
                .withColumn("band_pairs",
                            F.count(F.lit(1)).over(
                                Window.partitionBy("band"))
                            .cast("long"))
                .where("_rn <= 2")
                .select("band", "band_pairs", "doc_a", "doc_b",
                        "jaccard_bps",
                        F.col("_rn").cast("long").alias("pick")))
    q["dedup_review_sample"] = dedup_review_sample


def register_oracles(o):

    o["dedup_exact"] = "WITH " + CORPUS_CTE + """
SELECT min(doc_id) AS keeper_id, count(*) AS n_copies
FROM corpus GROUP BY md5(text) HAVING count(*) > 1"""
    o["dedup_minhash_lsh"] = f"WITH {_lsh_ctes}\n{_lsh_pairs}"

    # estimate = matching signature components x1000 / 8; exact =
    # |A∩B| x1000 / |A∪B| on the (already-distinct) shingle arrays;
    # both-empty pairs pin exact to 1000 (identical empties)
    o["dedup_minhash_audit"] = f"""WITH {_lsh_ctes},
pairs AS MATERIALIZED ({_lsh_pairs}),
x AS (SELECT
        (1000 * len(list_filter(range(1, 9),
                                i -> sa.sig[i] = sb.sig[i]))) // 8 AS est,
        CASE WHEN len(list_distinct(list_concat(ha.sh, hb.sh))) = 0
             THEN 1000
             ELSE (1000 * len(list_intersect(ha.sh, hb.sh)))
                  // len(list_distinct(list_concat(ha.sh, hb.sh))) END AS ex
      FROM pairs p
      JOIN sigs sa ON p.doc_a = sa.doc_id
      JOIN sigs sb ON p.doc_b = sb.doc_id
      JOIN sh ha ON p.doc_a = ha.doc_id
      JOIN sh hb ON p.doc_b = hb.doc_id)
SELECT CAST(count(*) AS BIGINT) AS n_pairs,
       CAST(sum(abs(est - ex)) // count(*) AS BIGINT)
         AS mean_abs_err_x1000,
       CAST(max(abs(est - ex)) AS BIGINT) AS max_abs_err_x1000,
       CAST(sum(CASE WHEN est > ex THEN 1 ELSE 0 END) AS BIGINT)
         AS n_overestimates
FROM x"""

    # same candidate CTEs + the exact Levenshtein verifier (identical
    # Wagner-Fischer in both engines; Spark's |len_a - len_b| pre-filter
    # is a lower bound, so it never changes the result set)
    o["dedup_edit_distance"] = f"""WITH {_lsh_ctes},
pairs AS ({_lsh_pairs})
SELECT p.doc_a, p.doc_b,
       CAST(levenshtein(a.text, b.text) AS INT) AS edit_dist
FROM pairs p
JOIN corpus a ON p.doc_a = a.doc_id
JOIN corpus b ON p.doc_b = b.doc_id
WHERE levenshtein(a.text, b.text) <= 20"""

    # connected components over the LSH pair graph: reachability to
    # fixpoint in a recursive CTE, canonical = min reachable id. The
    # Spark side is iterative label propagation (operators/cluster.py)
    # — totally different algorithm, same fixpoint, which is exactly
    # what an oracle should check.
    o["dedup_cluster"] = f"""
WITH RECURSIVE {_lsh_ctes},
pairs AS ({_lsh_pairs}),
und AS (SELECT doc_a AS s, doc_b AS d FROM pairs
        UNION SELECT doc_b, doc_a FROM pairs),
reach(node, r) AS (
  SELECT s, d FROM und
  UNION
  SELECT reach.node, und.d FROM reach JOIN und ON reach.r = und.s)
SELECT node AS doc_id, least(node, min(r)) AS canonical_id
FROM reach GROUP BY node"""

    # curated corpus = corpus minus docs whose cluster canonical is a
    # different doc (same recursive-CTE fixpoint as dedup_cluster)
    o["dedup_keep_canonical"] = f"""
WITH RECURSIVE {_lsh_ctes},
pairs AS ({_lsh_pairs}),
und AS (SELECT doc_a AS s, doc_b AS d FROM pairs
        UNION SELECT doc_b, doc_a FROM pairs),
reach(node, r) AS (
  SELECT s, d FROM und
  UNION
  SELECT reach.node, und.d FROM reach JOIN und ON reach.r = und.s),
losers AS (
  SELECT node FROM reach GROUP BY node
  HAVING least(node, min(r)) <> node)
SELECT doc_id FROM corpus
WHERE doc_id NOT IN (SELECT node FROM losers)"""

    # NAIVE plan on purpose: every sharing pair, exact Jaccard, no
    # prefix filter — value-equality with the Spark query proves the
    # prefix filter drops no qualifying pair
    o["dedup_jaccard_threshold"] = f"""
WITH {CORPUS_CTE},
sh AS (SELECT doc_id, {SHINGLES} AS sh
       FROM (SELECT doc_id, {TOKS} AS toks FROM corpus)),
inv AS (SELECT doc_id, unnest(sh) AS shingle FROM sh),
sizes AS (SELECT doc_id, CAST(len(sh) AS BIGINT) AS n_sh FROM sh),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         CAST(count(*) AS BIGINT) AS inter
  FROM inv a JOIN inv b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2)
SELECT doc_a, doc_b, inter,
       sa.n_sh + sb.n_sh - inter AS uni
FROM inter
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE inter * 100 >= 50 * (sa.n_sh + sb.n_sh - inter)"""

    o["dedup_ngram_jaccard"] = f"""
WITH {CORPUS_CTE},
sh AS (SELECT doc_id, {SHINGLES} AS sh
       FROM (SELECT doc_id, {TOKS} AS toks FROM corpus)),
inv_raw AS (SELECT doc_id, unnest(sh) AS shingle FROM sh),
inv AS (
  -- mirror of ngram_jaccard_pairs' max_doc_freq=1000 hot-shingle
  -- anti-join (shingles are distinct per doc, so rows = doc freq)
  SELECT * FROM inv_raw
  QUALIFY count(*) OVER (PARTITION BY shingle) <= 1000),
sizes AS (SELECT doc_id, CAST(len(sh) AS BIGINT) AS n_sh FROM sh),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_intersection
  FROM inv a JOIN inv b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id HAVING count(*) >= 30)
SELECT doc_a, doc_b, n_intersection,
       sa.n_sh + sb.n_sh - n_intersection AS n_union
FROM inter
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b"""

    o["dedup_containment"] = f"""
WITH {CORPUS_CTE},
sh AS (SELECT doc_id, {SHINGLES} AS sh
       FROM (SELECT doc_id, {TOKS} AS toks FROM corpus)),
inv_raw AS (SELECT doc_id, unnest(sh) AS shingle FROM sh),
inv AS (
  SELECT * FROM inv_raw
  QUALIFY count(*) OVER (PARTITION BY shingle) <= 1000),
sizes AS (SELECT doc_id, CAST(len(sh) AS BIGINT) AS n_sh FROM sh),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_intersection
  FROM inv a JOIN inv b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id)
SELECT doc_a, doc_b, n_intersection,
       sa.n_sh AS n_a, sb.n_sh AS n_b,
       CAST((n_intersection * 10000) // least(sa.n_sh, sb.n_sh) AS BIGINT)
         AS containment_bps
FROM inter
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE n_intersection * 10000 >= least(sa.n_sh, sb.n_sh) * 6000"""

    # Charikar simhash, portable variant: per-token 60-bit hash from
    # md5 hex (integer-exact in both engines; float-free throughout).
    # Mirrors textdedup.simhash(bits=60, portable=True) bit for bit:
    # duplicates-preserving token list, tally = sum of (+-1) votes per
    # bit, bit set iff tally > 0, empty docs -> 0.
    o["dedup_simhash"] = f"""
WITH {CORPUS_CTE},
tok AS (
  SELECT doc_id,
         list_transform({TOKS},
                        t -> CAST('0x' || substr(md5(t), 1, 15) AS BIGINT)) AS hs
  FROM corpus)
SELECT doc_id,
       CAST(COALESCE(list_sum(list_transform(range(60), k ->
         CASE WHEN COALESCE(list_sum(list_transform(hs,
                    h -> ((h >> k) & 1) * 2 - 1)), 0) > 0
              THEN (CAST(1 AS BIGINT) << k) ELSE CAST(0 AS BIGINT) END)), 0)
            AS BIGINT) AS sig
FROM tok"""

    o["dedup_provenance"] = """
WITH fam AS (
  SELECT md5(text) AS fp, count(*) AS n_docs,
         count(DISTINCT source) AS n_sources
  FROM documents GROUP BY 1 HAVING count(*) >= 2)
SELECT CASE WHEN n_sources = 1 THEN 'intra_source'
            ELSE 'cross_source' END AS kind,
       count(*) AS n_families,
       CAST(sum(n_docs) AS BIGINT) AS n_docs,
       CAST(sum(n_docs - 1) AS BIGINT) AS n_removable
FROM fam GROUP BY 1"""

    # same naive plan as dedup_jaccard_threshold at the lower
    # threshold, then the identical banding + md5 pick
    o["dedup_review_sample"] = f"""
WITH {CORPUS_CTE},
sh AS (SELECT doc_id, {SHINGLES} AS sh
       FROM (SELECT doc_id, {TOKS} AS toks FROM corpus)),
inv AS (SELECT doc_id, unnest(sh) AS shingle FROM sh),
sizes AS (SELECT doc_id, CAST(len(sh) AS BIGINT) AS n_sh FROM sh),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         CAST(count(*) AS BIGINT) AS inter
  FROM inv a JOIN inv b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2),
pairs AS (
  SELECT doc_a, doc_b, inter,
         sa.n_sh + sb.n_sh - inter AS uni
  FROM inter
  JOIN sizes sa ON sa.doc_id = doc_a
  JOIN sizes sb ON sb.doc_id = doc_b
  WHERE inter * 100 >= 30 * (sa.n_sh + sb.n_sh - inter)),
banded AS (
  SELECT doc_a, doc_b,
         CAST((inter * 10) // uni AS BIGINT) AS band,
         CAST((inter * 10000) // uni AS BIGINT) AS jaccard_bps,
         md5(CAST(doc_a AS VARCHAR) || ':' || CAST(doc_b AS VARCHAR))
           AS h
  FROM pairs)
SELECT band,
       CAST(count(*) OVER (PARTITION BY band) AS BIGINT) AS band_pairs,
       doc_a, doc_b, jaccard_bps,
       CAST(row_number() OVER (PARTITION BY band ORDER BY h)
            AS BIGINT) AS pick
FROM banded
QUALIFY row_number() OVER (PARTITION BY band ORDER BY h) <= 2"""
