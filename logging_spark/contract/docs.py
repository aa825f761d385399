"""docs family: contract queries (+ oracles) — split mechanically from the original single contract module; statement order preserved."""

from __future__ import annotations

from logging_spark.contract._fixtures import (
    CORPUS_CTE, F, SHINGLES, T, TOKS, Window, _lsh_body, _lsh_ctes,
    _lsh_pairs, _m, _read, bfs_layers, budget_head, contamination_hits,
    contamination_rate, corpus_df, decontaminate, dedup_clusters_df,
    deterministic_split, duplicate_clusters, fingerprint_index,
    global_passage_dedup, graph_summary, hash60_sql, kcore_peel,
    keep_canonical, label_propagation, link_prediction, lsh_candidate_pairs,
    lsh_pairs_portable, novel_documents, pagerank_integer, shard_id,
    shard_manifest, shingles_w3, split_thresholds, table_fingerprint,
    token_lift)


def register(q):

    # -- training-export shard manifest (operators/export.py): shard =
    # pure fn(seed, doc_id), manifest = per-shard count + commutative
    # bit_xor content fingerprint a consumer re-verifies with one
    # DuckDB query — the WebDataset-style export surface.
    def docs_shard_manifest(spark, sf):
        d = _read(spark, sf, "documents")
        return shard_manifest(d, cols=[F.col("doc_id"), F.col("text")],
                              n_shards=16, seed="exp")
    q["docs_shard_manifest"] = docs_shard_manifest

    # -- corpus overlap audit (INTERSECT/EXCEPT shape, done as ONE
    # full-outer join on the text hash instead of four set-op jobs):
    # originals (doc_id < 10000) vs the re-crawled copies the corpus
    # fixture injects. At 100 TB this is one shuffle of 32-byte
    # hashes — the texts never move.
    def docs_source_overlap(spark, sf):
        c = corpus_df(spark, sf)
        def side(pred, flag):
            return (c.where(pred).select(F.md5("text").alias("h"))
                    .distinct().withColumn(flag, F.lit(1)))
        a = side(F.col("doc_id") < 10000, "_a")
        b = side(F.col("doc_id") >= 10000, "_b")
        j = a.join(b, "h", "full_outer")
        both = F.coalesce(F.col("_a"), F.lit(0)) * F.coalesce(F.col("_b"), F.lit(0))
        return j.agg(
            F.sum(F.coalesce(F.col("_a"), F.lit(0))).cast("long").alias("n_a"),
            F.sum(F.coalesce(F.col("_b"), F.lit(0))).cast("long").alias("n_b"),
            F.sum(both).cast("long").alias("n_common"),
            F.sum(F.coalesce(F.col("_a"), F.lit(0)) - both).cast("long")
             .alias("n_only_a"),
            F.sum(F.coalesce(F.col("_b"), F.lit(0)) - both).cast("long")
             .alias("n_only_b"))
    q["docs_source_overlap"] = docs_source_overlap

    # -- duplicate-graph structure (operators/cluster.py
    # graph_summary): exact triangle count via oriented wedge-close —
    # the dedup-graph health check (near-cliques vs chain bridges).
    def docs_triangle_stats(spark, sf):
        return graph_summary(lsh_pairs_portable(spark, sf))
    q["docs_triangle_stats"] = docs_triangle_stats

    # -- duplicate-family size histogram: how big do dup clusters get
    # (the tail is what bucket caps must survive).
    def docs_dup_family_sizes(spark, sf):
        cl = dedup_clusters_df(spark, sf)
        fam = (cl.groupBy("canonical_id")
               .agg(F.count(F.lit(1)).alias("_sz")))
        return (fam.groupBy(F.col("_sz").alias("family_size"))
                .agg(F.count(F.lit(1)).alias("n_families")))
    q["docs_dup_family_sizes"] = docs_dup_family_sizes

    # incremental-ingestion dedup: a new batch anti-joined against the
    # accumulated fingerprint index (fixture: docs with doc_id % 3 == 0
    # stand in for the prior snapshot)
    def docs_incremental_novel(spark, sf):
        d = _read(spark, sf, "documents")
        seen = fingerprint_index(d.where(F.col("doc_id") % 3 == 0))
        return novel_documents(d, seen).select("doc_id")
    q["docs_incremental_novel"] = docs_incremental_novel

    # token-budget head selection: highest-quality docs (distinct-token
    # count desc, doc_id tiebreak = total order) until the cumulative
    # ws-token budget is spent. Spark side is the distributed two-phase
    # prefix sum (range sort + partition offsets + Arrow cumsum), NOT a
    # single-partition window; the oracle is the naive global window —
    # value equality proves the distributed prefix sum exact.
    def docs_token_budget(spark, sf):
        scored = _read(spark, sf, "documents").select(
            "doc_id", T.token_count("text").alias("n_tokens"),
            T.distinct_token_count("text").alias("n_distinct_tokens"))
        return budget_head(
            scored, "n_tokens",
            [F.col("n_distinct_tokens").desc(), F.col("doc_id")],
            budget=5000, cum_col="cum_tokens", num_partitions=8)
    q["docs_token_budget"] = docs_token_budget

    # cross-corpus duplicate-passage removal (C4 / Lee et al.): chunk
    # every doc into 20-token windows, drop every occurrence of a
    # repeated window except in the lowest-doc_id document, reassemble.
    # Only (hash, doc, idx) triples ride the wide stages.
    def docs_passage_dedup(spark, sf):
        return global_passage_dedup(_read(spark, sf, "documents"),
                                    window_tokens=20)
    q["docs_passage_dedup"] = docs_passage_dedup

    # fixed-point integer PageRank over the same LSH pair graph
    # (operators/pagerank.py): centrality inside near-dup families,
    # 3 rounds, all-integer arithmetic so the oracle's unrolled
    # iterations reproduce every rank bit-exactly
    def docs_pagerank(spark, sf):
        return (pagerank_integer(lsh_pairs_portable(spark, sf),
                                 iterations=3)
                .withColumnRenamed("node", "doc_id"))
    q["docs_pagerank"] = docs_pagerank

    # -- BFS neighborhood layers (operators/cluster.py bfs_layers):
    # min-hop distance from seed docs (id % 101 == 0) over the LSH
    # pair graph, 3 hops — the contamination-blast-radius query;
    # oracle unrolls the hops with MATERIALIZED layers.
    def docs_bfs_layers(spark, sf):
        return bfs_layers(lsh_pairs_portable(spark, sf),
                          lambda c: c % 101 == 0, hops=3)
    q["docs_bfs_layers"] = docs_bfs_layers

    # -- k-core peel (operators/cluster.py): 3 synchronized rounds of
    # sub-k-degree removal over the LSH pair graph — the dense-core
    # extractor; degree agg + two broadcast semi-joins per round,
    # partitioning-independent hence oracle-unrollable
    def docs_kcore(spark, sf):
        return (kcore_peel(lsh_pairs_portable(spark, sf), k=2, rounds=3)
                .withColumnRenamed("node", "doc_id"))
    q["docs_kcore"] = docs_kcore

    # -- double-sweep diameter probe (cluster.diameter_2sweep): how
    # long are the drifted-copy chains in the near-dup graph? Two BFS
    # sweeps, endpoints picked by bounded 1-row collects; oracle runs
    # the same two sweeps as depth-bounded recursive CTEs.
    def docs_graph_diameter(spark, sf):
        from logging_spark.operators.cluster import diameter_2sweep
        return diameter_2sweep(lsh_pairs_portable(spark, sf), hops=4)
    q["docs_graph_diameter"] = docs_graph_diameter

    # -- common-neighbor link prediction (operators/cluster.py
    # link_prediction): Jaccard-scored non-adjacent two-hop pairs over
    # the LSH graph — "family pairs the band collisions missed". One
    # middle-node self-join with a hub-degree cap; integral-ratio
    # scores.
    def docs_link_prediction(spark, sf):
        return link_prediction(lsh_pairs_portable(spark, sf))
    q["docs_link_prediction"] = docs_link_prediction

    # -- LPA communities (operators/cluster.py label_propagation):
    # majority-label dynamics over the LSH pair graph, 2 synchronized
    # rounds, deterministic min-label ties — splits a component into
    # dense cores where CC would merge across a bridge edge.
    def docs_lpa_communities(spark, sf):
        return (label_propagation(lsh_pairs_portable(spark, sf),
                                  rounds=2)
                .withColumnRenamed("node", "doc_id"))
    q["docs_lpa_communities"] = docs_lpa_communities

    # -- corpus language mix: lang-ID rollup with share in integral
    # bps (window total over the tiny per-lang frame).
    def docs_lang_mix(spark, sf):
        d = _read(spark, sf, "documents")
        per = (d.groupBy(T.lang_guess("text").alias("lang"))
               .agg(F.count(F.lit(1)).alias("n_docs"),
                    F.sum(F.size(T.tokens("text"))).cast("long")
                     .alias("n_tokens")))
        return per.withColumn(
            "share_bps",
            F.expr("CAST((n_docs * 10000) DIV (sum(n_docs) OVER ())"
                   " AS BIGINT)"))
    q["docs_lang_mix"] = docs_lang_mix

    # -- native multiset set-op (exceptAll): corpus EXCEPT ALL the
    # original documents leaves exactly the injected re-crawl copies,
    # WITH multiplicity — the semantics .distinct()-based diffs lose.
    def docs_except_all(spark, sf):
        c = corpus_df(spark, sf).select("text")
        d = _read(spark, sf, "documents").select("text")
        return (c.exceptAll(d)
                .groupBy(F.md5("text").alias("h"))
                .agg(F.count(F.lit(1)).alias("n")))
    q["docs_except_all"] = docs_except_all

    # -- quality keep-rate by source (corpus governance): which
    # sources are dragging the corpus down. Integral bps rate.
    def docs_quality_by_source(spark, sf):
        d = _read(spark, sf, "documents")
        keep = T.quality_keep("text", min_tokens=20,
                              min_distinct_ratio_pct=30).cast("int")
        return (d.groupBy("source")
                .agg(F.count(F.lit(1)).alias("n_docs"),
                     F.sum(keep).cast("long").alias("n_keep"))
                .withColumn("keep_bps",
                            F.expr("CAST((n_keep * 10000) DIV n_docs"
                                   " AS BIGINT)")))
    q["docs_quality_by_source"] = docs_quality_by_source

    # -- power-of-two size bins: floor(log2)+1 computed EXACTLY as the
    # binary-string length — no float log in either engine.
    def docs_size_powerbins(spark, sf):
        d = _read(spark, sf, "documents")
        bits = F.length(F.expr("bin(n_chars)")).cast("int")
        return (d.where(F.col("n_chars") > 0)
                .groupBy(bits.alias("size_bits"))
                .agg(F.count(F.lit(1)).alias("n_docs"),
                     F.sum("n_chars").cast("long").alias("total_chars")))
    q["docs_size_powerbins"] = docs_size_powerbins

    # -- vocabulary growth (Heaps-law curve): tokens attributed to the
    # FIRST document containing them (min doc over an exploded
    # (token, doc) frame — map-side combinable, shuffle = vocab
    # cardinality), bucketed into corpus deciles, running vocab size
    # over the 10-row decile frame. "How fast does new vocabulary
    # arrive as the corpus grows" — the dedup/quality planning curve.
    def docs_vocab_growth(spark, sf):
        d = _read(spark, sf, "documents")
        n = d.agg(F.max("doc_id").alias("_mx"))
        first = (d.select("doc_id", F.explode(T.tokens("text")).alias("tok"))
                 .groupBy("tok").agg(F.min("doc_id").alias("first_doc")))
        decile = F.expr(
            "CAST(least((first_doc * 10) DIV (_mx + 1), 9) AS INT)")
        per = (first.crossJoin(F.broadcast(n))
               .groupBy(decile.alias("decile"))
               .agg(F.count(F.lit(1)).alias("n_new_tokens")))
        w = (Window.orderBy("decile")
             .rowsBetween(Window.unboundedPreceding, Window.currentRow))
        return per.withColumn("vocab_size",
                              F.sum("n_new_tokens").over(w).cast("long"))
    q["docs_vocab_growth"] = docs_vocab_growth

    # -- score-fusion ranking: blend lexical quality (distinct-token
    # permille) with graph centrality (integer PageRank over the LSH
    # pair graph), each max-normalized to ppm by integral DIV — no
    # global rank window anywhere (fusion is on SCORES, so the only
    # ordered step is the final top-20 TakeOrdered). Docs outside the
    # pair graph get PageRank's no-inlink baseline.
    def docs_rank_fusion(spark, sf):
        d = _read(spark, sf, "documents")
        qf = T.quality_features("text")
        dq = (d.select("doc_id", qf.alias("_q"))
              .select("doc_id", F.col("_q.n_tokens").alias("nt"),
                      F.col("_q.n_distinct_tokens").alias("nd"))
              .withColumn("qs", F.expr(
                  "CAST(CASE WHEN nt = 0 THEN 0"
                  " ELSE (nd * 1000) DIV nt END AS BIGINT)")))
        pr = (pagerank_integer(lsh_pairs_portable(spark, sf),
                               iterations=3)
              .select(F.col("node").alias("doc_id"),
                      F.col("pr").alias("_pr")))
        mq = dq.agg(F.max("qs").alias("mq"))
        mp = pr.agg(F.max("_pr").alias("mpr"))
        fused = (dq.join(pr, "doc_id", "left")
                 .withColumn("prv", F.coalesce(F.col("_pr"),
                                               F.lit(150000).cast("long")))
                 .crossJoin(F.broadcast(mq))
                 .crossJoin(F.broadcast(mp))
                 .withColumn("blend_ppm", F.expr(
                     "CAST((qs * 1000000) DIV mq"
                     " + (prv * 1000000) DIV mpr AS BIGINT)")))
        return (fused.select("doc_id", "qs", "prv", "blend_ppm")
                .orderBy(F.col("blend_ppm").desc(), "doc_id").limit(20))
    q["docs_rank_fusion"] = docs_rank_fusion

    # -- reciprocal-rank fusion (operators/fusion.py): the rank-based
    # fusion twin of docs_rank_fusion's score blend — RRF over two
    # top-50 rankers (distinct-token quality, raw length). Bounded:
    # the fusion joins two 50-row lists, never the corpus.
    def docs_rrf(spark, sf):
        from logging_spark.operators.fusion import ranked_topk, rrf_fuse
        d = _read(spark, sf, "documents")
        qf = T.quality_features("text")
        dq = (d.select("doc_id", qf.alias("_q"))
              .select("doc_id", F.col("_q.n_tokens").alias("nt"),
                      F.col("_q.n_distinct_tokens").alias("nd"))
              .withColumn("qs", F.expr(
                  "CAST(CASE WHEN nt = 0 THEN 0"
                  " ELSE (nd * 1000) DIV nt END AS BIGINT)")))
        r_q = ranked_topk(dq, [F.col("qs").desc(), F.col("doc_id")], 50)
        r_len = ranked_topk(d, [F.col("n_chars").desc(),
                                F.col("doc_id")], 50)
        fused = rrf_fuse([r_q, r_len], k=60)
        return (fused.orderBy(F.col("rrf_score").desc(), "doc_id")
                .limit(20))
    q["docs_rrf"] = docs_rrf

    # -- corpus cleaning, end to end ---------------------------------------
    # The flagship training-data chain: quality filter -> exact dedup
    # (cheap pass first) -> MinHash/LSH near-dup cluster +
    # keep-canonical -> redact -> per-doc stats. `kept` is checkpointed
    # between the two passes — it feeds BOTH the LSH signature pass and
    # the final keep-canonical projection, and recomputing the quality
    # scan + exact-dedup window twice is pure waste at any scale (this
    # is exactly the inter-pass checkpoint production curation
    # pipelines take). Only wide deps: the exact-dedup hash partition
    # and LSH's banded self-join.
    def _clean_chain(spark, sf, portable):
        c = corpus_df(spark, sf)
        kept = c.where(T.quality_keep("text", min_tokens=20,
                                      min_distinct_ratio_pct=30))
        wmd5 = Window.partitionBy(F.md5("text"))
        kept = (kept.withColumn("_keeper", F.min("doc_id").over(wmd5))
                .where(F.col("doc_id") == F.col("_keeper")).drop("_keeper"))
        kept = kept.localCheckpoint(eager=True)
        clusters = duplicate_clusters(lsh_candidate_pairs(
            kept, num_perm=8, bands=4, w=3, portable=portable))
        cleaned = keep_canonical(kept, clusters)
        return cleaned.select(
            "doc_id",
            T.lang_guess("text").alias("lang"),
            T.token_count("text").alias("n_tokens"),
            F.md5(T.redact("text")).alias("fp"))

    q["docs_clean_e2e"] = lambda spark, sf: _clean_chain(spark, sf, True)

    # -- benchmark decontamination ------------------------------------------
    # the GPT-3/PaLM-style pre-training hygiene pass: count distinct
    # 3-gram shingles each corpus doc shares with a benchmark/eval set
    # (fixture: every doc with doc_id % 97 == 3 stands in for the eval
    # set), then drop docs past the hit threshold
    def _benchmark_df(spark, sf):
        return _read(spark, sf, "documents").where(
            F.col("doc_id") % 97 == 3).select("doc_id", "text")

    def docs_contamination_hits(spark, sf):
        return contamination_hits(corpus_df(spark, sf),
                                  _benchmark_df(spark, sf), w=3)
    q["docs_contamination_hits"] = docs_contamination_hits

    def docs_decontaminate(spark, sf):
        return decontaminate(corpus_df(spark, sf), _benchmark_df(spark, sf),
                             w=3, min_hits=10).select("doc_id")
    q["docs_decontaminate"] = docs_decontaminate

    # graded form: fraction of each doc's distinct shingles found in
    # the eval set, integral x1000 — what rate-based decon policies
    # threshold (operators/textdedup.py contamination_rate)
    def docs_contamination_rate(spark, sf):
        return contamination_rate(corpus_df(spark, sf),
                                  _benchmark_df(spark, sf), w=3)
    q["docs_contamination_rate"] = docs_contamination_rate

    # -- per-doc novelty (first-occurrence attribution): fraction of a
    # doc's distinct shingles this doc introduces to the corpus (by
    # doc_id order) — exact dups of earlier docs score 0, fresh
    # content scores 1000. The marginal-data-value profile: min-doc
    # inverted index + one per-doc agg, shares the memoized shingle
    # build.
    def docs_novelty(spark, sf):
        inv = shingles_w3(spark, sf).select(
            "doc_id", F.explode("_sh").alias("_s"))
        first = inv.groupBy("_s").agg(F.min("doc_id").alias("_fd"))
        per = (inv.join(first, "_s")
               .groupBy("doc_id")
               .agg(F.count(F.lit(1)).cast("long").alias("n_shingles"),
                    F.sum(F.when(F.col("doc_id") == F.col("_fd"), 1)
                          .otherwise(0)).cast("long").alias("n_novel")))
        return per.withColumn(
            "novel_x1000",
            F.expr("(n_novel * 1000) DIV n_shingles").cast("long"))
    q["docs_novelty"] = docs_novelty

    # hashed-fingerprint scale path (rows-only: fingerprints use
    # xxhash64, which DuckDB can't express — the exact operator above
    # IS the value-checked twin; test_textdedup pins the subset
    # relation between the two)
    from logging_spark.operators.textdedup import hashed_decontaminate

    def docs_decontaminate_hashed(spark, sf):
        return hashed_decontaminate(
            corpus_df(spark, sf), _benchmark_df(spark, sf),
            w=3, min_hits=10).select("doc_id")
    q["docs_decontaminate_hashed"] = docs_decontaminate_hashed
    # rows-only production twin: xxhash64 minhash permutations (~10x
    # cheaper than the oracle-portable md5) — same chain, same output
    # columns; near-dup candidates may differ where hash families
    # disagree on borderline pairs, so no shared oracle (same split as
    # dedup_minhash_lsh vs _fast)
    q["docs_clean_e2e_fast"] = lambda spark, sf: _clean_chain(spark, sf, False)

    # -- token co-occurrence lift (operators/assoc.py): PMI-family
    # association without the log — integer-exact, pair generation is
    # per-document (let-bound nested transform, no self-join)
    q["docs_token_lift"] = lambda spark, sf: token_lift(
        _read(spark, sf, "documents"), min_support=5, max_tokens=64)

    # -- corpus datacard: the per-source governance rollup every
    # corpus release ships — volume, token mass, language spread,
    # exact-dup permille (integer DIV), mean doc tokens.  One groupBy
    # over scan-side expressions; distincts are per-group hashes.
    def docs_datacard(spark, sf):
        d = _read(spark, sf, "documents")
        g = d.groupBy("source").agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.size(T.tokens("text")).cast("long")).alias("n_tokens"),
            F.count_distinct("lang").alias("n_langs"),
            F.count_distinct(F.md5("text")).alias("_uniq"))
        return g.select(
            "source", "n_docs", "n_tokens", "n_langs",
            F.expr("((n_docs - _uniq) * 1000) DIV n_docs")
            .alias("dup_permille"),
            F.expr("n_tokens DIV n_docs").alias("mean_tokens"))
    q["docs_datacard"] = docs_datacard

    # -- training-export e2e (flagship chain): quality filter -> exact
    # dedup keep-first -> leakage-free split -> per-(split, shard)
    # verifiable manifest, ONE lazy plan.  Every stage is an operator
    # the contract already value-checks in isolation; this pins their
    # composition (the actual job a corpus release runs). Distinct
    # hash seeds for split vs shard assignment so the two can never
    # correlate (the export.py seed rule).
    def docs_export_e2e(spark, sf):
        from logging_spark.operators.dq import table_fingerprint
        d = _read(spark, sf, "documents")
        kept = d.where(T.quality_keep("text", min_tokens=20,
                                      min_distinct_ratio_pct=30))
        w = Window.partitionBy(F.md5("text"))
        ded = (kept.withColumn("_m", F.min("doc_id").over(w))
               .where(F.col("doc_id") == F.col("_m")))
        s = deterministic_split(ded.select("doc_id", "text"),
                                {"train": 0.9, "val": 0.1},
                                seed="exps", id_col="doc_id")
        tagged = s.withColumn("_shard", shard_id("doc_id", 8,
                                                 seed="expd"))
        out = table_fingerprint(tagged,
                                [F.col("doc_id"), F.col("text")],
                                group_by=["split", "_shard"],
                                seed="expd:fp")
        return out.withColumnRenamed("_shard", "shard")
    q["docs_export_e2e"] = docs_export_e2e

    # -- token-mass concentration (Pareto report): share of corpus
    # character mass held by docs at/above the exact p87.5 size edge.
    # 7/8 is a dyadic fraction, so percentile interpolation over the
    # BIGINT n_chars is exact double arithmetic in both engines (the
    # equidepth lesson); the share is an integer DIV. One agg for the
    # edge (broadcast scalar), one conditional agg for the shares.
    def docs_token_concentration(spark, sf):
        d = _read(spark, sf, "documents")
        e = (d.agg(F.expr("percentile(n_chars, 0.875D)").alias("_e"))
             .select(F.floor(F.col("_e") * 1000).cast("long")
                     .alias("edge_x1000")))
        j = d.crossJoin(F.broadcast(e))
        g = j.agg(
            F.min("edge_x1000").alias("edge_x1000"),
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.when(F.col("n_chars") * 1000 >= F.col("edge_x1000"),
                         F.col("n_chars")).otherwise(F.lit(0)))
            .cast("long").alias("_top"),
            F.sum("n_chars").cast("long").alias("_tot"),
            F.sum((F.col("n_chars") * 1000 >= F.col("edge_x1000"))
                  .cast("long")).cast("long").alias("n_top_docs"))
        return g.select("edge_x1000", "n_docs", "n_top_docs",
                        F.expr("(_top * 10000) DIV _tot")
                        .alias("share_bps"))
    q["docs_token_concentration"] = docs_token_concentration

    # -- leave-one-source-out ablation report: how the corpus mean
    # token count moves if each source is dropped — the cheap first
    # pass of data-mixture ablations. Pure integer (ppm DIV), one
    # grouped agg + one broadcast of the 1-row totals.
    def docs_source_ablation(spark, sf):
        d = _read(spark, sf, "documents")
        per_doc = d.select("source",
                           F.size(T.tokens("text")).cast("long").alias("q"))
        per = per_doc.groupBy("source").agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("q").cast("long").alias("tok_sum"))
        tot = per_doc.agg(F.count(F.lit(1)).alias("nn"),
                          F.sum("q").cast("long").alias("ss"))
        return (per.crossJoin(F.broadcast(tot))
                .select("source", "n_docs", "tok_sum",
                        F.expr("(ss * 1000000) DIV nn")
                         .alias("full_mean_ppm"),
                        F.expr("((ss - tok_sum) * 1000000) DIV (nn - n_docs)")
                         .alias("ablated_mean_ppm"),
                        F.expr("((ss - tok_sum) * 1000000) DIV (nn - n_docs)"
                               " - (ss * 1000000) DIV nn")
                         .alias("delta_ppm")))
    q["docs_source_ablation"] = docs_source_ablation

    # -- Gini concentration per source (profile.gini_by_group): the
    # inequality readout for corpus balance, via the exact integer
    # rank identity (never the O(n^2) |x_i - x_j| definition).
    def docs_gini(spark, sf):
        from logging_spark.operators.profile import gini_by_group
        d = _read(spark, sf, "documents")
        return gini_by_group(d, "source", "n_chars", "doc_id")
    q["docs_gini"] = docs_gini

    # -- 1-D EMD length drift per source (profile.length_emd):
    # transport-metric sibling of the chi-square drift index — for
    # sorted histograms EMD is exactly sum |cum share diff|, all ppm
    # integers over (source x bin) cells.
    def docs_length_emd(spark, sf):
        from logging_spark.operators.profile import length_emd
        d = _read(spark, sf, "documents")
        return length_emd(d, "source", "n_chars", bin_width=64)
    q["docs_length_emd"] = docs_length_emd

    # -- filter-cascade kill report: which gate removes how much —
    # the cleaning-pipeline observability readout. One pass computes
    # every gate flag; first_failed is the ordered CASE; independent
    # per-gate kill counts ride the same aggregate (a doc can fail
    # several gates — both views matter).
    def docs_filter_cascade(spark, sf):
        d = _read(spark, sf, "documents")
        toks = T.tokens(F.col("text"))
        flags = d.select(
            "source",
            (F.col("n_chars") < 100).cast("long").alias("f_short"),
            (F.col("lang") != "en").cast("long").alias("f_lang"),
            T.let(toks, lambda t:
                  (F.size(F.array_distinct(t)) * 1000 <
                   F.size(t) * 300).cast("long")).alias("f_rep"),
            (F.col("n_chars") > 5000).cast("long").alias("f_long"))
        staged = flags.withColumn(
            "first_failed",
            F.expr("CASE WHEN f_short = 1 THEN 'short' "
                   "WHEN f_lang = 1 THEN 'lang' "
                   "WHEN f_rep = 1 THEN 'repetitive' "
                   "WHEN f_long = 1 THEN 'long' ELSE 'kept' END"))
        return (staged.groupBy("source", "first_failed")
                .agg(F.count(F.lit(1)).cast("long").alias("n_docs"),
                     F.sum("f_short").cast("long").alias("n_short"),
                     F.sum("f_lang").cast("long").alias("n_lang"),
                     F.sum("f_rep").cast("long").alias("n_repetitive"),
                     F.sum("f_long").cast("long").alias("n_long")))
    q["docs_filter_cascade"] = docs_filter_cascade

    # -- 2-D Pareto skyline (operators/profile.py pareto_front):
    # vocabulary-richest documents at the lowest length budget. The
    # Spark plan is one sort over DISTINCT points; the oracle runs
    # the naive quadratic NOT EXISTS — agreement proves the
    # single-sort dominance rewrite lossless.
    def docs_pareto_front(spark, sf):
        from logging_spark.functions import text as T
        from logging_spark.operators.profile import pareto_front
        d = _read(spark, sf, "documents").select(
            "doc_id",
            T.distinct_token_count("text").cast("long").alias("vocab"),
            F.col("n_chars").cast("long").alias("n_chars"))
        return pareto_front(d, "doc_id", "vocab", "n_chars")
    q["docs_pareto_front"] = docs_pareto_front

    # -- 3-corpus Venn audit (operators/overlap.py venn_masks): every
    # membership cell of three derived corpora in two shuffles total
    # (bit-tag union + bit_or), not pairwise full-outer joins.
    def docs_venn3(spark, sf):
        from logging_spark.operators.overlap import venn_masks
        d = _read(spark, sf, "documents")
        return venn_masks({
            "en_de": d.where("lang IN ('en', 'de')"),
            "long": d.where("n_chars >= 300"),
            "alt": d.where("doc_id % 3 != 0")}, "doc_id")
    q["docs_venn3"] = docs_venn3


def register_oracles(o):

    o["docs_source_overlap"] = "WITH " + CORPUS_CTE + """,
a AS (SELECT DISTINCT md5(text) AS h FROM corpus WHERE doc_id < 10000),
b AS (SELECT DISTINCT md5(text) AS h FROM corpus WHERE doc_id >= 10000),
j AS (SELECT CASE WHEN a.h IS NULL THEN 0 ELSE 1 END AS fa,
             CASE WHEN b.h IS NULL THEN 0 ELSE 1 END AS fb
      FROM a FULL OUTER JOIN b ON a.h = b.h)
SELECT CAST(sum(fa) AS BIGINT) AS n_a, CAST(sum(fb) AS BIGINT) AS n_b,
       CAST(sum(fa * fb) AS BIGINT) AS n_common,
       CAST(sum(fa - fa * fb) AS BIGINT) AS n_only_a,
       CAST(sum(fb - fa * fb) AS BIGINT) AS n_only_b
FROM j"""

    _shard_row = ("concat_ws(chr(31), coalesce(CAST(doc_id AS VARCHAR), ''),"
                  " coalesce(CAST(text AS VARCHAR), ''))")
    o["docs_shard_manifest"] = f"""
SELECT CAST({hash60_sql('doc_id', 'exp')} % 16 AS INT) AS shard,
       bit_xor({hash60_sql(_shard_row, 'exp:fp')}) AS fingerprint,
       count(*) AS n_rows
FROM documents GROUP BY 1"""

    o["docs_lang_mix"] = f"""
WITH toks AS (SELECT {TOKS} AS raw,
                     list_distinct(list_transform({TOKS}, t -> lower(t)))
                       AS toks
              FROM documents),
s AS (SELECT CAST(len(raw) AS BIGINT) AS n_tok,
             len(list_intersect(toks, {_m['en']})) AS s_en,
             len(list_intersect(toks, {_m['de']})) AS s_de,
             len(list_intersect(toks, {_m['fr']})) AS s_fr,
             len(list_intersect(toks, {_m['es']})) AS s_es
      FROM toks),
l AS (SELECT n_tok,
             CASE WHEN s_en >= s_de AND s_en >= s_fr AND s_en >= s_es AND s_en > 0 THEN 'en'
                  WHEN s_de >= s_fr AND s_de >= s_es AND s_de > 0 THEN 'de'
                  WHEN s_fr >= s_es AND s_fr > 0 THEN 'fr'
                  WHEN s_es > 0 THEN 'es'
                  ELSE 'und' END AS lang
      FROM s),
per AS (SELECT lang, count(*) AS n_docs,
               CAST(sum(n_tok) AS BIGINT) AS n_tokens
        FROM l GROUP BY lang)
SELECT lang, n_docs, n_tokens,
       CAST((n_docs * 10000) // (sum(n_docs) OVER ()) AS BIGINT)
         AS share_bps
FROM per"""

    o["docs_dup_family_sizes"] = f"""
WITH RECURSIVE {_lsh_ctes},
pairs AS ({_lsh_pairs}),
und AS (SELECT doc_a AS s, doc_b AS d FROM pairs
        UNION SELECT doc_b, doc_a FROM pairs),
reach(node, r) AS (
  SELECT s, d FROM und
  UNION
  SELECT reach.node, und.d FROM reach JOIN und ON reach.r = und.s),
cl AS (SELECT node, least(node, min(r)) AS canonical_id
       FROM reach GROUP BY node),
fam AS (SELECT canonical_id, count(*) AS sz FROM cl GROUP BY 1)
SELECT CAST(sz AS BIGINT) AS family_size, count(*) AS n_families
FROM fam GROUP BY 1"""

    # unrolled 3-iteration integer PageRank over the same pair graph;
    # `//` (DuckDB) and `div` (Spark) are both exact integer division
    # on the all-positive ranks, so every intermediate is identical
    _pr_rounds = ""
    _prev = "r0"
    for _t in (1, 2, 3):
        _pr_rounds += f""",
m{_t} AS (SELECT und.d AS node, sum({_prev}.pr // deg.deg) AS sc
         FROM und JOIN {_prev} ON und.s = {_prev}.node
                  JOIN deg ON und.s = deg.s
         GROUP BY 1),
r{_t} AS (SELECT node,
                CAST(150000 + ((85 * sc) // 100) AS BIGINT) AS pr
         FROM m{_t})"""
        _prev = f"r{_t}"
    # AS MATERIALIZED: DuckDB inlines multiply-referenced CTEs by
    # default — und/deg feed 2 joins per unrolled round, so without
    # materialization the banded LSH self-join re-runs ~8x (53 s vs
    # 0.8 s at sf0.001, measured)
    o["docs_triangle_stats"] = f"""WITH {_lsh_ctes},
pairs AS MATERIALIZED ({_lsh_pairs}),
nodes AS (SELECT DISTINCT n FROM (
  SELECT doc_a AS n FROM pairs UNION ALL SELECT doc_b FROM pairs)),
tri AS (
  SELECT count(*) AS n_triangles
  FROM pairs e1
  JOIN pairs e2 ON e2.doc_a = e1.doc_b
  JOIN pairs e3 ON e3.doc_a = e1.doc_a AND e3.doc_b = e2.doc_b)
SELECT (SELECT count(*) FROM nodes) AS n_nodes,
       (SELECT count(*) FROM pairs) AS n_edges,
       (SELECT n_triangles FROM tri) AS n_triangles"""

    o["docs_lpa_communities"] = f"""WITH {_lsh_ctes},
pairs AS MATERIALIZED ({_lsh_pairs}),
und AS MATERIALIZED (SELECT doc_a AS s, doc_b AS d FROM pairs
        UNION SELECT doc_b, doc_a FROM pairs),
l0 AS (SELECT DISTINCT s AS node, s AS label FROM und),
c1 AS (SELECT u.d AS node, l.label, count(*) AS cnt
       FROM und u JOIN l0 l ON u.s = l.node GROUP BY 1, 2),
l1 AS MATERIALIZED (
  SELECT node, label FROM (
    SELECT node, label,
           row_number() OVER (PARTITION BY node
                              ORDER BY cnt DESC, label) AS rn
    FROM c1) WHERE rn = 1),
c2 AS (SELECT u.d AS node, l.label, count(*) AS cnt
       FROM und u JOIN l1 l ON u.s = l.node GROUP BY 1, 2),
l2 AS (
  SELECT node, label FROM (
    SELECT node, label,
           row_number() OVER (PARTITION BY node
                              ORDER BY cnt DESC, label) AS rn
    FROM c2) WHERE rn = 1)
SELECT node AS doc_id, CAST(label AS BIGINT) AS community FROM l2"""

    o["docs_pagerank"] = f"""WITH {_lsh_ctes},
pairs AS MATERIALIZED ({_lsh_pairs}),
und AS MATERIALIZED (SELECT doc_a AS s, doc_b AS d FROM pairs
        UNION SELECT doc_b, doc_a FROM pairs),
deg AS MATERIALIZED (SELECT s, CAST(count(*) AS BIGINT) AS deg
                     FROM und GROUP BY 1),
r0 AS (SELECT s AS node, CAST(1000000 AS BIGINT) AS pr FROM deg){_pr_rounds}
SELECT r3.node AS doc_id, r3.pr AS pr, deg.deg AS deg
FROM r3 JOIN deg ON r3.node = deg.s"""

    # 3 unrolled synchronized peel rounds; every e_i MATERIALIZED
    # (multiply referenced — the DuckDB CTE-inlining trap)
    o["docs_kcore"] = f"""WITH {_lsh_ctes},
pairs AS MATERIALIZED ({_lsh_pairs}),
e0 AS MATERIALIZED (SELECT doc_a AS s, doc_b AS d FROM pairs
        UNION SELECT doc_b, doc_a FROM pairs),
k1 AS (SELECT s FROM e0 GROUP BY s HAVING count(*) >= 2),
e1 AS MATERIALIZED (SELECT e0.s, e0.d FROM e0
     JOIN k1 a ON e0.s = a.s JOIN k1 b ON e0.d = b.s),
k2 AS (SELECT s FROM e1 GROUP BY s HAVING count(*) >= 2),
e2 AS MATERIALIZED (SELECT e1.s, e1.d FROM e1
     JOIN k2 a ON e1.s = a.s JOIN k2 b ON e1.d = b.s),
k3 AS (SELECT s FROM e2 GROUP BY s HAVING count(*) >= 2),
e3 AS MATERIALIZED (SELECT e2.s, e2.d FROM e2
     JOIN k3 a ON e2.s = a.s JOIN k3 b ON e2.d = b.s)
SELECT s AS doc_id, CAST(count(*) AS BIGINT) AS deg
FROM e3 GROUP BY 1"""

    # 3 unrolled BFS hops; every layer MATERIALIZED (each feeds the
    # next hop's join AND the anti-membership check)
    o["docs_bfs_layers"] = f"""WITH {_lsh_ctes},
pairs AS MATERIALIZED ({_lsh_pairs}),
und AS MATERIALIZED (SELECT doc_a AS s, doc_b AS d FROM pairs
        UNION SELECT doc_b, doc_a FROM pairs),
l0 AS MATERIALIZED (SELECT DISTINCT s AS id FROM und WHERE s % 101 = 0),
l1 AS MATERIALIZED (
  SELECT DISTINCT u.d AS id FROM l0 JOIN und u ON u.s = l0.id
  WHERE u.d NOT IN (SELECT id FROM l0)),
l2 AS MATERIALIZED (
  SELECT DISTINCT u.d AS id FROM l1 JOIN und u ON u.s = l1.id
  WHERE u.d NOT IN (SELECT id FROM l0 UNION ALL SELECT id FROM l1)),
l3 AS MATERIALIZED (
  SELECT DISTINCT u.d AS id FROM l2 JOIN und u ON u.s = l2.id
  WHERE u.d NOT IN (SELECT id FROM l0 UNION ALL SELECT id FROM l1
                    UNION ALL SELECT id FROM l2))
SELECT id AS doc_id, CAST(0 AS INT) AS dist FROM l0
UNION ALL SELECT id, 1 FROM l1
UNION ALL SELECT id, 2 FROM l2
UNION ALL SELECT id, 3 FROM l3"""

    # und/deg multiply referenced -> MATERIALIZED (CTE-inlining trap);
    # hub cap mirrored even though the fixture never trips it
    o["docs_link_prediction"] = f"""WITH {_lsh_ctes},
pairs AS MATERIALIZED ({_lsh_pairs}),
und AS MATERIALIZED (SELECT doc_a AS s, doc_b AS d FROM pairs
        UNION SELECT doc_b, doc_a FROM pairs),
deg AS MATERIALIZED (SELECT s, count(*) AS deg FROM und GROUP BY 1),
mids AS (SELECT s FROM deg WHERE deg <= 1000),
hops AS (SELECT l.s AS a, r.d AS b, count(*) AS common
         FROM und l JOIN mids m ON l.d = m.s JOIN und r ON l.d = r.s
         WHERE l.s < r.d GROUP BY 1, 2),
nonadj AS (SELECT h.a, h.b, h.common FROM hops h
           LEFT JOIN und u ON h.a = u.s AND h.b = u.d
           WHERE u.s IS NULL)
SELECT n.a AS doc_a, n.b AS doc_b, CAST(n.common AS BIGINT) AS common,
       CAST((n.common * 1000) // (da.deg + db.deg - n.common)
            AS BIGINT) AS jaccard_x1000
FROM nonadj n JOIN deg da ON n.a = da.s JOIN deg db ON n.b = db.s"""

    o["docs_except_all"] = "WITH " + CORPUS_CTE + """
SELECT md5(text) AS h, count(*) AS n
FROM (SELECT text FROM corpus EXCEPT ALL SELECT text FROM documents)
GROUP BY 1"""

    o["docs_quality_by_source"] = f"""
WITH t AS (SELECT source, {TOKS} AS toks FROM documents),
k AS (SELECT source,
             CASE WHEN len(toks) >= 20 AND len(toks) <= 100000
                   AND len(list_filter(toks, x -> length(x) > 20)) * 100
                       <= len(toks) * 10
                   AND len(list_distinct(toks)) * 100 >= len(toks) * 30
                  THEN 1 ELSE 0 END AS keep
      FROM t)
SELECT source, count(*) AS n_docs,
       CAST(sum(keep) AS BIGINT) AS n_keep,
       CAST((CAST(sum(keep) AS BIGINT) * 10000) // count(*) AS BIGINT)
         AS keep_bps
FROM k GROUP BY source"""

    o["docs_size_powerbins"] = """
SELECT CAST(length(bin(n_chars)) AS INT) AS size_bits,
       count(*) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS total_chars
FROM documents WHERE n_chars > 0
GROUP BY 1"""

    o["docs_vocab_growth"] = f"""
WITH n AS (SELECT max(doc_id) AS mx FROM documents),
ex AS (SELECT doc_id, unnest({TOKS}) AS tok FROM documents),
first AS (SELECT tok, min(doc_id) AS first_doc FROM ex GROUP BY tok),
per AS (
  SELECT CAST(least((first_doc * 10) // (mx + 1), 9) AS INT) AS decile,
         count(*) AS n_new_tokens
  FROM first, n GROUP BY 1)
SELECT decile, n_new_tokens,
       CAST(sum(n_new_tokens) OVER (ORDER BY decile
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         AS vocab_size
FROM per"""

    o["docs_rank_fusion"] = f"""WITH {_lsh_ctes},
pairs AS MATERIALIZED ({_lsh_pairs}),
und AS MATERIALIZED (SELECT doc_a AS s, doc_b AS d FROM pairs
        UNION SELECT doc_b, doc_a FROM pairs),
deg AS MATERIALIZED (SELECT s, CAST(count(*) AS BIGINT) AS deg
                     FROM und GROUP BY 1),
r0 AS (SELECT s AS node, CAST(1000000 AS BIGINT) AS pr FROM deg){_pr_rounds},
prt AS MATERIALIZED (SELECT node AS doc_id, pr FROM r3),
qual AS (
  SELECT doc_id,
         CAST(CASE WHEN len(toks) = 0 THEN 0
              ELSE (len(list_distinct(toks)) * 1000) // len(toks) END
              AS BIGINT) AS qs
  FROM (SELECT doc_id, {TOKS} AS toks FROM documents)),
mx AS (SELECT max(qs) AS mq FROM qual),
mp AS (SELECT max(pr) AS mpr FROM prt),
fused AS (
  SELECT q.doc_id, q.qs,
         CAST(coalesce(p.pr, 150000) AS BIGINT) AS prv
  FROM qual q LEFT JOIN prt p ON q.doc_id = p.doc_id)
SELECT doc_id, qs, prv,
       CAST((qs * 1000000) // mq + (prv * 1000000) // mpr AS BIGINT)
         AS blend_ppm
FROM fused, mx, mp
ORDER BY blend_ppm DESC, doc_id
LIMIT 20"""

    # the full cleaning chain: quality -> exact dedup -> LSH clusters
    # over the SURVIVORS -> keep canonical -> lang/tokens/redacted-fp
    o["docs_clean_e2e"] = f"""
WITH RECURSIVE {CORPUS_CTE},
t0 AS (SELECT doc_id, text, {TOKS} AS toks FROM corpus),
qual AS (SELECT doc_id, text FROM t0
  WHERE len(toks) >= 20 AND len(toks) <= 100000
    AND len(list_filter(toks, x -> length(x) > 20)) * 100 <= len(toks) * 10
    AND len(list_distinct(toks)) * 100 >= len(toks) * 30),
kept AS (SELECT doc_id, text FROM (
    SELECT doc_id, text,
           min(doc_id) OVER (PARTITION BY md5(text)) AS keeper
    FROM qual)
  WHERE doc_id = keeper),
{_lsh_body("kept")},
pairs AS ({_lsh_pairs}),
und AS (SELECT doc_a AS s, doc_b AS d FROM pairs
        UNION SELECT doc_b, doc_a FROM pairs),
reach(node, r) AS (
  SELECT s, d FROM und
  UNION
  SELECT reach.node, und.d FROM reach JOIN und ON reach.r = und.s),
losers AS (
  SELECT node FROM reach GROUP BY node
  HAVING least(node, min(r)) <> node),
lt AS (SELECT doc_id,
              list_distinct(list_transform({TOKS}, t -> lower(t))) AS ltoks
       FROM kept),
ls AS (SELECT doc_id,
              len(list_intersect(ltoks, {_m['en']})) AS s_en,
              len(list_intersect(ltoks, {_m['de']})) AS s_de,
              len(list_intersect(ltoks, {_m['fr']})) AS s_fr,
              len(list_intersect(ltoks, {_m['es']})) AS s_es
       FROM lt)
SELECT k.doc_id,
       CASE WHEN s_en >= s_de AND s_en >= s_fr AND s_en >= s_es AND s_en > 0 THEN 'en'
            WHEN s_de >= s_fr AND s_de >= s_es AND s_de > 0 THEN 'de'
            WHEN s_fr >= s_es AND s_fr > 0 THEN 'fr'
            WHEN s_es > 0 THEN 'es'
            ELSE 'und' END AS lang,
       CAST(len({TOKS}) AS BIGINT) AS n_tokens,
       md5(regexp_replace(
             regexp_replace(
               regexp_replace(text,
                 '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{{2,}}', '<EMAIL>', 'g'),
               '\\b[0-9a-fA-F]{{16,}}\\b', '<HEX>', 'g'),
             '\\b\\d{{6,}}\\b', '<NUM>', 'g')) AS fp
FROM kept k JOIN ls ON k.doc_id = ls.doc_id
WHERE k.doc_id NOT IN (SELECT node FROM losers)"""

    # benchmark decontamination: distinct 3-gram shingle hits per doc
    # against the doc_id % 97 == 3 eval-set fixture (shingles are
    # distinct per doc on both engines, so count(*) = distinct hits)
    _DECON_CTES = f"""{CORPUS_CTE},
bt AS (SELECT doc_id, {TOKS} AS toks FROM documents WHERE doc_id % 97 = 3),
bench AS (SELECT DISTINCT unnest({SHINGLES}) AS sh FROM bt),
ct AS (SELECT doc_id, {TOKS} AS toks FROM corpus),
inv AS (SELECT doc_id, unnest({SHINGLES}) AS sh FROM ct),
hits AS (SELECT doc_id, count(*) AS n_hits
         FROM inv JOIN bench USING (sh) GROUP BY doc_id)"""

    o["docs_contamination_hits"] = f"""
WITH {_DECON_CTES}
SELECT doc_id, n_hits FROM hits"""

    o["docs_decontaminate"] = f"""
WITH {_DECON_CTES}
SELECT doc_id FROM corpus
WHERE doc_id NOT IN (SELECT doc_id FROM hits WHERE n_hits >= 10)"""

    # inv already carries one row per DISTINCT shingle per doc and
    # every doc has >= 1 shingle, so totals come straight off inv
    o["docs_novelty"] = f"""
WITH {CORPUS_CTE},
ct AS (SELECT doc_id, {TOKS} AS toks FROM corpus),
inv AS (SELECT doc_id, unnest({SHINGLES}) AS s FROM ct),
fst AS (SELECT s, min(doc_id) AS fd FROM inv GROUP BY 1)
SELECT i.doc_id, CAST(count(*) AS BIGINT) AS n_shingles,
       CAST(sum(CASE WHEN i.doc_id = f.fd THEN 1 ELSE 0 END) AS BIGINT)
         AS n_novel,
       CAST((sum(CASE WHEN i.doc_id = f.fd THEN 1 ELSE 0 END) * 1000)
            // count(*) AS BIGINT) AS novel_x1000
FROM inv i JOIN fst f ON i.s = f.s GROUP BY 1"""

    o["docs_contamination_rate"] = f"""
WITH {_DECON_CTES},
tot AS (SELECT doc_id, count(*) AS n_shingles FROM inv GROUP BY 1)
SELECT t.doc_id, CAST(t.n_shingles AS BIGINT) AS n_shingles,
       CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits,
       CAST((coalesce(h.n_hits, 0) * 1000) // t.n_shingles AS BIGINT)
         AS rate_x1000
FROM tot t LEFT JOIN hits h ON t.doc_id = h.doc_id"""

    o["docs_incremental_novel"] = """
SELECT d.doc_id FROM documents d
WHERE md5(d.text) NOT IN (
  SELECT DISTINCT md5(text) FROM documents WHERE doc_id % 3 = 0)"""

    o["docs_token_budget"] = f"""
WITH s AS (SELECT doc_id,
                  CAST(len({TOKS}) AS BIGINT) AS n_tokens,
                  CAST(len(list_distinct({TOKS})) AS BIGINT)
                      AS n_distinct_tokens
           FROM documents),
c AS (SELECT *,
             CAST(sum(n_tokens) OVER (
                  ORDER BY n_distinct_tokens DESC, doc_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS BIGINT) AS cum_tokens
      FROM s)
SELECT doc_id, n_tokens, n_distinct_tokens, cum_tokens
FROM c WHERE cum_tokens <= 5000"""

    # independent derivation of the passage dedup: lateral unnest of
    # chunk indices + 1-based inclusive list slices; same first-doc-
    # wins keeper rule; docs with zero kept chunks survive as ''
    o["docs_passage_dedup"] = f"""
WITH t AS (SELECT doc_id, {TOKS} AS toks FROM documents),
occ AS (SELECT doc_id, i AS idx,
               md5(array_to_string(toks[i*20+1 : i*20+20], ' ')) AS h
        FROM t, unnest(generate_series(0,
                 CAST(ceil(len(toks)/20.0) AS INT)-1)) AS u(i)),
keep AS (SELECT h, min(doc_id) AS keeper FROM occ GROUP BY 1),
kept AS (SELECT occ.doc_id, occ.idx FROM occ JOIN keep USING (h)
         WHERE occ.doc_id = keep.keeper),
ka AS (SELECT t2.doc_id,
              CAST(count(*) AS BIGINT) AS n_kept,
              string_agg(array_to_string(
                  t2.toks[kept.idx*20+1 : kept.idx*20+20], ' '),
                  ' ' ORDER BY kept.idx) AS text_kept
       FROM kept JOIN t AS t2 USING (doc_id) GROUP BY 1)
SELECT t.doc_id,
       CAST(ceil(len(t.toks)/20.0) AS BIGINT) AS n_chunks,
       COALESCE(ka.n_kept, 0) AS n_kept,
       COALESCE(ka.text_kept, '') AS text_kept
FROM t LEFT JOIN ka USING (doc_id)"""

    # mirror of operators/assoc.py token_lift: same slice cap, same
    # integral lift (a DIV b == a // b)
    o["docs_token_lift"] = f"""
WITH toks AS (
  SELECT doc_id,
         list_sort(list_distinct({TOKS}))[1:64] AS capped,
         list_distinct({TOKS}) AS alltoks
  FROM documents),
n AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
singles AS (SELECT unnest(alltoks) AS tok, doc_id FROM toks),
tc AS (SELECT tok, CAST(count(*) AS BIGINT) AS n_t FROM singles GROUP BY 1),
pairs AS (
  SELECT a.tok AS tok_a, b.tok AS tok_b, CAST(count(*) AS BIGINT) AS n_xy
  FROM (SELECT doc_id, unnest(capped) AS tok FROM toks) a
  JOIN (SELECT doc_id, unnest(capped) AS tok FROM toks) b
    ON a.doc_id = b.doc_id AND a.tok < b.tok
  GROUP BY 1, 2 HAVING count(*) >= 5)
SELECT tok_a, tok_b, n_xy,
       CAST((n_xy * n_docs * 100) // (ta.n_t * tb.n_t) AS BIGINT)
         AS lift_pct
FROM pairs
JOIN tc ta ON pairs.tok_a = ta.tok
JOIN tc tb ON pairs.tok_b = tb.tok
CROSS JOIN n"""

    _ee_thr = split_thresholds({"train": 0.9, "val": 0.1})[0][1]
    _ee_row = ("concat_ws(chr(31), coalesce(CAST(doc_id AS VARCHAR), ''),"
               " coalesce(CAST(text AS VARCHAR), ''))")
    o["docs_export_e2e"] = f"""
WITH t AS (SELECT doc_id, text, {TOKS} AS toks FROM documents),
kept AS (SELECT doc_id, text FROM t
         WHERE len(toks) >= 20 AND len(toks) <= 100000
           AND len(list_filter(toks, x -> length(x) > 20)) * 100
               <= len(toks) * 10
           AND len(list_distinct(toks)) * 100 >= len(toks) * 30),
ded AS (SELECT doc_id, text FROM (
          SELECT doc_id, text,
                 min(doc_id) OVER (PARTITION BY md5(text)) AS _m
          FROM kept)
        WHERE doc_id = _m),
s AS (SELECT doc_id, text,
             CASE WHEN {hash60_sql("doc_id", "exps")} < {_ee_thr}
                  THEN 'train' ELSE 'val' END AS split
      FROM ded)
SELECT split, CAST({hash60_sql("doc_id", "expd")} % 8 AS INT) AS shard,
       bit_xor({hash60_sql(_ee_row, "expd:fp")}) AS fingerprint,
       count(*) AS n_rows
FROM s GROUP BY 1, 2"""

    o["docs_datacard"] = f"""
WITH g AS (
  SELECT source, count(*) AS n_docs,
         CAST(sum(len({TOKS})) AS BIGINT) AS n_tokens,
         CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
         count(DISTINCT md5(text)) AS uniq
  FROM documents GROUP BY 1)
SELECT source, n_docs, n_tokens, n_langs,
       ((n_docs - uniq) * 1000) // n_docs AS dup_permille,
       n_tokens // n_docs AS mean_tokens
FROM g"""

    o["docs_rrf"] = f"""
WITH t AS (SELECT doc_id, n_chars, {TOKS} AS toks FROM documents),
dq AS (SELECT doc_id,
              CASE WHEN len(toks) = 0 THEN 0
                   ELSE (CAST(len(list_distinct(toks)) AS BIGINT) * 1000)
                        // len(toks) END AS qs
       FROM t),
rq AS (SELECT doc_id, row_number() OVER (ORDER BY qs DESC, doc_id)
                AS rank
       FROM dq ORDER BY qs DESC, doc_id LIMIT 50),
rl AS (SELECT doc_id, row_number() OVER (ORDER BY n_chars DESC, doc_id)
                AS rank
       FROM t ORDER BY n_chars DESC, doc_id LIMIT 50),
fused AS (
  SELECT coalesce(rq.doc_id, rl.doc_id) AS doc_id,
         coalesce(1000000 // (60 + rq.rank), 0)
           + coalesce(1000000 // (60 + rl.rank), 0) AS rrf_score,
         (CASE WHEN rq.rank IS NOT NULL THEN 1 ELSE 0 END
          + CASE WHEN rl.rank IS NOT NULL THEN 1 ELSE 0 END) AS n_lists
  FROM rq FULL OUTER JOIN rl ON rq.doc_id = rl.doc_id)
SELECT doc_id, CAST(rrf_score AS BIGINT) AS rrf_score,
       CAST(n_lists AS INT) AS n_lists
FROM fused ORDER BY rrf_score DESC, doc_id LIMIT 20"""

    o["docs_token_concentration"] = """
WITH e AS (SELECT CAST(floor(quantile_cont(n_chars, 0.875) * 1000)
                       AS BIGINT) AS edge_x1000 FROM documents)
SELECT e.edge_x1000, count(*) AS n_docs,
       CAST(sum(CASE WHEN d.n_chars * 1000 >= e.edge_x1000
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_top_docs,
       (CAST(sum(CASE WHEN d.n_chars * 1000 >= e.edge_x1000
                      THEN d.n_chars ELSE 0 END) AS BIGINT) * 10000)
         // CAST(sum(d.n_chars) AS BIGINT) AS share_bps
FROM documents d CROSS JOIN e
GROUP BY 1"""

    o["docs_source_ablation"] = r"""
WITH per_doc AS (
  SELECT source,
         CAST(len(CASE WHEN trim(text) = '' THEN []
              ELSE string_split_regex(trim(text), '\s+') END)
              AS BIGINT) AS q
  FROM documents),
per AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(q) AS BIGINT) AS tok_sum
        FROM per_doc GROUP BY 1),
tot AS (SELECT CAST(count(*) AS BIGINT) AS nn,
               CAST(sum(q) AS BIGINT) AS ss
        FROM per_doc)
SELECT source, n_docs, tok_sum,
       CAST((ss * 1000000) // nn AS BIGINT) AS full_mean_ppm,
       CAST(((ss - tok_sum) * 1000000) // (nn - n_docs) AS BIGINT)
         AS ablated_mean_ppm,
       CAST(((ss - tok_sum) * 1000000) // (nn - n_docs)
            - (ss * 1000000) // nn AS BIGINT) AS delta_ppm
FROM per, tot"""

    o["docs_gini"] = """
WITH ranked AS (
  SELECT source, CAST(n_chars AS BIGINT) AS x,
         row_number() OVER (PARTITION BY source
                            ORDER BY n_chars, doc_id) AS r
  FROM documents),
agg AS (SELECT source, CAST(count(*) AS BIGINT) AS n,
               CAST(sum(x) AS BIGINT) AS total,
               CAST(sum(r * x) AS BIGINT) AS rx
        FROM ranked GROUP BY 1)
SELECT source, n, total,
       CAST(CASE WHEN n * total = 0 THEN 0
            ELSE ((2 * rx - (n + 1) * total) * 1000000)
                 // (n * total) END AS BIGINT) AS gini_x1e6
FROM agg"""

    o["docs_length_emd"] = """
WITH cells AS MATERIALIZED (
  SELECT source AS g, n_chars // 64 AS b,
         CAST(count(*) AS BIGINT) AS c
  FROM documents GROUP BY 1, 2),
grid AS (SELECT gs.g, bs.b
         FROM (SELECT DISTINCT g FROM cells) gs,
              (SELECT DISTINCT b FROM cells) bs),
dense AS (SELECT grid.g, grid.b, coalesce(c, 0) AS c
          FROM grid LEFT JOIN cells
            ON cells.g = grid.g AND cells.b = grid.b),
gtot AS MATERIALIZED (
  SELECT g, CAST(sum(c) AS BIGINT) AS tg FROM cells GROUP BY 1),
gall AS (SELECT b, CAST(sum(c) AS BIGINT) AS cb
         FROM cells GROUP BY 1),
ta AS (SELECT CAST(sum(c) AS BIGINT) AS ta FROM cells),
cumg AS (
  SELECT dense.g, dense.b,
         (CAST(sum(c) OVER (PARTITION BY dense.g ORDER BY dense.b
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) * 1000000) // tg AS cg
  FROM dense JOIN gtot ON gtot.g = dense.g),
cuma AS (
  SELECT b, (CAST(sum(cb) OVER (ORDER BY b
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS BIGINT) * 1000000) // ta AS ca
  FROM gall, ta)
SELECT cumg.g AS source, CAST(gtot.tg AS BIGINT) AS n_rows,
       CAST(count(*) AS BIGINT) AS n_bins,
       CAST(sum(abs(cg - ca)) AS BIGINT) AS emd_ppm_bins
FROM cumg JOIN cuma ON cuma.b = cumg.b
JOIN gtot ON gtot.g = cumg.g
GROUP BY 1, 2"""

    o["docs_filter_cascade"] = r"""
WITH flags AS (
  SELECT source,
         CASE WHEN n_chars < 100 THEN 1 ELSE 0 END AS f_short,
         CASE WHEN lang != 'en' THEN 1 ELSE 0 END AS f_lang,
         CASE WHEN len(list_distinct(CASE WHEN trim(text) = ''
                   THEN [] ELSE string_split_regex(trim(text),
                   '\s+') END)) * 1000 <
              len(CASE WHEN trim(text) = '' THEN []
                  ELSE string_split_regex(trim(text), '\s+') END)
              * 300 THEN 1 ELSE 0 END AS f_rep,
         CASE WHEN n_chars > 5000 THEN 1 ELSE 0 END AS f_long
  FROM documents),
staged AS (
  SELECT *, CASE WHEN f_short = 1 THEN 'short'
                 WHEN f_lang = 1 THEN 'lang'
                 WHEN f_rep = 1 THEN 'repetitive'
                 WHEN f_long = 1 THEN 'long' ELSE 'kept' END
              AS first_failed
  FROM flags)
SELECT source, first_failed, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(f_short) AS BIGINT) AS n_short,
       CAST(sum(f_lang) AS BIGINT) AS n_lang,
       CAST(sum(f_rep) AS BIGINT) AS n_repetitive,
       CAST(sum(f_long) AS BIGINT) AS n_long
FROM staged GROUP BY 1, 2"""

    # skyline oracle: the NAIVE quadratic dominance check (DuckDB's
    # IEJoin makes the inequality anti-join tractable at gate SFs) —
    # equality with the single-sort Spark plan is the proof.
    o["docs_pareto_front"] = f"""
WITH toks AS (SELECT doc_id, {TOKS} AS toks, n_chars FROM documents),
pts AS MATERIALIZED (
  SELECT doc_id, CAST(len(list_distinct(toks)) AS BIGINT) AS vocab,
         CAST(n_chars AS BIGINT) AS n_chars
  FROM toks)
SELECT p.doc_id, p.vocab, p.n_chars
FROM pts p
WHERE NOT EXISTS (
  SELECT 1 FROM pts d
  WHERE d.vocab >= p.vocab AND d.n_chars <= p.n_chars
    AND (d.vocab > p.vocab OR d.n_chars < p.n_chars))"""

    o["docs_venn3"] = """
WITH t AS (
  SELECT doc_id AS id, CAST(1 AS BIGINT) AS b FROM documents
  WHERE lang IN ('en', 'de')
  UNION ALL
  SELECT doc_id, CAST(2 AS BIGINT) FROM documents WHERE n_chars >= 300
  UNION ALL
  SELECT doc_id, CAST(4 AS BIGINT) FROM documents
  WHERE doc_id % 3 != 0),
m AS (SELECT id, CAST(bit_or(b) AS BIGINT) AS mask FROM t GROUP BY 1)
SELECT mask,
       concat_ws('+',
         CASE WHEN (mask & 1) != 0 THEN 'en_de' END,
         CASE WHEN (mask & 2) != 0 THEN 'long' END,
         CASE WHEN (mask & 4) != 0 THEN 'alt' END) AS corpora,
       CAST(count(*) AS BIGINT) AS n_ids
FROM m GROUP BY 1"""

    _register_diameter_oracle(o)


def _register_diameter_oracle(o):
    from logging_spark.contract._fixtures import _lsh_ctes, _lsh_pairs

    # recursive UNION dedups (id, dist) pairs; min(dist) per id is the
    # BFS layer; dist < 4 bounds both sweeps to the operator's hops=4
    o["docs_graph_diameter"] = f"""
WITH RECURSIVE {_lsh_ctes},
pairs AS MATERIALIZED ({_lsh_pairs}),
und AS MATERIALIZED (SELECT doc_a AS s, doc_b AS d FROM pairs
        UNION SELECT doc_b, doc_a FROM pairs),
st AS (SELECT min(s) AS v FROM und),
w1(id, dist) AS (
  SELECT v, 0 FROM st
  UNION
  SELECT u.d, w1.dist + 1 FROM w1 JOIN und u ON u.s = w1.id
  WHERE w1.dist < 4),
l1 AS MATERIALIZED (
  SELECT id, CAST(min(dist) AS BIGINT) AS dist FROM w1 GROUP BY 1),
farpick AS MATERIALIZED (
  SELECT id AS v, dist AS ecc FROM l1
  ORDER BY dist DESC, id LIMIT 1),
w2(id, dist) AS (
  SELECT v, 0 FROM farpick
  UNION
  SELECT u.d, w2.dist + 1 FROM w2 JOIN und u ON u.s = w2.id
  WHERE w2.dist < 4),
l2 AS (SELECT id, min(dist) AS dist FROM w2 GROUP BY 1)
SELECT CAST((SELECT v FROM st) AS BIGINT) AS start_node,
       CAST((SELECT ecc FROM farpick) AS BIGINT) AS ecc_start,
       CAST((SELECT v FROM farpick) AS BIGINT) AS far_node,
       CAST(max(dist) AS BIGINT) AS diameter_lb,
       CAST(count(*) AS BIGINT) AS n_reached,
       CAST(max(dist) >= 4 OR (SELECT ecc FROM farpick) >= 4 AS INT)
         AS truncated
FROM l2"""
