"""text family: contract queries (+ oracles) — split mechanically from the original single contract module; statement order preserved."""

from __future__ import annotations

from logging_spark.contract._fixtures import (
    BM25_QUERIES, F, T, TOKS, TURNS_CTE, _m, _read, bm25_topk, heavy_hitters,
    pack_chunks, pair_counts, repetition_signals, surprisal_band_keep,
    tfidf_topk, turns_df)


def register(q):

    # -- text analysis ------------------------------------------------------
    def text_quality(spark, sf):
        d = _read(spark, sf, "documents")
        qf = T.quality_features("text")
        return d.select(
            "doc_id",
            qf.getField("n_chars").alias("n_chars"),
            qf.getField("n_tokens").alias("n_tokens"),
            qf.getField("n_distinct_tokens").alias("n_distinct_tokens"),
            qf.getField("n_stopwords").alias("n_stopwords"),
            qf.getField("n_long_tokens").alias("n_long_tokens"),
        )
    q["text_quality"] = text_quality

    q["text_langid"] = lambda spark, sf: _read(spark, sf, "documents").select(
        "doc_id", T.lang_guess("text").alias("lang_guess"))

    q["text_token_counts"] = lambda spark, sf: _read(spark, sf, "documents").select(
        "doc_id",
        T.token_count("text").alias("n_ws_tokens"),
        F.size(T.bpe_ish_tokens("text")).cast("long").alias("n_bpe_tokens"))

    q["text_quality_filter"] = lambda spark, sf: _read(spark, sf, "documents").select(
        "doc_id", T.quality_keep("text", min_tokens=20,
                                 min_distinct_ratio_pct=30).alias("keep"))

    def text_chunks(spark, sf):
        d = _read(spark, sf, "documents")
        ch = d.select("doc_id", F.explode(
            T.chunk_tokens("text", chunk=32, overlap=8)).alias("c"))
        return ch.select("doc_id", "c.chunk_idx",
                         F.length("c.chunk_text").cast("int").alias("chunk_len"))
    q["text_chunks"] = text_chunks

    def text_redact(spark, sf):
        # augment turns with synthetic redactables (emails, hex traces)
        # so the scrubber has something to hit — same concat in the oracle
        t = turns_df(spark, sf)
        aug = F.concat(F.col("text"), F.lit(" trace="), F.md5("conv_id"),
                       F.lit(" contact="), F.col("conv_id"), F.lit("@example.com"))
        return t.select("conv_id", "turn_idx", T.redact(aug).alias("redacted"))
    q["text_redact"] = text_redact

    def text_pii_cc(spark, sf):
        # PII detection with checksum validation (functions/text.py:
        # luhn_valid): synthesize card-shaped digit runs from md5 hex
        # (digits-only projection; ~10% pass Luhn) so detection has
        # real positives AND checksum-failing near-misses to reject.
        # Same synthesis in the oracle.
        t = turns_df(spark, sf)
        dd = F.regexp_replace(F.md5("conv_id"), "[a-f]", "")
        aug = (t.where(F.length(dd) >= 16)
               .select("conv_id", "turn_idx",
                       F.concat(F.col("text"), F.lit(" card="),
                                F.substring(dd, 1, 16), F.lit(" ref="),
                                F.substring(dd, 1, 13)).alias("_txt")))
        ex = aug.select("conv_id", "turn_idx",
                        F.explode(T.cc_candidates("_txt")).alias("c"))
        return ex.select("conv_id", "turn_idx",
                         F.col("c.candidate").alias("candidate"),
                         F.col("c.luhn_ok").alias("luhn_ok"))
    q["text_pii_cc"] = text_pii_cc

    def text_top_ngrams(spark, sf):
        d = _read(spark, sf, "documents")
        grams = d.select(F.explode(T.ngrams("text", 3)).alias("ngram"))
        return (grams.groupBy("ngram").agg(F.count(F.lit(1)).alias("n"))
                .orderBy(F.col("n").desc(), "ngram").limit(20))
    q["text_top_ngrams"] = text_top_ngrams

    # -- BPE merge candidates (operators/bpe.py): adjacent-token-pair
    # counts, the per-iteration scan of tokenizer training. zip_with
    # over shifted slices (arrays as HOF children), map-side-combined
    # count, TakeOrderedAndProject top-k; (n desc, pair asc) tie-break
    # makes the k-boundary deterministic.
    q["text_bpe_pairs"] = lambda spark, sf: pair_counts(
        _read(spark, sf, "documents"), k=30)

    # -- unigram surprisal band filter (operators/surprisal.py): the
    # CCNet perplexity-band keep rule with integer bit-length surprisal
    # (length(bin(total DIV cnt)) — floor-log2, engine-exact where
    # float log() flips boundary rows).
    q["text_surprisal"] = lambda spark, sf: surprisal_band_keep(
        _read(spark, sf, "documents"), lo_x100=1000, hi_x100=1500)

    def text_repetition(spark, sf):
        # Gopher repetition rules: integer numerators of the top-/
        # duplicated-2-gram character fractions; callers threshold them
        # against n_chars. Batch path (operators/repetition.py) — the
        # column-expression twin (functions/text.py:ngram_repetition)
        # computes identical integers but interpreted (O(distinct ×
        # total) compares per row); equivalence is pinned by
        # tests/test_text.py on the same fixture corpus.
        return repetition_signals(_read(spark, sf, "documents"), n=2)
    q["text_repetition"] = text_repetition

    # TF-IDF keywords (operators/tfidf.py): fixed-point linear idf so
    # the per-doc top-5 ranking is integer-exact on both engines
    q["text_tfidf_topk"] = lambda spark, sf: tfidf_topk(
        _read(spark, sf, "documents"), k=5)

    # exact heavy-hitter tokens via per-partition Misra-Gries
    # candidates + exact recount (operators/heavy.py): deterministic
    # despite the sketch pass — candidates are a guaranteed superset,
    # the recount trims exactly to the threshold set
    def text_heavy_tokens(spark, sf):
        toks = _read(spark, sf, "documents").select(
            F.explode(T.tokens("text")).alias("tok"))
        return heavy_hitters(toks, col="tok", phi_ppm=5000)
    q["text_heavy_tokens"] = text_heavy_tokens

    q["text_fingerprint"] = lambda spark, sf: _read(spark, sf, "documents").select(
        "doc_id", T.fingerprint("text").alias("fp"))

    q["text_winnow"] = lambda spark, sf: _read(spark, sf, "documents").select(
        "doc_id", T.rolling_fingerprint("text", 16).alias("winnow_fp"))

    # C4-style normalization, and the near-dup class it exposes:
    # exact-dedup AFTER normalize catches case/punct-only duplicates
    def text_normalize(spark, sf):
        d = _read(spark, sf, "documents")
        return d.select("doc_id", T.normalize("text").alias("norm"))
    q["text_normalize"] = text_normalize

    # -- sequence packing ----------------------------------------------------
    # chunk (32-token windows, 8 overlap) -> greedy per-document packs
    # of 100 tokens: pack_idx = floor(tokens-before-this-chunk / budget),
    # a pure prefix sum partitioned by doc (no global sort)
    def text_pack_chunks(spark, sf):
        d = _read(spark, sf, "documents")
        ch = d.select("doc_id", F.explode(
            T.chunk_tokens("text", chunk=32, overlap=8)).alias("c"))
        ch = ch.select("doc_id", "c.chunk_idx",
                       F.size(T.tokens("c.chunk_text")).alias("n_tokens"))
        return pack_chunks(ch, budget=100)
    q["text_pack_chunks"] = text_pack_chunks

    # packing-efficiency audit on the same packs: per-pack token fill
    # aggregated to the trainer-facing utilization number. Exposes
    # wasted context-window tokens BEFORE a training run burns them —
    # utilization in integral bps (total_tokens x10000 DIV capacity).
    def text_pack_efficiency(spark, sf):
        packs = text_pack_chunks(spark, sf).groupBy(
            "doc_id", "pack_idx").agg(F.sum("n_tokens").alias("_fill"))
        return packs.agg(
            F.count(F.lit(1)).alias("n_packs"),
            F.sum("_fill").cast("long").alias("total_tokens"),
            F.expr("CAST((CAST(sum(_fill) AS BIGINT) * 10000)"
                   " DIV (count(1) * 100) AS BIGINT)")
             .alias("utilization_bps"))
    q["text_pack_efficiency"] = text_pack_efficiency

    # intra-document line dedup (C4/RefinedWeb-style): the fixture
    # builds multi-line docs (8-token lines) and appends a copy of the
    # first line, so every doc has >=1 repeated line to drop; the
    # oracle mirrors the construction byte for byte
    def text_dedup_lines(spark, sf):
        d = _read(spark, sf, "documents")
        toks = T.tokens("text")
        n_lines = F.greatest(
            F.ceil(F.size(toks) / F.lit(8.0)).cast("int"), F.lit(1))
        lines = F.transform(
            F.sequence(F.lit(0), n_lines - 1),
            lambda i: F.array_join(F.slice(toks, i * 8 + 1, 8), " "))
        ml = F.concat(F.array_join(lines, "\n"), F.lit("\n"),
                      F.element_at(lines, 1))
        d = d.select("doc_id", ml.alias("ml"))
        deduped = T.dedup_lines("ml")
        return d.select(
            "doc_id",
            F.size(F.split("ml", "\n")).cast("long").alias("n_lines"),
            F.size(F.split(deduped, "\n")).cast("long").alias("n_unique_lines"),
            F.md5(deduped).alias("fp"))
    q["text_dedup_lines"] = text_dedup_lines

    # -- URL extraction + domain blocklist (functions/text.py
    # extract_urls/url_domain): the C4-style URL-filtering stage.
    # Turns are augmented with two deterministic URLs (md5-prefix host
    # + a ref host on every third turn), extracted with a shared
    # RE2-safe grammar, blocked domains dropped, rolled up per domain.
    # Scale: one scan-side projection + one small groupBy — the
    # blocklist is a literal (broadcast at real size).
    def text_url_domains(spark, sf):
        t = turns_df(spark, sf)
        aug = F.concat(
            F.col("text"), F.lit(" url=https://h"),
            F.substring(F.md5("conv_id"), 1, 2), F.lit(".example.com/p/"),
            F.regexp_extract("text", r"code=(\d+)", 1),
            F.when(F.col("turn_idx") % 3 == 0,
                   F.lit(" ref=http://blog.example.org/latest"))
            .otherwise(F.lit("")))
        d = (t.select("conv_id", F.explode(T.extract_urls(aug)).alias("url"))
             .select("conv_id", T.url_domain("url").alias("domain")))
        blocked = ["h00.example.com", "hff.example.com", "blog.example.org"]
        return (d.where(~F.col("domain").isin(blocked))
                .groupBy("domain")
                .agg(F.count(F.lit(1)).alias("n_urls"),
                     F.count_distinct("conv_id").alias("n_convs")))
    q["text_url_domains"] = text_url_domains

    # -- BM25 retrieval (operators/bm25.py): integer-exact Okapi BM25
    # top-k per query — eval-support mining over the corpus. The
    # corpus is semi-joined to the broadcast query-term table before
    # any wide stage; doc bodies never shuffle.
    q["text_bm25_topk"] = lambda spark, sf: bm25_topk(
        _read(spark, sf, "documents"), BM25_QUERIES, k=5)

    # -- phonetic blocking (functions/text.py soundex_code): group
    # part-name lead words by American-Soundex code; blocks holding
    # >= 2 DISTINCT words are entity-resolution candidate sets (the
    # bounded-block pattern: verify within blocks only). The code is
    # a pure expression (NARA spec + Spark-builtin parity pinned in
    # tests) because no engine-portable soundex builtin exists.
    def text_phonetic_blocking(spark, sf):
        pt = _read(spark, sf, "part")
        coded = (pt.select(F.explode(F.split(F.col("p_name"), " "))
                           .alias("word"))
                 .select("word", T.soundex_code("word").alias("code")))
        return (coded.groupBy("code")
                .agg(F.count(F.lit(1)).alias("n_rows"),
                     F.count_distinct("word").alias("n_words"))
                .where(F.col("n_words") >= 2))
    q["text_phonetic_blocking"] = text_phonetic_blocking

    # -- BPE merge learning (operators/bpe.py learn_merges): 4 greedy
    # rounds of count -> argmax -> rewrite. Inherently sequential
    # (round r's counts depend on r-1's rewrite) -> rows-only by
    # design; the single-round pair count IS oracle-checked
    # (text_bpe_pairs) and the loop is pinned against a pure-Python
    # reference in tests/test_bpe_surprisal.py.
    def text_bpe_learn(spark, sf):
        from logging_spark.operators.bpe import learn_merges
        m = learn_merges(_read(spark, sf, "documents"), n_merges=4)
        return spark.createDataFrame(
            m, "rank int, left string, right string, n long")
    q["text_bpe_learn"] = text_bpe_learn

    # -- n-gram diversity (self-BLEU-adjacent): distinct-trigram
    # permille per source — the generated-data diversity audit (low
    # values = mode collapse / boilerplate). One explode + one agg;
    # trigram text shuffles once, hashed by the agg keys.
    def text_ngram_diversity(spark, sf):
        d = _read(spark, sf, "documents")
        g = d.select("source", F.explode(T.ngrams("text", 3))
                     .alias("ngram"))
        return (g.groupBy("source")
                .agg(F.count(F.lit(1)).alias("n_ngrams"),
                     F.count_distinct("ngram").alias("n_distinct"))
                .select("source", "n_ngrams", "n_distinct",
                        F.expr("(n_distinct * 1000) DIV n_ngrams")
                        .alias("diversity_permille")))
    q["text_ngram_diversity"] = text_ngram_diversity

    # -- Zipf rank-frequency profile: token types per power-of-two
    # frequency bin (integer log2 via length(bin(n)) — the portable
    # log trick). The vocabulary health report: a healthy natural
    # corpus decays smoothly; synthetic/templated text piles into a
    # few bins. Two aggs over the vocab, never the corpus.
    def text_zipf_bins(spark, sf):
        d = _read(spark, sf, "documents")
        vocab = (d.select(F.explode(T.tokens("text")).alias("tok"))
                 .groupBy("tok").agg(F.count(F.lit(1)).alias("n")))
        return (vocab.groupBy(F.length(F.bin("n")).cast("int")
                              .alias("freq_bin"))
                .agg(F.count(F.lit(1)).alias("n_types"),
                     F.sum("n").cast("long").alias("n_tokens")))
    q["text_zipf_bins"] = text_zipf_bins

    # -- bigram conditional surprisal (operators/surprisal.py): the
    # KenLM-band substitute one rung up from the unigram filter —
    # floor(log2(c(w1)/c(w1 w2))) + 1 per bigram, integer bit-length.
    # Per-source census of the per-doc means.
    def text_bigram_surprisal(spark, sf):
        from logging_spark.operators.surprisal import bigram_surprisal
        d = _read(spark, sf, "documents")
        per = bigram_surprisal(d)
        return (per.join(d.select("doc_id", "source"), "doc_id")
                .groupBy("source")
                .agg(F.count(F.lit(1)).alias("n_docs"),
                     F.sum("n_bigrams").cast("long").alias("n_bigrams"),
                     F.sum("surprisal_sum").cast("long")
                     .alias("surprisal_sum"),
                     F.min("mean_x100").alias("min_mean_x100"),
                     F.max("mean_x100").alias("max_mean_x100"))
                .withColumn("corpus_mean_x100",
                            F.expr("surprisal_sum * 100 DIV n_bigrams")))
    q["text_bigram_surprisal"] = text_bigram_surprisal

    # -- positional-index phrase search (operators/bm25.phrase_hits):
    # exact token-adjacency match for 'slow join', term postings
    # filtered BEFORE the position join. Per-source hit census.
    def text_phrase_search(spark, sf):
        from logging_spark.operators.bm25 import phrase_hits
        d = _read(spark, sf, "documents")
        hits = phrase_hits(d, "slow join")
        return (hits.join(d.select("doc_id", "source"), "doc_id")
                .groupBy("source")
                .agg(F.count(F.lit(1)).alias("n_docs_hit"),
                     F.sum("n_occurrences").cast("long")
                     .alias("n_occurrences")))
    q["text_phrase_search"] = text_phrase_search

    # -- PII detection + redaction (functions/text.py PII_*): the
    # governance pass every training export runs. The corpus text is
    # digit-free by construction, so both sides deterministically
    # inject email/IPv4/PAN tokens from doc_id, then detect (counts
    # on raw text) and redact (typed tokens, email->IP->PAN order) —
    # the real regexes are exercised end-to-end with nonzero counts.
    def text_pii_redact(spark, sf):
        d = _read(spark, sf, "documents")
        aug = d.withColumn("aug", F.concat(
            F.col("text"),
            F.when(F.col("doc_id") % 3 == 0, F.concat(
                F.lit(" contact user"),
                F.col("doc_id").cast("string"),
                F.lit("@example.com"))).otherwise(F.lit("")),
            F.when(F.col("doc_id") % 5 == 0, F.concat(
                F.lit(" from 10."),
                (F.col("doc_id") % 200).cast("string"), F.lit("."),
                (F.col("doc_id") % 250).cast("string"), F.lit("."),
                (F.col("doc_id") % 97).cast("string")))
            .otherwise(F.lit("")),
            F.when(F.col("doc_id") % 7 == 0, F.concat(
                F.lit(" card 4111"),
                F.lpad((F.col("doc_id") % 1000000).cast("string"),
                       12, "0"))).otherwise(F.lit(""))))
        c = aug.select(
            "source", T.pii_counts("aug").alias("_c"),
            F.length(T.redact_pii("aug")).alias("_redlen"),
            F.length("aug").alias("_rawlen"))
        return (c.groupBy("source")
                .agg(F.count(F.lit(1)).alias("n_docs"),
                     F.sum("_c.n_emails").cast("long").alias("n_emails"),
                     F.sum("_c.n_ipv4").cast("long").alias("n_ipv4"),
                     F.sum("_c.n_pan").cast("long").alias("n_pan"),
                     F.sum("_rawlen").cast("long").alias("raw_chars"),
                     F.sum("_redlen").cast("long")
                     .alias("redacted_chars")))
    q["text_pii_redact"] = text_pii_redact

    # -- corpus keyness: which tokens distinguish the en corpus from
    # the rest. Per-million-rate smoothed ratio — all BIGINT, no logs,
    # overflow-safe at any corpus size because rates are bounded by
    # 1e6 before the ratio. Global top-20 via orderBy+limit =
    # TakeOrderedAndProject (distributed heap, no global sort).
    def text_keyness(spark, sf):
        d = _read(spark, sf, "documents")
        tok = (d.select((F.col("lang") == "en").cast("long").alias("is_en"),
                        F.explode(T.tokens(F.lower(F.col("text"))))
                        .alias("tok"))
               .where(F.length("tok") >= 3))
        # localCheckpoint: cnt feeds both the totals and the scored
        # ratio — without pinning, the scan+explode+agg subtree runs
        # twice (measured: 3 exchanges -> 2, plan-tested).
        cnt = tok.groupBy("tok").agg(
            F.sum("is_en").cast("long").alias("a"),
            F.sum(1 - F.col("is_en")).cast("long").alias("b")) \
            .localCheckpoint()
        tot = cnt.agg(F.sum("a").cast("long").alias("ta"),
                      F.sum("b").cast("long").alias("tb"))
        scored = (cnt.crossJoin(F.broadcast(tot))
                  .where(F.col("a") >= 10)
                  .select("tok", "a", "b",
                          F.expr("(a * 1000000) DIV ta").alias("rate_a_ppm"),
                          F.expr("(b * 1000000) DIV tb").alias("rate_b_ppm"),
                          F.expr("(((a * 1000000) DIV ta) + 1) * 1000000"
                                 " DIV (((b * 1000000) DIV tb) + 1)")
                           .alias("keyness_x1e6")))
        return scored.orderBy(F.desc("keyness_x1e6"), F.desc("a"),
                              "tok").limit(20)
    q["text_keyness"] = text_keyness

    # -- model-based quality gate as dataflow (operators/classifier):
    # feature-hashed linear scorer — weights are a pure function of
    # the token hash, so inference is explode -> codegen'd weight ->
    # map-side-combined sum; no vocabulary table, no Python. Per-
    # source keep census over the per-doc scores.
    def text_model_score(spark, sf):
        from logging_spark.operators.classifier import \
            hashed_linear_scores
        d = _read(spark, sf, "documents")
        scores = hashed_linear_scores(d, "doc_id", "text")
        j = scores.join(d.select("doc_id", "source"), "doc_id")
        return (j.groupBy("source")
                .agg(F.count(F.lit(1)).alias("n_docs"),
                     F.sum((F.col("score") >= 0).cast("long"))
                     .cast("long").alias("n_keep"),
                     F.sum("score").cast("long").alias("sum_score")))
    q["text_model_score"] = text_model_score

    # -- pairwise clipped-unigram overlap (operators/overlap.py):
    # BLEU-1/ROUGE-1-style candidate-vs-reference scoring as pure
    # per-row HOF expressions (no shuffle beyond the pairing join).
    # Pairs here are adjacent doc_ids; per-source mean P/R/F1 in ppm.
    def text_pair_overlap(spark, sf):
        from logging_spark.operators.overlap import pair_overlap_metrics
        d = _read(spark, sf, "documents")
        toks = T.tokens(F.lower(F.col("text")))
        a = d.select("doc_id", "source", toks.alias("ta"))
        b = d.select((F.col("doc_id") - 1).alias("doc_id"),
                     toks.alias("tb"))
        m = pair_overlap_metrics(a.join(b, "doc_id"), "ta", "tb")
        return (m.groupBy("source")
                .agg(F.count(F.lit(1)).cast("long").alias("n_pairs"),
                     F.expr("CAST(sum(precision_ppm) AS BIGINT) "
                            "DIV count(*)").cast("long")
                     .alias("avg_precision_ppm"),
                     F.expr("CAST(sum(recall_ppm) AS BIGINT) "
                            "DIV count(*)").cast("long")
                     .alias("avg_recall_ppm"),
                     F.expr("CAST(sum(f1_ppm) AS BIGINT) DIV count(*)")
                     .cast("long").alias("avg_f1_ppm")))
    q["text_pair_overlap"] = text_pair_overlap

    # -- compression-ratio quality census (operators/compress.py):
    # zlib band census per source. ROWS-ONLY by design — DEFLATE has
    # no SQL twin; byte-exactness vs direct zlib.compress is pinned
    # in tests/test_compress.py.
    def text_compression_census(spark, sf):
        from logging_spark.operators.compress import compression_census
        d = _read(spark, sf, "documents")
        return compression_census(d, "source", "text")
    q["text_compression_census"] = text_compression_census

    # -- language confusion matrix: heuristic lang_guess vs the
    # labeled lang column — the eval-matrix readout for any cheap
    # classifier gate. Cells + per-label shares off one tiny window.
    def text_lang_confusion(spark, sf):
        d = _read(spark, sf, "documents")
        g = d.select("lang", T.lang_guess("text").alias("lang_guess"))
        cells = g.groupBy("lang", "lang_guess").agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"))
        return (cells.withColumn("share_of_lang_ppm",
                                 F.expr("(n_docs * 1000000) DIV "
                                        "sum(n_docs) OVER "
                                        "(PARTITION BY lang)")
                                 .cast("long"))
                .withColumn("correct",
                            (F.col("lang") == F.col("lang_guess"))
                            .cast("int")))
    q["text_lang_confusion"] = text_lang_confusion

    # -- Good-Turing unseen mass + Chao1 richness: will more crawl
    # find new vocabulary? All from the freq-of-freq table, integer.
    def text_vocab_coverage(spark, sf):
        from logging_spark.operators.profile import vocab_coverage
        return vocab_coverage(_read(spark, sf, "documents"), "text")
    q["text_vocab_coverage"] = text_vocab_coverage

    # -- Stupid Backoff trigram LM band (surprisal.backoff_trigram_
    # score): tiered trigram->bigram->unigram scores with the exact
    # 2/5 backoff rationals; per-source rollup. The tier census is
    # the quality signal: templated text is tier-1-heavy, garbage is
    # tier-3-heavy.
    def text_backoff_lm(spark, sf):
        from logging_spark.operators.surprisal import (
            backoff_trigram_score)
        d = _read(spark, sf, "documents")
        per = backoff_trigram_score(d)
        return (per.join(d.select("doc_id", "source"), "doc_id")
                .groupBy("source")
                .agg(F.count(F.lit(1)).cast("long").alias("n_docs"),
                     F.sum("n_trigrams").cast("long").alias("n_tri"),
                     F.sum("n_tier1").cast("long").alias("n_t1"),
                     F.sum("n_tier2").cast("long").alias("n_t2"),
                     F.sum("n_tier3").cast("long").alias("n_t3"),
                     F.sum("score_sum_ppm").cast("long").alias("s_ppm"),
                     F.min("mean_ppm").cast("long").alias("min_mean"),
                     F.max("mean_ppm").cast("long").alias("max_mean")))
    q["text_backoff_lm"] = text_backoff_lm

    # -- Zipf-slope audit: OLS slope of log2(freq) against log2(rank)
    # over the corpus vocabulary — natural text reads near -1; a
    # templated or deduplicate-starved corpus drifts off. Both logs
    # are integer bit-lengths (length(bin()) — engine-exact where
    # float log diverges); slope is the repo's exact integer
    # numerator/denominator split with one x1e6 quotient.
    def text_zipf_slope(spark, sf):
        from pyspark.sql import Window
        d = _read(spark, sf, "documents")
        toks = d.select(F.explode(T.tokens("text")).alias("tok"))
        vocab = toks.groupBy("tok").agg(
            F.count(F.lit(1)).cast("long").alias("cnt"))
        w = Window.orderBy(F.col("cnt").desc(), "tok")
        xy = vocab.select(
            F.length(F.bin(F.row_number().over(w))).cast("long")
            .alias("x"),
            F.length(F.bin(F.col("cnt"))).cast("long").alias("y"))
        agg = xy.agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("x").cast("long").alias("sx"),
            F.sum("y").cast("long").alias("sy"),
            F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
            F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"))
        return agg.selectExpr(
            "n",
            "CAST(n * sxy - sx * sy AS BIGINT) AS slope_num",
            "CAST(n * sxx - sx * sx AS BIGINT) AS slope_den",
            "CAST(CASE WHEN n * sxx - sx * sx = 0 THEN 0 ELSE "
            "((n * sxy - sx * sy) * 1000000) DIV (n * sxx - sx * sx) "
            "END AS BIGINT) AS slope_x1e6")
    q["text_zipf_slope"] = text_zipf_slope


def register_oracles(o):

    _stop = "['the','a','and','of','to','is','in','it']"
    o["text_quality"] = f"""
WITH toks AS (SELECT doc_id, text, {TOKS} AS toks FROM documents)
SELECT doc_id,
       CAST(length(text) AS BIGINT) AS n_chars,
       CAST(len(toks) AS BIGINT) AS n_tokens,
       CAST(len(list_distinct(toks)) AS BIGINT) AS n_distinct_tokens,
       CAST(len(list_filter(toks, t -> list_contains({_stop}, lower(t)))) AS BIGINT) AS n_stopwords,
       CAST(len(list_filter(toks, t -> length(t) > 20)) AS BIGINT) AS n_long_tokens
FROM toks"""
    o["text_langid"] = f"""
WITH toks AS (SELECT doc_id, list_distinct(list_transform({TOKS}, t -> lower(t))) AS toks
              FROM documents),
s AS (SELECT doc_id,
             len(list_intersect(toks, {_m['en']})) AS s_en,
             len(list_intersect(toks, {_m['de']})) AS s_de,
             len(list_intersect(toks, {_m['fr']})) AS s_fr,
             len(list_intersect(toks, {_m['es']})) AS s_es
      FROM toks)
SELECT doc_id,
       CASE WHEN s_en >= s_de AND s_en >= s_fr AND s_en >= s_es AND s_en > 0 THEN 'en'
            WHEN s_de >= s_fr AND s_de >= s_es AND s_de > 0 THEN 'de'
            WHEN s_fr >= s_es AND s_fr > 0 THEN 'fr'
            WHEN s_es > 0 THEN 'es'
            ELSE 'und' END AS lang_guess
FROM s"""

    o["text_token_counts"] = f"""
SELECT doc_id,
       CAST(len({TOKS}) AS BIGINT) AS n_ws_tokens,
       CAST(len(CASE WHEN trim(marked) = '' THEN []
                ELSE string_split_regex(trim(marked), '\\s+') END) AS BIGINT) AS n_bpe_tokens
FROM (SELECT doc_id, text,
             regexp_replace(text, '([A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]+)', ' \\1 ', 'g') AS marked
      FROM documents)"""

    o["text_quality_filter"] = f"""
WITH t AS (SELECT doc_id, {TOKS} AS toks FROM documents)
SELECT doc_id,
       (len(toks) >= 20 AND len(toks) <= 100000
        AND len(list_filter(toks, x -> length(x) > 20)) * 100 <= len(toks) * 10
        AND len(list_distinct(toks)) * 100 >= len(toks) * 30) AS keep
FROM t"""

    o["text_chunks"] = f"""
WITH t AS (SELECT doc_id, {TOKS} AS toks FROM documents),
c AS (SELECT doc_id, toks,
             CASE WHEN len(toks) <= 32 THEN 1
                  ELSE CAST(ceil((len(toks) - 32) / 24.0) AS INT) + 1 END AS n_chunks
      FROM t)
SELECT doc_id, CAST(i AS INT) AS chunk_idx,
       CAST(length(array_to_string(toks[i*24+1 : i*24+32], ' ')) AS INT) AS chunk_len
FROM c, unnest(range(0, n_chunks)) AS u(i)"""

    o["text_redact"] = "WITH " + TURNS_CTE + r"""
SELECT conv_id, turn_idx,
       regexp_replace(
         regexp_replace(
           regexp_replace(
             concat(text, ' trace=', md5(conv_id), ' contact=', conv_id, '@example.com'),
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
           '\b[0-9a-fA-F]{16,}\b', '<HEX>', 'g'),
         '\b\d{6,}\b', '<NUM>', 'g') AS redacted
FROM turns"""

    # same synthesis + same \b(\d{{13,19}})\b candidate grammar; Luhn
    # re-derived with DuckDB list lambdas (nested lambda over an index
    # range referencing the outer candidate var)
    o["text_pii_cc"] = "WITH " + TURNS_CTE + r""",
aug AS (SELECT conv_id, turn_idx,
               concat(text, ' card=', substr(dd, 1, 16),
                      ' ref=', substr(dd, 1, 13)) AS txt
        FROM (SELECT conv_id, turn_idx, text,
                     regexp_replace(md5(conv_id), '[a-f]', '', 'g') AS dd
              FROM turns)
        WHERE length(dd) >= 16),
ex AS (SELECT conv_id, turn_idx,
              unnest(regexp_extract_all(txt, '\b(\d{13,19})\b', 1)) AS candidate
       FROM aug)
SELECT conv_id, turn_idx, candidate,
       list_sum(list_transform(range(1, length(candidate) + 1),
         i -> CASE WHEN i % 2 = 1
              THEN CAST(substr(candidate, CAST(length(candidate) - i + 1 AS INT), 1) AS INT)
              ELSE CASE WHEN 2 * CAST(substr(candidate, CAST(length(candidate) - i + 1 AS INT), 1) AS INT) > 9
                   THEN 2 * CAST(substr(candidate, CAST(length(candidate) - i + 1 AS INT), 1) AS INT) - 9
                   ELSE 2 * CAST(substr(candidate, CAST(length(candidate) - i + 1 AS INT), 1) AS INT) END
         END)) % 10 = 0 AS luhn_ok
FROM ex"""

    o["text_top_ngrams"] = f"""
WITH t AS (SELECT {TOKS} AS toks FROM documents),
g AS (SELECT unnest(CASE WHEN len(toks) >= 3 THEN list_transform(
             range(1, len(toks) - 1), i -> array_to_string(toks[i:i+2], ' '))
           ELSE [] END) AS ngram FROM t)
SELECT ngram, count(*) AS n FROM g GROUP BY ngram
ORDER BY n DESC, ngram LIMIT 20"""

    # same relational shape as operators/repetition.py but re-derived
    # in DuckDB (unnest + GROUP BY + QUALIFY), and the column-expression
    # twin (functions/text.py:ngram_repetition) reaches the same
    # integers by a genuinely different per-row array plan (pinned
    # equal in tests/test_text.py). range(1, len) + toks[i:i+1] is
    # DuckDB's inclusive-slice rendering of 2-grams.
    o["text_repetition"] = f"""
WITH t AS (SELECT doc_id, {TOKS} AS toks FROM documents),
g AS (SELECT doc_id,
             CASE WHEN len(toks) >= 2 THEN list_transform(
                  range(1, len(toks)), i -> array_to_string(toks[i:i+1], ' '))
             ELSE [] END AS grams
      FROM t),
cnt AS (SELECT doc_id, gram, count(*) AS c
        FROM (SELECT doc_id, unnest(grams) AS gram FROM g)
        GROUP BY doc_id, gram),
top AS (SELECT doc_id, c AS top_cnt, gram AS top_gram
        FROM cnt
        QUALIFY row_number() OVER (PARTITION BY doc_id
                                   ORDER BY c DESC, gram DESC) = 1),
s AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_grams,
             CAST(sum(CASE WHEN c > 1 THEN c * length(gram) ELSE 0 END) AS BIGINT) AS dup_chars
      FROM cnt GROUP BY doc_id)
SELECT g.doc_id,
       COALESCE(s.n_grams, 0) AS n_grams,
       CAST(top.top_cnt AS BIGINT) AS top_cnt,
       top.top_gram,
       CAST(top.top_cnt * length(top.top_gram) AS BIGINT) AS top_chars,
       COALESCE(s.dup_chars, 0) AS dup_chars
FROM g LEFT JOIN top USING (doc_id) LEFT JOIN s USING (doc_id)"""

    # independent plan: Spark joins tf->df and windows per doc; the
    # oracle rebuilds both counts from an unnested token relation.
    # Linear fixed-point idf (operators/tfidf.py) keeps score integer-
    # exact; // and `div` both floor for non-negative operands.
    o["text_tfidf_topk"] = f"""
WITH t AS (SELECT doc_id, {TOKS} AS toks FROM documents),
tf AS (SELECT doc_id, term, count(*) AS tf
       FROM (SELECT doc_id, unnest(toks) AS term FROM t) GROUP BY 1, 2),
n AS (SELECT count(*) AS n_docs FROM documents),
dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
s AS (SELECT tf.doc_id, tf.term, tf.tf, dfq.df,
             tf.tf * ((n.n_docs * 1000000) // dfq.df) AS score
      FROM tf JOIN dfq USING (term) CROSS JOIN n)
SELECT doc_id, term, CAST(tf AS BIGINT) AS tf, CAST(df AS BIGINT) AS df,
       CAST(score AS BIGINT) AS score
FROM s
QUALIFY row_number() OVER (PARTITION BY doc_id
                           ORDER BY score DESC, term) <= 5"""

    # the sketch pass is invisible to the result (superset + exact
    # recount), so the oracle is the plain aggregate the naive plan
    # would run; threshold arithmetic mirrored in integer ppm
    o["text_heavy_tokens"] = f"""
WITH t AS (SELECT unnest({TOKS}) AS tok FROM documents),
n AS (SELECT count(*) AS total FROM t)
SELECT tok AS item, CAST(count(*) AS BIGINT) AS n
FROM t CROSS JOIN n
GROUP BY tok, n.total
HAVING count(*) * 1000000 >= 5000 * n.total"""

    # shifted-slice zip_with twin: 1-based list indexing, range(1, n)
    # stops at n-1 so (toks[i], toks[i+1]) spans exactly the pairs
    o["text_bpe_pairs"] = f"""
WITH t AS (SELECT {TOKS} AS toks FROM documents),
p AS (SELECT unnest(list_transform(range(1, len(toks)),
                                   i -> toks[i] || ' ' || toks[i + 1])) AS pair
      FROM t WHERE len(toks) >= 2)
SELECT pair, CAST(count(*) AS BIGINT) AS n
FROM p GROUP BY 1 ORDER BY n DESC, pair LIMIT 30"""

    # integer bit-length surprisal: length(bin(total // cnt)) ==
    # floor(log2) + 1 in both engines; empty-token docs emit no row
    o["text_surprisal"] = f"""
WITH t AS (SELECT doc_id, unnest({TOKS}) AS tok FROM documents),
v AS (SELECT tok, count(*) AS cnt FROM t GROUP BY 1),
tot AS (SELECT sum(cnt) AS total FROM v),
s AS (SELECT tok, CAST(length(bin(total // cnt)) AS BIGINT) AS sp
      FROM v CROSS JOIN tot),
d AS (SELECT t.doc_id, count(*) AS n, sum(sp) AS ssum
      FROM t JOIN s USING (tok) GROUP BY 1)
SELECT doc_id, CAST(n AS BIGINT) AS n_tokens,
       CAST(ssum AS BIGINT) AS surprisal_sum,
       CAST((ssum * 100) // n AS BIGINT) AS mean_x100,
       CAST(CASE WHEN (ssum * 100) // n BETWEEN 1000 AND 1500
                 THEN 1 ELSE 0 END AS INT) AS keep
FROM d"""

    o["text_fingerprint"] = "SELECT doc_id, md5(text) AS fp FROM documents"

    o["text_winnow"] = """
SELECT doc_id,
       list_min(list_transform(range(1, CAST(greatest(length(text) - 15, 1) AS INT) + 1),
                               i -> md5(substr(text, CAST(i AS INT), 16)))) AS winnow_fp
FROM documents"""

    # sequence packing: same chunk construction as text_chunks, then
    # pack_idx = floor(per-doc running token count before this chunk /
    # 100) — an exact integer prefix sum on both engines
    o["text_pack_chunks"] = f"""
WITH t AS (SELECT doc_id, {TOKS} AS toks FROM documents),
c AS (SELECT doc_id, toks,
             CASE WHEN len(toks) <= 32 THEN 1
                  ELSE CAST(ceil((len(toks) - 32) / 24.0) AS INT) + 1 END AS n_chunks
      FROM t),
ch AS (SELECT doc_id, CAST(i AS INT) AS chunk_idx,
              CAST(len(toks[i*24+1 : i*24+32]) AS INT) AS n_tokens
       FROM c, unnest(range(0, n_chunks)) AS u(i))
SELECT doc_id, chunk_idx, n_tokens,
       CAST(floor((SUM(n_tokens) OVER (PARTITION BY doc_id ORDER BY chunk_idx
                    ROWS UNBOUNDED PRECEDING) - n_tokens) / 100) AS INT) AS pack_idx
FROM ch"""

    o["text_pack_efficiency"] = f"""
WITH t AS (SELECT doc_id, {TOKS} AS toks FROM documents),
c AS (SELECT doc_id, toks,
             CASE WHEN len(toks) <= 32 THEN 1
                  ELSE CAST(ceil((len(toks) - 32) / 24.0) AS INT) + 1 END AS n_chunks
      FROM t),
ch AS (SELECT doc_id, CAST(i AS INT) AS chunk_idx,
              CAST(len(toks[i*24+1 : i*24+32]) AS INT) AS n_tokens
       FROM c, unnest(range(0, n_chunks)) AS u(i)),
pk AS (SELECT doc_id, n_tokens,
              CAST(floor((SUM(n_tokens) OVER (PARTITION BY doc_id
                           ORDER BY chunk_idx ROWS UNBOUNDED PRECEDING)
                          - n_tokens) / 100) AS INT) AS pack_idx
       FROM ch),
packs AS (SELECT doc_id, pack_idx, sum(n_tokens) AS fill
          FROM pk GROUP BY 1, 2)
SELECT count(*) AS n_packs,
       CAST(sum(fill) AS BIGINT) AS total_tokens,
       CAST((CAST(sum(fill) AS BIGINT) * 10000) // (count(*) * 100)
            AS BIGINT) AS utilization_bps
FROM packs"""

    # multi-line fixture (8-token lines + a repeat of line 1), then
    # order-preserving first-occurrence line dedup: DuckDB's (x, i)
    # lambda index is 1-based, Spark's 0-based — both sides compare
    # against list/array_position's 1-based first-occurrence index
    o["text_dedup_lines"] = f"""
WITH t AS (SELECT doc_id, {TOKS} AS toks FROM documents),
l AS (SELECT doc_id,
             list_transform(
               range(0, greatest(CAST(ceil(len(toks) / 8.0) AS INT), 1)),
               i -> array_to_string(toks[i*8+1 : i*8+8], ' ')) AS lines
      FROM t),
m AS (SELECT doc_id,
             array_to_string(lines, chr(10)) || chr(10) || lines[1] AS ml
      FROM l),
s AS (SELECT doc_id, ml, string_split(ml, chr(10)) AS ls FROM m),
d AS (SELECT doc_id, ml,
             list_filter(ls, (x, i) -> list_position(ls, x) = i) AS kept_lines,
             ls
      FROM s)
SELECT doc_id,
       CAST(len(ls) AS BIGINT) AS n_lines,
       CAST(len(kept_lines) AS BIGINT) AS n_unique_lines,
       md5(array_to_string(kept_lines, chr(10))) AS fp
FROM d"""

    o["text_normalize"] = r"""
SELECT doc_id,
       trim(regexp_replace(regexp_replace(lower(text),
            '[^a-z0-9\s]', ' ', 'g'), '\s+', ' ', 'g')) AS norm
FROM documents"""

    # same augmentation + the shared RE2-safe URL grammar
    o["text_url_domains"] = "WITH " + TURNS_CTE + r""",
aug AS (
  SELECT conv_id,
         concat(text, ' url=https://h', substr(md5(conv_id), 1, 2),
                '.example.com/p/', regexp_extract(text, 'code=(\d+)', 1),
                CASE WHEN turn_idx % 3 = 0
                     THEN ' ref=http://blog.example.org/latest'
                     ELSE '' END) AS txt
  FROM turns),
doms AS (
  SELECT conv_id,
         regexp_extract(unnest(regexp_extract_all(
             txt, '(https?://[A-Za-z0-9.-]+[/A-Za-z0-9._%-]*)', 1)),
           'https?://([^/]+)', 1) AS domain
  FROM aug)
SELECT domain, count(*) AS n_urls,
       CAST(count(DISTINCT conv_id) AS BIGINT) AS n_convs
FROM doms
WHERE domain NOT IN ('h00.example.com', 'hff.example.com',
                     'blog.example.org')
GROUP BY 1"""

    o["text_ngram_diversity"] = f"""
WITH t AS (SELECT source, {TOKS} AS toks FROM documents),
g AS (SELECT source, unnest(CASE WHEN len(toks) >= 3 THEN list_transform(
             range(1, len(toks) - 1), i -> array_to_string(toks[i:i+2], ' '))
           ELSE [] END) AS ngram FROM t),
a AS (SELECT source, count(*) AS n_ngrams,
             CAST(count(DISTINCT ngram) AS BIGINT) AS n_distinct
      FROM g GROUP BY 1)
SELECT source, n_ngrams, n_distinct,
       (n_distinct * 1000) // n_ngrams AS diversity_permille
FROM a"""

    o["text_zipf_bins"] = f"""
WITH v AS (
  SELECT tok, count(*) AS n
  FROM (SELECT unnest({TOKS}) AS tok FROM documents)
  GROUP BY 1)
SELECT CAST(length(bin(n)) AS INT) AS freq_bin,
       count(*) AS n_types, CAST(sum(n) AS BIGINT) AS n_tokens
FROM v GROUP BY 1"""

    # integer-exact Okapi BM25 (operators/bm25.py docstring derivation;
    # k1_x10=12, b_x100=75 -> numerator coeff 100000*22, denominator
    # 1000*tf*A + 300*A + 90000*dl with A = avgdl_x100)
    _bm25_vals = ", ".join(
        f"('{qid}', '{t.lower()}')"
        for qid, qtext in BM25_QUERIES
        for t in sorted(set(qtext.split())))
    o["text_bm25_topk"] = f"""
WITH tf AS (
  SELECT doc_id, term, count(*) AS tf
  FROM (SELECT doc_id, unnest({TOKS}) AS term FROM documents)
  GROUP BY 1, 2),
dl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM tf GROUP BY 1),
stats AS (
  SELECT count(*) AS n_docs,
         (100 * CAST(sum(dl) AS BIGINT)) // count(*) AS avgdl_x100
  FROM dl),
qt AS (SELECT * FROM (VALUES {_bm25_vals}) AS t(query_id, term)),
hit AS (
  SELECT q.query_id, f.doc_id, f.term, f.tf,
         count(*) OVER (PARTITION BY q.query_id, f.term) AS df
  FROM tf f JOIN qt q USING (term)),
agg AS (
  SELECT h.query_id, h.doc_id,
         CAST(sum(((s.n_docs * 1000000) // h.df) *
                  ((100000 * h.tf * 22 * s.avgdl_x100) //
                   (1000 * h.tf * s.avgdl_x100
                    + 300 * s.avgdl_x100 + 90000 * d.dl)))
              AS BIGINT) AS score
  FROM hit h JOIN dl d USING (doc_id) CROSS JOIN stats s
  GROUP BY 1, 2)
SELECT query_id, CAST(rank AS INT) AS rank, doc_id, score
FROM (SELECT query_id, doc_id, score,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY score DESC, doc_id) AS rank
      FROM agg)
WHERE rank <= 5"""

    # the same NARA algorithm, DuckDB edition (1-based index lambdas)
    o["text_phonetic_blocking"] = """
WITH w AS (SELECT unnest(string_split(p_name, ' ')) AS word FROM part),
u AS (SELECT word,
             upper(regexp_replace(word, '[^a-zA-Z]', '', 'g')) AS uu
      FROM w),
c AS (SELECT word, uu,
             translate(uu, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ',
                       '01230127022455012623017202') AS codes
      FROM u),
a AS (SELECT word, uu,
             list_transform(range(1, length(codes) + 1),
                            i -> codes[i:i]) AS arr
      FROM c),
t AS (SELECT word, uu,
             list_concat(arr[1:1],
                         list_filter(arr[2:], x -> x != '7')) AS tl
      FROM a),
cl AS (SELECT word, uu,
              list_filter(tl, (x, i) -> i = 1 OR tl[i-1] != x) AS cla
       FROM t),
s AS (SELECT word,
             CASE WHEN length(uu) = 0 THEN ''
                  ELSE substr(rpad(uu[1:1] ||
                         array_to_string(
                           list_filter(cla[2:], x -> x != '0'), ''),
                         4, '0'), 1, 4) END AS code
      FROM cl)
SELECT code, count(*) AS n_rows,
       CAST(count(DISTINCT word) AS BIGINT) AS n_words
FROM s GROUP BY 1 HAVING count(DISTINCT word) >= 2"""

    # PII mirror: same injected tokens, same RE2/Java-portable
    # patterns (no lookaround), same replacement order. DuckDB
    # regexp_replace needs the explicit 'g' flag.
    _pii_email = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
    _pii_ip = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
    _pii_pan = "\\b\\d{13,19}\\b"
    o["text_pii_redact"] = f"""
WITH aug AS (
  SELECT source, text
    || CASE WHEN doc_id % 3 = 0
            THEN ' contact user' || CAST(doc_id AS VARCHAR)
                 || '@example.com' ELSE '' END
    || CASE WHEN doc_id % 5 = 0
            THEN ' from 10.' || CAST(doc_id % 200 AS VARCHAR) || '.'
                 || CAST(doc_id % 250 AS VARCHAR) || '.'
                 || CAST(doc_id % 97 AS VARCHAR) ELSE '' END
    || CASE WHEN doc_id % 7 = 0
            THEN ' card 4111'
                 || lpad(CAST(doc_id % 1000000 AS VARCHAR), 12, '0')
            ELSE '' END AS aug
  FROM documents),
r AS (SELECT source, aug,
             len(regexp_extract_all(aug, '{_pii_email}')) AS n_emails,
             len(regexp_extract_all(aug, '{_pii_ip}')) AS n_ipv4,
             len(regexp_extract_all(aug, '{_pii_pan}')) AS n_pan,
             regexp_replace(regexp_replace(regexp_replace(aug,
               '{_pii_email}', '<EMAIL>', 'g'),
               '{_pii_ip}', '<IP>', 'g'),
               '{_pii_pan}', '<PAN>', 'g') AS red
      FROM aug)
SELECT source, count(*) AS n_docs,
       CAST(sum(n_emails) AS BIGINT) AS n_emails,
       CAST(sum(n_ipv4) AS BIGINT) AS n_ipv4,
       CAST(sum(n_pan) AS BIGINT) AS n_pan,
       CAST(sum(length(aug)) AS BIGINT) AS raw_chars,
       CAST(sum(length(red)) AS BIGINT) AS redacted_chars
FROM r GROUP BY 1"""

    # range(1, len) + toks[i:i+1] is DuckDB's inclusive-slice 2-gram;
    # bg feeds two joins -> MATERIALIZED
    o["text_bigram_surprisal"] = f"""
WITH t AS (SELECT doc_id, source, {TOKS} AS toks FROM documents),
uni AS (SELECT tok, count(*) AS c1
        FROM (SELECT unnest(toks) AS tok FROM t) GROUP BY 1),
bg AS MATERIALIZED (
  SELECT doc_id, source,
         unnest(CASE WHEN len(toks) >= 2 THEN list_transform(
                  range(1, len(toks)),
                  i -> array_to_string(toks[i:i+1], ' '))
                ELSE [] END) AS g
  FROM t),
bv AS (SELECT g, count(*) AS c2 FROM bg GROUP BY 1),
sp AS (SELECT g, CAST(length(bin(c1 // c2)) AS BIGINT) AS sp
       FROM bv JOIN uni ON string_split(g, ' ')[1] = tok),
per AS (SELECT doc_id, source, count(*) AS nb,
               CAST(sum(sp) AS BIGINT) AS ss,
               (CAST(sum(sp) AS BIGINT) * 100) // count(*)
                 AS mean_x100
        FROM bg JOIN sp USING (g) GROUP BY 1, 2)
SELECT source, count(*) AS n_docs,
       CAST(sum(nb) AS BIGINT) AS n_bigrams,
       CAST(sum(ss) AS BIGINT) AS surprisal_sum,
       CAST(min(mean_x100) AS BIGINT) AS min_mean_x100,
       CAST(max(mean_x100) AS BIGINT) AS max_mean_x100,
       (CAST(sum(ss) AS BIGINT) * 100) // CAST(sum(nb) AS BIGINT)
         AS corpus_mean_x100
FROM per GROUP BY 1"""

    o["text_phrase_search"] = f"""
WITH t AS (SELECT doc_id, source, {TOKS} AS toks FROM documents),
p AS (SELECT doc_id, source, unnest(toks) AS tok,
             generate_subscripts(toks, 1) AS pos
      FROM t),
t0 AS (SELECT doc_id, source, pos FROM p WHERE tok = 'slow'),
t1 AS (SELECT doc_id, pos - 1 AS pos FROM p WHERE tok = 'join'),
hits AS (SELECT t0.doc_id, t0.source, count(*) AS n_occ
         FROM t0 JOIN t1 USING (doc_id, pos) GROUP BY 1, 2)
SELECT source, count(*) AS n_docs_hit,
       CAST(sum(n_occ) AS BIGINT) AS n_occurrences
FROM hits GROUP BY 1"""

    o["text_keyness"] = r"""
WITH tok AS (
  SELECT CAST(CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS BIGINT) AS is_en,
         t.tok
  FROM documents,
       unnest(CASE WHEN trim(lower(text)) = '' THEN []
              ELSE string_split_regex(trim(lower(text)), '\s+') END)
         AS t(tok)
  WHERE len(t.tok) >= 3),
cnt AS (SELECT tok, CAST(sum(is_en) AS BIGINT) AS a,
               CAST(sum(1 - is_en) AS BIGINT) AS b
        FROM tok GROUP BY 1),
tot AS (SELECT CAST(sum(a) AS BIGINT) AS ta,
               CAST(sum(b) AS BIGINT) AS tb FROM cnt)
SELECT tok, a, b,
       CAST((a * 1000000) // ta AS BIGINT) AS rate_a_ppm,
       CAST((b * 1000000) // tb AS BIGINT) AS rate_b_ppm,
       CAST((((a * 1000000) // ta) + 1) * 1000000
            // (((b * 1000000) // tb) + 1) AS BIGINT) AS keyness_x1e6
FROM cnt, tot WHERE a >= 10
ORDER BY keyness_x1e6 DESC, a DESC, tok ASC
LIMIT 20"""

    o["text_model_score"] = r"""
WITH tok AS (
  SELECT doc_id, t.tok
  FROM documents,
       unnest(CASE WHEN trim(text) = '' THEN []
              ELSE string_split_regex(trim(text), '\s+') END) AS t(tok)),
scores AS (
  SELECT d.doc_id, d.source,
         CAST(coalesce(sum(
           CAST('0x' || substring(md5('qmodel' || tok), 1, 4) AS BIGINT)
           - 32768), 0) AS BIGINT) AS score
  FROM documents d LEFT JOIN tok ON tok.doc_id = d.doc_id
  GROUP BY 1, 2)
SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(CASE WHEN score >= 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_keep,
       CAST(sum(score) AS BIGINT) AS sum_score
FROM scores GROUP BY 1"""

    o["text_pair_overlap"] = r"""
WITH tokd AS (
  SELECT doc_id, source,
         CASE WHEN trim(lower(text)) = '' THEN []
              ELSE string_split_regex(trim(lower(text)), '\s+') END AS tk
  FROM documents),
pairs AS (
  SELECT a.source, a.tk AS ta, b.tk AS tb
  FROM tokd a JOIN tokd b ON b.doc_id = a.doc_id + 1),
scored AS (
  SELECT source,
         CAST(coalesce(list_sum(
           [least(len(list_filter(ta, x -> x = t)),
                  len(list_filter(tb, x -> x = t)))
            FOR t IN list_distinct(ta)]), 0) AS BIGINT) AS o,
         CAST(len(ta) AS BIGINT) AS na, CAST(len(tb) AS BIGINT) AS nb
  FROM pairs),
m AS (
  SELECT source,
         (o * 1000000) // greatest(na, 1) AS p,
         (o * 1000000) // greatest(nb, 1) AS r,
         (2 * o * 1000000) // greatest(na + nb, 1) AS f
  FROM scored)
SELECT source, CAST(count(*) AS BIGINT) AS n_pairs,
       CAST(CAST(sum(p) AS BIGINT) // CAST(count(*) AS BIGINT)
            AS BIGINT) AS avg_precision_ppm,
       CAST(CAST(sum(r) AS BIGINT) // CAST(count(*) AS BIGINT)
            AS BIGINT) AS avg_recall_ppm,
       CAST(CAST(sum(f) AS BIGINT) // CAST(count(*) AS BIGINT)
            AS BIGINT) AS avg_f1_ppm
FROM m GROUP BY 1"""

    o["text_lang_confusion"] = f"""
WITH toks AS (SELECT lang,
                     list_distinct(list_transform({TOKS},
                                                  t -> lower(t))) AS toks
              FROM documents),
s AS (SELECT lang,
             len(list_intersect(toks, {_m['en']})) AS s_en,
             len(list_intersect(toks, {_m['de']})) AS s_de,
             len(list_intersect(toks, {_m['fr']})) AS s_fr,
             len(list_intersect(toks, {_m['es']})) AS s_es
      FROM toks),
g AS (SELECT lang,
             CASE WHEN s_en >= s_de AND s_en >= s_fr AND s_en >= s_es
                       AND s_en > 0 THEN 'en'
                  WHEN s_de >= s_fr AND s_de >= s_es AND s_de > 0
                    THEN 'de'
                  WHEN s_fr >= s_es AND s_fr > 0 THEN 'fr'
                  WHEN s_es > 0 THEN 'es'
                  ELSE 'und' END AS lang_guess
      FROM s),
cells AS (SELECT lang, lang_guess, CAST(count(*) AS BIGINT) AS n_docs
          FROM g GROUP BY 1, 2)
SELECT lang, lang_guess, n_docs,
       CAST((n_docs * 1000000)
            // CAST(sum(n_docs) OVER (PARTITION BY lang) AS BIGINT)
            AS BIGINT) AS share_of_lang_ppm,
       CAST(CASE WHEN lang = lang_guess THEN 1 ELSE 0 END AS INT)
         AS correct
FROM cells"""

    o["text_vocab_coverage"] = f"""
WITH toks AS (SELECT {TOKS} AS toks FROM documents),
tok AS (SELECT unnest(toks) AS t FROM toks),
freq AS (SELECT t, CAST(count(*) AS BIGINT) AS r FROM tok GROUP BY 1),
s AS (
  SELECT CAST(sum(r) AS BIGINT) AS n_tokens,
         CAST(count(*) AS BIGINT) AS s_obs,
         CAST(sum(CAST(r = 1 AS BIGINT)) AS BIGINT) AS f1,
         CAST(sum(CAST(r = 2 AS BIGINT)) AS BIGINT) AS f2
  FROM freq)
SELECT n_tokens, s_obs, f1, f2,
       (f1 * 1000000) // n_tokens AS unseen_mass_ppm,
       s_obs + (f1 * f1) // greatest(2 * f2, 1) AS chao1
FROM s"""

    _register_backoff_oracle(o)
    _register_zipf_oracle(o)


def _register_backoff_oracle(o):
    from logging_spark.contract._fixtures import TOKS

    o["text_backoff_lm"] = f"""
WITH t AS (SELECT doc_id, source, {TOKS} AS toks FROM documents),
uni AS (SELECT tok, CAST(count(*) AS BIGINT) AS c1
        FROM (SELECT unnest(toks) AS tok FROM t) GROUP BY 1),
nt AS (SELECT CAST(sum(c1) AS BIGINT) AS n_total FROM uni),
tg AS MATERIALIZED (
  SELECT doc_id, source,
         unnest(CASE WHEN len(toks) >= 3 THEN list_transform(
                  range(1, len(toks) - 1),
                  i -> array_to_string(toks[i:i+2], ' '))
                ELSE [] END) AS g3
  FROM t),
bgm AS (
  SELECT unnest(CASE WHEN len(toks) >= 2 THEN list_transform(
                  range(1, len(toks)),
                  i -> array_to_string(toks[i:i+1], ' '))
                ELSE [] END) AS g2
  FROM t),
tri AS (SELECT g3, CAST(count(*) AS BIGINT) AS c3 FROM tg GROUP BY 1),
bi AS MATERIALIZED (
  SELECT g2, CAST(count(*) AS BIGINT) AS c2 FROM bgm GROUP BY 1),
inst AS (
  SELECT doc_id, source, g3,
         array_to_string(string_split(g3, ' ')[1:2], ' ') AS g2p,
         array_to_string(string_split(g3, ' ')[2:3], ' ') AS g2s,
         string_split(g3, ' ')[2] AS w2,
         string_split(g3, ' ')[3] AS w3
  FROM tg),
j AS (
  SELECT inst.doc_id, inst.source,
         tri.c3, bp.c2 AS c2p, bs.c2 AS c2s, u2.c1 AS c1w2,
         u3.c1 AS c1w3, nt.n_total
  FROM inst
  JOIN tri ON inst.g3 = tri.g3
  JOIN bi bp ON inst.g2p = bp.g2
  JOIN bi bs ON inst.g2s = bs.g2
  JOIN uni u2 ON inst.w2 = u2.tok
  JOIN uni u3 ON inst.w3 = u3.tok
  CROSS JOIN nt),
sc AS (
  SELECT doc_id, source,
         CASE WHEN c3 >= 2 THEN 1
              WHEN c2s >= 2 THEN 2 ELSE 3 END AS t,
         CASE WHEN c3 >= 2 THEN (c3 * 1000000) // c2p
              WHEN c2s >= 2 THEN (2 * c2s * 1000000) // (5 * c1w2)
              ELSE (4 * c1w3 * 1000000) // (25 * n_total) END AS s
  FROM j),
per AS (
  SELECT doc_id, source, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CASE WHEN t = 1 THEN 1 ELSE 0 END) AS BIGINT) AS t1,
         CAST(sum(CASE WHEN t = 2 THEN 1 ELSE 0 END) AS BIGINT) AS t2,
         CAST(sum(CASE WHEN t = 3 THEN 1 ELSE 0 END) AS BIGINT) AS t3,
         CAST(sum(s) AS BIGINT) AS ss
  FROM sc GROUP BY 1, 2)
SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n) AS BIGINT) AS n_tri,
       CAST(sum(t1) AS BIGINT) AS n_t1,
       CAST(sum(t2) AS BIGINT) AS n_t2,
       CAST(sum(t3) AS BIGINT) AS n_t3,
       CAST(sum(ss) AS BIGINT) AS s_ppm,
       CAST(min(ss // n) AS BIGINT) AS min_mean,
       CAST(max(ss // n) AS BIGINT) AS max_mean
FROM per GROUP BY 1"""



def _register_zipf_oracle(o):
    from logging_spark.contract._fixtures import TOKS

    o["text_zipf_slope"] = f"""
WITH t AS (SELECT {TOKS} AS toks FROM documents),
v AS (SELECT tok, CAST(count(*) AS BIGINT) AS cnt
      FROM (SELECT unnest(toks) AS tok FROM t) GROUP BY 1),
xy AS (SELECT
         CAST(length(bin(row_number() OVER (ORDER BY cnt DESC, tok)))
              AS BIGINT) AS x,
         CAST(length(bin(cnt)) AS BIGINT) AS y
       FROM v),
agg AS (SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(sum(x) AS BIGINT) AS sx,
               CAST(sum(y) AS BIGINT) AS sy,
               CAST(sum(x * y) AS BIGINT) AS sxy,
               CAST(sum(x * x) AS BIGINT) AS sxx
        FROM xy)
SELECT n,
       CAST(n * sxy - sx * sy AS BIGINT) AS slope_num,
       CAST(n * sxx - sx * sx AS BIGINT) AS slope_den,
       CAST(CASE WHEN n * sxx - sx * sx = 0 THEN 0
            ELSE ((n * sxy - sx * sy) * 1000000) // (n * sxx - sx * sx)
            END AS BIGINT) AS slope_x1e6
FROM agg"""
