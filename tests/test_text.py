from pyspark.sql import functions as F

from logging_spark.functions import text as T


def _one(spark, s, col):
    df = spark.createDataFrame([(s,)], "text string")
    return df.select(col.alias("v")).collect()[0]["v"]


def test_token_counts(spark):
    assert _one(spark, "a b  c", T.token_count("text")) == 3
    assert _one(spark, "   ", T.token_count("text")) == 0
    assert _one(spark, "", T.token_count("text")) == 0
    assert _one(spark, "a a b", T.distinct_token_count("text")) == 2


def test_bpe_ish_tokens(spark):
    got = _one(spark, "abc123, def!", T.bpe_ish_tokens("text"))
    assert got == ["abc", "123", ",", "def", "!"]


def test_quality_features(spark):
    v = _one(spark, "the cat sat on the mat", T.quality_features("text"))
    assert v["n_tokens"] == 6 and v["n_distinct_tokens"] == 5
    assert v["n_stopwords"] == 2 and v["n_chars"] == 22


def test_lang_guess(spark):
    assert _one(spark, "the cat is on and of the mat", T.lang_guess("text")) == "en"
    assert _one(spark, "der hund ist und bleibt", T.lang_guess("text")) == "de"
    assert _one(spark, "zzz qqq", T.lang_guess("text")) == "und"


def test_fingerprints(spark):
    import hashlib

    assert _one(spark, "hello", T.fingerprint("text")) == hashlib.md5(b"hello").hexdigest()
    # rolling fingerprint is edit-local: appending far from the minimal
    # window usually preserves it; identical strings always match
    a = _one(spark, "x" * 50, T.rolling_fingerprint("text"))
    b = _one(spark, "x" * 50, T.rolling_fingerprint("text"))
    assert a == b


def test_chunk_tokens_reconstructs_text(spark):
    """Chunks with overlap stripped must reconstruct the original
    token stream; every chunk except the last has exactly `chunk`
    tokens."""
    from pyspark.sql import functions as F
    from logging_spark.functions.text import chunk_tokens

    df = spark.createDataFrame(
        [(1, " ".join(f"w{i}" for i in range(100))),
         (2, "only three tokens"),
         (3, " ".join(f"x{i}" for i in range(32)))],
        "doc_id int, text string")
    ch = df.select("doc_id", F.explode(chunk_tokens("text", 32, 8)).alias("c")) \
           .select("doc_id", "c.chunk_idx", "c.chunk_text").collect()
    by_doc = {}
    for r in sorted(ch, key=lambda r: (r["doc_id"], r["chunk_idx"])):
        by_doc.setdefault(r["doc_id"], []).append(r["chunk_text"].split())
    orig = {1: [f"w{i}" for i in range(100)], 2: ["only", "three", "tokens"],
            3: [f"x{i}" for i in range(32)]}
    for doc, chunks in by_doc.items():
        recon = list(chunks[0])
        for c in chunks[1:]:
            assert recon[-8:] == c[:8], f"doc {doc}: overlap mismatch"
            recon.extend(c[8:])
        assert recon == orig[doc], f"doc {doc}: reconstruction failed"
        for c in chunks[:-1]:
            assert len(c) == 32


def test_dedup_lines_keeps_first_occurrence_order(spark):
    s = "alpha\nbeta\nalpha\ngamma\nbeta\nalpha"
    assert _one(spark, s, T.dedup_lines("text")) == "alpha\nbeta\ngamma"
    # no duplicates -> unchanged; single line -> unchanged
    assert _one(spark, "a\nb\nc", T.dedup_lines("text")) == "a\nb\nc"
    assert _one(spark, "only", T.dedup_lines("text")) == "only"
    # empty lines are lines too: repeated blanks collapse to one
    assert _one(spark, "a\n\n\na", T.dedup_lines("text")) == "a\n"


def test_dedup_lines_cap_makes_quadratic_total(spark):
    # a 10^5-line doc is ~10^10 array_position comparisons uncapped —
    # a single-row task stall; past max_lines it must pass through
    # unchanged (and fast)
    import time

    big = "\n".join(f"line-{i % 50}" for i in range(100_000))
    df = spark.createDataFrame([(1, big)], "doc_id int, text string")
    t0 = time.monotonic()
    out = df.select(T.dedup_lines("text", max_lines=1000).alias("d")).collect()
    assert time.monotonic() - t0 < 30
    assert out[0]["d"] == big  # pass-through above the cap
    # below the cap the dedup still applies
    small = "a\nb\na\nc"
    df2 = spark.createDataFrame([(1, small)], "doc_id int, text string")
    out2 = df2.select(T.dedup_lines("text", max_lines=1000).alias("d")).collect()
    assert out2[0]["d"] == "a\nb\nc"


def test_enrich_plans_without_a_job_and_broadcasts_a_small_dim(spark):
    """Building the enrich plan starts no Spark job: the session's
    broadcast threshold, not a count of the dim, picks the join."""
    import uuid

    from logging_spark import obs, synth
    from logging_spark.operators.enrich import enrich

    name = f"enrich-plan-{uuid.uuid4().hex}"
    turns = spark.createDataFrame(
        [("c1", 1, "user", "hi", "tool_01")],
        "conv_id string, turn_idx int, role string, text string, tool string")
    # the generated dim has size statistics (a local list's scan has
    # none); the group name in a dim value makes a plan no earlier call
    # has seen
    lookup = synth.lookup(spark, n_conversations=10).withColumn(
        "namespace", F.lit(name))
    with obs.group(spark, name):
        plan = enrich(turns, lookup)._jdf.queryExecution().executedPlan().toString()
    assert obs._job_ids(spark, name) == []
    assert "BroadcastHashJoin" in plan, plan


def test_ngram_repetition_counts(spark):
    v = _one(spark, "a b a b c", T.ngram_repetition("text", n=2))
    # grams: "a b","b a","a b","b c"
    assert v["n_grams"] == 4
    assert v["top_cnt"] == 2 and v["top_gram"] == "a b"
    assert v["top_chars"] == 6                  # 2 occurrences x 3 chars
    assert v["dup_chars"] == 6                  # only "a b" repeats


def test_ngram_repetition_tie_and_edges(spark):
    # all counts 1: largest gram wins the tie (deterministic total order)
    v = _one(spark, "x y x z", T.ngram_repetition("text", n=2))
    assert v["top_cnt"] == 1 and v["top_gram"] == "y x"
    assert v["dup_chars"] == 0
    # shorter than n tokens: zero grams, null top
    v = _one(spark, "hello", T.ngram_repetition("text", n=2))
    assert v["n_grams"] == 0 and v["top_cnt"] is None
    assert v["dup_chars"] == 0
    # past the cap: whole struct null (un-scored, not stalled)
    v = _one(spark, "w " * 50, T.ngram_repetition("text", n=2, max_tokens=10))
    assert v is None


def test_repetition_signals_matches_expression_twin(spark, sf_dir):
    # batch operator (operators/repetition.py) must reproduce the
    # column-expression twin field-for-field: edge cases + a slice of
    # the fixture corpus (the full corpus through the interpreted-HOF
    # twin is the measured task-stall this operator exists to avoid)
    from logging_spark.operators.repetition import repetition_signals

    edge = spark.createDataFrame(
        [("e1", "a b a b c"), ("e2", "x y x z"), ("e3", "hello"),
         ("e4", ""), ("e5", "w " * 50)],
        "doc_id string, text string")
    docs = (spark.read.parquet(f"{sf_dir}/documents.parquet")
            .select(F.col("doc_id").cast("string").alias("doc_id"), "text")
            .limit(40))
    corpus = edge.unionByName(docs).localCheckpoint()

    got = {r["doc_id"]: r for r in
           repetition_signals(corpus, n=2, max_tokens=30).collect()}
    r = T.ngram_repetition("text", n=2, max_tokens=30)
    want = {row["doc_id"]: row for row in corpus.select(
        "doc_id",
        r.getField("n_grams").alias("n_grams"),
        r.getField("top_cnt").alias("top_cnt"),
        r.getField("top_gram").alias("top_gram"),
        r.getField("top_chars").alias("top_chars"),
        r.getField("dup_chars").alias("dup_chars"),
    ).collect()}

    assert set(got) == set(want) and len(got) == 45
    for k in want:
        for f in ("n_grams", "top_cnt", "top_gram", "top_chars", "dup_chars"):
            assert got[k][f] == want[k][f], (k, f, got[k], want[k])
    # the capped row really is un-scored on both paths
    assert got["e5"]["n_grams"] is None


def test_luhn_and_cc_candidates(spark):
    # 4532015112830366: canonical Luhn-valid test PAN; +1 flips the check
    rows = spark.createDataFrame(
        [("pay 4532015112830366 now",),          # valid 16-digit
         ("ref 4532015112830367 bad",),          # checksum fails
         ("id 12345678901234567890 long",),      # 20 digits: not a candidate
         ("short 123456789012 run",),            # 12 digits: not a candidate
         ("amex-shaped 371449635398431 ok",)],   # valid 15-digit
        "text string").select(
            F.explode_outer(T.cc_candidates("text")).alias("c")).collect()
    got = [(r["c"]["candidate"], r["c"]["luhn_ok"]) if r["c"] else None
           for r in rows]
    assert got == [("4532015112830366", True),
                   ("4532015112830367", False),
                   None, None,
                   ("371449635398431", True)]


def test_mask_template_order_and_coverage(spark):
    from logging_spark.functions import text as T
    rows = [
        ("GET /api/v2/users/12345 from 10.0.0.7 took 250ms",),
        ("GET /api/v2/users/99 from 192.168.1.200 took 3ms",),
        ("req deadbeef0badc0de failed",),
        ("req cafebabe12345678 failed",),
    ]
    df = spark.createDataFrame(rows, "text string")
    out = [r.t for r in df.select(
        T.mask_template("text").alias("t")).collect()]
    # the two request lines collapse to ONE template (IP masked as a
    # unit, digits masked); the two hex ids collapse to one
    assert out[0] == out[1] == "GET /api/v<N>/users/<N> from <IP> took <N>ms"
    assert out[2] == out[3] == "req <HEX> failed"


def test_extract_urls_and_domains(spark):
    from pyspark.sql import functions as F
    from logging_spark.functions import text as T
    rows = [
        ("see https://a.example.com/p/1 and http://b.org/x?y",),
        ("no urls here",),
        ("trailing https://c.net",),
    ]
    df = spark.createDataFrame(rows, "text string")
    got = [r.u for r in df.select(T.extract_urls("text").alias("u")).collect()]
    # '?' is outside the path grammar: the query string is cut, the
    # host+path prefix is kept — the blocklist keys on the domain anyway
    assert got[0] == ["https://a.example.com/p/1", "http://b.org/x"]
    assert got[1] == []
    assert got[2] == ["https://c.net"]
    doms = [r.d for r in df.select(F.explode_outer(
        T.extract_urls("text")).alias("u")).select(
        T.url_domain("u").alias("d")).collect()]
    assert doms == ["a.example.com", "b.org", None, "c.net"]


def test_soundex_official_examples_and_builtin_parity(spark):
    from pyspark.sql import functions as F
    from logging_spark.functions import text as T
    # NARA's published American Soundex examples (public spec)
    official = {
        "Robert": "R163", "Rupert": "R163", "Ashcraft": "A261",
        "Ashcroft": "A261", "Tymczak": "T522", "Pfister": "P236",
        "Honeyman": "H555", "Jackson": "J250", "Washington": "W252",
        "Lee": "L000", "Gutierrez": "G362", "VanDeusen": "V532",
        "Deusen": "D250", "O'Brien": "O165", "": "",
    }
    df = spark.createDataFrame([(k,) for k in official], "name string")
    rows = df.select("name", T.soundex_code("name").alias("ours"),
                     F.soundex("name").alias("builtin")).collect()
    for r in rows:
        assert r.ours == official[r.name], (r.name, r.ours)
        if r.name:  # full parity with Spark's builtin, hw rule incl.
            assert r.ours == r.builtin, (r.name, r.ours, r.builtin)


def test_pii_counts_and_redact(spark):
    from logging_spark.functions import text as T
    rows = [
        ("a", "mail me at jo.doe+x@sub.example.org thanks"),
        ("b", "server 192.168.0.1 and 10.0.0.255 up"),
        ("c", "card 4111111111111111 ok"),          # 16 digits
        ("d", "run 12345678901234567890 ignored"),  # 20 digits: no PAN
        ("e", "short 123456789012 ignored"),        # 12 digits: no PAN
        ("f", "plain text, no pii at all"),
    ]
    df = spark.createDataFrame(rows, "k string, t string")
    out = {r["k"]: r for r in df.select(
        "k", T.pii_counts("t").alias("c"),
        T.redact_pii("t").alias("red")).collect()}
    assert out["a"]["c"]["n_emails"] == 1
    assert "<EMAIL>" in out["a"]["red"] and "@" not in out["a"]["red"]
    assert out["b"]["c"]["n_ipv4"] == 2
    assert out["b"]["red"].count("<IP>") == 2
    assert out["c"]["c"]["n_pan"] == 1
    assert "<PAN>" in out["c"]["red"]
    assert out["d"]["c"]["n_pan"] == 0  # \b guards: 20-digit run
    assert out["e"]["c"]["n_pan"] == 0
    assert out["f"]["red"] == "plain text, no pii at all"


def test_email_with_digit_run_redacts_once(spark):
    from logging_spark.functions import text as T
    df = spark.createDataFrame(
        [("x4111111111111111@bank.com ok",)], "t string")
    red = df.select(T.redact_pii("t").alias("r")).first()["r"]
    # email wins (replaced first): no <PAN> inside the local part
    assert red == "<EMAIL> ok"
