"""Document deduplication operators for corpus curation.

Five strategies, each a standard public technique, all expressed as
DataFrame plans (no per-row Python):

- exact_duplicates: hash-groupBy on content fingerprint. One shuffle
  keyed by the md5 — uniform by construction, no skew.
- minhash_signatures + lsh_candidate_pairs: shingle -> minhash ->
  band -> bucket self-join (Broder MinHash + LSH banding). The
  candidate join is keyed on (band_idx, band_hash) — high cardinality,
  uniform; per-bucket pair expansion is bounded by bucket size, and a
  `max_bucket` guard drops degenerate buckets (e.g. empty-text docs)
  the way production pipelines do.
- ngram_jaccard_pairs: exact Jaccard via inverted-index self-join on
  shingles (only pairs sharing >=1 shingle are materialized — never
  the full n^2 cross join).
- simhash: 64-bit Charikar signature via expression-level aggregate;
  near-dups = equal signatures (or banded Hamming buckets).
- edit_distance_near_dups: LSH candidates verified by exact
  Levenshtein (candidate-then-verify; the DP runs per candidate pair
  only, never per corpus pair).
- embedding near-dup lives in similarity.py (cosine machinery shared
  with ANN search).

Hash portability: `portable=True` uses md5 (matches DuckDB for the
oracle contract); production default xxhash64 (JVM codegen, ~10x
cheaper) — same algorithm shape, engine-local values.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from logging_spark.functions.text import tokens


def shingles(text: Column | str, w: int = 3) -> Column:
    """Distinct w-word shingles (space-joined). Documents shorter than
    w tokens yield their whole token string as the single shingle.

    Built as a zip_with chain over w shifted slices (see
    functions/text.py:ngrams): interpreted HOF lambdas re-evaluate any
    expression in their BODY per element, so slicing a captured `toks`
    there re-runs the regex split O(tokens) times per row; zip_with's
    inputs are children, evaluated once."""
    toks = tokens(text)
    n = F.size(toks)
    whole = F.array(F.array_join(toks, " "))
    m = n - F.lit(w - 1)
    grams = F.slice(toks, 1, m)
    for k in range(2, w + 1):
        grams = F.zip_with(grams, F.slice(toks, k, m),
                           lambda a, b: F.concat(a, F.lit(" "), b))
    return F.array_distinct(F.when(n >= w, grams).otherwise(whole))


# Fast-path permutation family: hash each shingle STRING once
# (xxhash64), then derive every permutation with integer universal
# hashing h_i = (a_i*h + b_i) mod M — the standard MinHash formulation
# (Broder; datasketch does the same). Re-hashing the string per perm
# costs num_perm full string hashes per shingle; this costs ONE string
# hash + num_perm multiply-adds. M = 2^31-1 (Mersenne prime) keeps
# a_i*h < 2^62, so the arithmetic can never overflow ANSI-mode bigint.
_MERSENNE = (1 << 31) - 1


def _perm_coeffs(i: int) -> tuple[int, int]:
    # deterministic LCG-derived coefficients, a_i != 0
    a = (1103515245 * (i + 1) + 12345) % _MERSENNE or 1
    b = (69069 * (i + 1) + 362437) % _MERSENNE
    return a, b


def _perm_hash(shingle: Column, i: int, portable: bool) -> Column:
    if portable:
        return F.md5(F.concat(F.lit(f"{i}:"), shingle))
    a, b = _perm_coeffs(i)
    base = F.pmod(F.xxhash64(shingle), F.lit(_MERSENNE))
    return F.pmod(F.lit(a) * base + F.lit(b), F.lit(_MERSENNE))


def _min_perm(sh: Column, i: int, portable: bool) -> Column:
    # NB: the lambda must be single-argument — a second parameter
    # (even a defaulted one) makes PySpark pass the array INDEX as a
    # lambda variable, silently corrupting the closure-captured value.
    return F.array_min(F.transform(sh, lambda s: _perm_hash(s, i, portable)))


def _empty_sentinel(portable: bool) -> Column:
    # empty shingle set -> array_min yields null; substitute a sentinel
    # so empty docs never collide with real content
    return F.lit("EMPTY") if portable else F.lit(2**63 - 1).cast("long")


def minhash_signatures(df: DataFrame, id_col: str = "doc_id",
                       text_col: str = "text", num_perm: int = 8,
                       w: int = 3, portable: bool = True) -> DataFrame:
    """Multi-step projection: materialize the shingle array once, then
    derive all num_perm minima from the bound column. Inlining
    `shingles()` into each perm (the naive one-step select) rebuilds
    the shingle array num_perm times per row — higher-order functions
    are interpreted, not codegen'd, so Catalyst does not CSE them;
    measured 8x slower at 5k docs. The fast path additionally binds the
    per-shingle base xxhash64 ONCE (same reason: each perm is then a
    multiply-add over longs instead of a fresh string hash)."""
    with_sh = df.select(F.col(id_col), shingles(text_col, w).alias("_sh"))
    if not portable:
        with_sh = with_sh.select(
            F.col(id_col),
            F.transform("_sh", lambda s: F.pmod(F.xxhash64(s),
                                                F.lit(_MERSENNE))).alias("_sh"))
        def perm_min(i: int) -> Column:
            # NB: the transform lambda must stay SINGLE-argument — a
            # defaulted second param becomes the array index (see
            # _min_perm) — so bind (a, b) via this enclosing scope
            a, b = _perm_coeffs(i)
            return F.array_min(F.transform(
                "_sh", lambda h: F.pmod(F.lit(a) * h + F.lit(b),
                                        F.lit(_MERSENNE))))

        sig = F.array(*[perm_min(i) for i in range(num_perm)])
    else:
        sig = F.array(*[_min_perm(F.col("_sh"), i, portable)
                        for i in range(num_perm)])
    sent = _empty_sentinel(portable)
    sig = F.transform(sig, lambda h: F.coalesce(h, sent))
    return with_sh.select(F.col(id_col), sig.alias("signature"))


def lsh_candidate_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_perm: int = 8,
    bands: int = 4,
    w: int = 3,
    portable: bool = True,
    max_bucket: int = 1000,
) -> DataFrame:
    """Candidate near-dup pairs (a < b) sharing at least one LSH band.

    Plan shape: project signature -> explode bands (x`bands` rows) ->
    self equi-join on (band_idx, band_hash) -> distinct pairs. The
    join is an equi shuffle join on a uniform hash key; `max_bucket`
    caps pathological buckets before the pair expansion (quadratic in
    bucket size), the standard guard at web scale.
    """
    rows = num_perm // bands
    sigs = minhash_signatures(df, id_col, text_col, num_perm, w, portable)
    banded = sigs.select(
        F.col(id_col),
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(b).alias("band_idx"),
                    F.md5(F.concat_ws("|", *[
                        F.col("signature").getItem(b * rows + r) for r in range(rows)
                    ])).alias("band_hash"),
                )
                for b in range(bands)
            ])
        ).alias("band"),
    ).select(id_col, "band.band_idx", "band.band_hash")

    # The banded projection is referenced 4x below (bucket counts, the
    # anti-join, both self-join sides); without materialization each use
    # recomputes the minhash signatures — the dominant cost. Banded is
    # O(docs x bands) short hash rows, a few % of corpus size, so
    # caching it is the right call even at web scale (it is exactly
    # what production MinHash pipelines checkpoint between stages).
    # localCheckpoint (not persist): blocks are owned by the RDD and
    # auto-dropped by the ContextCleaner when it goes out of scope, so
    # repeated operator calls in a long-lived session don't accumulate
    # CacheManager entries nobody unpersists.
    banded = banded.localCheckpoint(eager=True)

    counts = banded.groupBy("band_idx", "band_hash").count()
    banded = (
        banded.join(F.broadcast(counts.where(F.col("count") > max_bucket)),
                    ["band_idx", "band_hash"], "left_anti")
    )
    a = banded.alias("a")
    b = banded.alias("b")
    pairs = (
        a.join(b, (F.col(f"a.band_idx") == F.col(f"b.band_idx"))
               & (F.col("a.band_hash") == F.col("b.band_hash"))
               & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))
        .select(F.col(f"a.{id_col}").alias("doc_a"), F.col(f"b.{id_col}").alias("doc_b"))
        .distinct()
    )
    return pairs


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    w: int = 3,
    min_intersection: int = 1,
    max_doc_freq: int = 1000,
) -> DataFrame:
    """Exact shingle-Jaccard for every pair sharing >= min_intersection
    shingles: inverted index (explode) -> self equi-join on shingle ->
    count per pair -> sizes via broadcast -> (inter, union) as exact
    integers. Never materializes non-overlapping pairs.

    `max_doc_freq` drops shingles appearing in more than that many
    documents BEFORE the self-join — the analog of lsh_candidate_pairs'
    max_bucket guard. Without it one boilerplate shingle shared by 10^6
    docs makes the join quadratic in its document frequency (10^12
    joined rows). Excluded stop-shingles no longer count toward
    n_intersection (and hence inflate n_union), the standard trade in
    production near-dup pipelines; sizes (n_a, n_b) stay exact.

    The shingle-array projection is materialized via localCheckpoint
    (auto-cleaned on GC, unlike persist): it feeds three branches
    (both self-join sides + the size table) and would otherwise be
    recomputed per branch."""
    sh_df = (df.select(F.col(id_col), shingles(text_col, w).alias("_sh"))
             .localCheckpoint(eager=True))
    sh = sh_df.select(F.col(id_col), F.explode("_sh").alias("shingle"))
    sizes = sh_df.select(F.col(id_col), F.size("_sh").cast("long").alias("n_sh"))
    if max_doc_freq is not None:
        # shingles are distinct per doc, so count(rows) = doc frequency.
        # Hot-shingle set is tiny by construction -> broadcast anti-join.
        hot = (sh.groupBy("shingle").count()
               .where(F.col("count") > max_doc_freq).select("shingle"))
        sh = sh.join(F.broadcast(hot), "shingle", "left_anti")
    a, b = sh.alias("a"), sh.alias("b")
    inter = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle"))
               & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))
        .groupBy(F.col(f"a.{id_col}").alias("doc_a"), F.col(f"b.{id_col}").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("n_intersection"))
        .where(F.col("n_intersection") >= min_intersection)
    )
    sa = sizes.select(F.col(id_col).alias("doc_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col(id_col).alias("doc_b"), F.col("n_sh").alias("n_b"))
    return (
        inter.join(sa, "doc_a").join(sb, "doc_b")
        .select(
            "doc_a", "doc_b", "n_intersection",
            (F.col("n_a") + F.col("n_b") - F.col("n_intersection")).alias("n_union"),
        )
    )


def simhash(text: Column | str, bits: int = 64, portable: bool = False) -> Column:
    """Charikar SimHash, Arrow-vectorized: per-token hash votes +-1 per
    bit position; sign of the tally sets the bit. One pandas UDF batch
    hashes each DISTINCT token once (C-accelerated md5) and folds the
    per-bit tallies as a single (tokens x bits) numpy reduction —
    measured ~20x the interpreted aggregate/zip_with expression tree
    (HOFs are NOT codegen'd; simhash_expr keeps that variant for
    parity tests). Narrow, no shuffle, payload never leaves the scan
    partition.

    `portable=True` derives the per-token hash from md5's first 15 hex
    chars (60-bit integer, so pass bits<=60): bit-identical in any
    engine with md5 + hex parsing, which makes the signature
    oracle-checkable against DuckDB. The default (portable=False) uses
    the full 64-bit md5 prefix — same kernel, engine-local width."""
    col = F.col(text) if isinstance(text, str) else text
    if portable and bits > 60:
        raise ValueError("portable simhash needs bits <= 60 (15 hex chars)")
    n_hex = 15 if portable else 16

    from pyspark.sql.functions import pandas_udf

    @pandas_udf("long")
    def _sig(texts):  # type: ignore[no-untyped-def]
        import hashlib
        import re

        import numpy as np
        import pandas as pd

        # Java \s == [ \t\n\x0B\f\r]; Python re.ASCII \s == [ \t\n\r\f\v]
        # (\x0B IS \v) -> identical token boundaries to F.split(_, '\s+')
        ws = re.compile(r"\s+", re.ASCII)
        ks = np.arange(bits, dtype=np.uint64)
        out = np.zeros(len(texts), dtype=np.int64)
        mask = np.zeros(len(texts), dtype=bool)
        for i, s in enumerate(texts):
            if s is None:
                mask[i] = True
                continue
            t = s.strip(" ")  # Spark trim(): space chars only
            toks = ws.split(t) if t else []
            if not toks:
                continue
            uniq, cnt = np.unique(np.asarray(toks, dtype=object),
                                  return_counts=True)
            hs = np.fromiter(
                (int(hashlib.md5(u.encode("utf-8")).hexdigest()[:n_hex], 16)
                 for u in uniq),
                dtype=np.uint64, count=len(uniq))
            ones = (((hs[:, None] >> ks) & 1) * cnt[:, None].astype(np.uint64)
                    ).sum(axis=0)
            sigbits = (2 * ones.astype(np.int64) > len(toks))
            v = int((sigbits.astype(np.uint64) << ks).sum(dtype=np.uint64))
            out[i] = v - (1 << 64) if v >= (1 << 63) else v
        res = pd.Series(out)
        if mask.any():
            res = res.astype("object")
            res[mask] = None
        return res

    return _sig(col)


def simhash_expr(text: Column | str, bits: int = 64, portable: bool = False) -> Column:
    """The original pure-expression SimHash (aggregate + zip_with).
    Kept as the UDF-free variant and the parity witness for the
    vectorized `simhash` (tests assert they agree bit for bit); the
    interpreted HOF tree is ~20x slower per row, so production uses
    the Arrow kernel."""
    toks = tokens(text)
    zeros = F.array_repeat(F.lit(0).cast("long"), bits)
    # token hashes materialized once (transform), then folded into the
    # per-bit tally; bit positions are Python constants so shift
    # amounts are literals in the expression tree.
    if portable:
        hashes = F.transform(
            toks,
            lambda t: F.conv(F.substring(F.md5(t), 1, 15), 16, 10).cast("long"),
        )
    else:
        hashes = F.transform(toks, lambda t: F.xxhash64(t))
    tally = F.aggregate(
        hashes,
        zeros,
        lambda acc, h: F.zip_with(
            acc,
            F.array(*[
                (F.shiftright(h, k).bitwiseAND(F.lit(1)) * 2 - 1).cast("long")
                for k in range(bits)
            ]),
            lambda x, y: x + y,
        ),
    )
    sig = F.lit(0).cast("long")
    for k in range(bits):
        sig = sig.bitwiseXOR(
            F.when(F.element_at(tally, k + 1) > 0,
                   F.lit(1 << k if k < 63 else -(1 << 63)).cast("long"))
            .otherwise(F.lit(0).cast("long"))
        )
    return sig


def exact_duplicates(df: DataFrame, id_col: str = "doc_id",
                     text_col: str = "text") -> DataFrame:
    """Exact-content duplicate groups: (keeper_id, n_copies) per
    duplicated text. Hash-groupBy with map-side partial agg; grouping
    key is the md5 fingerprint (uniform, bounded width) rather than
    the raw text so the shuffle never carries document bodies."""
    return (
        df.groupBy(F.md5(F.col(text_col)).alias("fp"))
        .agg(F.min(id_col).alias("keeper_id"), F.count(F.lit(1)).alias("n_copies"))
        .where(F.col("n_copies") > 1)
        .select("keeper_id", "n_copies")
    )


def contamination_hits(
    df: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    w: int = 3,
    broadcast: bool = True,
) -> DataFrame:
    """(id, n_hits): how many distinct w-gram shingles each document
    shares with a benchmark/eval corpus — the decontamination signal
    every serious training pipeline computes before training (the
    GPT-3/PaLM-style n-gram overlap check, public methodology).

    Scale shape: the benchmark side is eval sets (thousands of docs) —
    its distinct shingle set broadcasts; the corpus side is a narrow
    explode followed by a broadcast semi-join, so corpus text never
    shuffles. The only wide dependency is the per-doc hit count,
    keyed on the uniform doc id. Set broadcast=False if the benchmark
    outgrows executor memory (falls back to a shuffle join)."""
    bench_sh = (benchmark.select(F.explode(shingles(text_col, w)).alias("_sh"))
                .distinct())
    if broadcast:
        bench_sh = F.broadcast(bench_sh)
    doc_sh = df.select(F.col(id_col), F.explode(shingles(text_col, w)).alias("_sh"))
    # shingles() is array_distinct per doc, so count(*) IS the distinct
    # shingle-hit count
    return (doc_sh.join(bench_sh, "_sh")
            .groupBy(id_col).agg(F.count(F.lit(1)).alias("n_hits")))


def decontaminate(
    df: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    w: int = 3,
    min_hits: int = 10,
    broadcast: bool = True,
) -> DataFrame:
    """Drop every document sharing >= min_hits distinct w-gram shingles
    with the benchmark corpus. Contaminated ids are a small fraction of
    the corpus, so the anti-join side broadcasts."""
    bad = (contamination_hits(df, benchmark, id_col, text_col, w, broadcast)
           .where(F.col("n_hits") >= min_hits).select(id_col))
    return df.join(F.broadcast(bad), id_col, "left_anti")


def hashed_contamination_hits(
    df: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    w: int = 3,
    space: int = 1 << 22,
) -> DataFrame:
    """contamination_hits' fixed-width scale path: instead of
    broadcasting the benchmark's shingle STRINGS, broadcast their
    distinct 64-bit fingerprints folded into a `space`-sized hash space
    (xxhash64 mod space) and semi-join the corpus's hashed shingles
    against that integer set. Single-hash-function Bloom semantics
    without a bitmap: Spark 4 doesn't register bloom_filter_agg /
    might_contain for SQL, and a broadcast long-set gets the same
    bound — at most `space` longs (default 4M -> <=32 MB) no matter how
    large the eval set grows, vs unbounded strings for the exact path.

    Approximate BY DESIGN, in the safe direction only: hashing has no
    false negatives, so per-doc hit counts can only OVERCOUNT (collision
    rate ~ distinct_shingles/space). Downstream thresholding therefore
    drops a SUPERSET of what the exact path drops — conservative for
    training hygiene. `test_textdedup` pins the superset property
    against the exact operator.

    Scale shape: identical to contamination_hits (corpus text never
    shuffles; broadcast semi-join + per-doc count) with a smaller,
    bounded broadcast."""
    h = lambda c: F.pmod(F.xxhash64(c), F.lit(space))  # noqa: E731
    bench_h = (benchmark.select(F.explode(shingles(text_col, w)).alias("_sh"))
               .select(h(F.col("_sh")).alias("_hb")).distinct())
    doc_sh = df.select(F.col(id_col),
                       F.explode(shingles(text_col, w)).alias("_sh"))
    doc_h = doc_sh.select(F.col(id_col), h(F.col("_sh")).alias("_hb"))
    return (doc_h.join(F.broadcast(bench_h), "_hb")
            .groupBy(id_col).agg(F.count(F.lit(1)).alias("n_hits")))


def hashed_decontaminate(
    df: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    w: int = 3,
    min_hits: int = 10,
    space: int = 1 << 22,
) -> DataFrame:
    """decontaminate via hashed fingerprints: keeps a SUBSET of the
    exact operator's survivors (collisions only inflate hit counts), so
    it never ships a document the exact check would have flagged."""
    bad = (hashed_contamination_hits(df, benchmark, id_col, text_col, w,
                                     space)
           .where(F.col("n_hits") >= min_hits).select(id_col))
    return df.join(F.broadcast(bad), id_col, "left_anti")


def edit_distance_near_dups(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_dist: int = 20,
    num_perm: int = 8,
    bands: int = 4,
    w: int = 3,
    portable: bool = True,
    max_bucket: int = 1000,
) -> DataFrame:
    """(doc_a, doc_b, edit_dist): LSH candidate pairs VERIFIED by exact
    Levenshtein distance ≤ max_dist — the candidate-then-verify shape
    every at-scale near-dup pipeline uses. LSH alone admits false
    positives (any banding collision); character-level edit distance is
    the strictest cheap verifier for short/medium documents (O(len²)
    per CANDIDATE PAIR only — the corpus never sees the quadratic).
    Built-in levenshtein is the same Wagner–Fischer DP in Spark and
    DuckDB, so the verdict is integer-exact and oracle-checkable.
    Document bodies ship through the join only for candidate ids —
    at 100 TB, shard the two id→text lookups or pre-prune with
    length(|a|-|b|) > max_dist, which Levenshtein lower-bounds."""
    pairs = lsh_candidate_pairs(df, id_col, text_col, num_perm, bands,
                                w, portable, max_bucket)
    t = df.select(F.col(id_col), F.col(text_col))
    a = t.select(F.col(id_col).alias("doc_a"), F.col(text_col).alias("_ta"))
    b = t.select(F.col(id_col).alias("doc_b"), F.col(text_col).alias("_tb"))
    return (pairs.join(a, "doc_a").join(b, "doc_b")
            # length-difference lower bound: skip the DP when it
            # cannot pass (pure codegen predicate, pushed into the join)
            .where(F.abs(F.length("_ta") - F.length("_tb")) <= max_dist)
            .withColumn("edit_dist", F.levenshtein("_ta", "_tb"))
            .where(F.col("edit_dist") <= max_dist)
            .select("doc_a", "doc_b", "edit_dist"))


def shingle_frame(df: DataFrame, id_col: str = "doc_id",
                  text_col: str = "text", w: int = 3) -> DataFrame:
    """(id, _sh, _n): per-doc shingle arrays + set sizes — the shared
    upstream of every set-similarity operator here. Build it once
    (checkpoint/memoize) and pass it to jaccard_threshold_pairs AND
    containment_pairs via their ``sh_df`` argument so one session pays
    for the shingle arrays once instead of per operator (round-3
    VERDICT item 8)."""
    return (df.select(F.col(id_col), shingles(text_col, w).alias("_sh"))
            .withColumn("_n", F.size("_sh").cast("long")))


def jaccard_threshold_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    t_pct: int = 50,
    w: int = 3,
    sh_df: DataFrame | None = None,
) -> DataFrame:
    """(doc_a, doc_b, inter, uni): all pairs with shingle-set Jaccard
    ≥ t_pct/100, via PREFIX FILTERING (Bayardo et al. AllPairs /
    Chaudhuri SSJoin / Xiao PPJoin — the standard set-similarity-join
    family): order every doc's shingles by global rarity (ascending
    document frequency, then shingle), index only the first
    |s| - ceil(t·|s|) + 1 per doc, and equi-join on those prefixes.

    Why it is lossless: J(a,b) ≥ t ⇒ |a∩b| ≥ t·|a∪b| ≥ ceil(t·|x|)
    for BOTH sides; by the prefix lemma (pigeonhole under one global
    total order) two sets with overlap ≥ α must share an element
    within their first |x| - α + 1 elements — our per-side prefixes
    are at least that long. The DuckDB oracle computes the SAME result
    set from the naive every-sharing-pair plan, so the contract check
    is an algorithm-equivalence proof, not a mirror.

    Why it scales: rare-first ordering puts the corpus's boilerplate
    shingles (the skew that makes a plain inverted-index self-join
    quadratic) at the END of every list, outside the prefixes — the
    join only ever fans out on rare shingles. At t=0.8 the index is
    ~20% of the corpus shingle volume. Exact verification (integer
    intersection via array_intersect) runs per CANDIDATE pair only.
    """
    # three consumers (inverted index + both verify sides) — without a
    # checkpoint each would rebuild every shingle array from raw text;
    # a caller-provided sh_df (already materialized) is used as-is
    if sh_df is None:
        sh_df = shingle_frame(df, id_col, text_col, w) \
            .localCheckpoint(eager=False)
    sh = sh_df.select(F.col(id_col).alias("_id"), "_sh", "_n")
    ex = sh.select("_id", "_n", F.explode("_sh").alias("_s"))
    freq = ex.groupBy("_s").agg(F.count(F.lit(1)).alias("_df"))
    from pyspark.sql import Window
    order = Window.partitionBy("_id").orderBy("_df", "_s")
    # prefix length |s| - ceil(t*|s|) + 1, integer-exact ceil
    plen = F.col("_n") - ((F.col("_n") * t_pct + 99) / 100).cast("long") + 1
    prefix = (ex.join(freq, "_s")
              .withColumn("_rn", F.row_number().over(order))
              .where(F.col("_rn") <= plen)
              .select("_id", "_s"))
    cand = (prefix.alias("a").join(
                prefix.alias("b"),
                (F.col("a._s") == F.col("b._s"))
                & (F.col("a._id") < F.col("b._id")))
            .select(F.col("a._id").alias("doc_a"),
                    F.col("b._id").alias("doc_b"))
            .distinct())
    sa = sh.select(F.col("_id").alias("doc_a"), F.col("_sh").alias("_sha"),
                   F.col("_n").alias("_na"))
    sb = sh.select(F.col("_id").alias("doc_b"), F.col("_sh").alias("_shb"),
                   F.col("_n").alias("_nb"))
    verified = (cand.join(sa, "doc_a").join(sb, "doc_b")
                .withColumn("inter",
                            F.size(F.array_intersect("_sha", "_shb"))
                            .cast("long"))
                .withColumn("uni", (F.col("_na") + F.col("_nb")
                                    - F.col("inter")).cast("long"))
                .where(F.col("inter") * 100 >= F.lit(t_pct) * F.col("uni")))
    return verified.select("doc_a", "doc_b", "inter", "uni")


def fingerprint_index(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(fp): distinct md5 content fingerprints — the seen-set a
    continuously-ingesting corpus carries between snapshots. Store it
    with catalog.append; at 100 TB it is a few GB of 32-char strings
    (or xxhash64 longs for the fast twin)."""
    return docs.select(F.md5(F.col(text_col)).alias("fp")).distinct()


def novel_documents(batch: DataFrame, seen: DataFrame,
                    text_col: str = "text") -> DataFrame:
    """Rows of `batch` whose content fingerprint is NOT in `seen` —
    the incremental-ingestion dedup verb: every new crawl/batch is
    anti-joined against the accumulated index instead of re-deduping
    the whole corpus. LEFT ANTI on the fingerprint: broadcasts while
    the index is small, shuffles on the uniform hash key past that —
    either way the batch's text bodies never shuffle (the fingerprint
    is computed in place and dropped after)."""
    fp = F.md5(F.col(text_col))
    return (batch.withColumn("_fp", fp)
            .join(seen.select(F.col("fp").alias("_fp")).distinct(),
                  "_fp", "left_anti")
            .drop("_fp"))


def containment_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    w: int = 3,
    threshold_bps: int = 8000,
    max_doc_freq: int = 1000,
    sh_df: DataFrame | None = None,
) -> DataFrame:
    """ASYMMETRIC near-dup detection: pairs where the smaller doc's
    shingle set is mostly CONTAINED in the larger's —
    containment = |A∩B| / min(|A|, |B|), thresholded in integral bps.
    Catches quote-inclusion and doc-inside-doc duplication that
    symmetric Jaccard misses (a 50-line doc fully quoted inside a
    5000-line doc has Jaccard ~1% but containment 100%).

    Same scale shape as ngram_jaccard_pairs: inverted-index equi-join
    with the hot-shingle cap, sizes joined back, the ratio test done
    by integer cross-multiplication (inter * 10000 >= min_size * bps).
    """
    if sh_df is None:
        sh_df = shingle_frame(df, id_col, text_col, w) \
            .localCheckpoint(eager=True)
    sh = sh_df.select(F.col(id_col), F.explode("_sh").alias("shingle"))
    sizes = sh_df.select(F.col(id_col), F.col("_n").alias("n_sh"))
    hot = (sh.groupBy("shingle").count()
           .where(F.col("count") > max_doc_freq).select("shingle"))
    sh = sh.join(F.broadcast(hot), "shingle", "left_anti")
    a, b = sh.alias("a"), sh.alias("b")
    inter = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle"))
               & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))
        .groupBy(F.col(f"a.{id_col}").alias("doc_a"),
                 F.col(f"b.{id_col}").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("n_intersection")))
    sa = sizes.select(F.col(id_col).alias("doc_a"),
                      F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col(id_col).alias("doc_b"),
                      F.col("n_sh").alias("n_b"))
    j = inter.join(sa, "doc_a").join(sb, "doc_b")
    min_sz = F.least(F.col("n_a"), F.col("n_b"))
    return (j.where(F.col("n_intersection") * 10000
                    >= min_sz * threshold_bps)
            .select("doc_a", "doc_b", "n_intersection", "n_a", "n_b",
                    F.expr("CAST((n_intersection * 10000)"
                           " DIV least(n_a, n_b) AS BIGINT)")
                     .alias("containment_bps")))


def minhash_estimate_audit(df: DataFrame, pairs: DataFrame | None = None,
                           sh_df: DataFrame | None = None,
                           id_col: str = "doc_id", text_col: str = "text",
                           num_perm: int = 8, bands: int = 4, w: int = 3,
                           portable: bool = True,
                           max_bucket: int = 1000) -> DataFrame:
    """One-row audit of the MinHash approximation itself: for every
    LSH candidate pair, the signature-agreement Jaccard estimate
    (matching components / num_perm) against the EXACT shingle-set
    Jaccard, aggregated to (n_pairs, mean_abs_err_x1000,
    max_abs_err_x1000, n_overestimates).

    The same audit-the-sketch pattern as the HLL/quantile audits: the
    pipeline runs the approximation, the contract proves how far off
    it is — in integral x1000 ratios so the numbers are engine-exact.
    Cost is bounded by the candidate set (the pairs already exist);
    the only new work is two id-keyed joins carrying one signature
    and one shingle array per side. Pass the session's memoized
    ``pairs``/``sh_df`` to reuse their builds.
    """
    if pairs is None:
        pairs = lsh_candidate_pairs(df, id_col, text_col, num_perm,
                                    bands, w, portable, max_bucket)
    if sh_df is None:
        sh_df = shingle_frame(df, id_col, text_col, w)
    sigs = minhash_signatures(df, id_col, text_col, num_perm, w, portable)
    j = (pairs
         .join(sigs.select(F.col(id_col).alias("doc_a"),
                           F.col("signature").alias("_sa")), "doc_a")
         .join(sigs.select(F.col(id_col).alias("doc_b"),
                           F.col("signature").alias("_sb")), "doc_b")
         .join(sh_df.select(F.col(id_col).alias("doc_a"),
                            F.col("_sh").alias("_ha")), "doc_a")
         .join(sh_df.select(F.col(id_col).alias("doc_b"),
                            F.col("_sh").alias("_hb")), "doc_b"))
    matches = F.size(F.filter(
        F.zip_with("_sa", "_sb", lambda x, y: x == y), lambda b: b))
    uni = F.size(F.array_union("_ha", "_hb"))
    inter = F.size(F.array_intersect("_ha", "_hb"))
    # integral x1000 ratios via long DIV — no float division anywhere
    scored = j.select(
        (matches.cast("long") * 1000).alias("_mn"),
        uni.cast("long").alias("_u"), inter.cast("long").alias("_i")
    ).select(
        F.expr(f"_mn DIV {int(num_perm)}").cast("long").alias("_est"),
        F.when(F.col("_u") == 0, F.lit(1000).cast("long"))
         .otherwise(F.expr("(_i * 1000) DIV _u").cast("long")).alias("_ex"))
    err = F.abs(F.col("_est") - F.col("_ex"))
    return scored.agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        F.expr("CAST(sum(abs(_est - _ex)) DIV count(1) AS BIGINT)")
         .alias("mean_abs_err_x1000"),
        F.max(err).cast("long").alias("max_abs_err_x1000"),
        F.sum(F.when(F.col("_est") > F.col("_ex"), 1).otherwise(0))
         .cast("long").alias("n_overestimates"))


def contamination_rate(df: DataFrame, benchmark: DataFrame,
                       id_col: str = "doc_id", text_col: str = "text",
                       w: int = 3, broadcast: bool = True) -> DataFrame:
    """(id, n_shingles, n_hits, rate_x1000): what FRACTION of each
    document's distinct w-gram shingles appears in the benchmark —
    the graded form of contamination_hits. A threshold on absolute
    hits treats a 40-token quiz doc and a 40k-token novel the same;
    the rate is what decontamination policies actually threshold
    (e.g. drop > 50% overlap, flag > 10%).

    Same plan as contamination_hits (broadcast eval shingles, corpus
    text never shuffles) plus one narrow per-doc shingle-set-size
    projection; every doc has >= 1 shingle (short docs shingle to
    their whole token string), so the integral x1000 ratio is always
    defined."""
    totals = df.select(F.col(id_col),
                       F.size(shingles(text_col, w)).cast("long")
                       .alias("n_shingles"))
    hits = contamination_hits(df, benchmark, id_col, text_col, w,
                              broadcast)
    return (totals.join(hits, id_col, "left")
            .select(F.col(id_col), "n_shingles",
                    F.coalesce("n_hits", F.lit(0)).cast("long")
                    .alias("n_hits"))
            .withColumn("rate_x1000",
                        F.expr("(n_hits * 1000) DIV n_shingles")
                        .cast("long")))
