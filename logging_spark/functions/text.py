"""Text-analysis operators for training-data curation at corpus scale.

All pure Catalyst expressions (whole-stage codegen, no Python):
tokenization, token/char counts, quality heuristics, language-ID
heuristic, document fingerprinting. Each returns a Column so callers
compose them into a single projection over the scan — one pass over
100 TB of text, no shuffle.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from logging_spark.functions.expr import let  # noqa: F401  (re-export; see expr.py)

# tiny per-language stopword marker sets for the n-gram/stopword
# language heuristic (public common-word lists)
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "is"],
    "de": ["der", "die", "und", "ist"],
    "fr": ["le", "la", "et", "est"],
    "es": ["el", "la", "que", "es"],
}

STOPWORDS_EN = ["the", "a", "and", "of", "to", "is", "in", "it"]


def tokens(text: Column | str, pattern: str = r"\s+") -> Column:
    """Whitespace tokens; empty/whitespace-only text -> empty array."""
    text = F.col(text) if isinstance(text, str) else text
    t = F.trim(text)
    return F.when(F.length(t) == 0, F.array().cast("array<string>")).otherwise(
        F.split(t, pattern)
    )


def bpe_ish_tokens(text: Column | str) -> Column:
    """BPE-ish pre-tokenization: split into word / number / punctuation
    runs (the GPT-2-style regex family, simplified to what Java regex
    supports). Approximates subword token counts for budget estimates."""
    text = F.col(text) if isinstance(text, str) else text
    # space-delimit letter / digit / punctuation runs, then split
    marked = F.regexp_replace(text, r"([A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]+)", " $1 ")
    t = F.trim(marked)
    return F.when(F.length(t) == 0, F.array().cast("array<string>")).otherwise(
        F.split(t, r"\s+")
    )


def token_count(text: Column | str) -> Column:
    return F.size(tokens(text)).cast("long")


def distinct_token_count(text: Column | str) -> Column:
    return F.size(F.array_distinct(tokens(text))).cast("long")


def quality_features(text: Column | str) -> Column:
    """Struct of cheap quality signals: counts + ratios used by corpus
    filters (Gopher/C4-style rules). Integer parts exact; ratios are
    derived downstream to keep this oracle-friendly.

    The token array is `let`-bound so the regex split runs ONCE per
    row: the HOF sub-counts are interpreted (no codegen) and do NOT
    share subexpressions with the codegen'd projection, so the naive
    five-fold tokens(text) costs ~1.6× (measured at sf0.1, round 4)."""
    text = F.col(text) if isinstance(text, str) else text
    sw = F.array(*[F.lit(s) for s in STOPWORDS_EN])
    return let(tokens(text), lambda toks: F.struct(
        F.length(text).cast("long").alias("n_chars"),
        F.size(toks).cast("long").alias("n_tokens"),
        F.size(F.array_distinct(toks)).cast("long").alias("n_distinct_tokens"),
        F.size(F.filter(toks, lambda t: F.array_contains(sw, F.lower(t))))
         .cast("long").alias("n_stopwords"),
        F.size(F.filter(toks, lambda t: F.length(t) > 20))
         .cast("long").alias("n_long_tokens"),
    ))


def lang_guess(text: Column | str) -> Column:
    """Stopword-marker language heuristic: score each language by
    marker hits over the token set; argmax with 'und' (undetermined)
    when nothing matches. Pure expressions -> codegen."""
    toks = F.array_distinct(F.transform(tokens(text), F.lower))
    scores = [
        (lang, F.size(F.array_intersect(toks, F.array(*[F.lit(m) for m in markers]))))
        for lang, markers in LANG_MARKERS.items()
    ]
    best = F.lit("und")
    best_score = F.lit(0)
    # deterministic argmax: strictly-greater wins, first language wins ties
    for lang, score in reversed(scores):
        take = score >= best_score
        # iterate reversed with >= so earlier languages win ties
        best = F.when(take & (score > 0), F.lit(lang)).otherwise(best)
        best_score = F.when(take, score).otherwise(best_score)
    return best


def fingerprint(text: Column | str) -> Column:
    """Exact-content fingerprint: md5 hex (engine-portable; matches
    DuckDB md5 for oracle checks)."""
    text = F.col(text) if isinstance(text, str) else text
    return F.md5(text)


# (pattern, replacement) applied IN ORDER — order is part of the
# contract (a 16+ digit run hits <HEX> before <NUM> can see it)
REDACT_RULES: list[tuple[str, str]] = [
    (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    (r"\b[0-9a-fA-F]{16,}\b", "<HEX>"),
    (r"\b\d{6,}\b", "<NUM>"),
]


def redact(text: Column | str, rules: list[tuple[str, str]] | None = None) -> Column:
    """Mask sensitive substrings (emails, long ids, hex tokens) with a
    chain of regexp_replace — pure codegen, the log-scrubbing stage of
    any compliance-bound pipeline."""
    out = F.col(text) if isinstance(text, str) else text
    for pat, rep in (rules or REDACT_RULES):
        out = F.regexp_replace(out, pat, rep)
    return out


def luhn_valid(numstr: Column) -> Column:
    """Luhn checksum (ISO/IEC 7812) over a digit string — TRUE iff the
    mod-10 check passes. Pure expressions: reversed-position walk via
    sequence + substr, doubling every second digit from the right.
    The input is let-bound so the per-digit substr probes a lambda
    variable. Used to tell real card-shaped numbers from arbitrary
    digit runs in PII detection — a bare \\d{13,19} regex flags order
    ids and timestamps; the checksum cuts those false positives ~10×."""

    def body(c: Column) -> Column:
        n = F.length(c)
        term = F.transform(
            F.sequence(F.lit(1), n),
            lambda i: (lambda d: F.when(i % 2 == 1, d).otherwise(
                F.when(d * 2 > 9, d * 2 - 9).otherwise(d * 2)))(
                c.substr(n - i + 1, F.lit(1)).cast("int")),
        )
        # n >= 1 guard: sequence(1, 0) would DESCEND ([1, 0] — Spark
        # picks step -1 when start > stop), not return empty
        return F.when(
            n > 0,
            F.aggregate(term, F.lit(0), lambda a, x: a + x) % 10 == 0,
        ).otherwise(F.lit(False))

    return let(numstr, body)


def cc_candidates(text: Column | str) -> Column:
    """array<struct<candidate, luhn_ok>>: every standalone 13-19 digit
    run with its Luhn verdict. Longer runs (20+) never match — the
    trailing boundary can't fall inside a digit run — so timestamps
    and hashes aren't even candidates. Detection-only (callers decide
    mask/drop/report); compose with `redact` for masking."""
    text = F.col(text) if isinstance(text, str) else text
    cands = F.regexp_extract_all(text, F.lit(r"\b(\d{13,19})\b"), 1)
    return F.transform(
        cands,
        lambda c: F.struct(c.alias("candidate"),
                           luhn_valid(c).alias("luhn_ok")),
    )


def ngrams(text: Column | str, n: int = 3) -> Column:
    """ALL word n-grams in order (with repeats — unlike
    textdedup.shingles, which distincts per doc for set semantics).
    Documents shorter than n tokens yield none.

    Built as a zip_with chain over n shifted slices of the token
    array, NOT a transform whose lambda re-slices `toks`: higher-order
    functions are evaluated interpreted, and any expression inside the
    lambda BODY is re-evaluated per element — a captured `toks` there
    re-runs the regex split O(tokens) times per row (measured 3.1 s
    for 5k ~54-token docs vs 0.2 s for the split itself). zip_with's
    array inputs are children, evaluated once per row, so this stays
    O(tokens × n)."""
    toks = tokens(text)
    cnt = F.size(toks)
    m = cnt - F.lit(n - 1)  # gram count when cnt >= n
    grams = F.slice(toks, 1, m)
    for k in range(2, n + 1):
        grams = F.zip_with(grams, F.slice(toks, k, m),
                           lambda a, b: F.concat(a, F.lit(" "), b))
    return F.when(cnt >= n, grams).otherwise(F.array().cast("array<string>"))


def quality_keep(text: Column | str,
                 min_tokens: int = 5, max_tokens: int = 100_000,
                 max_long_token_ratio_pct: int = 10,
                 min_distinct_ratio_pct: int = 20) -> Column:
    """C4/Gopher-style corpus filter as ONE boolean expression: length
    bounds, long-token (gibberish) ratio, distinct-token (boilerplate
    repetition) ratio. Ratios are integer-percent comparisons
    (a*100 >= b*pct) so the predicate is exact and oracle-portable —
    no float division."""
    n_tok = token_count(text)
    n_distinct = distinct_token_count(text)
    t = F.col(text) if isinstance(text, str) else text
    n_long = F.size(F.filter(tokens(t), lambda x: F.length(x) > 20)).cast("long")
    return (
        (n_tok >= min_tokens) & (n_tok <= max_tokens)
        & (n_long * 100 <= n_tok * max_long_token_ratio_pct)
        & (n_distinct * 100 >= n_tok * min_distinct_ratio_pct)
    )


def chunk_tokens(text: Column | str, chunk: int = 32, overlap: int = 8) -> Column:
    """Split into token windows of `chunk` tokens with `overlap` token
    overlap (training-example prep). Returns array<struct<chunk_idx,
    chunk_text>>; explode it for one row per chunk. Pure expressions:
    sequence over window starts -> slice -> array_join — no UDF, no
    shuffle; at corpus scale this is a narrow flatMap. The token array
    is `let`-bound so the per-chunk slice reads a lambda variable —
    an unbound `toks` here would re-run the tokenizer regex once per
    CHUNK per row (quadratic in document length)."""
    step = chunk - overlap

    def body(toks: Column) -> Column:
        n = F.size(toks)
        n_chunks = F.when(n <= chunk, F.lit(1)).otherwise(
            F.ceil((n - F.lit(chunk)).cast("double") / step).cast("int") + 1)
        return F.transform(
            F.sequence(F.lit(0), n_chunks - 1),
            lambda i: F.struct(
                i.cast("int").alias("chunk_idx"),
                F.array_join(F.slice(toks, i * step + 1, chunk), " ")
                 .alias("chunk_text"),
            ),
        )

    return let(tokens(text), body)


def dedup_lines(text: Column | str, sep: str = "\n",
                max_lines: int = 10_000) -> Column:
    """Intra-document line dedup (C4/RefinedWeb-style): drop every
    repeat of a line, keeping the FIRST occurrence in order. Pure
    expressions — the (x, i) filter lambda gets the element index, and
    array_position finds the first occurrence, so `keep iff this index
    IS the first occurrence`. O(L^2) in the line count per document
    (array_position scans), which is fine for real documents (L in the
    hundreds); the work is per-row, narrow, no shuffle.

    `max_lines` makes the quadratic TOTAL: a pathological document
    past the cap (e.g. a 10^5-line dump — 10^10 comparisons, a
    single-row stall) passes through UNCHANGED rather than stalling
    the task. CaseWhen evaluates branches lazily per row, so capped
    rows never run the filter. The oracle contract pins max_lines
    well above the fixture corpus, where the cap is unreachable.

    Portability: DuckDB's list_filter((x, i) -> ...) + list_position
    express the identical predicate, so the op is oracle-checkable.

    The line array is `let`-bound: array_position probes a lambda
    variable, so the O(L²) is string comparisons only — unbound, the
    filter body would ALSO re-split the whole document per line
    (O(L × doc_chars) regex work on top).
    """
    text = F.col(text) if isinstance(text, str) else text

    def body(lines: Column) -> Column:
        kept = F.filter(
            lines,
            lambda x, i: F.array_position(lines, x) == i.cast("long") + 1,
        )
        return F.when(F.size(lines) > max_lines, text).otherwise(
            F.array_join(kept, sep))

    return let(F.split(text, sep), body)


def ngram_repetition(text: Column | str, n: int = 2,
                     max_tokens: int = 2_000) -> Column:
    """Gopher-style repetition signals, per document, as one struct:

      n_grams    total word n-grams (with repeats)
      top_cnt    occurrences of the most frequent n-gram
      top_gram   that n-gram (ties broken by largest gram, total order)
      top_chars  top_cnt * length(top_gram) — the numerator of the
                 'fraction of characters in the most common n-gram'
                 repetition filter
      dup_chars  sum of cnt * length(gram) over grams with cnt > 1 —
                 numerator of 'fraction of characters in duplicated
                 n-grams'

    Integer-exact (no float division — callers derive ratios), so the
    DuckDB oracle matches bit-for-bit via an unnest + GROUP BY plan.
    Pure expressions: counting is a filter scan per DISTINCT gram, so
    the per-row cost is O(distinct * total) — quadratic in pathological
    documents, hence `max_tokens`: rows past the cap return NULL
    (callers treat un-scored as un-filterable) instead of stalling a
    task. Narrow, no shuffle; the Gopher paper's repetition rules
    (rule set #2, arXiv:2112.11446 §A.1.1) are this struct plus a
    threshold comparison.

    Both the gram array and the per-distinct-gram count table are
    `let`-bound, so the quadratic is string COMPARISONS only —
    unbound, every count probe re-built the gram array from the raw
    text (regex split included), O(distinct × total × tokenize) per
    row, measured >300 s for one task of 5k ~50-token docs. For batch
    scoring still prefer `repetition_signals`, the explode + count +
    agg twin whose aggregates map-side-combine."""

    def with_grams(grams: Column) -> Column:
        counted_expr = F.transform(
            F.array_distinct(grams),
            lambda g: F.struct(
                F.size(F.filter(grams, lambda y: y == g)).alias("cnt"),
                g.alias("gram"),
            ),
        )

        def with_counted(counted: Column) -> Column:
            top = F.array_max(counted)
            dup_chars = F.aggregate(
                counted,
                F.lit(0).cast("long"),
                lambda acc, s: acc + F.when(
                    s.getField("cnt") > 1,
                    s.getField("cnt").cast("long")
                    * F.length(s.getField("gram")),
                ).otherwise(F.lit(0).cast("long")),
            )
            return F.struct(
                F.size(grams).cast("long").alias("n_grams"),
                top.getField("cnt").cast("long").alias("top_cnt"),
                top.getField("gram").alias("top_gram"),
                (top.getField("cnt").cast("long")
                 * F.length(top.getField("gram")).cast("long"))
                .alias("top_chars"),
                dup_chars.alias("dup_chars"),
            )

        return let(counted_expr, with_counted)

    return F.when(token_count(text) > max_tokens, F.lit(None)).otherwise(
        let(ngrams(text, n), with_grams))


def rolling_fingerprint(text: Column | str, window: int = 16) -> Column:
    """Winnowing-style document sketch: md5 of each `window`-char
    slide, keep the lexicographic min — robust to small local edits at
    the ends. Built from slice/transform, still no Python."""
    text = F.col(text) if isinstance(text, str) else text
    n = F.greatest(F.length(text) - F.lit(window - 1), F.lit(1))
    hashes = F.transform(
        F.sequence(F.lit(1), n),
        lambda i: F.md5(text.substr(i, F.lit(window))),
    )
    return F.array_min(hashes)


def mask_template(text: Column | str) -> Column:
    """Log-template extraction (Drain-lite): mask the variable parts
    of a log line so structurally-identical messages collapse to one
    template — the first step of every log-mining pipeline (template
    counts, novelty detection, per-template rate alerts). Masks, in
    order: long hex runs (ids/digests) -> <HEX>, IPv4 dotted quads ->
    <IP>, digit runs -> <N>. Order matters: hex before digits so
    "deadbeef01" doesn't half-mask, IPs before digits so the quad
    masks as one token. Pure codegen regexp chain (replace-all),
    oracle-portable via DuckDB's 'g' flag."""
    t = F.col(text) if isinstance(text, str) else text
    t = F.regexp_replace(t, r"[0-9a-f]{8,}", "<HEX>")
    t = F.regexp_replace(t, r"\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}", "<IP>")
    t = F.regexp_replace(t, r"\d+", "<N>")
    return t


# letter -> Soundex digit map (American Soundex, NARA spec). H and W
# map to the marker '7' (they neither code nor break a same-code run);
# vowels + Y map to '0' (no code, but they DO break runs).
SOUNDEX_FROM = "ABCDEFGHIJKLMNOPQRSTUVWXYZ"
SOUNDEX_TO = "01230127022455012623017202"


def soundex_code(name: Column | str) -> Column:
    """American Soundex, NARA edition, as pure expressions — the
    phonetic-blocking key for entity resolution (group candidate
    records by code, verify within blocks; the same bounded-block
    pattern as the LSH dedups). Spark HAS a soundex() builtin but no
    engine-portable twin exists (DuckDB: none; RE2: no backreferences
    for the collapse), so the contract needs this expression form;
    parity with the official NARA examples AND the builtin is pinned
    in tests.

    Exact rule set implemented: keep the first letter; code every
    letter; drop H/W from position 2+ BEFORE collapsing (same-code
    letters separated by h/w merge — the Ashcraft->A261 rule); then
    collapse adjacent equal codes (the first letter's run absorbs
    following same-code letters: Pfister->P236); drop the first run
    (it is the letter), drop '0's (vowels break runs but emit no
    code), pad/truncate to 4."""
    n = F.col(name) if isinstance(name, str) else name
    u = F.upper(F.regexp_replace(n, "[^A-Za-z]", ""))

    def with_u(uu: Column) -> Column:
        codes = F.translate(uu, SOUNDEX_FROM, SOUNDEX_TO)

        def with_codes(c: Column) -> Column:
            arr = F.transform(F.sequence(F.lit(1), F.length(c)),
                              lambda i: c.substr(i, F.lit(1)))

            def with_tail(t: Column) -> Column:
                collapsed = F.filter(
                    t, lambda x, i: F.when(i == 0, F.lit(True))
                    .otherwise(F.element_at(t, i) != x))

                def with_collapsed(cl: Column) -> Column:
                    rest = F.filter(
                        F.slice(cl, 2, F.greatest(F.size(cl) - 1,
                                                  F.lit(0))),
                        lambda x: x != "0")
                    return F.substring(
                        F.rpad(F.concat(uu.substr(1, 1),
                                        F.array_join(rest, "")),
                               4, "0"), 1, 4)
                return let(collapsed, with_collapsed)

            # H/W ('7') dropped from position 2+ only, pre-collapse
            tail = F.concat(
                F.slice(arr, 1, 1),
                F.filter(F.slice(arr, 2, F.greatest(F.size(arr) - 1,
                                                    F.lit(0))),
                         lambda x: x != "7"))
            return let(tail, with_tail)
        return F.when(F.length(uu) == 0, F.lit("")).otherwise(
            let(codes, with_codes))
    return let(u, with_u)


# URL grammar shared by extract_urls and the contract oracle: scheme,
# host (letters/digits/dots/dashes), optional path. RE2-safe (no
# backrefs/lookaround) so the same pattern runs in Spark (Java regex)
# and DuckDB (RE2).
URL_PATTERN = r"(https?://[A-Za-z0-9.-]+[/A-Za-z0-9._%-]*)"
HOST_PATTERN = r"https?://([^/]+)"


def extract_urls(text: Column | str) -> Column:
    """All URLs in a text column as array<string> — the first step of
    C4-style URL/domain filtering (robots blocklists, per-domain caps,
    ad-domain scrubbing). Pure codegen `regexp_extract_all`; one scan
    pass, no Python. Compose with `url_domain` + an anti-join against
    a broadcast blocklist for the filter stage."""
    text = F.col(text) if isinstance(text, str) else text
    return F.regexp_extract_all(text, F.lit(URL_PATTERN), 1)


def url_domain(url: Column | str) -> Column:
    """Host part of a URL ('' when the input is not URL-shaped).
    Regex-based so the oracle can mirror it exactly — Spark's
    parse_url() has no DuckDB twin."""
    url = F.col(url) if isinstance(url, str) else url
    return F.regexp_extract(url, HOST_PATTERN, 1)


def normalize(text: Column | str) -> Column:
    """C4-style text normalization: lowercase, strip everything but
    word characters and whitespace, collapse whitespace runs, trim.
    The canonical pre-fingerprint cleanup — exact-dedup after
    normalize catches case/punctuation-only near-dups that raw md5
    misses. Pure codegen regexp chain, oracle-portable."""
    t = F.col(text) if isinstance(text, str) else text
    t = F.lower(t)
    t = F.regexp_replace(t, r"[^a-z0-9\s]", " ")
    t = F.regexp_replace(t, r"\s+", " ")
    return F.trim(t)


# PII surface patterns — deliberately conservative, regex-dialect-
# portable (no lookaround: RE2 has none; \b and bounded repetition
# work in both Java regex and RE2). Luhn validation for the digit
# runs lives in luhn_valid; these are the detection/redaction layer.
PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_IPV4 = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"
PII_LONG_DIGITS = r"\b\d{13,19}\b"  # PAN-length runs; 20+ won't match


def pii_counts(text: Column | str) -> Column:
    """struct(n_emails, n_ipv4, n_pan) — match counts per PII class
    on the RAW text (an IP inside an email's domain counts in both
    classes; redaction order below resolves the overlap)."""
    t = F.col(text) if isinstance(text, str) else text
    return F.struct(
        F.regexp_count(t, F.lit(PII_EMAIL)).alias("n_emails"),
        F.regexp_count(t, F.lit(PII_IPV4)).alias("n_ipv4"),
        F.regexp_count(t, F.lit(PII_LONG_DIGITS)).alias("n_pan"))


def redact_pii(text: Column | str) -> Column:
    """Replace each PII class with a typed token. Order matters:
    emails first (their local parts/domains may contain digit runs
    and dots), then IPs, then bare PAN-length digit runs."""
    t = F.col(text) if isinstance(text, str) else text
    t = F.regexp_replace(t, PII_EMAIL, "<EMAIL>")
    t = F.regexp_replace(t, PII_IPV4, "<IP>")
    return F.regexp_replace(t, PII_LONG_DIGITS, "<PAN>")
