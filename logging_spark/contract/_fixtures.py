"""Shared fixtures for the contract package: session/table helpers,
memoized frames, CTE strings and cross-family oracle helpers.
Split mechanically from the original single-module contract.
"""


from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from logging_spark.functions import json_path as jp
from logging_spark.functions import text as T
from logging_spark.functions.parse import parse_turns
from logging_spark.operators.aggregate import (assemble_conversations,
                                               per_sink_counts,
                                               per_sink_role_rollup,
                                               resume_points)
from logging_spark.operators.dedup import (debounce,
                                            dedup_latest_wins,
                                            merge_consecutive)
from logging_spark.operators.enrich import enrich
from logging_spark.operators.route import route
from logging_spark.operators.rules import Rule
from logging_spark.operators.sessionize import sessionize
from logging_spark.sources.catalog import merge_frames
from logging_spark.operators.similarity import (brute_force_topk_expr,
                                                brute_force_topk_sharded,
                                                embedding_near_duplicates,
                                                hard_negatives_expr,
                                                ivf_topk, lsh_topk,
                                                negative_samples,
                                                plane_signs,
                                                quantize_int8_summary)
from logging_spark.operators.bm25 import bm25_topk
from logging_spark.operators.kmv import (KMV_SPACE, grouped_sketch,
                                         hash56_sql, kmv_audit,
                                         kmv_estimate, kmv_sketch,
                                         merge_sketches)
from logging_spark.operators.bpe import pair_counts
from logging_spark.operators.kmeans import kmeans_summary, semdedup_summary
from logging_spark.operators.multiline import assemble_multiline
from logging_spark.operators.surprisal import surprisal_band_keep
from logging_spark.operators.cluster import (duplicate_clusters,
                                             graph_summary, kcore_peel,
                                             keep_canonical,
                                             label_propagation,
                                             bfs_layers,
                                             link_prediction)
from logging_spark.operators.funnel import funnel_counts
from logging_spark.operators.importance import (importance_scores,
                                                importance_weighted_sample)
from logging_spark.operators.asof import asof_join, interval_join
from logging_spark.operators.anomaly import spike_flags
from logging_spark.operators.profile import (ecdf_normalize,
                                             equidepth_histogram,
                                             profile_columns)
from logging_spark.operators.assoc import token_lift
from logging_spark.operators.examples import context_examples
from logging_spark.operators.skew import salted_agg, skew_split_join
from logging_spark.operators.sequence import sequence_pattern_matches
from logging_spark.operators.cohort import cohort_retention
from logging_spark.operators.scd import scd2, scd2_lookup
from logging_spark.operators.diff import snapshot_diff
from logging_spark.operators.dq import dq_checks, table_fingerprint
from logging_spark.operators.export import shard_id, shard_manifest
from logging_spark.operators.segments import rfm_segments
from logging_spark.operators.winsorize import winsorized_stats
from logging_spark.operators.heavy import heavy_hitters
from logging_spark.operators.repetition import repetition_signals
from logging_spark.operators.tfidf import tfidf_topk
from logging_spark.operators.sample import (budget_head,
                                            deterministic_sample,
                                            deterministic_split, domain_cap,
                                            global_shuffle, hash60, hash60_sql,
                                            global_order, mix_corpora,
                                            mix_temperature,
                                            split_thresholds,
                                            stratified_balance,
                                            HASH_SPACE)
from logging_spark.operators.pack import pack_chunks
from logging_spark.operators.pagerank import pagerank_integer
from logging_spark.operators.passages import global_passage_dedup
from logging_spark.operators.textdedup import (contamination_hits,
                                               decontaminate,
                                               edit_distance_near_dups,
                                               exact_duplicates,
                                               fingerprint_index,
                                               jaccard_threshold_pairs,
                                               novel_documents,
                                               lsh_candidate_pairs,
                                               containment_pairs,
                                               contamination_rate,
                                               minhash_estimate_audit,
                                               ngram_jaccard_pairs, simhash)
from logging_spark import multimodal as mm

# ----------------------------------------------------------------------------
# shared fixtures: rule table (reference Filter/Sink contract) and the
# events -> transcript-turns derivation
# ----------------------------------------------------------------------------

RULES = [
    Rule("errors", expr=r"\[ERROR\]"),
    Rule("warnings", expr=r"\[WARN\]"),
    Rule("tool_calls", expr="*", role_filter="tool"),
    Rule("assistant_trunc", expr="*", role_filter="assistant", max_length=25),
    Rule("disabled_catchall", expr="*", enabled=False),
]

# fixed retrieval queries for text_bm25_topk (terms from the synthetic
# corpus vocabulary so every query has hits)
BM25_QUERIES = [("q_shuffle", "spark window merge"),
                ("q_join", "hash join order stream")]

_LEVEL_CASE = {"error": "ERROR", "view": "WARN", "click": "DEBUG",
               "purchase": "INFO", "signup": "INFO"}
_ROLE_CASE = {"click": "user", "view": "user", "signup": "system",
              "purchase": "tool", "error": "assistant"}


def _read(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# ----------------------------------------------------------------------------
# shared-fixture memoization: the 61 contract queries are independent
# entry points, but several share an upstream frame (the routed chain
# feeds 6 queries, the portable LSH pair graph feeds 3, the parsed
# turns feed 2). The driver evaluates each query separately, so without
# memoization the shared upstream recomputes per query — pure sweep-
# budget waste. localCheckpoint materializes it once per (session, sf);
# blocks are RDD-owned, auto-dropped by the ContextCleaner. This mirrors
# what plans/job.py does in production (checkpoint the routed frame,
# derive every per-sink aggregate from the committed copy).
#
# tests/test_plans.py disables it (set_memo(False)) so the plan-shape
# guards keep asserting on the real, uncheckpointed query plans.
# ----------------------------------------------------------------------------

_MEMO: dict[tuple[str, str, str], DataFrame] = {}
_MEMO_ON = True


def set_memo(on: bool) -> None:
    global _MEMO_ON
    _MEMO.clear()
    _MEMO_ON = on


def _memo(spark: SparkSession, sf_dir: str, key: str,
          build: Callable[[], DataFrame]) -> DataFrame:
    if not _MEMO_ON:
        return build()
    k = (spark.sparkContext.applicationId, sf_dir, key)
    if k not in _MEMO:
        _MEMO[k] = build().localCheckpoint(eager=True)
    return _MEMO[k]


def _case(col: Column, mapping: dict[str, str], default: str) -> Column:
    """CASE expression with an explicit ELSE branch matching the SQL
    oracles' ELSE — without it an unknown key yields NULL, which
    null-propagates through Spark concat() and silently nulls the whole
    derived text while DuckDB keeps it."""
    it = iter(mapping.items())
    k, v = next(it)
    out = F.when(col == k, F.lit(v))
    for k, v in it:
        out = out.when(col == k, F.lit(v))
    return out.otherwise(F.lit(default))


def _spread(df: DataFrame) -> DataFrame:
    """Repartition ONLY under-split inputs (the driver's tables are one
    small parquet file -> 1 scan split -> serial CPU-bound stages). On
    a real table with thousands of files this is a no-op, so no extra
    shuffle lands in the 100 TB plan.

    Uses inputFiles() (a file-index listing) rather than
    df.rdd.getNumPartitions(), which forced eager RDD lineage
    construction per query in the bench loop."""
    want = df.sparkSession.sparkContext.defaultParallelism
    if len(df.inputFiles()) < want:
        return df.repartition(want)
    return df


def turns_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events -> transcript turns with the input_hint schema."""
    ev = _spread(_read(spark, sf_dir, "events"))
    level = _case(F.col("event_type"), _LEVEL_CASE, "INFO")
    k = F.coalesce(F.get_json_object("props", "$.k"), F.lit(""))
    text = F.concat(
        F.lit("["), level, F.lit("] comp-"),
        (F.col("user_id") % 10).cast("string"),
        F.lit(": "), F.col("event_type"),
        F.lit(" code="), F.floor("value").cast("string"),
        F.lit(" k="), k,
    )
    tool = F.when(F.col("user_id") % 10 == 0, F.lit(None).cast("string")).otherwise(
        F.concat(F.lit("tool_"), F.lpad((F.col("user_id") % 20).cast("string"), 2, "0"))
    )
    return ev.select(
        F.concat(F.lit("conv-"), F.lpad(F.col("user_id").cast("string"), 6, "0")).alias("conv_id"),
        F.col("event_id").cast("int").alias("turn_idx"),
        _case(F.col("event_type"), _ROLE_CASE, "assistant").alias("role"),
        text.alias("text"),
        tool.alias("tool"),
        F.col("ts"),
    )


TURNS_CTE = """
turns AS (
  SELECT concat('conv-', lpad(CAST(user_id AS VARCHAR), 6, '0')) AS conv_id,
         CAST(event_id AS INT) AS turn_idx,
         CASE event_type WHEN 'click' THEN 'user' WHEN 'view' THEN 'user'
              WHEN 'signup' THEN 'system' WHEN 'purchase' THEN 'tool'
              ELSE 'assistant' END AS role,
         concat('[', CASE event_type WHEN 'error' THEN 'ERROR' WHEN 'view' THEN 'WARN'
                      WHEN 'click' THEN 'DEBUG' ELSE 'INFO' END,
                '] comp-', CAST(user_id % 10 AS VARCHAR),
                ': ', event_type,
                ' code=', CAST(CAST(floor(value) AS BIGINT) AS VARCHAR),
                ' k=', coalesce(json_extract_string(props, '$.k'), '')) AS text,
         CASE WHEN user_id % 10 = 0 THEN NULL
              ELSE concat('tool_', lpad(CAST(user_id % 20 AS VARCHAR), 2, '0')) END AS tool,
         ts
  FROM events)
"""


def lookup_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Enrichment dimension from customer; 1/3 of keys absent so the
    left join exercises default-on-miss (reference service.go:130-144)."""
    cu = _read(spark, sf_dir, "customer").where(F.col("c_custkey") % 3 != 0)
    return cu.select(
        F.concat(F.lit("conv-"), F.lpad(F.col("c_custkey").cast("string"), 6, "0")).alias("conv_id"),
        F.concat(F.lit("tool_"), F.lpad((F.col("c_custkey") % 20).cast("string"), 2, "0")).alias("tool"),
        F.concat(F.lit("ns-"), (F.col("c_nationkey") % 5).cast("string")).alias("namespace"),
        F.concat(F.lit("pod-"), (F.col("c_custkey") % 50).cast("string")).alias("pod_name"),
        F.concat(F.lit("node-"), (F.col("c_nationkey") % 8).cast("string")).alias("node_name"),
        F.concat(F.lit("svc-"), F.lower("c_mktsegment")).alias("service_name"),
        F.array(
            F.concat(F.lit("10.0."), (F.col("c_nationkey") % 255).cast("string"),
                     F.lit("."), (F.col("c_custkey") % 255).cast("string")),
            F.concat(F.lit("10.1."), (F.col("c_nationkey") % 255).cast("string"),
                     F.lit("."), (F.col("c_custkey") % 255).cast("string")),
        ).alias("ips"),
    )


LOOKUP_CTE = """
lookup AS (
  SELECT concat('conv-', lpad(CAST(c_custkey AS VARCHAR), 6, '0')) AS conv_id,
         concat('tool_', lpad(CAST(c_custkey % 20 AS VARCHAR), 2, '0')) AS tool,
         concat('ns-', CAST(c_nationkey % 5 AS VARCHAR)) AS namespace,
         concat('pod-', CAST(c_custkey % 50 AS VARCHAR)) AS pod_name,
         concat('node-', CAST(c_nationkey % 8 AS VARCHAR)) AS node_name,
         concat('svc-', lower(c_mktsegment)) AS service_name,
         [concat('10.0.', CAST(c_nationkey % 255 AS VARCHAR), '.', CAST(c_custkey % 255 AS VARCHAR)),
          concat('10.1.', CAST(c_nationkey % 255 AS VARCHAR), '.', CAST(c_custkey % 255 AS VARCHAR))] AS ips
  FROM customer WHERE c_custkey % 3 != 0)
"""


def turns_with_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inject ~2% duplicate (conv_id, turn_idx) rows with a later ts and
    revised text — the at-least-once replay fixture the W1 dedup must
    resolve latest-wins (reference server.go:68-76)."""
    t = turns_df(spark, sf_dir)
    dups = (
        t.where(F.col("turn_idx") % 50 == 0)
        .withColumn("ts", F.expr("ts + INTERVAL 1 SECOND"))
        .withColumn("text", F.concat(F.col("text"), F.lit(" rev=2")))
    )
    return t.unionByName(dups)


DUPS_CTE = TURNS_CTE + """,
with_dups AS (
  SELECT * FROM turns
  UNION ALL
  SELECT conv_id, turn_idx, role, concat(text, ' rev=2') AS text, tool,
         ts + INTERVAL 1 SECOND AS ts
  FROM turns WHERE turn_idx % 50 = 0),
dedup AS (
  SELECT conv_id, turn_idx, role, text, tool, ts FROM (
    SELECT *, row_number() OVER (PARTITION BY conv_id, turn_idx
                                 ORDER BY ts DESC, text DESC) AS rn
    FROM with_dups) WHERE rn = 1)
"""

ENRICHED_CTE = DUPS_CTE + "," + LOOKUP_CTE + """,
enriched AS (
  SELECT t.conv_id, t.turn_idx, t.role, t.text, t.tool,
         coalesce(l.namespace, 'default') AS namespace,
         coalesce(l.pod_name, 'unknown') AS pod_name,
         coalesce(l.node_name, 'unknown') AS node_name,
         coalesce(l.service_name, 'unknown') AS service_name
  FROM dedup t LEFT JOIN lookup l ON t.conv_id = l.conv_id AND t.tool = l.tool)
"""

ROUTED_CTE = ENRICHED_CTE + r""",
routed AS (
  SELECT 'errors' AS sink_name, conv_id, turn_idx, role, text
    FROM enriched WHERE regexp_matches(text, '\[ERROR\]')
  UNION ALL
  SELECT 'warnings', conv_id, turn_idx, role, text
    FROM enriched WHERE regexp_matches(text, '\[WARN\]')
  UNION ALL
  SELECT 'tool_calls', conv_id, turn_idx, role, text
    FROM enriched WHERE role = 'tool'
  UNION ALL
  SELECT 'assistant_trunc', conv_id, turn_idx, role, substr(text, 1, 25)
    FROM enriched WHERE role = 'assistant'
  UNION ALL
  SELECT '_unrouted', conv_id, turn_idx, role, text
    FROM enriched
   WHERE NOT regexp_matches(text, '\[ERROR\]')
     AND NOT regexp_matches(text, '\[WARN\]')
     AND role NOT IN ('tool', 'assistant'))
"""


def enriched_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dedup -> enrich, memoized (feeds route() and route_join())."""
    return _memo(spark, sf_dir, "enriched", lambda: enrich(
        dedup_latest_wins(turns_with_dups(spark, sf_dir)),
        lookup_df(spark, sf_dir)))


def routed_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full dedup -> enrich -> route chain (package ops),
    memoized: six contract queries derive from this frame."""
    return _memo(spark, sf_dir, "routed",
                 lambda: route(enriched_df(spark, sf_dir), RULES))


def parsed_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """parse_turns over the turns view, memoized (grok + P9 queries)."""
    return _memo(spark, sf_dir, "parsed",
                 lambda: parse_turns(turns_df(spark, sf_dir)))


def dedup_clusters_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Portable LSH pair graph -> connected components, memoized: the
    pair graph feeds dedup_minhash_lsh, and the clusters feed both
    dedup_cluster and dedup_keep_canonical."""
    return _memo(spark, sf_dir, "dedup_clusters",
                 lambda: duplicate_clusters(lsh_pairs_portable(spark, sf_dir)))


def lsh_pairs_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Portable (md5) MinHash/LSH candidate pairs over the corpus,
    memoized (three contract queries share it)."""
    return _memo(spark, sf_dir, "lsh_pairs_portable",
                 lambda: lsh_candidate_pairs(corpus_df(spark, sf_dir),
                                             num_perm=8, bands=4, w=3,
                                             portable=True))


def shingles_w3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc 3-word shingle arrays over the corpus, memoized —
    threshold-Jaccard and containment share ONE shingle build
    (round-3 VERDICT item 8) instead of re-shingling per operator."""
    from logging_spark.operators.textdedup import shingle_frame
    return _memo(spark, sf_dir, "shingles_w3",
                 lambda: shingle_frame(corpus_df(spark, sf_dir), w=3))


# ----------------------------------------------------------------------------
# dedup corpus fixture (documents has no exact dups; inject some)
# ----------------------------------------------------------------------------

def corpus_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    # dedup operators are CPU-bound per row (shingling + hashing) ->
    # make sure the rows are spread across cores
    d = _spread(_read(spark, sf_dir, "documents").select("doc_id", "text"))
    dups = d.where(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 10000).alias("doc_id"), "text")
    return d.unionByName(dups)


CORPUS_CTE = """
corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 10000 AS doc_id, text FROM documents WHERE doc_id % 10 = 0)
"""


# ----------------------------------------------------------------------------
# multimodal fixture: opaque binary payloads derived from documents
# ----------------------------------------------------------------------------

def media_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Media table with the multimodal schema: payload is an opaque
    binary column (utf-8 bytes of the doc text stand in for real
    image/audio bytes — the decode step is stubbed per environment)."""
    d = _read(spark, sf_dir, "documents")
    kind = (F.when(F.col("doc_id") % 3 == 0, "image")
            .when(F.col("doc_id") % 3 == 1, "audio").otherwise("video"))
    return d.select(
        F.col("doc_id").alias("media_id"),
        kind.alias("kind"),
        F.encode("text", "utf-8").alias("payload"),
        F.when(kind == "image", ((F.col("n_chars") % 512) + 32).cast("int")).alias("width"),
        F.when(kind == "image", ((F.col("n_chars") % 384) + 32).cast("int")).alias("height"),
        F.when(kind != "image", (F.col("n_chars") * 100).cast("long")).alias("duration_ms"),
    )


MEDIA_CTE = """
media AS (
  SELECT doc_id AS media_id,
         CASE WHEN doc_id % 3 = 0 THEN 'image'
              WHEN doc_id % 3 = 1 THEN 'audio' ELSE 'video' END AS kind,
         encode(text) AS payload,
         CASE WHEN doc_id % 3 = 0 THEN CAST((n_chars % 512) + 32 AS INT) END AS width,
         CASE WHEN doc_id % 3 = 0 THEN CAST((n_chars % 384) + 32 AS INT) END AS height,
         CASE WHEN doc_id % 3 != 0 THEN CAST(n_chars * 100 AS BIGINT) END AS duration_ms
  FROM documents)
"""

# shared by the sample_split query and its oracle so the integer
# thresholds are literally the same values on both sides
SPLIT_WEIGHTS = {"train": 0.8, "val": 0.1, "test": 0.1}

TOKS = r"CASE WHEN trim(text) = '' THEN [] ELSE string_split_regex(trim(text), '\s+') END"

# shingle expression over `toks` (3-word shingles, matching textdedup.shingles)
SHINGLES = (
    "CASE WHEN len(toks) >= 3 THEN list_distinct(list_transform("
    "range(1, len(toks) - 1), i -> array_to_string(toks[i:i+2], ' ')))"
    " ELSE [array_to_string(toks, ' ')] END"
)


# ---------------------------------------------------------------------------
# Oracle helpers shared across family modules (promoted from the
# original build_oracles locals: the banded-LSH CTE chain feeds both
# the dedup and docs families; the language marker lists feed text
# and docs). Kept at original indentation inside a builder so the
# oracle SQL strings stay byte-identical to the pre-split module.
# ---------------------------------------------------------------------------

def _build_shared_oracle_helpers():

    # argmax with first-language-wins ties, matching functions.text.lang_guess
    _m = {"en": "['the','and','of','is']", "de": "['der','die','und','ist']",
          "fr": "['le','la','et','est']", "es": "['el','la','que','es']"}

    sig_entries = ",\n    ".join(
        f"list_min(list_transform(sh, s -> md5('{i}:' || s)))" for i in range(8))
    band_rows = "\n  UNION ALL\n".join(
        f"  SELECT doc_id, {b} AS band_idx, md5(sig[{2*b+1}] || '|' || sig[{2*b+2}]) AS band_hash FROM sigs"
        for b in range(4))
    def _lsh_body(src: str) -> str:
        """sh/sigs/banded CTE chain over any (doc_id, text) source —
        the oracle twin of lsh_candidate_pairs' banded projection."""
        # AS MATERIALIZED: sigs references sh 8x (one per permutation)
        # and banded_raw references sigs 4x — DuckDB inlines CTEs by
        # default, re-running the shingle build per reference (the
        # docs_pagerank lesson, measured 53 s -> 0.8 s there)
        return f"""sh AS MATERIALIZED (SELECT doc_id, {SHINGLES} AS sh
       FROM (SELECT doc_id, {TOKS} AS toks FROM {src})),
sigs AS MATERIALIZED (SELECT doc_id, [
    {sig_entries}] AS sig FROM sh),
banded_raw AS (
{band_rows}),
banded AS (
  -- mirror of lsh_candidate_pairs' max_bucket=1000 anti-join: drop
  -- every row of a degenerate bucket BEFORE the pair expansion, so
  -- Spark and the oracle agree even once a larger sf hits the cap
  SELECT * FROM banded_raw
  QUALIFY count(*) OVER (PARTITION BY band_idx, band_hash) <= 1000)"""

    _lsh_ctes = f"{CORPUS_CTE},\n" + _lsh_body("corpus")
    _lsh_pairs = """SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
FROM banded a JOIN banded b
  ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id"""
    return _m, sig_entries, band_rows, _lsh_body, _lsh_ctes, _lsh_pairs


(_m, sig_entries, band_rows, _lsh_body, _lsh_ctes, _lsh_pairs,) = _build_shared_oracle_helpers()

