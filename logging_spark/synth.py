"""Deterministic, fully distributed synthetic-data generator.

Everything derives from ``spark.range`` + hash mixing with built-in
functions — no driver-side loops, no RNG state, no external data —
so generation itself scales horizontally: at 10^12 turns this is
just a bigger ``spark.range`` fanned across executors, and the same
(seed, id) always yields the same row on any cluster size.

Fixture shape follows FIXTURES.md: skewed hot conversations,
~1% duplicated (conv_id, turn_idx) rows for the window-dedup path,
~2% overlong lines for the truncation guard, ~10% null tool.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from logging_spark import schema as S

SEED = 42

LEVELS = ["INFO", "INFO", "INFO", "INFO", "DEBUG", "DEBUG", "WARN", "ERROR"]
COMPONENTS = [
    "scheduler", "executor", "shuffle", "catalyst", "parser",
    "router", "sink", "auth", "net", "gc",
]
ROLES = ["user", "assistant", "assistant", "tool", "system"]
TOOLS = [f"tool_{i:02d}" for i in range(20)]
WORDS = [
    "request", "completed", "retry", "timeout", "connected", "spilled",
    "partition", "committed", "rejected", "scanned", "queued", "flushed",
]


def _mix(col, salt: int):
    """Deterministic 64-bit mix of a column with a salt; xxhash64 is a
    built-in JVM expression, so this stays inside whole-stage codegen."""
    return F.xxhash64(col, F.lit(salt), F.lit(SEED))


def _pick(col, salt: int, options: list[str]):
    arr = F.array(*[F.lit(o) for o in options])
    return F.element_at(arr, (F.pmod(_mix(col, salt), F.lit(len(options))) + 1).cast("int"))


def transcripts(
    spark: SparkSession,
    n_conversations: int = 1000,
    turns_per_conv: int = 50,
    hot_conversations: int = 3,
    hot_factor: int = 100,
    dup_pct: float = 0.01,
    overlong_pct: float = 0.02,
    null_tool_pct: float = 0.10,
    partitions: int | None = None,
) -> DataFrame:
    """Transcript turns: (conv_id, turn_idx, role, text, tool, ts).

    Hot conversations get ``hot_factor`` x the turns (skew fixture);
    dup_pct of rows are emitted twice with a later ts (exercises the
    window-ranked dedup W1).
    """
    cold = n_conversations - hot_conversations
    base = spark.range(cold * turns_per_conv, numPartitions=partitions).select(
        (F.col("id") / turns_per_conv).cast("long").alias("conv"),
        F.pmod(F.col("id"), F.lit(turns_per_conv)).cast("int").alias("turn_idx"),
    )
    hot = spark.range(hot_conversations * turns_per_conv * hot_factor,
                      numPartitions=partitions).select(
        (F.lit(cold) + (F.col("id") / (turns_per_conv * hot_factor)).cast("long")).alias("conv"),
        F.pmod(F.col("id"), F.lit(turns_per_conv * hot_factor)).cast("int").alias("turn_idx"),
    )
    turns = base.unionByName(hot)

    key = F.concat_ws(":", F.col("conv"), F.col("turn_idx"))
    level = _pick(key, 1, LEVELS)
    component = _pick(key, 2, COMPONENTS)
    word = _pick(key, 3, WORDS)
    kv1 = F.pmod(_mix(key, 4), F.lit(1000))
    kv2 = F.pmod(_mix(key, 5), F.lit(97))
    # ~overlong_pct of lines get a long padding tail (> truncation bound)
    is_long = F.pmod(_mix(key, 6), F.lit(10_000)) < F.lit(int(overlong_pct * 10_000))
    pad = F.when(is_long, F.repeat(F.lit(" pad"), 200)).otherwise(F.lit(""))
    text = F.concat(
        F.lit("["), level, F.lit("] "), component, F.lit(": "), word,
        F.lit(" code="), kv1, F.lit(" shard="), kv2, pad,
    )
    tool_null = F.pmod(_mix(key, 7), F.lit(10_000)) < F.lit(int(null_tool_pct * 10_000))
    tool = F.when(tool_null, F.lit(None).cast("string")).otherwise(_pick(key, 8, TOOLS))
    ts = F.to_timestamp(
        F.lit("2024-01-01 00:00:00")
    ) + F.make_interval(secs=F.col("turn_idx") * 7 + F.pmod(_mix(key, 9), F.lit(5)))

    rows = turns.select(
        F.format_string("conv-%06d", F.col("conv")).alias("conv_id"),
        F.col("turn_idx"),
        _pick(key, 10, ROLES).alias("role"),
        text.alias("text"),
        tool.alias("tool"),
        ts.alias("ts"),
    )
    # duplicate ~dup_pct of rows with a strictly later ts and a marker
    # suffix: W1 dedup (latest-wins) must keep the duplicate, so routed
    # output is only correct if dedup ran.
    dup_sel = F.pmod(_mix(F.concat_ws(":", "conv_id", "turn_idx"), 11), F.lit(10_000))
    dups = (
        rows.where(dup_sel < F.lit(int(dup_pct * 10_000)))
        .withColumn("ts", F.col("ts") + F.make_interval(secs=F.lit(1)))
        .withColumn("text", F.concat(F.col("text"), F.lit(" rev=2")))
    )
    return rows.unionByName(dups)


def lookup(spark: SparkSession, n_conversations: int = 1000,
           miss_pct: float = 0.05) -> DataFrame:
    """Enrichment dimension keyed (conv_id, tool); ~miss_pct of pairs
    absent so the left join exercises default-on-miss coalescing
    (reference service.go:130-144)."""
    pairs = spark.range(n_conversations * len(TOOLS)).select(
        (F.col("id") / len(TOOLS)).cast("long").alias("conv"),
        F.pmod(F.col("id"), F.lit(len(TOOLS))).cast("int").alias("tool_i"),
    )
    key = F.concat_ws(":", F.col("conv"), F.col("tool_i"))
    kept = pairs.where(F.pmod(_mix(key, 20), F.lit(10_000)) >= F.lit(int(miss_pct * 10_000)))
    h = F.pmod(_mix(key, 21), F.lit(1_000_000))
    return kept.select(
        F.format_string("conv-%06d", F.col("conv")).alias("conv_id"),
        F.element_at(F.array(*[F.lit(t) for t in TOOLS]), F.col("tool_i") + 1).alias("tool"),
        F.concat(F.lit("ns-"), F.pmod(h, F.lit(5))).alias("namespace"),
        F.concat(F.lit("pod-"), F.pmod(h, F.lit(50))).alias("pod_name"),
        F.concat(F.lit("node-"), F.pmod(h, F.lit(8))).alias("node_name"),
        F.concat(F.lit("svc-"), F.pmod(h, F.lit(12))).alias("service_name"),
        F.array(F.concat(F.lit("10.0."), F.pmod(h, F.lit(255)), F.lit("."),
                         F.pmod(h + 7, F.lit(255)))).alias("ips"),
    )


# FIXTURES.md §3 rule set: overlapping matches, some rows match none,
# one disabled rule (RUN/STOP analog cmd.go:9-13).
FIXTURE_RULES = [
    ("errors", r"\[ERROR\]", 10**9, None, True),
    ("warnings", r"\[WARN\]", 10**9, None, True),
    ("tool_calls", "*", 10**9, "tool", True),
    ("assistant_all", "*", 200, "assistant", True),
    ("catchall", "*", 10**9, None, False),
]


def rules(spark: SparkSession) -> DataFrame:
    # pandas -> Arrow path: list-of-rows createDataFrame evaluates via
    # pickled RDDs and forks a Python worker per core just to serve a
    # 6-row table (profiled: 60 task-seconds blocked at 32 task threads)
    import pandas as pd

    cols = [f.name for f in S.RULES.fields]
    return spark.createDataFrame(
        pd.DataFrame(FIXTURE_RULES, columns=cols), schema=S.RULES)


def media(spark: SparkSession, n: int = 200) -> DataFrame:
    """Opaque multimodal rows; payload is a deterministic fake 'binary'
    (hex of a hash) — decode is stubbed per environment limits."""
    kinds = ["image", "audio", "video"]
    mimes = {"image": "image/png", "audio": "audio/wav", "video": "video/mp4"}
    df = spark.range(n)
    kind = _pick(F.col("id"), 30, kinds)
    return df.select(
        F.col("id").alias("media_id"),
        kind.alias("kind"),
        F.hex(_mix(F.col("id"), 31)).alias("payload"),
        F.element_at(
            F.create_map(*[x for k in kinds for x in (F.lit(k), F.lit(mimes[k]))]), kind
        ).alias("mime"),
        F.when(kind == "image", (F.pmod(_mix(F.col("id"), 32), F.lit(512)) + 32).cast("int")).alias("width"),
        F.when(kind == "image", (F.pmod(_mix(F.col("id"), 33), F.lit(512)) + 32).cast("int")).alias("height"),
        F.when(kind != "image", F.pmod(_mix(F.col("id"), 34), F.lit(600_000))).alias("duration_ms"),
    )
