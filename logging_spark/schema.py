"""Fixed StructType schemas for every table in the pipeline.

Mirrors the reference's data contracts (cited per field group):
- transcripts  <- the tailed log-line stream (BASELINE.json input_hint;
  offset analog: reference pkg/command/cmd.go:26)
- lookup       <- pod-metadata enrichment dimension
  (reference pkg/api/pod.go:37-62 `slackTaskFromPod`)
- rules        <- the command/Filter/Sink contract
  (reference pkg/command/cmd.go:17-29, pkg/apis/yamecloud/v1/filter_type.go:25-28,
   sink_type.go:10-35)
- checkpoint   <- per-(service,pod) offset/state accounting
  (reference pkg/apis/yamecloud/v1/slack_type.go:24-38 `Slack.Spec.Records`)
- metrics      <- agent status-poll records (reference pkg/api/slack.go:38-64)
"""

from __future__ import annotations

from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

# Primary input: one row per transcript turn (input_hint shape, exact).
TRANSCRIPTS = StructType(
    [
        StructField("conv_id", StringType(), False),
        StructField("turn_idx", IntegerType(), False),
        StructField("role", StringType(), True),
        StructField("text", StringType(), True),
        StructField("tool", StringType(), True),
        StructField("ts", TimestampType(), True),
    ]
)

# Enrichment dimension keyed (conv_id, tool); analog of the pod
# projection {ns, service_name, node, pod, ips[]} (pod.go:37-62).
LOOKUP = StructType(
    [
        StructField("conv_id", StringType(), False),
        StructField("tool", StringType(), False),
        StructField("namespace", StringType(), True),
        StructField("pod_name", StringType(), True),
        StructField("node_name", StringType(), True),
        StructField("service_name", StringType(), True),
        StructField("ips", ArrayType(StringType()), True),
    ]
)

# Routing rule table; one row per sink (analog: one Kafka topic per
# service, server.go:131; Filter fields filter_type.go:25-28; RUN/STOP
# lifecycle cmd.go:9-13 -> `enabled`).
RULES = StructType(
    [
        StructField("sink_name", StringType(), False),
        StructField("expr", StringType(), True),  # regex; "*" = match-all (cmd.go:39)
        StructField("max_length", LongType(), True),  # default 1e9 (cmd.go:38)
        StructField("role_filter", StringType(), True),
        StructField("enabled", BooleanType(), False),
    ]
)

# Structured fields the vectorized parser extracts from `text`.
PARSED = StructType(
    [
        StructField("level", StringType(), True),
        StructField("component", StringType(), True),
        StructField("message", StringType(), True),
        StructField("attrs", StringType(), True),  # JSON object of key=val pairs
    ]
)

# Per-bucket lineage for resume (analog of Slack.Spec.Records
# offset accounting, slack_type.go:24-38 + server.go:68-76): one done
# row per (bucket, sink_name, role) with that cell's committed counts;
# n_distinct_conv is the sink's count in the bucket, on each role row.
CHECKPOINT = StructType(
    [
        StructField("bucket", LongType(), False),
        StructField("sink_name", StringType(), False),
        StructField("role", StringType(), True),
        StructField("n_rows", LongType(), True),
        StructField("parse_errors", LongType(), True),
        StructField("n_distinct_conv", LongType(), True),
        StructField("input_snapshot", StringType(), True),
        StructField("state", StringType(), True),
        StructField("updated_ts", TimestampType(), True),
    ]
)

METRICS = StructType(
    [
        StructField("run_id", StringType(), False),
        StructField("phase", StringType(), False),
        StructField("key", StringType(), True),
        StructField("rows", LongType(), True),
        StructField("seconds", DoubleType(), True),
        StructField("updated_ts", TimestampType(), True),
    ]
)

# Multimodal: opaque payload + typed metadata (decode is stubbed; the
# Spark-side plumbing — schema, batch shape — is real).
MEDIA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("kind", StringType(), False),  # image | audio | video
        StructField("payload", StringType(), True),  # binary in prod; hex str in synth
        StructField("mime", StringType(), True),
        StructField("width", IntegerType(), True),
        StructField("height", IntegerType(), True),
        StructField("duration_ms", LongType(), True),
    ]
)

DEFAULT_MAX_LENGTH = 10**9  # reference default (cmd.go:38, service.go:134)
MATCH_ALL_EXPR = "*"  # reference default (cmd.go:39)
