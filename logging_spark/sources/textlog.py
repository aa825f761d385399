"""Raw log-file source: the reference's actual input mode.

The reference's S1 source tails container log FILES on each node
(filebeat-style; SURVEY S1 — per-(service, pod) paths with byte-offset
resume). The Spark-native equivalent is the text file source: one row
per line, file provenance via input_file_name(). The job is batch:
a re-run under a new `--snapshot` picks up what changed, and per-
bucket resume (sources/checkpoint.py) stands in for the reference's
per-file offsets.

Everything downstream is the existing pipeline: `parse_turns`
(codegen grok twin) structures the lines; conv/turn identity is
derived from the path + line content exactly once, in the scan
projection.

Scale shape: the text scan is splittable per file (uncompressed) and
parallel across files; provenance columns are metadata-only (no read
amplification). At 100 TB of logs the file listing itself is the
bottleneck — point the reader at date-partitioned directories
(path glob) so listing prunes by day.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from logging_spark.functions.parse import parse_turns


def _with_provenance(lines: DataFrame) -> DataFrame:
    # .../SERVICE/POD.log -> (service, pod) — the reference keys its
    # offsets on exactly this pair (SURVEY S1)
    path = F.input_file_name()
    return (lines
            .withColumn("log_path", path)
            .withColumn("service",
                        F.element_at(F.split(path, "/"), -2))
            .withColumn("pod", F.regexp_replace(
                F.element_at(F.split(path, "/"), -1), r"\.log$", "")))


def read_log_files(spark: SparkSession, path: str,
                   glob: str | None = None) -> DataFrame:
    """Batch read of raw log files: one row per line with
    (value, log_path, service, pod). `glob` prunes the listing
    (e.g. 'svc-*/*.log')."""
    reader = spark.read
    if glob:
        reader = reader.option("pathGlobFilter", glob.split("/")[-1])
    return _with_provenance(reader.text(path))


def logfile_input(spark: SparkSession, path: str) -> DataFrame:
    """Raw log directory -> the pipeline's input_hint schema
    (conv_id, turn_idx, role, text, tool, ts) so `run_job.py
    --input-logs DIR` runs the FULL job straight off log files — the
    reference's actual ingestion mode end-to-end.

    Raw lines genuinely lack turn/role/tool/ts, so the adapter fills
    them deterministically: turn_idx = line order within the file
    (one per-file window — parallel across files, the same unit of
    parallelism as the scan); role maps from the parsed level the way
    the routing rules expect; tool = parsed component; ts = a fixed
    epoch + turn_idx seconds (re-runs produce identical rows, which
    the resume/dedup surfaces require)."""
    lines = read_log_files(spark, path)
    parsed = logfile_turns(lines)
    w = Window.partitionBy("conv_id").orderBy(F.monotonically_increasing_id())
    lvl = F.col("parsed.level")
    return parsed.select(
        "conv_id",
        (F.row_number().over(w) - 1).cast("int").alias("turn_idx"),
        F.when(lvl.isin("ERROR", "WARN"), F.lit("assistant"))
         .when(lvl == "DEBUG", F.lit("user"))
         .otherwise(F.lit("system")).alias("role"),
        "text",
        F.col("parsed.component").alias("tool"),
        (F.to_timestamp(F.lit("2000-01-01 00:00:00"))
         + F.make_interval(secs=F.row_number().over(w) - 1)).alias("ts"))


def logfile_turns(lines: DataFrame) -> DataFrame:
    """Raw provenance-tagged lines -> structured turns: conv identity
    from the (service, pod) path pair, per-line parse via the codegen
    grok twin (a lazy plan with no state)."""
    turns = (lines
             .where(F.length(F.trim(F.col("value"))) > 0)
             .select(
                 F.concat_ws("/", "service", "pod").alias("conv_id"),
                 F.col("value").alias("text"),
                 "log_path"))
    return parse_turns(turns, "text")
