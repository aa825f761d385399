"""JSONL (newline-delimited JSON) export and ingest — the exchange
format training stacks actually consume (one JSON object per line;
WebDataset/HF-datasets convention).

Export: each row is rendered with `to_json(struct(*))` — timestamps
serialize as ISO-8601, arrays/structs nest natively — and written via
the TEXT sink. With `n_shards` set, rows are routed to deterministic
shards by `export.shard_id` (pure fn(seed, id) — re-runs and engines
agree) and the frame is repartitioned BY THE SHARD COLUMN before the
write, so each task writes exactly one shard's file and the job never
fans out into n_shards x n_tasks small files (the same writer
discipline as export.write_shards).

Ingest: `read_jsonl` REQUIRES an explicit schema. Schema inference on
JSON is a full extra pass over the data plus a driver-side merge — at
100 TB that is a second job before the first; worse, inferred types
drift with content (an all-null day demotes a column to string) which
silently breaks downstream casts. PERMISSIVE mode + a corrupt-record
column quarantines malformed lines instead of failing the job
(`corrupt_col`), mirroring the route operator's dead-letter stance.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from logging_spark.operators.export import shard_id

# to_json's DEFAULT timestampFormat renders milliseconds only —
# microseconds silently truncate (measured: .123456 -> .123000 on the
# round trip). Pin a microsecond format on BOTH sides.
TS_FORMAT = "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX"


def write_jsonl(df: DataFrame, path: str, n_shards: int | None = None,
                id_col: str | None = None, seed: str = "shard",
                mode: str = "overwrite") -> None:
    """Write the frame as JSONL text files under `path`."""
    line = F.to_json(F.struct(*df.columns),
                     {"timestampFormat": TS_FORMAT}).alias("value")
    if n_shards is not None:
        if id_col is None:
            raise ValueError("n_shards requires id_col for "
                             "deterministic shard assignment")
        out = (df.select(line, shard_id(id_col, n_shards, seed=seed)
                         .alias("shard"))
               .repartition(n_shards, "shard"))
        (out.write.mode(mode).partitionBy("shard").text(path))
    else:
        df.select(line).write.mode(mode).text(path)


def read_jsonl(spark: SparkSession, path: str, schema: T.StructType | str,
               corrupt_col: str = "_corrupt_record") -> DataFrame:
    """Read JSONL with an EXPLICIT schema; malformed lines land in
    `corrupt_col` (all data columns null) instead of killing the job.
    Drop/route that column downstream as the dead-letter stream."""
    if isinstance(schema, str):
        schema = T.StructType.fromDDL(schema)
    if corrupt_col and corrupt_col not in [f.name for f in schema.fields]:
        schema = schema.add(corrupt_col, T.StringType())
    return (spark.read.schema(schema)
            .option("mode", "PERMISSIVE")
            .option("timestampFormat", TS_FORMAT)
            .option("columnNameOfCorruptRecord", corrupt_col)
            .json(path))


def jsonl_shard_paths(path: str) -> list[str]:
    """The shard directories of a sharded write, sorted by shard id —
    the consumer-side listing (one directory per shard)."""
    return sorted(
        os.path.join(path, d) for d in os.listdir(path)
        if d.startswith("shard="))
