"""Custom Python DataSource (Spark 4 `pyspark.sql.datasource`): a
deterministic transcript generator as a first-class `spark.read
.format(...)` source (`run_job.py --input-pysource`).

Why this exists (beyond the DataFrame-expression generator in
synth.py): it exercises the THIRD ingestion surface a production
estate needs — after file formats (parquet/orc/csv/jsonl/binary) and
tables (catalog), the custom-connector path for systems with no
built-in reader (internal APIs, queues, bespoke stores). The Spark 4
Python DataSource API gives that connector:

- **partition-parallel reads**: `partitions()` plans one
  InputPartition per conversation bucket; `read()` runs on
  EXECUTORS, one bucket per task — the generator scales out like any
  file scan (nothing is materialized on the driver);
- **filter pushdown** (`pushFilters`): `conv_id = 'x'` / `IN (...)`
  predicates prune whole buckets before any row is generated —
  the Python-connector analog of parquet's PushedFilters (requires
  `spark.sql.python.filterPushdown.enabled=true`).

Determinism: every row is a pure function of (conv_id, turn_idx) via
md5 — same options, same rows, any cluster, any partitioning.
"""

from __future__ import annotations

import hashlib
from datetime import datetime, timedelta
from typing import Iterator

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    EqualTo,
    Filter,
    In,
    InputPartition,
)

SCHEMA_DDL = ("conv_id string, turn_idx int, role string, text string, "
              "tool string, ts timestamp")

_TOOLS = ["search", "code", "browse"]
_EPOCH = datetime(2024, 1, 1)


def _conv_id(i: int) -> str:
    return f"conv{i:06d}"


def _rows_for(cid: str, turns: int) -> Iterator[tuple]:
    h = int(hashlib.md5(cid.encode()).hexdigest()[:8], 16)
    for i in range(turns):
        # role/level mix shaped to exercise EVERY routing rule of the
        # north-rule job (errors / warnings / tool_calls /
        # assistant_all / catchall) when fed through run_job
        role = ("user", "assistant", "tool", "assistant")[i % 4]
        lvl = ("INFO", "INFO", "WARN", "INFO", "ERROR")[(h + i) % 5]
        tool = None if (h + i) % 10 == 0 else _TOOLS[(h + i) % 3]
        text = (f"[{lvl}] turn {i} of {cid} code={(h + i) % 1000} "
                f"lat={(h * 7 + i) % 500}ms")
        ts = _EPOCH + timedelta(seconds=(h % 86400) + i * 30)
        yield (cid, i, role, text, tool, ts)


class _Reader(DataSourceReader):
    def __init__(self, options: dict):
        self.n = int(options.get("n_conversations", 100))
        self.turns = int(options.get("turns_per_conv", 20))
        self.buckets = int(options.get("buckets", 8))
        self._allowed: set[str] | None = None  # pushdown prune set

    def pushFilters(self, filters: list[Filter]):
        for f in filters:
            if isinstance(f, EqualTo) and f.attribute == ("conv_id",):
                allowed = {str(f.value)}
            elif isinstance(f, In) and f.attribute == ("conv_id",):
                allowed = {str(v) for v in f.value}
            else:
                yield f  # not ours — Spark keeps evaluating it
                continue
            self._allowed = (allowed if self._allowed is None
                             else self._allowed & allowed)
        # handled filters are NOT yielded: Spark skips re-checking

    def partitions(self):
        cids = [_conv_id(i) for i in range(self.n)]
        if self._allowed is not None:
            cids = [c for c in cids if c in self._allowed]
        nb = max(1, min(self.buckets, len(cids) or 1))
        chunks = [cids[i::nb] for i in range(nb)]
        return [InputPartition(c) for c in chunks if c]

    def read(self, partition: InputPartition):
        for cid in partition.value:
            yield from _rows_for(cid, self.turns)


class TranscriptDataSource(DataSource):
    """`spark.dataSource.register(TranscriptDataSource)` then
    `spark.read.format("synthetic_transcripts")...`."""

    @classmethod
    def name(cls) -> str:
        return "synthetic_transcripts"

    def schema(self) -> str:
        return SCHEMA_DDL

    def reader(self, schema) -> _Reader:
        return _Reader(self.options)
