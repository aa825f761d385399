"""Seeded input generator and workload shapes.

Inputs are made with NumPy and written with PyArrow, so the program
under test receives only parquet files and nothing of its own
generator. The row shape follows the repository's fixture generator
(``conv_id, turn_idx, role, text, tool, ts`` turns plus a
``(conv_id, tool)`` lookup dimension): hot conversations, duplicated
turns with a later ts, overlong lines, null tools and lookup misses.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

LEVELS = np.array(["INFO", "INFO", "INFO", "INFO", "DEBUG", "DEBUG", "WARN", "ERROR"])
COMPONENTS = np.array(["scheduler", "executor", "shuffle", "catalyst", "parser",
                       "router", "sink", "auth", "net", "gc"])
ROLES = np.array(["user", "assistant", "assistant", "tool", "system"])
TOOLS = np.array([f"tool_{i:02d}" for i in range(20)])
WORDS = np.array(["request", "completed", "retry", "timeout", "connected", "spilled",
                  "partition", "committed", "rejected", "scanned", "queued", "flushed"])
PAD = " pad" * 200
INPUT_FILES = 8
DUP_PCT = 0.01  # turns emitted twice
OVERLONG_PCT = 0.02  # lines longer than every truncation bound
NULL_TOOL_PCT = 0.10
MISS_PCT = 0.05  # (conv_id, tool) pairs absent from the lookup

# (sink_name, expr, max_length, role_filter, enabled); "*" matches all.
# A copy of the repository's fixture rules, so the workload stays put
# when the test fixtures change. The patterns use only literals, classes and alternation, which Java
# regex (the program) and RE2 (the reference) read the same way.
FIXTURE_RULES = [
    ("errors", r"\[ERROR\]", 10**9, None, True),
    ("warnings", r"\[WARN\]", 10**9, None, True),
    ("tool_calls", "*", 10**9, "tool", True),
    ("assistant_all", "*", 200, "assistant", True),
    ("catchall", "*", 10**9, None, False),
]

# 14 enabled sinks: one per level, one per role, a truncating
# catch-all and overlapping component/word/code filters, so an input
# turn lands in about five sinks.
WIDE_RULES = [
    ("lvl_error", r"\[ERROR\]", 10**9, None, True),
    ("lvl_warn", r"\[WARN\]", 10**9, None, True),
    ("lvl_info", r"\[INFO\]", 160, None, True),
    ("lvl_debug", r"\[DEBUG\]", 120, None, True),
    ("role_user", "*", 10**9, "user", True),
    ("role_assistant", "*", 200, "assistant", True),
    ("role_tool", "*", 10**9, "tool", True),
    ("role_system", "*", 64, "system", True),
    ("archive", "*", 96, None, True),
    ("data_plane", r"(shuffle|sink|net):", 10**9, None, True),
    ("control_plane", r"(scheduler|catalyst|auth):", 10**9, None, True),
    ("failures", r"(retry|timeout|rejected)", 10**9, None, True),
    ("commits", r"(committed|flushed) code=[0-4]", 10**9, None, True),
    ("assistant_err", r"\[(ERROR|WARN)\]", 10**9, "assistant", True),
    ("paused", "*", 10**9, None, False),
]


@dataclass(frozen=True)
class Shape:
    """Input shape of one workload."""

    n_conversations: int
    turns_per_conv: int
    hot_conversations: int
    hot_factor: int
    num_buckets: int
    rules: list


# Sizes keep one job under ten seconds on 4 cores, so a run holds
# more than one timed job after its set-up. Few buckets keep the sink
# file count, whose per-file cost dominates small jobs, moderate.
BASE = Shape(n_conversations=1800, turns_per_conv=50, hot_conversations=3,
             hot_factor=100, num_buckets=4, rules=FIXTURE_RULES)
# 6 hot conversations of 3000 turns hold ~80% of the turns; a fifth of
# BASE's input turns, more routed rows and sink files than BASE.
SKEW_FANOUT = Shape(n_conversations=200, turns_per_conv=25, hot_conversations=6,
                    hot_factor=120, num_buckets=6, rules=WIDE_RULES)

SHAPES = {"fresh_skew_fanout": SKEW_FANOUT, "resume_half": BASE}


def _turns(shape: Shape, rng: np.random.Generator) -> pa.Table:
    cold = shape.n_conversations - shape.hot_conversations
    hot_len = shape.turns_per_conv * shape.hot_factor
    conv = np.concatenate([
        np.repeat(np.arange(cold), shape.turns_per_conv),
        cold + np.repeat(np.arange(shape.hot_conversations), hot_len),
    ])
    turn_idx = np.concatenate([
        np.tile(np.arange(shape.turns_per_conv), cold),
        np.tile(np.arange(hot_len), shape.hot_conversations),
    ]).astype(np.int32)
    n = len(conv)
    level = LEVELS[rng.integers(0, len(LEVELS), n)]
    comp = COMPONENTS[rng.integers(0, len(COMPONENTS), n)]
    word = WORDS[rng.integers(0, len(WORDS), n)]
    code = rng.integers(0, 1000, n)
    shard = rng.integers(0, 97, n)
    long_ = rng.random(n) < OVERLONG_PCT

    def lines(rows, lv, suffix=""):
        return [f"[{v}] {comp[i]}: {word[i]} code={code[i]} shard={shard[i]}"
                f"{PAD if long_[i] else ''}{suffix}" for i, v in zip(rows, lv)]

    text = lines(range(n), level)
    tool = TOOLS[rng.integers(0, len(TOOLS), n)].astype(object)
    tool[rng.random(n) < NULL_TOOL_PCT] = None
    ts = (np.datetime64("2024-01-01T00:00:00", "us")
          + (turn_idx.astype(np.int64) * 7 + rng.integers(0, 5, n)) * 1_000_000)
    conv_id = np.char.add("conv-", np.char.zfill(conv.astype(str), 6))
    role = ROLES[rng.integers(0, len(ROLES), n)]

    # duplicates: a later ts and a text re-leveled to ERROR, so keeping
    # any row but the latest changes the per-sink counts
    dup = np.flatnonzero(rng.random(n) < DUP_PCT)
    cols = {
        "conv_id": np.concatenate([conv_id, conv_id[dup]]),
        "turn_idx": np.concatenate([turn_idx, turn_idx[dup]]),
        "role": np.concatenate([role, role[dup]]),
        "text": text + lines(dup, ["ERROR"] * len(dup), " rev=2"),
        "tool": np.concatenate([tool, tool[dup]]),
        "ts": np.concatenate([ts, ts[dup] + np.timedelta64(1, "s")]),
    }
    order = rng.permutation(len(cols["turn_idx"]))
    schema = pa.schema([
        pa.field("conv_id", pa.string(), nullable=False),
        pa.field("turn_idx", pa.int32(), nullable=False),
        pa.field("role", pa.string()),
        pa.field("text", pa.string()),
        pa.field("tool", pa.string()),
        pa.field("ts", pa.timestamp("us", tz="UTC")),
    ])
    arrays = [pa.array(np.asarray(cols[f.name], dtype=object)[order]
                       if f.name in ("text", "tool") else cols[f.name][order],
                       type=f.type) for f in schema]
    return pa.Table.from_arrays(arrays, schema=schema)


def _lookup(shape: Shape, rng: np.random.Generator) -> pa.Table:
    n = shape.n_conversations * len(TOOLS)
    conv = np.repeat(np.arange(shape.n_conversations), len(TOOLS))
    tool = np.tile(TOOLS, shape.n_conversations)
    keep = rng.random(n) >= MISS_PCT
    h = rng.integers(0, 1_000_000, n)
    conv_id = np.char.add("conv-", np.char.zfill(conv.astype(str), 6))
    cols = {
        "conv_id": conv_id,
        "tool": tool,
        "namespace": np.char.add("ns-", (h % 5).astype(str)),
        "pod_name": np.char.add("pod-", (h % 50).astype(str)),
        "node_name": np.char.add("node-", (h % 8).astype(str)),
        "service_name": np.char.add("svc-", (h % 12).astype(str)),
    }
    table = pa.table({k: v[keep] for k, v in cols.items()})
    ips = [[f"10.0.{a % 255}.{(a + 7) % 255}"] for a in h[keep]]
    return table.append_column("ips", pa.array(ips, type=pa.list_(pa.string())))


def rules_table(shape: Shape) -> pa.Table:
    names = ["sink_name", "expr", "max_length", "role_filter", "enabled"]
    return pa.table({k: list(v) for k, v in zip(names, zip(*shape.rules))},
                    schema=pa.schema([("sink_name", pa.string()), ("expr", pa.string()),
                                      ("max_length", pa.int64()),
                                      ("role_filter", pa.string()),
                                      ("enabled", pa.bool_())]))


def materialize(workload: str, seed: int, out_dir: str) -> int:
    """Write ``turns/``, ``lookup/`` and ``rules/`` parquet under
    out_dir; return the number of input turns."""
    shape = SHAPES[workload]
    rng = np.random.default_rng([seed, list(SHAPES.values()).index(shape)])
    turns = _turns(shape, rng)
    per_file = -(-turns.num_rows // INPUT_FILES)
    os.makedirs(f"{out_dir}/turns")
    for i in range(INPUT_FILES):
        pq.write_table(turns.slice(i * per_file, per_file),
                       f"{out_dir}/turns/part-{i:05d}.parquet")
    for name, table in (("lookup", _lookup(shape, rng)), ("rules", rules_table(shape))):
        os.makedirs(f"{out_dir}/{name}")
        pq.write_table(table, f"{out_dir}/{name}/part-00000.parquet")
    return turns.num_rows
