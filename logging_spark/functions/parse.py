"""Vectorized grok/regex parser over the `text` column.

The reference's data path applies `{expr, max_length}` per line in the
harvest agent (contract: /root/reference/pkg/command/cmd.go:17-29,
filter defaults cmd.go:36-40). Our generalization extracts structured
fields `[LEVEL] component: message key=val ...` into a struct.

Two implementations, same output schema (schema.PARSED):

- ``parse_turns`` / ``parse_expr``: pure Catalyst expressions
  (regexp_extract + map_from_entries + to_json) — whole-stage
  codegen, zero Python. The job's only parser.
- ``parsed_udf``: Arrow-batched pandas UDF using pre-compiled regex +
  pandas .str vectorized ops (no per-row Python). Kept as the
  ``pipe_parse_grok_udf`` contract twin and as a cross-check of the
  builtin path in tests; nothing on the job path calls it.
"""

from __future__ import annotations

import json
import re

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from logging_spark import schema as S
from logging_spark.functions.expr import let

# [LEVEL] component: message-head key=val key=val ...
_LINE_RE = re.compile(r"^\[(?P<level>[A-Z]+)\]\s+(?P<component>[\w.-]+):\s+(?P<message>\S+)")
_KV_RE = re.compile(r"(\w+)=(\S+)")

_LEVEL_X = r"^\[([A-Z]+)\]"
_COMP_X = r"^\[[A-Z]+\]\s+([\w.-]+):"
_MSG_X = r"^\[[A-Z]+\]\s+[\w.-]+:\s+(\S+)"


def parse_turns(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Append a `parsed` struct column (level, component, message, attrs).

    When the session runs with spark.sql.mapKeyDedupPolicy=LAST_WIN
    (the pipeline session default, session.py), duplicate k=v keys are
    resolved by map_from_entries itself — JVM-side, first-occurrence
    position / last value, identical to python-dict semantics. Under
    the default EXCEPTION policy the expression falls back to an
    explicit HOF resolution pass (O(k^2) per row in interpreted
    higher-order functions — let-bound it adds ~0.7x on a kv-heavy 2M
    rows, down from ~2x when the probes re-built the pair array; the
    LAST_WIN path stays the production default: zero extra work)."""
    policy = df.sparkSession.conf.get("spark.sql.mapKeyDedupPolicy", "EXCEPTION")
    return df.withColumn(
        "parsed", parse_expr(F.col(text_col), last_win=policy.upper() == "LAST_WIN"))


def parse_expr(text: Column, last_win: bool = False) -> Column:
    """Builtin-expression parse: stays in whole-stage codegen."""
    nonempty = lambda c: F.when(c != "", c)  # noqa: E731
    level = nonempty(F.regexp_extract(text, _LEVEL_X, 1))
    comp = nonempty(F.regexp_extract(text, _COMP_X, 1))
    msg = nonempty(F.regexp_extract(text, _MSG_X, 1))
    # "key=val key=val" tail -> map -> canonical JSON
    tail = F.regexp_replace(text, r"^\[[A-Z]+\]\s+[\w.-]+:\s+\S+\s*", "")
    kv_tokens = F.filter(
        F.split(F.trim(tail), r"\s+"),
        lambda s: s.rlike(r"^\w+=\S+$"),
    )
    # limit=2: the value may itself contain '=' (k=v=w) — split only on
    # the first, matching the UDF's (\w+)=(\S+) capture
    pairs = F.transform(
        kv_tokens,
        lambda s: F.struct(
            F.split(s, "=", 2).getItem(0).alias("key"),
            F.split(s, "=", 2).getItem(1).alias("value"),
        ),
    )
    # Duplicate keys ("retry=1 ... retry=2") MUST NOT reach
    # map_from_entries under the default mapKeyDedupPolicy=EXCEPTION —
    # one such line kills the whole job. Two equivalent resolutions,
    # both first-position/last-value (python dict semantics, matching
    # the UDF twin):
    # - last_win=True: the session runs LAST_WIN, map_from_entries
    #   resolves natively in the JVM (zero extra work per row);
    # - last_win=False: explicit HOF pass — keep each key's first
    #   occurrence slot, take the value of its last occurrence.
    #   O(k^2) interpreted per row; correctness fallback only. The
    #   pair array is let-bound so every probe reads a lambda variable
    #   — unbound, each probe re-ran the whole split/filter/transform
    #   chain (text.let docstring has the general story).
    if last_win:
        resolved = pairs
    else:
        def _resolve(bound: Column) -> Column:
            firsts = F.filter(
                bound,
                lambda p, i: ~F.exists(
                    F.slice(bound, 1, i),
                    lambda q: q.getField("key") == p.getField("key")),
            )
            return F.transform(
                firsts,
                lambda p: F.struct(
                    p.getField("key").alias("key"),
                    F.element_at(
                        F.filter(bound, lambda q:
                                 q.getField("key") == p.getField("key")), -1
                    ).getField("value").alias("value"),
                ),
            )

        resolved = let(pairs, _resolve)
    attrs = F.when(
        F.size(resolved) > 0,
        F.to_json(F.map_from_entries(resolved)),
    )
    return F.struct(
        level.alias("level"), comp.alias("component"),
        msg.alias("message"), attrs.alias("attrs"),
    )


# tail = text minus the "[LEVEL] component: message " head (mirror of
# the builtin's regexp_replace); kv tokens must start at a whitespace/
# string boundary and run to the token end, the pandas equivalent of
# the builtin's per-token fullmatch filter
_HEAD_STRIP_RE = re.compile(r"^\[[A-Z]+\]\s+[\w.-]+:\s+\S+\s*")
_KV_TOKEN_RE = re.compile(r"(?:^|\s)(\w+)=(\S+)(?=\s|$)")


@pandas_udf(S.PARSED)
def parsed_udf(text: pd.Series) -> pd.DataFrame:
    """Arrow-batched parser: compiled regex + pandas vectorized string
    ops; the only Python loop is over k/v *matches per batch* inside
    `str.extractall`, which pandas executes in C.

    Field extraction is per-field (a line with a level but no
    component still yields the level) — byte-identical to the builtin
    expression twin; tests/test_parse.py asserts the equivalence on an
    adversarial corpus."""
    level = text.str.extract(_LEVEL_X, expand=False)
    comp = text.str.extract(_COMP_X, expand=False)
    msg = text.str.extract(_MSG_X, expand=False)
    tail = text.str.replace(_HEAD_STRIP_RE, "", regex=True)
    kv = tail.str.extractall(_KV_TOKEN_RE)
    if len(kv):
        # dict(zip(...)) = first-position / last-value on duplicate
        # keys — the same resolution the expression twin applies before
        # map_from_entries. json.dumps (compact separators,
        # ensure_ascii=False) matches to_json's escaping of quotes /
        # backslashes / control chars — a naive f-string join diverged
        # on values like k="v" (the \S+ capture admits quotes).
        attrs = (
            kv.rename(columns={0: "k", 1: "v"})
            .groupby(level=0)
            .apply(lambda g: json.dumps(
                dict(zip(g["k"], g["v"])),
                separators=(",", ":"), ensure_ascii=False,
            ))
        )
    else:
        attrs = pd.Series(dtype="object")
    out = pd.DataFrame(
        {
            "level": level,
            "component": comp,
            "message": msg,
            "attrs": attrs.reindex(text.index),
        }
    )
    return out
