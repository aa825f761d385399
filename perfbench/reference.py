"""Independent reference for the job's outputs, computed with DuckDB
over the same parquet the program reads, and the reader of the same
figures from the program's committed sink.

Latest-wins dedup on (conv_id, turn_idx), then every enabled rule is
an (expr, role_filter) match and a turn matching none goes to
``_unrouted``. Per sink the reference also sums the truncated text
length (route's max_length), counts lookup misses (enrich), and sums
the ``code`` attribute and counts each log level (parse), so a run
that skips truncation, drops the join or breaks the parse fails the
check as well as one that routes or deduplicates wrongly.
"""

from __future__ import annotations

import duckdb

UNROUTED = "_unrouted"
LEVEL = r"^\[([A-Z]+)\]"


def _query(con, rows_sql: str) -> dict:
    """Content figures of a relation with (sink_name, text_len, miss,
    level, code) rows."""
    content = con.execute(f"""
        SELECT sink_name, sum(text_len), sum(miss::BIGINT), sum(coalesce(code, 0))
        FROM ({rows_sql}) GROUP BY 1""").fetchall()
    levels = con.execute(f"""
        SELECT sink_name, coalesce(level, '-'), count(*)
        FROM ({rows_sql}) GROUP BY 1, 2""").fetchall()
    return {"content": {s: [int(n), int(m), int(c)] for s, n, m, c in content},
            "levels": {f"{s}|{lv}": n for s, lv, n in levels}}


def expected(input_dir: str, rules: list) -> dict:
    """Return ``{"per_sink": {sink: [n_rows, n_distinct_conv]},
    "roles": {"sink|role": n_turns}, "content": {sink: [text_chars,
    enrich_misses, code_sum]}, "levels": {"sink|level": n_turns}}``."""
    con = duckdb.connect()
    try:
        con.execute("SET threads TO 2")
        con.execute(f"""
            CREATE TEMP TABLE t AS
            SELECT d.conv_id, d.role, d.text, l.conv_id IS NULL AS miss,
                   nullif(regexp_extract(d.text, '{LEVEL}', 1), '') AS level,
                   nullif(regexp_extract(d.text, ' code=([0-9]+)', 1), '')::BIGINT AS code
            FROM (
              SELECT *, row_number() OVER (
                PARTITION BY conv_id, turn_idx ORDER BY ts DESC, text DESC) AS rn
              FROM read_parquet('{input_dir}/turns/*.parquet')) d
            LEFT JOIN read_parquet('{input_dir}/lookup/*.parquet') l
              ON d.conv_id = l.conv_id AND d.tool = l.tool
            WHERE d.rn = 1""")
        matches, any_match = [], []
        for sink, expr, max_len, role_filter, enabled in rules:
            if not enabled:
                continue
            cond = "TRUE" if expr == "*" else f"regexp_matches(text, '{expr}')"
            if role_filter:
                cond += f" AND role = '{role_filter}'"
            matches.append(f"SELECT '{sink}' AS sink_name, conv_id, role, "
                           f"least(length(text), {max_len}) AS text_len, miss, level, code "
                           f"FROM t WHERE {cond}")
            any_match.append(f"({cond})")
        matches.append(f"SELECT '{UNROUTED}', conv_id, role, length(text), miss, level, code "
                       f"FROM t WHERE NOT ({' OR '.join(any_match)})")
        con.execute("CREATE TEMP TABLE r AS " + " UNION ALL ".join(matches))
        per_sink = con.execute(
            "SELECT sink_name, count(*), count(DISTINCT conv_id) FROM r GROUP BY 1").fetchall()
        roles = con.execute(
            "SELECT sink_name, role, count(*) FROM r GROUP BY 1, 2").fetchall()
        out = _query(con, "SELECT sink_name, text_len, miss, level, code FROM r")
    finally:
        con.close()
    return {"per_sink": {s: [n, d] for s, n, d in per_sink},
            "roles": {f"{s}|{r}": n for s, r, n in roles}, **out}


def sink_content(sink_dir: str) -> dict:
    """The ``content`` and ``levels`` figures of the program's committed
    sink table (hive-partitioned by sink_name and bucket)."""
    con = duckdb.connect()
    try:
        con.execute("SET threads TO 1")
        return _query(con, f"""
            SELECT sink_name, length(text) AS text_len, namespace = 'default' AS miss,
                   level,
                   nullif(regexp_extract(attrs, '"code":"([0-9]+)"', 1), '')::BIGINT AS code
            FROM read_parquet('{sink_dir}/*/*/*.parquet', hive_partitioning = true)""")
    finally:
        con.close()
