"""Raw log-file source (sources/textlog.py): batch read and
parse-on-top — the reference's S1 input mode
(file tail per (service, pod)) re-expressed as Spark's text source."""

from __future__ import annotations

import os

from logging_spark.sources.textlog import logfile_turns, read_log_files

LINES_A = ["[INFO] comp-1: start code=1 k=a",
           "[ERROR] comp-2: boom code=500 k=b",
           ""]
LINES_B = ["[WARN] comp-1: slow code=2 k=c"]


def _write_logs(base: str) -> None:
    os.makedirs(f"{base}/svc-a", exist_ok=True)
    os.makedirs(f"{base}/svc-b", exist_ok=True)
    with open(f"{base}/svc-a/pod-1.log", "w") as f:
        f.write("\n".join(LINES_A))
    with open(f"{base}/svc-b/pod-2.log", "w") as f:
        f.write("\n".join(LINES_B))


def test_read_log_files_provenance(spark, tmp_path):
    base = str(tmp_path / "logs")
    _write_logs(base)
    rows = read_log_files(spark, f"{base}/*").collect()
    byline = {r["value"]: (r["service"], r["pod"]) for r in rows if r["value"]}
    assert byline["[ERROR] comp-2: boom code=500 k=b"] == ("svc-a", "pod-1")
    assert byline["[WARN] comp-1: slow code=2 k=c"] == ("svc-b", "pod-2")


def test_logfile_turns_parses_and_keys(spark, tmp_path):
    base = str(tmp_path / "logs")
    _write_logs(base)
    out = logfile_turns(read_log_files(spark, f"{base}/*")).collect()
    assert len(out) == 3  # blank line dropped
    row = {r["conv_id"]: r for r in out}["svc-b/pod-2"]
    assert row["parsed"]["level"] == "WARN"
    assert row["parsed"]["component"] == "comp-1"


def test_logfile_input_matches_input_hint_and_runs_pipeline(spark, tmp_path):
    from logging_spark.sources.textlog import logfile_input
    from logging_spark.plans.job import run_pipeline
    from logging_spark.sources.catalog import Catalog
    from logging_spark import synth

    base = str(tmp_path / "logs")
    _write_logs(base)
    turns = logfile_input(spark, f"{base}/*")
    assert [f.name for f in turns.schema.fields] == [
        "conv_id", "turn_idx", "role", "text", "tool", "ts"]
    rows = {(r["conv_id"], r["turn_idx"]): r for r in turns.collect()}
    assert rows[("svc-a/pod-1", 1)]["role"] == "assistant"  # ERROR line
    assert rows[("svc-a/pod-1", 1)]["tool"] == "comp-2"
    # deterministic: second read produces identical rows
    again = {(r["conv_id"], r["turn_idx"]): r
             for r in logfile_input(spark, f"{base}/*").collect()}
    assert rows.keys() == again.keys()
    assert all(rows[k] == again[k] for k in rows)

    # the FULL job runs straight off the log files (S1 end-to-end)
    cat = Catalog(spark, str(tmp_path / "wh"))
    res = run_pipeline(spark, turns, synth.lookup(spark, 5),
                       synth.rules(spark), cat, num_buckets=2,
                       input_snapshot="logs-v1")
    counts = {r["sink_name"]: r["n_rows"]
              for r in res.per_sink_counts.collect()}
    # fan-out: the ERROR and WARN lines land in BOTH their level sink
    # and assistant_all (role=assistant); the INFO line is unrouted
    assert counts == {"errors": 1, "warnings": 1, "assistant_all": 2,
                      "_unrouted": 1}
