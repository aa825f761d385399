"""run_job.py CLI surface: --input-parquet external-input mode and the
JSON stats contract, exercised in-process against the active session."""

from __future__ import annotations

import json

from logging_spark import synth


def test_run_job_with_input_parquet(spark, tmp_path, capsys):
    import run_job

    inp = str(tmp_path / "turns")
    synth.transcripts(spark, n_conversations=40, turns_per_conv=10).write.parquet(inp)

    rc = run_job.main([
        "--warehouse", str(tmp_path / "wh"),
        "--input-parquet", inp,
        "--n-conversations", "40",   # sizes the synth lookup dim
        "--num-buckets", "8",
        "--snapshot", "cli-1",
    ])
    assert rc == 0
    stats = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert stats["buckets_processed"] == 8
    assert stats["n_input_turns"] == spark.read.parquet(inp).count()
    sinks = stats["per_sink_counts"]
    assert "_unrouted" in sinks
    total_conv = max(s["n_distinct_conv"] for s in sinks.values())
    assert total_conv == 40


def test_gen_input_then_table_run_matches_synth_run(spark, tmp_path, capsys):
    """--gen-input materializes the synthetic tables; a run reading them
    via --input-parquet/--lookup-parquet produces byte-identical
    per-sink counts to the inline-synth run (the scaling harness's
    correctness precondition)."""
    import run_job

    gen = str(tmp_path / "gen")
    rc = run_job.main([
        "--warehouse", str(tmp_path / "wh0"),
        "--gen-input", gen,
        "--n-conversations", "40", "--turns-per-conv", "10",
    ])
    assert rc == 0
    gen_stats = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert gen_stats["n_input_turns"] > 400    # dups + hot conversations

    def run(args, snap):
        rc = run_job.main([
            "--warehouse", str(tmp_path / f"wh_{snap}"),
            "--n-conversations", "40", "--turns-per-conv", "10",
            "--num-buckets", "8", "--snapshot", snap, "--no-warmup", *args,
        ])
        assert rc == 0
        return json.loads(capsys.readouterr().out.strip().splitlines()[-1])

    via_table = run(["--input-parquet", f"{gen}/turns",
                     "--lookup-parquet", f"{gen}/lookup"], "t1")
    via_synth = run([], "s1")
    assert via_table["per_sink_counts"] == via_synth["per_sink_counts"]
    assert via_table["n_input_turns"] == via_synth["n_input_turns"]


def test_export_jsonl_sinks_roundtrip(spark, tmp_path, capsys):
    """--export-jsonl writes each sink as sharded JSONL whose row
    counts match the committed per-sink aggregates (the consumer-side
    verification a training run performs before reading)."""
    import run_job

    out = str(tmp_path / "jx")
    rc = run_job.main([
        "--warehouse", str(tmp_path / "wh"),
        "--n-conversations", "30", "--turns-per-conv", "10",
        "--num-buckets", "4", "--snapshot", "cli-jx",
        "--export-jsonl", out, "--export-shards", "2",
    ])
    assert rc == 0
    lines = capsys.readouterr().out.strip().splitlines()
    stats = json.loads(lines[-2])
    exp = json.loads(lines[-1])
    assert exp["export_jsonl"] == out
    for sink, n in exp["exported_rows"].items():
        assert n == stats["per_sink_counts"][sink]["n_rows"]
        back = spark.read.text(f"{out}/{sink}")
        assert back.count() == n


def test_input_orc_matches_input_parquet(spark, tmp_path, capsys):
    """--input-orc runs the full job off an ORC turns table and lands
    byte-identical per-sink counts to the same data read as parquet."""
    import run_job

    pq = str(tmp_path / "turns_pq")
    synth.transcripts(spark, n_conversations=40,
                      turns_per_conv=10).write.parquet(pq)
    orc = str(tmp_path / "turns_orc")
    spark.read.parquet(pq).write.orc(orc)

    def run(flag, path, snap):
        rc = run_job.main([
            "--warehouse", str(tmp_path / f"wh_{snap}"),
            flag, path,
            "--n-conversations", "40",
            "--num-buckets", "8", "--snapshot", snap, "--no-warmup",
        ])
        assert rc == 0
        return json.loads(
            capsys.readouterr().out.strip().splitlines()[-1])

    a = run("--input-parquet", pq, "orc-a")
    b = run("--input-orc", orc, "orc-b")
    assert a["per_sink_counts"] == b["per_sink_counts"]
    assert a["n_input_turns"] == b["n_input_turns"]
