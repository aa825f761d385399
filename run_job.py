"""spark-submit entry point for the parse->enrich->route->aggregate job.

Usage (sandbox; on a cluster swap master/conf via spark-submit flags):

    python make_pyfiles.py   # builds dist/logging_spark.zip
    spark-submit --master 'local[4]' --py-files dist/logging_spark.zip \
        run_job.py --warehouse /tmp/wh --n-conversations 2000 \
        --turns-per-conv 100 --num-buckets 32 --snapshot snap-1

Input defaults to the deterministic synthetic transcript generator
(seeded, distributed); pass --input-parquet to run on a real table
with the input_hint schema (conv_id, turn_idx, role, text, tool, ts).
Prints one JSON line with run stats, per-sink counts and the job's
stage profile (logging_spark/obs.py): `stage_metrics` totals and
`stages` rows, widest span first.
"""

from __future__ import annotations

import argparse
import json
import sys
import time
import uuid


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--warehouse", required=True)
    p.add_argument("--input-parquet", default=None)
    p.add_argument("--input-orc", default=None, metavar="DIR",
                   help="read the turns table from an ORC directory "
                        "instead of parquet/synth")
    p.add_argument("--input-logs", default=None, metavar="DIR",
                   help="read raw log FILES (one line per record, "
                        ".../service/pod.log) via the text source and run "
                        "the full job on them — the reference's S1 file-"
                        "tail ingestion mode (see sources/textlog.py)")
    p.add_argument("--lookup-parquet", default=None,
                   help="read the enrichment dimension from parquet instead "
                        "of generating it inline (pair with --input-parquet)")
    p.add_argument("--gen-input", default=None, metavar="DIR",
                   help="materialize the synthetic turns + lookup tables to "
                        "DIR/turns and DIR/lookup as parquet, then exit — the "
                        "north-rule job reads an Iceberg/parquet transcript "
                        "TABLE, so benchmarks pre-generate input once "
                        "(untimed) and every leg scans the same files")
    p.add_argument("--n-conversations", type=int, default=1000)
    p.add_argument("--turns-per-conv", type=int, default=50)
    p.add_argument("--hot-conversations", type=int, default=3)
    p.add_argument("--hot-factor", type=int, default=100)
    p.add_argument("--num-buckets", type=int, default=32)
    p.add_argument("--snapshot", default="snap-0")
    p.add_argument("--predict", action="store_true",
                   help="print a pre-flight join-size/skew prediction "
                        "line (exact, from per-key counts) before "
                        "running the job")
    p.add_argument("--no-warmup", action="store_true",
                   help="skip the steady-state warm-up pass (cold-start timing)")
    p.add_argument("--export-jsonl", default=None, metavar="DIR",
                   help="after the run, export each sink as sharded "
                        "JSONL under DIR/<sink>/ (training-consumer "
                        "format; deterministic conv_id shards)")
    p.add_argument("--export-shards", type=int, default=4)
    args = p.parse_args(argv)

    # spark-submit provides the session config (master, shuffle
    # partitions...); getOrCreate attaches to it. Session defaults in
    # logging_spark.session apply when launched as a bare script.
    from logging_spark.session import build_session
    from pyspark.sql import SparkSession

    active = SparkSession.getActiveSession()
    spark = active or build_session("logging-spark-job")
    if active is not None:
        spark.conf.set("spark.sql.session.timeZone", "UTC")

    from logging_spark import obs, synth
    from pyspark.sql import functions as F
    from logging_spark.plans.job import run_pipeline
    from logging_spark.sources.catalog import Catalog

    if args.gen_input:
        base = args.gen_input.rstrip("/")
        synth.transcripts(
            spark,
            n_conversations=args.n_conversations,
            turns_per_conv=args.turns_per_conv,
            hot_conversations=args.hot_conversations,
            hot_factor=args.hot_factor,
        ).write.mode("overwrite").parquet(f"{base}/turns")
        synth.lookup(spark, n_conversations=args.n_conversations) \
            .write.mode("overwrite").parquet(f"{base}/lookup")
        n = spark.read.parquet(f"{base}/turns").count()
        print(json.dumps({"gen_input": base, "n_input_turns": n}))
        return 0

    if args.input_logs:
        from logging_spark.sources.textlog import logfile_input
        turns = logfile_input(spark, args.input_logs)
    elif args.input_parquet:
        turns = spark.read.parquet(args.input_parquet)
    elif args.input_orc:
        turns = spark.read.orc(args.input_orc)
    else:
        turns = synth.transcripts(
            spark,
            n_conversations=args.n_conversations,
            turns_per_conv=args.turns_per_conv,
            hot_conversations=args.hot_conversations,
            hot_factor=args.hot_factor,
        )
    if args.lookup_parquet:
        lookup = spark.read.parquet(args.lookup_parquet)
    else:
        lookup = synth.lookup(spark, n_conversations=args.n_conversations)
    rules = synth.rules(spark)

    cat = Catalog(spark, args.warehouse)
    n_input_turns = turns.count()

    if args.predict:
        # pre-flight planning pass (operators/planning.py): exact
        # enrich-join output size + hottest-key share from two cheap
        # per-key count scans — the check you run BEFORE committing a
        # cluster to the full job. Printed as its own JSON line so
        # harnesses can gate on predicted skew.
        from logging_spark.operators.planning import join_cardinality
        pred = join_cardinality(
            turns.select(F.col("conv_id").alias("k")),
            lookup.select(F.col("conv_id").alias("k")),
            "k").collect()[0]
        print(json.dumps({"predict": {
            "join": "turns x lookup ON conv_id",
            "n_keys_joined": pred["n_keys_joined"],
            "predicted_rows": pred["predicted_rows"],
            "max_key_rows": pred["max_key_rows"],
            "max_key_share_ppm": pred["max_key_share_ppm"]}}))

    if not args.no_warmup:
        # steady-state warm-up: run the full transform once on a tiny
        # slice (noop sink) so whole-stage-codegen compilation, JIT,
        # and the shuffle/parquet machinery are warm before the timer
        # starts. The reported figure is steady-state THROUGHPUT (the
        # north-rule metric), not JVM cold-start latency — a cluster
        # amortizes one-time compilation over hours of work.
        from logging_spark.operators.rules import load_rules
        from logging_spark.plans.job import transform
        wslice = synth.transcripts(spark, n_conversations=200, turns_per_conv=50)
        (transform(wslice, lookup, load_rules(rules), num_buckets=args.num_buckets)
         .write.format("noop").mode("overwrite").save())

    run_id = uuid.uuid4().hex[:12]
    t0 = time.time()
    with obs.group(spark, run_id):
        res = run_pipeline(
            spark, turns, lookup, rules, cat,
            num_buckets=args.num_buckets,
            input_snapshot=args.snapshot,
            run_id=run_id,
        )
    wall = time.time() - t0
    counts = {r["sink_name"]: {"n_rows": r["n_rows"], "n_distinct_conv": r["n_distinct_conv"]}
              for r in res.per_sink_counts.collect()}
    print(json.dumps({
        "run_id": res.run_id,
        "seconds": round(wall, 3),
        "n_input_turns": n_input_turns,
        "turns_per_sec": round(n_input_turns / wall, 1),
        "phase_seconds": {k: round(v, 3) for k, v in res.phase_seconds.items()},
        "buckets_processed": res.buckets_processed,
        "buckets_skipped": res.buckets_skipped,
        "per_sink_counts": counts,
        "stage_metrics": obs.metrics(spark, run_id),
        "stages": sorted(obs.stages(spark, run_id),
                         key=lambda r: -r["span_s"]),
    }))

    if args.export_jsonl:
        from logging_spark.plans.job import read_sink
        from logging_spark.sources.jsonl import write_jsonl
        base = args.export_jsonl.rstrip("/")
        exported = {}
        for sink in sorted(counts):
            df = read_sink(cat, sink)
            write_jsonl(df, f"{base}/{sink}",
                        n_shards=args.export_shards, id_col="conv_id")
            exported[sink] = counts[sink]["n_rows"]
        print(json.dumps({"export_jsonl": base,
                          "shards_per_sink": args.export_shards,
                          "exported_rows": exported}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
