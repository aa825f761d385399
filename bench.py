"""Benchmark harness: contract queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Prints ONE JSON line:
  {"metric": ..., "value": <total sec>, "unit": "sec",
   "queries": {name: sec, ...}, "query_metrics": {name: {...}, ...},
   "plan_regressions": [...], "sf": ..., "throughput": {...}}

query_metrics holds, per query, the best repeat's wall and its stage
totals over every job it ran (logging_spark/obs.py), plus
exchanges_all_jobs: the shuffle exchanges of all its SQL executions.

`--tier core` (the default) times CORE_TIER; `--tier full` times every
query of contract.build_queries(). Each query is forced end-to-end
with a noop-format write (full physical execution, no driver collect
bottleneck). Run `python bench.py --scaling` for the N vs 4N
(local[nproc/4] vs local[nproc]) scaling-efficiency evidence
(separate spark-submit processes, one JSON line).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

from logging_spark import obs
from logging_spark.session import default_parallelism

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def _persist(tag: str, obj: dict) -> None:
    """Write the summary JSON to its own file under bench_results/ —
    the driver captures only the process TAIL, which truncated the
    46-query round-3 summary (BENCH_r03.json parsed:null); the on-disk
    sibling keeps round-over-round diffs complete."""
    here = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                        "bench_results")
    os.makedirs(here, exist_ok=True)
    stamp = time.strftime("%Y%m%d_%H%M%S")
    for name in (f"{tag}_{stamp}.json", f"{tag}_latest.json"):
        with open(os.path.join(here, name), "w") as f:
            json.dump(obj, f, indent=1)

# THE headline tier: flagship chains plus the historically expensive /
# once-regressed set, one pass ~30 queries. `--tier full` adds every
# other contract query under "full_*" keys; the core subtotal is the
# per-round signal — the full suite's round-over-round diff drowns in
# ambient noise at that width. tests/test_contract_package.py keeps every
# name here a contract query.
CORE_TIER = [
    "pipe_e2e", "pipe_route_fanout", "pipe_parse_grok",
    "pipe_sessionize_capped", "pipe_multiline",
    "tpch_q1_pricing", "tpch_q3_top_revenue",
    "tpch_q21_lone_fault_supplier", "window_top3_orders",
    "text_quality", "text_repetition", "text_bm25_topk",
    "text_tfidf_topk",
    "dedup_exact", "dedup_minhash_lsh_fast", "dedup_jaccard_threshold",
    "dedup_containment",
    "docs_clean_e2e", "docs_passage_dedup", "docs_token_budget",
    "docs_link_prediction",
    "sim_topk_cosine", "sim_topk_sharded", "sim_hard_negatives",
    "sim_kmeans",
    "sample_importance", "sample_global_shuffle",
    "events_session_analytics_e2e", "events_bootstrap_ci",
    "events_scd2", "events_cusum_hourly",
    "agg_kmv_audit", "dq_score_auc", "audit_fingerprint",
]

# artifact name per tier: runs are diffed only against the same tier
_TAG = {"core": "headline_core", "full": "headline"}


def run_suite(cpus: int, repeats: int = 3, tier: str = "core") -> dict:
    from logging_spark.session import build_session
    from logging_spark import contract

    spark = build_session("bench", cores=cpus)
    spark.sparkContext.setLogLevel("ERROR")
    queries = contract.build_queries()

    # count the pipeline's input turns once for the throughput metric
    n_turns = contract.turns_with_dups(spark, SF_DIR).count()

    # warm up codegen/JIT and the parquet reader paths so the first
    # timed query doesn't absorb one-time JVM costs
    spark.range(100_000).selectExpr("sum(id)").collect()
    contract.turns_df(spark, SF_DIR).limit(1000).write.format("noop").mode("overwrite").save()

    # per-query best-of-N with the repeats INTERLEAVED (full suite
    # passes, not N back-to-back runs of one query): this VM shows
    # 2-3x ambient run-to-run variance, and interleaving decorrelates
    # a noisy window from any single query. min is the headline
    # (closest to the machine's true capability); median is reported
    # alongside so regressions are distinguishable from noise.
    suite = CORE_TIER if tier == "core" else list(queries)
    samples: dict[str, list[float]] = {name: [] for name in suite}
    profile: dict[str, dict] = {}  # best repeat's wall + stage totals
    fewest: dict[str, int] = {}
    for rep in range(repeats):
        for name in suite:
            group = f"{name}#{rep}"
            # time the BUILD too: iterative operators (dedup_cluster's
            # CC rounds) do their real work eagerly at build time via
            # localCheckpoint — timing only the final noop write would
            # hide them
            with obs.group(spark, group):
                t0 = time.time()
                df = queries[name](spark, SF_DIR)
                df.write.format("noop").mode("overwrite").save()
                wall = round(time.time() - t0, 3)
            samples[name].append(wall)
            spark.catalog.clearCache()  # operators cache intermediates; isolate queries
            # every job the repeat ran, localCheckpoint ones included.
            # The exchange count is the fewest any repeat ran: the
            # first repeat also builds the shared contract fixtures
            # (memo), and AQE's exchange reuse is timing-dependent
            # (docs_link_prediction runs 6 or, now and then, 7), while
            # a real plan regression adds shuffles to every repeat
            m = obs.metrics(spark, group)
            exchanges = m.pop("exchanges")
            fewest[name] = min(fewest.get(name, exchanges), exchanges)
            if name not in profile or wall < profile[name]["wall"]:
                profile[name] = {"wall": wall, **m}
    for name, ex in fewest.items():
        profile[name]["exchanges_all_jobs"] = ex
    import statistics
    best = {n: min(s) for n, s in samples.items()}
    med = {n: round(statistics.median(s), 3) for n, s in samples.items()}
    core = [n for n in CORE_TIER if n in best]
    core_total = round(sum(best[n] for n in core), 3)
    out = {
        "metric": (f"core-tier suite wall time ({len(core)} queries, "
                   f"parse/enrich/route/agg + dedup/ANN/TPCH flagships; "
                   f"per-query best of {repeats} interleaved"
                   + (f"; full {len(suite)}-query suite under full_*"
                      if tier != "core" else "") + ")"),
        "value": core_total,
        "unit": "sec",
        "queries": {n: best[n] for n in core},
        "queries_median": {n: med[n] for n in core},
        "value_median": round(sum(med[n] for n in core), 3),
        "tier": tier,
        "query_metrics": profile,
        "sf": SF_DIR,
        "cpus": cpus,
        "throughput": {
            "pipe_e2e_turns_per_sec": round(n_turns / best["pipe_e2e"], 1),
            "n_turns": n_turns,
        },
    }
    if tier != "core":
        out["full_value"] = round(sum(best.values()), 3)
        out["full_value_median"] = round(sum(med.values()), 3)
        out["full_queries"] = best
        out["full_queries_median"] = med
    # diff plan shapes vs the same tier's previous artifact: a grown
    # exchange count is a silent scale regression even when wall time
    # hides it. Artifacts without all-jobs counts give no comparison.
    prev_path = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                             "bench_results", f"{_TAG[tier]}_latest.json")
    try:
        with open(prev_path) as f:
            prev = json.load(f).get("query_metrics", {})
    except (OSError, json.JSONDecodeError):
        prev = {}
    regress = []
    for n, rec in profile.items():
        was = prev.get(n, {}).get("exchanges_all_jobs")
        if was is not None and rec["exchanges_all_jobs"] > was:
            regress.append({"query": n, "was": was,
                            "now": rec["exchanges_all_jobs"]})
    out["plan_regressions"] = regress
    if regress:
        print(f"WARNING: shuffle-exchange count grew for "
              f"{[r['query'] for r in regress]}", file=sys.stderr)
    spark.stop()
    return out


def _driver_mem() -> str:
    """Driver heap for one spark-submit leg: a quarter of MemAvailable
    (local mode runs every task in the driver JVM), 1-8 GiB."""
    override = os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    if override:
        return override
    with open("/proc/meminfo") as f:
        kb = next(int(line.split()[1]) for line in f
                  if line.startswith("MemAvailable:"))
    return f"{max(1024, min(8192, kb // 4096))}m"


def _spark_submit(here: str, cpus: int, *job_args: str) -> dict:
    """Run run_job.py under spark-submit with deployment settings only
    (master, driver heap, py-files): every other conf is session.py's
    own default, so the harness measures the program as shipped.
    Returns the job's last stdout JSON line."""
    p = subprocess.run([
        "spark-submit", "--master", f"local[{cpus}]",
        "--driver-memory", _driver_mem(),
        "--py-files", os.path.join(here, "dist/logging_spark.zip"),
        os.path.join(here, "run_job.py"), *job_args,
    ], capture_output=True, text=True, check=True)
    return json.loads(p.stdout.strip().splitlines()[-1])


def _gen_input(here: str, n_conversations: int, turns_per_conv: int) -> str:
    """Materialize the synthetic transcript + lookup tables as parquet
    ONCE per workload (under .bench/ in the checkout) and return the
    directory.

    The north rule's job is batch-over-an-Iceberg-TABLE: a real run
    scans committed columnar files, it does not synthesize its input
    inline. Generating inside the timed window also measured the
    generator, whose per-row format_string/array allocations made the
    first map stage GC-bound, and polluted the scaling ratio with a
    component a production job doesn't have. Both legs scan the SAME
    files; generation happens here, untimed."""
    base = os.path.join(here, ".bench",
                        f"input_{n_conversations}x{turns_per_conv}")
    done = os.path.join(base, ".done")
    if not os.path.exists(done):
        _spark_submit(here, default_parallelism(),
                      "--warehouse", os.path.join(here, ".bench", "unused"),
                      "--gen-input", base,
                      "--n-conversations", str(n_conversations),
                      "--turns-per-conv", str(turns_per_conv))
        open(done, "w").close()
    return base


def _submit_once(here: str, cpus: int, tag: str, input_dir: str) -> dict:
    import shutil
    wh = os.path.join(here, ".bench", f"wh_{cpus}_{tag}")
    shutil.rmtree(wh, ignore_errors=True)
    # workload held CONSTANT across parallelism levels: the bucket
    # count must not vary with cpus or the two legs run different jobs
    stats = _spark_submit(
        here, cpus, "--warehouse", wh,
        "--input-parquet", f"{input_dir}/turns",
        "--lookup-parquet", f"{input_dir}/lookup",
        "--num-buckets", "32", "--snapshot", f"bench-{cpus}-{tag}")
    stats["sink_files"] = sum(f.endswith(".parquet") for _, _, fs in
                              os.walk(os.path.join(wh, "sinks", "routed")) for f in fs)
    shutil.rmtree(wh, ignore_errors=True)
    return stats


def run_scaling(pair: tuple[int, int], n_conversations: int = 80000,
                turns_per_conv: int = 100, repeats: int = 5) -> dict:
    """North-rule scaling evidence: the SAME end-to-end job
    (parse→enrich→route→aggregate incl. partitioned sink writes) via
    spark-submit --py-files at N and 4N parallelism (local[N] vs
    local[4N] — the sandbox proxy for N vs 4N executors) on identical
    deterministic input, read from a pre-materialized parquet
    transcript table (see _gen_input — the north rule's job scans an
    Iceberg table, it doesn't synthesize input inline).
    Efficiency = (tput_4N / tput_N) / 4.

    Methodology against the host's ambient variance:
    - legs are INTERLEAVED (N, 4N, N, 4N, ...) so a noisy window hits
      both legs, not one;
    - BOTH best-of-repeats and median-of-repeats efficiencies are
      reported — best is closest to the machine's true capability,
      median shows the distribution didn't get cherry-picked;
    - a raw-CPU calibration (pure multiprocessing busy loop, N vs 4N
      processes, no Spark/IO) runs INSIDE the same measurement window,
      before every repeat, because a shared host cannot deliver 4x
      userspace throughput at full width (hypervisor steal +
      oversubscription); the per-window ceiling is what the Spark
      ratio must be read against."""
    here = os.path.dirname(os.path.abspath(__file__))
    subprocess.run([sys.executable, os.path.join(here, "make_pyfiles.py")],
                   check=True, capture_output=True)
    lo, hi = pair
    input_dir = _gen_input(here, n_conversations, turns_per_conv)
    samples: dict[int, list[dict]] = {lo: [], hi: []}
    ceilings = []
    import statistics

    # a fixed number of windows, each reported: a window count that
    # depended on the outcome would make two artifacts incomparable
    for r in range(repeats):
        ceilings.append(_cpu_calibration(pair))
        for cpus in (lo, hi):
            samples[cpus].append(_submit_once(here, cpus, f"r{r}", input_dir))

    runs = {}
    for cpus, ss in samples.items():
        best = min(ss, key=lambda s: s["seconds"])
        med_tput = statistics.median(s["turns_per_sec"] for s in ss)
        runs[cpus] = {"seconds": best["seconds"],
                      "all_seconds": [s["seconds"] for s in ss],
                      "n_input_turns": best["n_input_turns"],
                      "routed_rows": sum(v["n_rows"] for v in best["per_sink_counts"].values()),
                      "sink_files": best["sink_files"],
                      "turns_per_sec": best["turns_per_sec"],
                      "turns_per_sec_median": round(med_tput, 1),
                      "phase_seconds_best": best.get("phase_seconds", {})}
    eff_best = (runs[hi]["turns_per_sec"] / runs[lo]["turns_per_sec"]) / 4.0
    eff_med = (runs[hi]["turns_per_sec_median"]
               / runs[lo]["turns_per_sec_median"]) / 4.0
    # PAIRED per-window efficiency: repeat i's lo and hi legs run
    # adjacent in time, so the ratio within a repeat sees the same
    # ambient interference; pairing best-lo with best-hi from
    # DIFFERENT windows (eff_best above) mixes a clean lo window into
    # a noisy hi one and biases the ratio down. Each pair is reported
    # with its own in-window raw-CPU ceiling so relative efficiency
    # (spark_ratio / hw_ceiling) is a same-window comparison.
    paired = []
    for s_lo, s_hi, ceiling in zip(samples[lo], samples[hi], ceilings):
        e = (s_hi["turns_per_sec"] / s_lo["turns_per_sec"]) / 4.0
        c = ceiling["raw_cpu_efficiency"]
        paired.append({"efficiency": round(e, 3), "hw_ceiling": c,
                       "relative": round(e / c, 3) if c else None})
    return {
        "metric": f"scaling efficiency e2e pipeline local[{lo}]->local[{hi}] (N vs 4N)",
        "value": round(eff_best, 3), "unit": "ratio",
        "value_median": round(eff_med, 3),
        "paired_per_window": paired,
        "value_best_paired": max(p["efficiency"] for p in paired),
        "runs": {f"local{c}": runs[c] for c in (lo, hi)},
        "hw_ceiling_per_window": ceilings,
        "hw_ceiling_best": max(c["raw_cpu_efficiency"] for c in ceilings),
        "workload": {"n_conversations": n_conversations,
                     "turns_per_conv": turns_per_conv},
    }


def _burn(n: int) -> int:
    x = 0
    for i in range(n):
        x += i * i
    return x


def _cpu_calibration(pair: tuple[int, int]) -> dict:
    """Pure-userspace CPU scaling of this host, N vs 4N processes: the
    upper bound any N->4N Spark measurement can reach in this window."""
    import multiprocessing as mp

    burn = _burn
    n = 20_000_000
    lo, hi = pair
    rates = {}
    for procs in (lo, hi):
        t0 = time.time()
        with mp.Pool(procs) as pool:
            pool.map(burn, [n] * procs)
        rates[procs] = procs * n / (time.time() - t0)
    return {"pair": [lo, hi],
            "raw_cpu_efficiency": round((rates[hi] / rates[lo]) / 4.0, 3)}


def main() -> int:
    if "--scaling" in sys.argv:
        # --scaling [lo,hi] [n_conversations] [repeats]
        # e.g. `--scaling 1,4 20000 3`
        i = sys.argv.index("--scaling")
        rest = sys.argv[i + 1:]
        n = default_parallelism()
        pair = (max(n // 4, 1), n)
        kwargs = {}
        if rest and "," in rest[0]:
            lo, hi = rest[0].split(",")
            pair = (int(lo), int(hi))
            rest = rest[1:]
        if rest:
            kwargs["n_conversations"] = int(rest[0])
        if len(rest) > 1:
            kwargs["repeats"] = int(rest[1])
        out = run_scaling(pair, **kwargs)
        _persist(f"scaling_{pair[0]}_{pair[1]}", out)
        print(json.dumps(out))
        return 0
    repeats = int(os.environ.get("SPARK_GRAFT_BENCH_REPEATS", "3"))
    tier = "core"
    if "--tier" in sys.argv:
        tier = sys.argv[sys.argv.index("--tier") + 1]
        assert tier in ("core", "full"), tier
    out = run_suite(default_parallelism(), repeats=repeats, tier=tier)
    _persist(_TAG[tier], out)
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
