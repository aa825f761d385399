"""Benchmark of the batch parse -> enrich -> route -> aggregate job.

    python3 perfbench/run.py --workload resume_half --seed 1 --seconds 22 --trace 0

Run from the repository root. Inputs are generated from the seed as
parquet under ``.perfbench/inputs`` (once per workload shape and seed,
outside every timed window) with an independent DuckDB reference of
the job's outputs. The job then runs in a fresh worker process
(``worker.py``) with ``local[nproc]``; every timed job's aggregates
and committed sink are checked against the reference.

Workloads (why each exists):

- ``fresh_skew_fanout``: hot conversations hold most turns and a
  14-sink rule table routes each turn to ~4 sinks, into an empty
  warehouse; route and the partitioned sink write dominate.
- ``resume_half``: fixture-shaped turns and rules with half the
  buckets already committed under the run's snapshot; the job scans
  everything, anti-joins half away, writes the rest and aggregates
  over the whole sink, so scan, checkpoint and aggregate weigh more.

``--trace 0`` prints the end-to-end metrics: the set-up time (worker
spawn until the session is ready, resume_half's half-committed
warehouse is prepared and one untimed warm-up job is done), and
medians over the timed jobs of job time, of the process tree's peak
RSS during each job, and of the sink's files and bytes. ``--trace 1`` prints the per-layer
metrics of a traced run.
The last stdout line is the result object; the line before it holds
the samples, the CPU calibration and, when traced, the spans.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
from proc import processes  # noqa: E402

STATE = ".perfbench"


def _fail(msg: str) -> int:
    print(f"perfbench: {msg}", file=sys.stderr)
    return 2


def cpu_calibration_s() -> float:
    """Seconds for a fixed pure-Python loop; shows a slow window, and
    normalizes nothing."""
    t0 = time.perf_counter()
    x = 1
    for _ in range(5_000_000):
        x = (x * 3) & 0xFFFF
    return time.perf_counter() - t0


def heap_size() -> str:
    """A quarter of available memory, at most 1 GiB (Spark's own default
    driver heap): the inputs are a few MB, and a lower ceiling leaves
    peak RSS less to the collector's sizing decisions."""
    with open("/proc/meminfo") as f:
        avail_kib = next(int(ln.split()[1]) for ln in f if ln.startswith("MemAvailable:"))
    return f"{min(1024, avail_kib // 4096)}m"


def prepare_input(workload: str, seed: int) -> tuple[str, dict]:
    """Generate the (shape, seed) input and its reference once; reuse it."""
    import gen
    import reference

    shape = gen.SHAPES[workload]
    h = hashlib.sha256(repr(shape).encode())
    for mod in (gen, reference):  # a changed generator or reference makes new inputs
        with open(mod.__file__, "rb") as f:
            h.update(f.read())
    key = h.hexdigest()[:12]
    path = os.path.abspath(f"{STATE}/inputs/{key}-{seed}")
    meta = f"{path}/meta.json"
    if not os.path.exists(meta):
        shutil.rmtree(path, ignore_errors=True)
        tmp = f"{path}.tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        n = gen.materialize(workload, seed, tmp)
        want = reference.expected(tmp, shape.rules)
        with open(f"{tmp}/expected.json", "w") as f:
            json.dump(want, f)
        with open(f"{tmp}/meta.json", "w") as f:
            json.dump({"n_input_turns": n, "num_buckets": shape.num_buckets}, f)
        os.rename(tmp, path)
    with open(meta) as f:
        return path, json.load(f)


def _stop_group(proc: subprocess.Popen) -> None:
    """Stop the worker's process group (the worker and its JVM) and
    wait until every member has ended."""
    pgid = proc.pid
    for sig in (signal.SIGTERM, signal.SIGKILL):
        try:
            os.killpg(pgid, sig)
        except ProcessLookupError:
            pass
        deadline = time.monotonic() + 10
        while time.monotonic() < deadline:
            if proc.poll() is None or any(
                    pg == pgid and state != "Z" for _, pg, state in processes().values()):
                time.sleep(0.1)
            else:
                return


def run_worker(workload: str, input_dir: str, seconds: int, trace: int,
               work: str) -> tuple[dict, float]:
    os.makedirs(f"{work}/tmp")
    env = {k: v for k, v in os.environ.items() if not k.startswith(("SPARK_GRAFT_", "PYSPARK_GATEWAY_"))}
    env.update(
        PYTHONPATH=os.getcwd(),
        TMPDIR=f"{work}/tmp",
        SPARK_LOCAL_DIRS=f"{work}/local",
        JAVA_TOOL_OPTIONS=f"-XX:-UsePerfData -Djava.io.tmpdir={work}/tmp",
    )
    cmd = [sys.executable, f"{HERE}/worker.py", "--workload", workload,
           "--input", input_dir, "--work", work, "--heap", heap_size(),
           "--seconds", str(seconds), "--trace", str(trace)]
    with open(f"{work}/worker.log", "w") as log:
        t_spawn = time.monotonic()
        proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log, env=env,
                                start_new_session=True, text=True)
        try:
            # set-up, the timed window and a traced run's fixed work
            out, _ = proc.communicate(timeout=100 + 2 * seconds)
        except subprocess.TimeoutExpired:
            out = ""
        finally:
            _stop_group(proc)
    lines = out.strip().splitlines()
    res = json.loads(lines[-1]) if proc.returncode == 0 and lines else None
    if res is None or res["failed"]:
        with open(f"{work}/worker.log") as f:
            sys.stderr.write(f.read()[-4000:])
    if res is None:
        raise RuntimeError(f"worker exited with {proc.returncode}")
    return res, t_spawn


def main() -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), required=True)
    a = p.parse_args()
    if not os.path.isdir("logging_spark"):
        return _fail("run from the repository root (logging_spark/ not found)")
    import gen

    if a.workload not in gen.SHAPES:
        return _fail(f"unknown workload {a.workload!r}; one of {sorted(gen.SHAPES)}")

    input_dir, meta = prepare_input(a.workload, a.seed)
    work = os.path.abspath(f"{STATE}/run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    calib = [cpu_calibration_s()]
    try:
        res, t_spawn = run_worker(a.workload, input_dir, a.seconds, a.trace, work)
    except RuntimeError as e:
        return _fail(str(e))
    finally:
        calib.append(cpu_calibration_s())
        shutil.rmtree(work, ignore_errors=True)

    n = meta["n_input_turns"]
    setup_s = res["ready_at"] - t_spawn
    detail = {"workload": a.workload, "seed": a.seed, "trace": a.trace,
              "n_input_turns": n, "cpu_calibration_s": calib, "setup_s": setup_s,
              "session_s": res["session_at"] - t_spawn}
    if a.trace:
        metrics = {k: {"value": v, "unit": _unit(k)} for k, v in res["metrics"].items()}
        detail.update(spans=res["spans"], phase_seconds=res["phase_seconds"])
    else:
        if not res["job_s"]:
            return _fail("no timed job completed")
        job_s = statistics.median(res["job_s"])
        metrics = {
            "setup_s": {"value": setup_s, "unit": "s"},
            "job_s": {"value": job_s, "unit": "s"},
            "turns_per_s": {"value": n / job_s, "unit": "1/s"},
            "peak_rss_mb": {"value": statistics.median(res["peak_rss_mb"]), "unit": "MB"},
            "sink_files": {"value": statistics.median(res["sink_files"]), "unit": "count"},
            "sink_mb": {"value": statistics.median(res["sink_mb"]), "unit": "MB"},
        }
        detail.update(samples={k: res[k] for k in ("job_s", "peak_rss_mb", "sink_files", "sink_mb")})
    print(json.dumps(detail))
    print(json.dumps({"correct": res["failed"] == 0, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))
    return 0


def _unit(name: str) -> str:
    suffix = name.rsplit(".", 1)[1]
    if suffix.endswith("_s"):
        return "s"
    if suffix.endswith("_mb"):
        return "MB"
    return "ratio" if suffix in ("fanout", "task_skew") else "count"


if __name__ == "__main__":
    sys.exit(main())
