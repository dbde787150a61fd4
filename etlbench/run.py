"""Benchmark entry point.

    python3 etlbench/run.py --driver-mem 2g --max-cpus 4 \
        --work-dir etlbench/.work --workload {daily_etl,query_mix} \
        --seed N --seconds S --trace {0,1}

The environment pins (driver heap, CPU cap, work dir) have no defaults:
``BENCHMARK.json``'s ``command`` is where their values are recorded.

Runs one workload in a child process (``worker.py``) with a pinned
environment, then prints a line with the pins and the workload's named
metrics, and as the LAST line of stdout one JSON object
``{"correct", "attempted", "failed", "metrics"}``.  The child's own
output (Spark logs, the console progress bar) goes to a log file under
the work dir, never to stdout.  Exits non-zero without a result when the
run fails or overruns.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TIMEOUT_S = 170
# a failed op's latency is +inf inside the worker; JSON has no infinity
FAILED_S = 1e9


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--driver-mem", required=True)
    ap.add_argument("--max-cpus", type=int, required=True)
    ap.add_argument("--work-dir", required=True)
    args = ap.parse_args()

    work = os.path.abspath(os.path.join(ROOT, args.work_dir))
    tag = f"{args.workload}-{args.seed}-t{args.trace}"
    run_dir = os.path.join(work, "runs", tag)
    shutil.rmtree(run_dir, ignore_errors=True)
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    os.makedirs(os.path.join(work, "logs"), exist_ok=True)
    result = os.path.join(work, "logs", f"{tag}.json")
    if os.path.exists(result):
        os.remove(result)

    cpus = max(1, min(args.max_cpus, os.cpu_count() or 1))
    pins = {
        "SPARK_GRAFT_DRIVER_MEM": args.driver_mem,
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "spark-local"),
    }
    env = dict(os.environ)
    env.pop("PYSPARK_SUBMIT_ARGS", None)
    env.update(pins)
    env.update(
        TMPDIR=tmp,
        TZ="UTC",
        PYTHONPATH=ROOT + os.pathsep + env.get("PYTHONPATH", ""),
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_DRIVER_PYTHON=sys.executable,
        # JVM temp files in the run dir; no hsperfdata under /tmp
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    )
    cmd = [
        sys.executable,
        os.path.join(HERE, "worker.py"),
        "--workload", args.workload,
        "--seed", str(args.seed),
        "--seconds", str(args.seconds),
        "--trace", str(args.trace),
        "--run-dir", run_dir,
        "--result", result,
    ]
    with open(os.path.join(work, "logs", f"{tag}.log"), "w") as log:
        proc = subprocess.Popen(
            cmd, cwd=run_dir, env=env, stdout=log, stderr=subprocess.STDOUT,
            start_new_session=True,
        )

        def stop(*_):
            # the worker's JVM and Spark's Python workers share its session
            try:
                os.killpg(proc.pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
            proc.wait()

        def interrupted(signum, _):
            stop()
            sys.exit(128 + signum)

        signal.signal(signal.SIGTERM, interrupted)
        signal.signal(signal.SIGINT, interrupted)
        try:
            code = proc.wait(timeout=TIMEOUT_S)
        except subprocess.TimeoutExpired:
            code = None
        finally:
            stop()
    shutil.rmtree(run_dir, ignore_errors=True)
    if code != 0 or not os.path.exists(result):
        print(f"run failed (exit {code}); see {work}/logs/{tag}.log", file=sys.stderr)
        return 1

    with open(result) as f:
        res = json.load(f)
    info = res.pop("info", {})
    named = info.pop("named", {})
    print("pins " + json.dumps(pins | {"nproc": os.cpu_count()}))
    print("info " + json.dumps(info))
    print(
        f"{args.workload} "
        + " ".join(f"{k}={v:.6g} {u}" for k, (v, u) in named.items())
    )
    traced = info.get("e2e_traced")
    untraced = os.path.join(work, "logs", f"{args.workload}-{args.seed}-t0.json")
    if traced and os.path.exists(untraced):
        with open(untraced) as f:
            base = json.load(f)["metrics"]
        print(
            "trace_overhead "
            + " ".join(f"{k}={traced[k] - base[k]:+.4f}s" for k in traced if k in base)
        )
    res["metrics"] = {
        k: {"value": v if math.isfinite(v) else FAILED_S, "unit": unit(k)}
        for k, v in res["metrics"].items()
    }
    print(json.dumps(res))
    return 0


def unit(metric: str) -> str:
    if metric.endswith("_s") or metric.startswith("op_s_"):
        return "s"
    if metric.endswith("_pct"):
        return "%"
    if "bytes" in metric:
        return "bytes"
    if metric.endswith("ratio"):
        return "ratio"
    return "count"


if __name__ == "__main__":
    sys.exit(main())
