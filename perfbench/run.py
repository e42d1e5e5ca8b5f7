"""Benchmark entry point: one workload, one seed, one fresh worker process.

    python3 perfbench/run.py --workload sql_star --seed 1 --seconds 20 --trace 0

Run from the repository root. Generates the seeded tables under
``.perfbench_runs/``, starts ``worker.py`` against ``local[nproc]`` with an
isolated environment, waits for it (killing its whole process group on
timeout), and prints two lines: a detail record (host key, seed, statement
and probe latencies with their percentile definitions, failing entries),
then the result object whose ``metrics`` are the end-to-end metrics
(``--trace 0``) or the per-layer metrics (``--trace 1``) of BENCHMARK.json.
Exits non-zero, without a result, when the worker fails.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import datagen  # noqa: E402
import workloads as W  # noqa: E402

TIMEOUT_S = 170.0
DRIVER_MEMORY = "4g"
ACCUMULATOR_ERROR = re.compile(r"ERROR DAGScheduler.*non-existent accumulator")


def metric_names(kind: str) -> list[tuple[str, str]]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return [(m["name"], m["unit"]) for m in spec[kind]]


def kill_group(proc: subprocess.Popen) -> None:
    """Kill the worker's process group (worker, JVM, Python workers) and
    wait until no member is left."""
    try:
        os.killpg(proc.pid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    proc.wait()
    deadline = time.monotonic() + 10
    while time.monotonic() < deadline:
        try:
            os.killpg(proc.pid, 0)
        except ProcessLookupError:
            return
        time.sleep(0.05)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=W.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # a terminated benchmark still reaps its worker group (see finally below)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    started = time.monotonic()
    run_dir = os.path.join(
        ROOT, ".perfbench_runs", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    for sub in ("tmp", "local"):
        os.makedirs(os.path.join(run_dir, sub))
    datagen.write(os.path.join(run_dir, "data"), W.SF, args.seed)

    nproc = len(os.sched_getaffinity(0))
    env = dict(os.environ)
    env.update({
        "PYTHONPATH": ROOT,  # Python workers import the engine too
        "PYSPARK_PYTHON": sys.executable,
        "SPARK_GRAFT_CPUS": str(nproc),
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "local"),
        "SPARKGRAFT_DRIVER_MEM": DRIVER_MEMORY,
        "TMPDIR": os.path.join(run_dir, "tmp"),
        # every JVM (launcher and driver) keeps its temp files in the run
        "JAVA_TOOL_OPTIONS": "-XX:-UsePerfData -Djava.io.tmpdir="
                             + os.path.join(run_dir, "tmp"),
        "TZ": "UTC",
    })
    cmd = [sys.executable, os.path.join(HERE, "worker.py"),
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--run-dir", run_dir, "--t0", repr(time.time())]
    log_path = os.path.join(run_dir, "worker.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=log,
                                stderr=subprocess.STDOUT, start_new_session=True)
        try:
            code = proc.wait(timeout=TIMEOUT_S - (time.monotonic() - started))
        except subprocess.TimeoutExpired:
            code = None
        finally:
            kill_group(proc)

    result_path = os.path.join(run_dir, "result.json")
    if code != 0 or not os.path.exists(result_path):
        with open(log_path) as f:
            sys.stderr.write(f.read()[-4000:])
        sys.stderr.write(f"\nworker {'timed out' if code is None else f'exited {code}'}; "
                         f"logs kept in {run_dir}\n")
        return 1
    with open(result_path) as f:
        res = json.load(f)
    with open(log_path) as f:
        acc_errors = sum(1 for line in f if ACCUMULATOR_ERROR.search(line))
    shutil.rmtree(run_dir, ignore_errors=True)

    detail = res["detail"]
    failed = sum(len(v) for v in res["failures"].values())
    detail["failed_frac"] = failed / max(1, res["attempted"])
    detail["failures"] = res["failures"]
    if args.trace:
        values = dict(res["layers"], **{"exec.accumulator_errors": acc_errors})
        names = metric_names("per_layer")
    else:
        values = res["e2e"]
        names = metric_names("end_to_end")
    print(json.dumps({"detail": detail}, sort_keys=True))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": res["attempted"],
        "failed": failed,
        "metrics": {n: {"value": values[n], "unit": u} for n, u in names},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
