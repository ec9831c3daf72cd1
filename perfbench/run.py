"""Warehouse benchmark: one command, one workload per run.

    python3 perfbench/run.py --workload dw_batch --seed 1 --seconds 5 --trace 0

Runs the workload in a fresh worker process (``perfbench/worker.py``)
whose TMPDIR, SPARK_LOCAL_DIRS, java.io.tmpdir, warehouse dir and cwd all
sit under a per-run directory inside the checkout; the directory is
deleted, and every process the run started is stopped, before this
command exits. Nothing else in the checkout is written.

The last stdout line is the result:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end ones (``setup_s``, ``wall_s``, ``rows_per_s``);
with ``--trace 1`` they are the per-layer ones. Each metric is exactly
``{"value", "unit"}``; one the run could not measure reads 0.
The full record (host block, input row counts, per-entry seconds,
failures, spans, and the reason for each unmeasured metric) goes to
stderr as one ``perfbench record:`` line.
``--workload all`` runs every workload in turn and prints one result line
per workload, each carrying a ``workload`` key.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True  # write nothing into the checkout

from workloads import WORKLOADS  # noqa: E402

RUNS_DIR = os.path.join(ROOT, ".perfbench_runs")
WORKER_TIMEOUT_S = 170


def mem_total_kb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1])
    raise RuntimeError("no MemTotal in /proc/meminfo")


def worker_env(run_dir: str, trace: bool) -> dict[str, str]:
    """Environment of the worker: host-sized Spark settings, and every
    scratch location under ``run_dir``."""
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "local")
    for d in (tmp, local):
        os.makedirs(d)
    nproc = len(os.sched_getaffinity(0))
    # session.py defaults the JVM heap to 24g, more than small hosts
    # have; local mode runs every executor thread in that one heap.
    driver_mem_mb = min(24 * 1024, mem_total_kb() // 1024 // 4)
    java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    submit = [
        "--driver-java-options", java_opts,
        "--conf", f"spark.sql.warehouse.dir={os.path.join(run_dir, 'warehouse')}",
    ]
    if trace:
        events = os.path.join(run_dir, "events")
        os.makedirs(events)
        submit += [
            "--conf", "spark.eventLog.enabled=true",
            "--conf", "spark.eventLog.compress=false",
            "--conf", "spark.eventLog.rolling.enabled=false",
            "--conf", f"spark.eventLog.dir=file://{events}",
        ]
    env = dict(os.environ)
    env.pop("OMP_NUM_THREADS", None)
    env.update(
        SPARK_GRAFT_CPUS=str(nproc),
        SPARK_GRAFT_DRIVER_MEM=f"{driver_mem_mb}m",
        PYTHONDONTWRITEBYTECODE="1",
        TMPDIR=tmp,
        SPARK_LOCAL_DIRS=local,
        PYTHONPATH=os.pathsep.join(p for p in (ROOT, env.get("PYTHONPATH")) if p),
        PYSPARK_SUBMIT_ARGS=" ".join(shlex.quote(a) for a in submit) + " pyspark-shell",
    )
    return env


def _stop_group(pgid: int) -> None:
    """Stop every process left in the worker's process group (the Spark
    JVM and Python daemons) and wait until none is left."""
    for sig, wait_s in ((signal.SIGTERM, 10.0), (signal.SIGKILL, 10.0)):
        try:
            os.killpg(pgid, sig)
        except ProcessLookupError:
            return
        deadline = time.monotonic() + wait_s
        while time.monotonic() < deadline:
            try:
                os.killpg(pgid, 0)
            except ProcessLookupError:
                return
            time.sleep(0.1)


def run_one(workload: str, seed: int, seconds: float, trace: bool) -> dict | None:
    """Run one workload in a fresh worker; return its record, or None."""
    run_dir = os.path.join(RUNS_DIR, f"{workload}-{seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        cmd = [
            sys.executable, os.path.join(HERE, "worker.py"),
            "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
            "--trace", str(int(trace)), "--run-dir", run_dir,
        ]
        proc = subprocess.Popen(
            cmd, cwd=run_dir, env=worker_env(run_dir, trace),
            stdout=subprocess.PIPE, text=True, start_new_session=True,
        )
        try:
            out, _ = proc.communicate(timeout=WORKER_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.communicate()
            print(f"perfbench: {workload} worker timed out", file=sys.stderr)
            return None
        finally:
            _stop_group(proc.pid)
        if proc.returncode != 0:
            print(f"perfbench: {workload} worker exited {proc.returncode}", file=sys.stderr)
            return None
        lines = out.strip().splitlines()
        return json.loads(lines[-1]) if lines else None
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            os.rmdir(RUNS_DIR)
        except OSError:
            pass


def result_line(record: dict, trace: bool) -> dict:
    metrics = record["layers"] if trace else record["e2e"]
    return {
        "correct": record["failed"] == 0,
        "attempted": record["attempted"],
        "failed": record["failed"],
        "metrics": metrics,
    }


def main() -> int:
    ap = argparse.ArgumentParser(description="Warehouse benchmark (see module docstring).")
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS) + ["all"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=5)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    names = list(WORKLOADS) if args.workload == "all" else [args.workload]
    lines = []
    for name in names:
        record = run_one(name, args.seed, args.seconds, bool(args.trace))
        if record is None:
            return 1
        print("perfbench record: " + json.dumps(record), file=sys.stderr)
        line = result_line(record, bool(args.trace))
        lines.append({"workload": name, **line} if args.workload == "all" else line)
    for line in lines:
        print(json.dumps(line))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
