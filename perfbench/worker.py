"""One workload run in a fresh process (started by ``perfbench/run.py``).

Order of work: generate the seeded input, start the Spark session, then
repeat passes until ``--seconds`` of entry time has been measured (every
workload's pass is longer than the 5 s BENCHMARK.json sets, so a run
measures one pass). A pass resets the session caches, warms the ODS/log
topics the workload reads as ``bench.py`` warms them (untimed; one
``setup_s`` sample), then runs every entry of the workload (timed). After the last pass, untimed, every
entry's output is compared with its DuckDB oracle.

A traced run (``--trace 1``) makes three passes instead: a discarded
warm-up pass (the first pass on a fresh JVM runs far slower than the
next), the traced pass that gives the per-layer metrics, then an untraced
pass. The tracing overhead is the traced pass's wall time minus the
untraced one's; passes keep getting a little faster after the first, and
that warm-up counts against the traced pass, so the figure leans high.

Prints a JSON record as its last stdout line; ``run.py`` turns it into the
benchmark's result line.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import statistics
import subprocess
import sys
import tempfile
import time
import traceback
from concurrent.futures import ThreadPoolExecutor

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import gen  # noqa: E402
from run import mem_total_kb  # noqa: E402
from workloads import ROW_COUNT_TWINS, WORKLOADS  # noqa: E402

FACT_TABLES = ("orders", "lineitem", "events")


def warm(spark, sf_dir: str, branches: list[str]) -> float:
    """bench.py's ODS pre-warm, over the CDC branches the workload reads:
    each branch cache from a pool of at most nproc threads, then the dirty
    branch and the raw log topic."""
    from flink_realtime_datawarehouse_v3_spark.sources import cdc, logs

    t0 = time.perf_counter()
    workers = spark.sparkContext.defaultParallelism
    with ThreadPoolExecutor(max_workers=workers) as ex:
        list(ex.map(lambda t: cdc._branch_parsed(spark, sf_dir, t).count(), branches))
    cdc._dirty_parsed(spark, sf_dir).count()
    logs.topic_log_json_cached(spark, sf_dir).count()
    return time.perf_counter() - t0


def run_pass(spark, sf_dir: str, entries: list[str], tracer) -> tuple[dict, dict, dict]:
    """Run each entry once, timed; return (seconds, DataFrames, errors)."""
    from flink_realtime_datawarehouse_v3_spark import api

    secs, dfs, errors = {}, {}, {}
    for name in entries:
        spark.sparkContext.setJobGroup(name, name)
        if tracer:
            tracer.begin_entry(name)
        t0 = time.perf_counter()
        try:
            df = api.QUERIES[name](spark, sf_dir)
            if tracer:
                tracer.planned(name)
            df.write.format("noop").mode("overwrite").save()
            dfs[name] = df
        except Exception:  # one broken entry must not stop the run
            errors[name] = traceback.format_exc(limit=3)[-600:]
        secs[name] = time.perf_counter() - t0
        if tracer:
            tracer.end_entry(name)
    spark.sparkContext.setJobGroup("perfbench", "perfbench")
    return secs, dfs, errors


def _collect(item: tuple) -> tuple:
    name, df = item
    try:
        return name, df.toPandas(), None
    except Exception:
        return name, None, traceback.format_exc(limit=3)[-600:]


def check(sf_dir: str, dfs: dict, errors: dict, workers: int) -> dict[str, str]:
    """Compare each entry with its DuckDB oracle; return {entry: problem}.
    The entries' results are collected from a pool of ``workers`` threads."""
    import duckdb

    from flink_realtime_datawarehouse_v3_spark import api
    from flink_realtime_datawarehouse_v3_spark.sources.tables import TABLE_NAMES
    from tools.check_all import _canon, _dtype_mismatches

    bad = dict(errors)
    con = duckdb.connect()
    for t in TABLE_NAMES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    counts = {}
    with ThreadPoolExecutor(max_workers=workers) as ex:
        collected = list(ex.map(_collect, dfs.items()))
    for name, spdf, err in collected:
        if err:
            bad[name] = err
            continue
        try:
            counts[name] = len(spdf)
            if name in ROW_COUNT_TWINS:
                continue
            odf = con.sql(api.ORACLES[name]).df()
            if _canon(spdf) != _canon(odf) or _dtype_mismatches(spdf, odf):
                bad[name] = f"oracle mismatch: spark {len(spdf)} rows, oracle {len(odf)} rows"
        except Exception:
            bad[name] = traceback.format_exc(limit=3)[-600:]
    for name, twin in ROW_COUNT_TWINS.items():
        if name in counts and counts[name] != counts.get(twin):
            bad[name] = f"row count {counts[name]} != exact twin {twin} {counts.get(twin)}"
    con.close()
    return bad


def jvm_pid(spark) -> int | None:
    """The Spark JVM's pid (spark-submit execs java in place)."""
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    return getattr(proc, "pid", None)


def vm_hwm_mb(pid: int | None) -> float | None:
    if pid is None:
        return None
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024
    except OSError:
        return None
    return None


def host_block(spark) -> dict:
    try:
        sha = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True, timeout=10
        ).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        sha = None
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "mem_total_kb": mem_total_kb(),
        "spark": spark.version,
        "python": platform.python_version(),
        "git_sha": sha,
        "env": {k: os.environ.get(k) for k in ("SPARK_GRAFT_CPUS", "SPARK_GRAFT_DRIVER_MEM")},
    }


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--run-dir", required=True)
    args = ap.parse_args()
    entries = WORKLOADS[args.workload]["entries"]
    branches = WORKLOADS[args.workload]["ods"]

    sf_dir = os.path.join(args.run_dir, "input")
    t0 = time.perf_counter()
    rows = gen.generate(args.seed, sf_dir)
    gen_s = time.perf_counter() - t0
    fact_rows = sum(rows[t] for t in FACT_TABLES)

    from flink_realtime_datawarehouse_v3_spark import api
    from flink_realtime_datawarehouse_v3_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark("perfbench")
    spark.range(1).count()
    session_s = time.perf_counter() - t0

    cores = spark.sparkContext.defaultParallelism
    warm_s, pass_s, entry_s = [], [], {n: [] for n in entries}
    dfs, errors = {}, {}

    def one_pass(tracer=None) -> None:
        nonlocal dfs, errors
        # Each pass starts from the same state: no session memo, no sink
        # output from an earlier pass (the sinks key their dirs on sf_dir
        # under tempfile.gettempdir()).
        api.reset_session_caches()
        tempfile.tempdir = tempfile.mkdtemp(prefix=f"pass{len(pass_s)}-", dir=args.run_dir)
        warm_s.append(warm(spark, sf_dir, branches))
        if tracer:
            tracer.after_warm()
            tracer.begin_pass()
        secs, dfs, errors = run_pass(spark, sf_dir, entries, tracer)
        if tracer:
            tracer.end_pass()
        for n, s in secs.items():
            entry_s[n].append(s)
        pass_s.append(sum(secs.values()))

    tracer = None
    if args.trace:
        import trace_layers

        one_pass()  # JVM warm-up, discarded
        tracer = trace_layers.Tracer(spark, os.path.join(args.run_dir, "events"))
        tracer.install()
        one_pass(tracer)
        tracer.uninstall()
        one_pass()
    else:
        while sum(pass_s) < args.seconds:
            one_pass()

    t0 = time.perf_counter()
    bad = check(sf_dir, dfs, errors, cores)
    check_s = time.perf_counter() - t0

    wall = pass_s[2] if args.trace else statistics.median(pass_s)
    setup = session_s + statistics.median(warm_s)
    e2e = {
        "setup_s": (setup, "s"),
        "wall_s": (wall, "s"),
        "rows_per_s": (fact_rows / wall, "1/s"),
    }
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "host": host_block(spark),
        "input_rows": rows,
        "input_fraction": gen.FRACTION,
        "gen_s": gen_s,
        "session_start_s": session_s,
        "warm_s": warm_s,
        "pass_s": pass_s,
        "jvm_peak_rss_mb": vm_hwm_mb(jvm_pid(spark)),
        "check_s": check_s,
        "entry_s": {n: statistics.median(v) for n, v in entry_s.items()},
        "attempted": len(entries),
        "failed": len(bad),
        "failed_frac": len(bad) / len(entries),
        "failures": bad,
        "e2e": {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()},
    }
    spark.stop()
    if tracer:
        # After stop: the event log is complete and closed.
        record["layers"] = tracer.report(
            {
                "session.start_s": session_s,
                "session.jvm_peak_rss_mb": record["jvm_peak_rss_mb"],
                "sources.warm_s": warm_s[1],
                "trace.overhead_s": pass_s[1] - pass_s[2],
            },
            cores,
        )
        record["unmeasured"] = tracer.unmeasured
        record["spans"] = tracer.span_record()
        record["batches"] = tracer.batch_table()
    print(json.dumps(record, default=str))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
