"""Traced run: per-layer metrics measured from outside the program.

Nothing in the program changes. The tracer wraps public functions of each
layer where they are looked up (``pipelines`` binds the ``core`` runners
by name at import, so every module attribute bound to the original
function is replaced, not only the defining one), listens to streaming
progress through a ``StreamingQueryListener``, and, after the session
stops, reads Spark's own uncompressed event log for job, stage and task
metrics. Batch jobs are attributed to their entry by the job group the
benchmark sets; streaming jobs by their job group, which is the query's
``runId``, mapped back to the entry at ``QueryStartedEvent``.

A wrapped function that has moved or been removed marks the metrics that
depend on it ``unmeasured`` with the reason, and the run goes on. So does
a layer the workload never reaches: a wrapped function no entry calls, no
streaming query, no state operator of a kind, no Python evaluation.

The ``share.*`` metrics split the traced pass's core-seconds (wall time
times cores): state store commits and Python worker time, both summed over
tasks, and the per-batch floor, the micro-batch wall time in which no
task runs (offsets, planning, WAL, job and task launch gaps), times cores.

Spans are kept in memory: one per entry, with ``plan`` (the entry call)
and ``exec`` (the ``noop`` write) children, and under those the replay
write, streaming query and sink calls made inside them.

Which end-to-end metric each layer should move, and the workload where
the layer does most / little of the work:

=================  =========================================  ===============================
layer              moves                                      most / little
=================  =========================================  ===============================
session            setup_s                                    both equally
sources            setup_s; wall_s on dw_batch when a cache   dw_batch / stream_replay
                   miss lands inside an entry
registry           wall_s on dw_batch                         dw_batch / stream_replay
plans              wall_s, rows_per_s on dw_batch             dw_batch / stream_replay
streaming.core     wall_s on stream_replay                    stream_replay / dw_batch
streaming.stateful wall_s on stream_replay                    stream_replay / dw_batch
sinks              wall_s on stream_replay                    stream_replay / dw_batch
=================  =========================================  ===============================
"""

from __future__ import annotations

import functools
import glob
import importlib
import json
import math
import os
import statistics
import sys
import threading
import time
from collections import Counter, defaultdict

PKG = "flink_realtime_datawarehouse_v3_spark"

# layer -> [(metric, unit)]; BENCHMARK.json's per_layer lists the same names.
LAYER_METRICS: dict[str, list[tuple[str, str]]] = {
    "session": [("session.start_s", "s"), ("session.jvm_peak_rss_mb", "MB")],
    "sources": [
        ("sources.warm_s", "s"),
        ("sources.cache_hits", "count"),
        ("sources.cache_misses", "count"),
        ("sources.cached_bytes", "bytes"),
    ],
    "registry": [
        ("registry.plan_s", "s"),
        ("registry.exec_s", "s"),
        ("registry.memo_hits", "count"),
        ("registry.memo_misses", "count"),
        ("registry.memo_build_s", "s"),
    ],
    "plans": [
        ("plans.jobs", "count"),
        ("plans.stages", "count"),
        ("plans.tasks", "count"),
        ("plans.task_s", "s"),
        ("plans.gc_s", "s"),
        ("plans.shuffle_bytes", "bytes"),
        ("plans.spill_bytes", "bytes"),
        ("plans.busy_frac", "fraction"),
    ],
    "streaming.core": [
        ("streaming.replay_write_s", "s"),
        ("streaming.query_s", "s"),
        ("streaming.drain_s", "s"),
        ("streaming.batches", "count"),
        ("streaming.batch_p50_ms", "ms"),
        ("streaming.batch_tail_ms", "ms"),
        ("streaming.planning_ms", "ms"),
        ("streaming.wal_commit_ms", "ms"),
        ("streaming.floor_ms", "ms"),
    ],
    "streaming.stateful": [
        ("state.join.rows_total", "count"),
        ("state.join.memory_bytes", "bytes"),
        ("state.join.commit_ms", "ms"),
        ("state.python.rows_total", "count"),
        ("state.python.memory_bytes", "bytes"),
        ("state.python.commit_ms", "ms"),
        ("state.rows_removed", "count"),
        ("python.bytes_sent", "bytes"),
        ("python.bytes_returned", "bytes"),
        ("python.eval_s", "s"),
    ],
    "sinks": [
        ("sinks.batches", "count"),
        ("sinks.write_s", "s"),
        ("sinks.bytes_written", "bytes"),
        ("sinks.records_written", "count"),
    ],
    # Shares of the traced pass: state commit and Python evaluation as
    # shares of its core-seconds (they run in tasks), the per-batch floor
    # as a share of its wall time (it is paid once per micro-batch).
    "shares": [
        ("share.state_commit", "fraction"),
        ("share.python_eval", "fraction"),
        ("share.batch_floor", "fraction"),
    ],
    "trace": [("trace.overhead_s", "s")],
}

# (module, function, kind). Kind "call" times the call itself; "factory"
# times every call of the foreachBatch function it returns; cache kinds
# count hits and misses.
WRAPPED = [
    (f"{PKG}.sources.cdc", "_branch_parsed", "ods_cache"),
    (f"{PKG}.sources.cdc", "_dirty_parsed", "ods_cache"),
    (f"{PKG}.sources.logs", "topic_log_json_cached", "log_cache"),
    (f"{PKG}.registry._core", "_memo_df", "memo"),
    (f"{PKG}.streaming.pipelines", "_write_replay", "replay_write"),
    (f"{PKG}.streaming.core", "run_to_memory", "query"),
    (f"{PKG}.streaming.core", "run_foreach_batch", "query"),
    (f"{PKG}.streaming.stateful", "upsert_sink", "factory"),
    (f"{PKG}.streaming.stateful", "upsert_sink_snapshot", "factory"),
    (f"{PKG}.streaming.dim_app", "dim_router", "factory"),
    (f"{PKG}.streaming.dim_app", "scd2_sink", "factory"),
    (f"{PKG}.operators.sinks", "write_dws", "call"),
    (f"{PKG}.operators.sinks", "upsert_partitioned", "call"),
    (f"{PKG}.operators.sinks", "write_shards", "call"),
    (f"{PKG}.operators.sinks", "zorder_write", "call"),
    (f"{PKG}.operators.sinks", "compact_parquet", "call"),
]

# Module-level caches whose growth marks a miss.
CACHES = {
    "ods_cache": (f"{PKG}.sources.cdc", "_ODS_CACHE"),
    "log_cache": (f"{PKG}.sources.logs", "_RAW_LOG_CACHE"),
    "memo": (f"{PKG}.registry._core", "_MATERIALIZED"),
}

# Metrics each wrapped kind feeds, to mark unmeasured when it is missing.
KIND_METRICS = {
    "ods_cache": ["sources.cache_hits", "sources.cache_misses"],
    "log_cache": ["sources.cache_hits", "sources.cache_misses"],
    "memo": ["registry.memo_hits", "registry.memo_misses", "registry.memo_build_s"],
    "replay_write": ["streaming.replay_write_s"],
    "query": ["streaming.query_s", "streaming.drain_s"],
    "factory": ["sinks.batches", "sinks.write_s", "sinks.bytes_written", "sinks.records_written"],
    "call": ["sinks.batches", "sinks.write_s", "sinks.bytes_written", "sinks.records_written"],
}

TRACK_ROWS = "spark.sql.streaming.stateStore.rocksdb.trackTotalNumberOfRows"
PY_SENT = "data sent to Python workers"
PY_RETURNED = "data returned from Python workers"
PY_RUN = "time to run Python workers"  # ms, summed over tasks
PY_METRICS = {
    PY_SENT: "python.bytes_sent",
    PY_RETURNED: "python.bytes_returned",
    PY_RUN: "python.eval_s",
}


def _state_kind(operator_name: str) -> str:
    name = operator_name.lower()
    if "join" in name:
        return "join"
    return "python" if "python" in name or "pandas" in name else "other"


def _now_ms() -> float:
    return time.time() * 1000.0


class Tracer:
    """Spans, counters and streaming progress for one traced pass."""

    def __init__(self, spark, events_dir: str):
        self.spark = spark
        self.events_dir = events_dir
        self.lock = threading.Lock()
        self.spans: list[dict] = []
        self.counts: Counter = Counter()
        self.secs: Counter = Counter()
        self.unmeasured: dict[str, str] = {}
        self.called: Counter = Counter()  # kind -> calls inside entries
        self.wrapped: dict[str, list[str]] = defaultdict(list)  # kind -> functions
        self.entry: str | None = None
        self.parent: int | None = None
        self.entry_queries: Counter = Counter()
        self.run_entry: dict[str, str] = {}
        self.progress: list[tuple[str | None, dict]] = []
        self.sink_windows: list[tuple[float, float]] = []
        self.window: tuple[float, float] | None = None
        self.cached_bytes: int | None = None
        self.track_rows = "true"
        self._patched: list[tuple[object, str, object]] = []
        self._listener = None

    # ---- spans -----------------------------------------------------------
    def _open(self, name: str, parent: int | None) -> dict:
        span = {
            "id": None, "name": name, "entry": self.entry, "parent": parent,
            "start_ms": _now_ms(), "t0": time.perf_counter(), "dur_s": None,
        }
        with self.lock:
            span["id"] = len(self.spans)
            self.spans.append(span)
        return span

    def _close(self, span: dict) -> float:
        span["dur_s"] = time.perf_counter() - span.pop("t0")
        span["end_ms"] = _now_ms()
        return span["dur_s"]

    def begin_pass(self) -> None:
        self.window = (_now_ms(), None)

    def end_pass(self) -> None:
        self.window = (self.window[0], _now_ms())

    def begin_entry(self, name: str) -> None:
        self.entry = name
        self._entry_span = self._open(name, None)
        self._phase = self._open("plan", self._entry_span["id"])
        self.parent = self._phase["id"]

    def planned(self, name: str) -> None:
        self.secs["registry.plan_s"] += self._close(self._phase)
        self._phase = self._open("exec", self._entry_span["id"])
        self.parent = self._phase["id"]

    def end_entry(self, name: str) -> None:
        dur = self._close(self._phase)
        if self._phase["name"] == "plan":
            self.secs["registry.plan_s"] += dur
        else:
            self.secs["registry.exec_s"] += dur
            if self.entry_queries[name]:
                self.secs["streaming.drain_s"] += dur
        self._close(self._entry_span)
        self.entry = None
        self.parent = None

    def after_warm(self) -> None:
        try:
            infos = self.spark.sparkContext._jsc.sc().getRDDStorageInfo()
            self.cached_bytes = sum(int(i.memSize()) + int(i.diskSize()) for i in infos)
        except Exception as exc:  # a JVM API change must not fail the run
            self.unmeasured["sources.cached_bytes"] = f"getRDDStorageInfo failed: {exc!r}"[:200]

    # ---- wrappers --------------------------------------------------------
    def _wrap(self, fn, kind: str):
        tracer = self

        if kind in CACHES:
            mod_name, attr = CACHES[kind]
            cache = getattr(sys.modules.get(mod_name), attr, None)
            if not isinstance(cache, dict):
                for m in KIND_METRICS[kind]:
                    tracer.unmeasured[m] = f"{mod_name}.{attr} is not a dict"
                cache = None

            @functools.wraps(fn)
            def cached(*args, **kwargs):
                before = len(cache) if cache is not None else 0
                t0 = time.perf_counter()
                out = fn(*args, **kwargs)
                dt = time.perf_counter() - t0
                if cache is None or tracer.entry is None:
                    return out
                miss = len(cache) > before
                layer = "registry.memo" if kind == "memo" else "sources.cache"
                with tracer.lock:
                    tracer.called[kind] += 1
                    tracer.counts[f"{layer}_{'misses' if miss else 'hits'}"] += 1
                    if kind == "memo" and miss:
                        tracer.secs["registry.memo_build_s"] += dt
                return out

            return cached

        if kind in ("replay_write", "query", "call"):
            metric = {
                "replay_write": "streaming.replay_write_s",
                "query": "streaming.query_s",
                "call": "sinks.write_s",
            }[kind]

            @functools.wraps(fn)
            def timed(*args, **kwargs):
                if tracer.entry is None:
                    return fn(*args, **kwargs)
                span = tracer._open(fn.__name__, tracer.parent)
                try:
                    return fn(*args, **kwargs)
                finally:
                    dur = tracer._close(span)
                    with tracer.lock:
                        tracer.called[kind] += 1
                        tracer.secs[metric] += dur
                        if kind == "query":
                            tracer.entry_queries[tracer.entry] += 1
                        if kind == "call":
                            tracer.counts["sinks.batches"] += 1
                            tracer.sink_windows.append((span["start_ms"], span["end_ms"]))

            return timed

        @functools.wraps(fn)
        def factory(*args, **kwargs):
            batch_fn = fn(*args, **kwargs)

            @functools.wraps(batch_fn)
            def on_batch(df, batch_id):
                span = tracer._open(fn.__name__, tracer.parent)
                try:
                    return batch_fn(df, batch_id)
                finally:
                    dur = tracer._close(span)
                    with tracer.lock:
                        tracer.called[kind] += 1
                        tracer.secs["sinks.write_s"] += dur
                        tracer.counts["sinks.batches"] += 1
                        tracer.sink_windows.append((span["start_ms"], span["end_ms"]))

            return on_batch

        return factory

    def _patch(self, mod_name: str, fn_name: str, kind: str) -> None:
        try:
            mod = importlib.import_module(mod_name)
            orig = getattr(mod, fn_name)
        except (ImportError, AttributeError) as exc:
            for m in KIND_METRICS[kind]:
                self.unmeasured.setdefault(m, f"{mod_name}.{fn_name} not found: {exc!r}"[:200])
            return
        wrapped = self._wrap(orig, kind)
        self.wrapped[kind].append(f"{mod_name.removeprefix(PKG + '.')}.{fn_name}")
        for name, m in list(sys.modules.items()):
            if m is None or not (name == PKG or name.startswith(PKG + ".")):
                continue
            for attr, val in list(vars(m).items()):
                if val is orig:
                    setattr(m, attr, wrapped)
                    self._patched.append((m, attr, orig))

    def install(self) -> None:
        self.track_rows = self.spark.conf.get(TRACK_ROWS, "true")
        for mod_name, fn_name, kind in WRAPPED:
            self._patch(mod_name, fn_name, kind)
        self._add_listener()

    def uninstall(self) -> None:
        # Progress events reach the listener asynchronously: wait until
        # none has arrived for a second (at most 15 s) before removing it.
        seen, deadline = -1, time.monotonic() + 15
        while len(self.progress) != seen and time.monotonic() < deadline:
            seen = len(self.progress)
            time.sleep(1.0)
        for m, attr, orig in reversed(self._patched):
            setattr(m, attr, orig)
        self._patched.clear()
        if self._listener is not None:
            self.spark.streams.removeListener(self._listener)
            self._listener = None

    # ---- streaming progress ---------------------------------------------
    def _add_listener(self) -> None:
        from pyspark.sql.streaming import StreamingQueryListener

        tracer = self

        class Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                with tracer.lock:
                    tracer.run_entry[str(event.runId)] = tracer.entry

            def onQueryProgress(self, event):
                p = json.loads(event.progress.json)
                with tracer.lock:
                    tracer.progress.append((tracer.run_entry.get(p.get("runId")), p))

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self._listener = Listener()
        self.spark.streams.addListener(self._listener)

    def _streaming_metrics(self) -> dict[str, float]:
        out: dict[str, float] = defaultdict(float)
        if not self.progress:
            for m in LAYER_METRICS["streaming.core"][3:] + LAYER_METRICS["streaming.stateful"][:7]:
                self.unmeasured.setdefault(m[0], "no streaming query ran in this workload")
            return out
        durations = []
        peak: dict[tuple[str, str], dict[str, float]] = defaultdict(lambda: defaultdict(float))
        for _entry, p in self.progress:
            d = p.get("durationMs") or {}
            trigger = d.get("triggerExecution", 0)
            durations.append(trigger)
            out["streaming.batches"] += 1
            out["streaming.trigger_ms"] += trigger
            out["streaming.planning_ms"] += d.get("queryPlanning", 0)
            out["streaming.wal_commit_ms"] += d.get("walCommit", 0)
            for i, op in enumerate(p.get("stateOperators") or []):
                kind = _state_kind(op.get("operatorName", ""))
                g = peak[(p["runId"], f"{i}:{op.get('operatorName', '')}")]
                g["kind"] = kind
                g["rows"] = max(g["rows"], op.get("numRowsTotal", 0))
                g["mem"] = max(g["mem"], op.get("memoryUsedBytes", 0))
                out[f"state.{kind}.commit_ms"] += op.get("commitTimeMs", 0)
                out["state.rows_removed"] += op.get("numRowsRemoved", 0)
        kinds = {g["kind"] for g in peak.values()}
        for g in peak.values():
            out[f"state.{g['kind']}.rows_total"] += g["rows"]
            out[f"state.{g['kind']}.memory_bytes"] += g["mem"]
        for kind in ("join", "python"):
            reason = None
            if kind not in kinds:
                reason = f"no {kind} state operator ran in this workload"
            elif self.track_rows == "false":
                reason = f"the session sets {TRACK_ROWS}=false, so RocksDB reports no row total"
            if reason:
                self.unmeasured.setdefault(f"state.{kind}.rows_total", reason)
            if kind not in kinds:
                for m in ("memory_bytes", "commit_ms"):
                    self.unmeasured.setdefault(f"state.{kind}.{m}", reason)
        if not kinds:
            self.unmeasured.setdefault("state.rows_removed", "no state operator ran in this workload")
        # The slowest micro-batch: the runs here have too few batches for
        # a percentile with ten samples beyond it.
        out["streaming.batch_p50_ms"] = statistics.median(durations)
        out["streaming.batch_tail_ms"] = max(durations)
        return out

    def batch_table(self) -> list[dict]:
        """One row per micro-batch of the traced pass."""
        rows = []
        for entry, p in self.progress:
            d = p.get("durationMs") or {}
            ops = p.get("stateOperators") or []
            rows.append({
                "entry": entry,
                "batch": p.get("batchId"),
                "rows": p.get("numInputRows"),
                "trigger_ms": d.get("triggerExecution"),
                "add_batch_ms": d.get("addBatch"),
                "state_commit_ms": sum(op.get("commitTimeMs", 0) for op in ops),
                "state_update_ms": sum(op.get("allUpdatesTimeMs", 0) for op in ops),
            })
        return rows

    # ---- event log -------------------------------------------------------
    def _event_log_metrics(self, cores: int) -> dict[str, float]:
        files = [f for f in glob.glob(os.path.join(self.events_dir, "*")) if os.path.isfile(f)]
        if not files:
            return {}
        groups = {s["name"] for s in self.spans if s["parent"] is None}
        run_entry = dict(self.run_entry)
        lo, hi = self.window
        job_ok: set[int] = set()
        job_sink: set[int] = set()
        job_stream: set[int] = set()
        stage_job: dict[int, int] = {}
        out: dict[str, float] = defaultdict(float)
        stages: set[int] = set()
        python_seen = False
        with open(max(files, key=os.path.getsize)) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    # Streaming jobs carry the query's runId as job group.
                    t = ev.get("Submission Time", 0)
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if not (lo <= t <= hi):
                        continue
                    if group in groups or run_entry.get(group) is not None:
                        job = ev["Job ID"]
                        job_ok.add(job)
                        if group in run_entry:
                            job_stream.add(job)
                        if any(a <= t <= b for a, b in self.sink_windows):
                            job_sink.add(job)
                        for s in ev.get("Stage IDs", []):
                            stage_job.setdefault(s, job)
                elif kind == "SparkListenerTaskEnd":
                    job = stage_job.get(ev.get("Stage ID"))
                    if job not in job_ok:
                        continue
                    stages.add(ev["Stage ID"])
                    m = ev.get("Task Metrics") or {}
                    out["plans.tasks"] += 1
                    out["plans.task_s"] += m.get("Executor Run Time", 0) / 1000
                    if job in job_stream:
                        out["streaming.task_s"] += m.get("Executor Run Time", 0) / 1000
                    out["plans.gc_s"] += m.get("JVM GC Time", 0) / 1000
                    out["plans.shuffle_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0
                    )
                    out["plans.spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                        "Disk Bytes Spilled", 0
                    )
                    if job in job_sink:
                        om = m.get("Output Metrics") or {}
                        out["sinks.bytes_written"] += om.get("Bytes Written", 0)
                        out["sinks.records_written"] += om.get("Records Written", 0)
                    for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
                        metric = PY_METRICS.get(acc.get("Name"))
                        if metric:
                            python_seen = True
                            out[metric] += float(acc.get("Update") or 0)
        out["python.eval_s"] /= 1000
        if not python_seen:
            for m in PY_METRICS.values():
                self.unmeasured.setdefault(m, "no Python UDF or Python state operator ran")
        out["plans.jobs"] = len(job_ok)
        out["plans.stages"] = len(stages)
        entry_s = sum(s["dur_s"] or 0 for s in self.spans if s["parent"] is None)
        out["plans.busy_frac"] = out["plans.task_s"] / (entry_s * cores) if entry_s else 0.0
        return out

    # ---- report ----------------------------------------------------------
    def report(self, values: dict[str, float], cores: int) -> dict[str, dict]:
        """Every per-layer metric as {"value", "unit"}; an unmeasured one
        reads 0, and ``self.unmeasured`` holds the reason."""
        v: dict[str, float] = defaultdict(float, values)
        v.update(self.counts)
        v.update(self.secs)
        if self.cached_bytes is not None:
            v["sources.cached_bytes"] = self.cached_bytes
        v.update(self._streaming_metrics())
        log = self._event_log_metrics(cores)
        if not log:
            for m in [m for m, _ in LAYER_METRICS["plans"]] + list(PY_METRICS.values()) + [
                "sinks.bytes_written", "sinks.records_written",
            ]:
                self.unmeasured.setdefault(m, "no Spark event log was written")
        v.update(log)
        # A metric fed only by wrapped functions that no entry of the
        # workload called is unmeasured here, not 0.
        for m in {m for ms in KIND_METRICS.values() for m in ms}:
            feeders = [k for k, ms in KIND_METRICS.items() if m in ms and self.wrapped[k]]
            if feeders and not any(self.called[k] for k in feeders):
                names = ", ".join(n for k in feeders for n in self.wrapped[k])
                self.unmeasured.setdefault(m, f"no entry of this workload calls {names}"[:200])
        wall = sum(s["dur_s"] or 0 for s in self.spans if s["parent"] is None)
        core_s = wall * cores
        v["share.state_commit"] = sum(
            v[f"state.{k}.commit_ms"] for k in ("join", "python", "other")
        ) / 1000 / core_s
        v["share.python_eval"] = v["python.eval_s"] / core_s
        # The per-batch floor: micro-batch wall time in which the cores run
        # no task (offsets, planning, WAL, job and task launch gaps).
        idle_core_s = max(0.0, v["streaming.trigger_ms"] / 1000 * cores - v["streaming.task_s"])
        if v["streaming.batches"]:
            v["streaming.floor_ms"] = idle_core_s / cores / v["streaming.batches"] * 1000
        v["share.batch_floor"] = idle_core_s / core_s
        if not log:
            self.unmeasured.setdefault("streaming.floor_ms", "no Spark event log was written")
        for share, source in (
            ("share.state_commit", "state.rows_removed"),
            ("share.python_eval", "python.eval_s"),
            ("share.batch_floor", "streaming.floor_ms"),
        ):
            if source in self.unmeasured:
                self.unmeasured.setdefault(share, self.unmeasured[source])
        out = {}
        for metrics in LAYER_METRICS.values():
            for name, unit in metrics:
                value = v[name]
                if value is None or not math.isfinite(value):
                    self.unmeasured.setdefault(name, f"no value was read ({value!r})")
                out[name] = {
                    "value": 0.0 if name in self.unmeasured else float(value),
                    "unit": unit,
                }
        return out

    def span_record(self) -> list[dict]:
        return [
            {k: s[k] for k in ("id", "name", "entry", "parent", "start_ms", "dur_s")}
            for s in self.spans
        ]
