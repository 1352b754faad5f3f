"""Span tracer for the projector benchmark.

Spans are recorded from the benchmark's own files: ``Tracer.install``
wraps the module-level functions (and the sink and ``EventLog`` methods)
that sit on each layer boundary of the package, and ``Tracer.uninstall``
puts the originals back. The package's code is not modified.

Every traced operation gets a job group id of its own, so the Spark
engine counters read back per operation never mix passes (a reused group
name makes ``getJobIdsForGroup`` accumulate across them).

A span is ``(id, name, start, end, parent, op)``. Spans live in memory
and are written out once, at the end of a run. A span's self time is its
duration minus the union of its children's intervals; spans open only on
the thread that runs the operation (fan-out worker threads record engine
counters, not spans), so within one operation the self times of all
spans add up to the operation's wall time.
"""

from __future__ import annotations

import functools
import itertools
import json
import threading
import time
from collections import defaultdict

# layer span names, in report order; each becomes ``<name>_ms`` (self time)
LAYERS = (
    "runner.dehydrate",
    "runner.apply_batch",
    "runner.probe",
    "incremental.parse",
    "incremental.affected_ids",
    "incremental.edge_context",
    "incremental.compute_deltas",
    "incremental.aux_reseed",
    "replay.lww",
    "replay.rel",
    "replay.spec_registry",
    "projections.plan",
    "concurrency.fanout",
    "events.log_persist",
    "sink.write",
    "sink.read",
    "sink.commit",
)

ENGINE_COUNTERS = (
    "catalyst.analysis_ms",
    "catalyst.optimization_ms",
    "catalyst.planning_ms",
    "spark.jobs",
    "spark.stages",
    "spark.tasks",
    "spark.executor_run_ms",
    "spark.shuffle_read_bytes",
    "spark.shuffle_write_bytes",
    "spark.spill_bytes",
    "sink.statements",
    "sink.rows_written",
    "trace.bookkeeping_ms",
)

_SINK_WRITES = ("overwrite", "append", "merge", "delete_keys", "replace_group", "set_meta")
_SINK_READS = ("fetch_df", "get_meta", "read_table")
_SINK_TXN = ("begin", "commit", "rollback")
_GROUP_PROPS = ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel")


class _CountingConnection:
    """Delegating DuckDB connection that counts ``execute`` calls."""

    def __init__(self, con, tracer: "Tracer"):
        self._con = con
        self._tracer = tracer

    def execute(self, *args, **kwargs):
        self._tracer.count("sink.statements", 1)
        return self._con.execute(*args, **kwargs)

    def __getattr__(self, name):
        return getattr(self._con, name)


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self.ops: list[dict] = []
        self.enabled = False
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._op: dict | None = None
        self._unread: list[dict] = []
        self._patched: list[tuple[object, str, object]] = []

    # -- spans -------------------------------------------------------------
    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def _active(self) -> bool:
        return self.enabled and self._op is not None

    def _on_op_thread(self) -> bool:
        return self._active() and threading.get_ident() == self._op["thread"]

    def current(self) -> str | None:
        """Name of the innermost open span on this thread."""
        stack = self._stack()
        return self.spans[stack[-1] - 1]["name"] if stack else None

    def _open(self, name: str) -> int:
        sid = next(self._ids)
        stack = self._stack()
        self.spans.append(
            {
                "id": sid,
                "name": name,
                "start": time.time(),
                "end": None,
                "parent": stack[-1] if stack else None,
                "op": self._op["id"],
            }
        )
        stack.append(sid)
        return sid

    def _close(self, sid: int) -> None:
        self.spans[sid - 1]["end"] = time.time()
        self._stack().pop()

    def count(self, key: str, value: float) -> None:
        if self._active():
            with self._lock:
                self._op["counters"][key] += value

    # -- operations ---------------------------------------------------------
    def begin_op(self, kind: str) -> None:
        """Open the root span ``op.<kind>`` of one operation and give the
        operation a job group id of its own."""
        n = len(self.ops) + 1
        self._op = {
            "id": n,
            "kind": kind,
            "group": f"perfbench-{kind}-{n}-{time.time_ns()}",
            "thread": threading.get_ident(),
            "counters": defaultdict(float),
            "saved": {k: self.sc.getLocalProperty(k) for k in _GROUP_PROPS},
        }
        self.sc.setJobGroup(self._op["group"], f"perfbench {kind} op {n}")
        self._op["root"] = self._open(f"op.{kind}")

    def end_op(self) -> dict:
        op = self._op
        self._close(op["root"])
        # the streaming thread carries its own group; hand it back
        for key, value in op.pop("saved").items():
            self.sc.setLocalProperty(key, value)
        self._op = None
        root = self.spans[op["root"] - 1]
        op["wall_s"] = root["end"] - root["start"]
        del op["thread"]
        self.ops.append(op)
        self._unread.append(op)
        return op

    def read_engine_counters(self) -> None:
        """Add the Spark job/stage counters of every operation ended since
        the last call. Call it outside timed regions: it waits for the
        listener bus to drain."""
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        tracker = self.sc.statusTracker()
        for op in self._unread:
            self._add_engine_counters(op, store, tracker)
        self._unread.clear()

    @staticmethod
    def _add_engine_counters(op: dict, store, tracker) -> None:
        c = op["counters"]
        for job_id in tracker.getJobIdsForGroup(op["group"]):
            c["spark.jobs"] += 1
            info = tracker.getJobInfo(job_id)
            for stage_id in info.stageIds if info else ():
                sd = store.lastStageAttempt(stage_id)
                if sd.status().toString() == "SKIPPED":
                    continue
                c["spark.stages"] += 1
                c["spark.tasks"] += sd.numCompleteTasks()
                c["spark.executor_run_ms"] += sd.executorRunTime()
                c["spark.shuffle_read_bytes"] += sd.shuffleReadBytes()
                c["spark.shuffle_write_bytes"] += sd.shuffleWriteBytes()
                c["spark.spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()

    # -- wrapping -----------------------------------------------------------
    def _patch(self, owner, attr: str, wrapper) -> None:
        self._patched.append((owner, attr, owner.__dict__[attr]))
        setattr(owner, attr, wrapper)

    def _spanned(self, fn, name):
        """``name`` is a span name or a callable(args) -> span name."""

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if not self._on_op_thread():
                return fn(*args, **kwargs)
            sid = self._open(name(args) if callable(name) else name)
            try:
                return fn(*args, **kwargs)
            finally:
                self._close(sid)

        return wrapper

    def wrap(self, module, attr: str, name) -> None:
        self._patch(module, attr, self._spanned(getattr(module, attr), name))

    def install(self) -> None:
        from pyspark.sql.classic.dataframe import DataFrame

        from open_ftth_relational_projector_spark.events.reader import EventLog
        from open_ftth_relational_projector_spark.plans import concurrency
        from open_ftth_relational_projector_spark.sinks.duckdb_sink import DuckDBSink
        from open_ftth_relational_projector_spark.streaming import (
            incremental,
            replay,
            runner,
        )

        def in_apply_batch() -> bool:
            return any(
                self.spans[s - 1]["name"] == "runner.apply_batch" for s in self._stack()
            )

        self.wrap(runner, "dehydrate", "runner.dehydrate")
        self.wrap(runner, "apply_batch", "runner.apply_batch")
        self.wrap(runner, "_probe_collect", "runner.probe")
        for attr in ("project_all", "slack_ends"):
            self.wrap(runner, attr, "projections.plan")
        # the same seed builder is dehydrate's plan step and the
        # distributed fallback's reseed inside apply_batch
        self.wrap(
            runner,
            "aux_seed_frames",
            lambda a: "incremental.aux_reseed" if in_apply_batch() else "projections.plan",
        )
        self.wrap(incremental, "parse_envelope_rows", "incremental.parse")
        self.wrap(runner, "affected_ids_from_rows", "incremental.affected_ids")
        self.wrap(runner, "build_edge_context", "incremental.edge_context")
        self.wrap(runner, "compute_deltas", "incremental.compute_deltas")
        self.wrap(replay, "replay_lww_tables", "replay.lww")
        self.wrap(replay, "replay_rel_batch", "replay.rel")
        self.wrap(runner, "fold_spec_registry", "replay.spec_registry")
        self.wrap(EventLog, "persisted", "events.log_persist")

        def overwrite_name(args):
            # apply_batch overwrites aux tables only on the reseed path
            if self.current() == "runner.apply_batch":
                return "incremental.aux_reseed"
            return "sink.write"

        for attr in _SINK_WRITES:
            name = overwrite_name if attr == "overwrite" else "sink.write"
            inner = self._spanned(DuckDBSink.__dict__[attr], name)
            self._patch(DuckDBSink, attr, self._rows_counted(inner))
        for attr in _SINK_READS:
            self._patch(DuckDBSink, attr, self._spanned(DuckDBSink.__dict__[attr], "sink.read"))
        for attr in _SINK_TXN:
            self._patch(DuckDBSink, attr, self._spanned(DuckDBSink.__dict__[attr], "sink.commit"))

        self._patch(concurrency, "run_concurrent", self._fanout(concurrency.run_concurrent))
        for attr in ("toArrow", "collect"):
            self._patch(DataFrame, attr, self._catalyst(DataFrame.__dict__[attr]))

    def uninstall(self) -> None:
        for owner, attr, original in reversed(self._patched):
            setattr(owner, attr, original)
        self._patched.clear()

    def count_statements(self, sink) -> None:
        """Count the SQL statements a sink issues while tracing is on."""
        sink.con = _CountingConnection(sink.con, self)

    def _rows_counted(self, fn):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            out = fn(*args, **kwargs)
            if isinstance(out, int):
                self.count("sink.rows_written", out)
            return out

        return wrapper

    def _fanout(self, run_concurrent):
        spanned = self._spanned(run_concurrent, "concurrency.fanout")

        @functools.wraps(run_concurrent)
        def wrapper(thunks, *args, **kwargs):
            if not self._active():
                return run_concurrent(thunks, *args, **kwargs)
            group = self._op["group"]

            def grouped(fn):
                def thunk():
                    # pool threads do not inherit the caller's job group
                    self.sc.setJobGroup(group, "perfbench fan-out")
                    try:
                        return fn()
                    finally:
                        self.sc.setLocalProperty("spark.jobGroup.id", None)

                return thunk

            return spanned({k: grouped(fn) for k, fn in thunks.items()}, *args, **kwargs)

        return wrapper

    def _catalyst(self, action):
        @functools.wraps(action)
        def wrapper(df, *args, **kwargs):
            out = action(df, *args, **kwargs)
            if self._active():
                t0 = time.perf_counter()
                phases = df._jdf.queryExecution().tracker().phases()
                for phase in ("analysis", "optimization", "planning"):
                    summary = phases.get(phase)
                    if summary.isDefined():
                        self.count(f"catalyst.{phase}_ms", summary.get().durationMs())
                self.count("trace.bookkeeping_ms", 1000 * (time.perf_counter() - t0))
            return out

        return wrapper

    # -- reports ------------------------------------------------------------
    def self_times(self, op_id: int) -> dict[str, float]:
        """Seconds of self time per span name within one operation."""
        spans = [s for s in self.spans if s["op"] == op_id and s["end"] is not None]
        children = defaultdict(list)
        for s in spans:
            if s["parent"] is not None:
                children[s["parent"]].append((s["start"], s["end"]))
        out: dict[str, float] = defaultdict(float)
        for s in spans:
            covered, cursor = 0.0, s["start"]
            for lo, hi in sorted(children[s["id"]]):
                lo, hi = max(lo, cursor), min(hi, s["end"])
                if hi > lo:
                    covered += hi - lo
                    cursor = hi
            out[s["name"]] += (s["end"] - s["start"]) - covered
        return out

    def inclusive(self, op_id: int, name: str) -> float:
        """Seconds spent inside outermost spans called ``name``."""
        by_id = {s["id"]: s for s in self.spans if s["op"] == op_id}
        total = 0.0
        for s in by_id.values():
            if s["name"] != name or s["end"] is None:
                continue
            parent = by_id.get(s["parent"])
            while parent is not None and parent["name"] != name:
                parent = by_id.get(parent["parent"])
            if parent is None:
                total += s["end"] - s["start"]
        return total

    def dump(self, path: str) -> None:
        """Write every operation and span as one JSON object per line."""
        with open(path, "w", encoding="utf-8") as fh:
            for op in self.ops:
                fh.write(json.dumps({"op": {**op, "counters": dict(op["counters"])}}) + "\n")
            for s in self.spans:
                fh.write(json.dumps({"span": s}) + "\n")
