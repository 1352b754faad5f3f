"""Projector workloads: inputs, the measured loops and their output checks.

Every workload calls only the package's public entry points:
``streaming.runner.dehydrate``, ``ProjectionStream`` and ``apply_batch``.
They are reached through the ``runner`` module so that a traced run's
wrappers are the functions called.
"""

from __future__ import annotations

import json
import os
import random
import shutil
import time
from collections import Counter
from dataclasses import dataclass

from open_ftth_relational_projector_spark.events.generator import (
    generate,
    to_envelope_rows,
)
from open_ftth_relational_projector_spark.events.oracle import FoldOracle
from open_ftth_relational_projector_spark.events.schemas import ENVELOPE_SCHEMA
from open_ftth_relational_projector_spark.sinks import DuckDBSink
from open_ftth_relational_projector_spark.sinks.ddl import SCHEMA
from open_ftth_relational_projector_spark.streaming import runner


@dataclass(frozen=True)
class Size:
    logs: int  # independently seeded generate() logs merged into one
    scale: int  # generate() scale of each
    files: int  # landed files (one micro-batch each) in the catch-up tail
    warm_files: int  # files drained by the catch-up warm-up round


SIZES = {
    "full": Size(logs=8, scale=25, files=20, warm_files=2),
    "tiny": Size(logs=2, scale=2, files=3, warm_files=1),
}
PREFIX_SHARE = 0.7  # share of the log dehydrated before catch-up

# public tables and the columns the Python fold oracle reports for each
# (conduit_slack's id is a hash of route_node_id, so the oracle omits it)
ORACLE_COLUMNS = {
    "rel_interest_to_route_element": ["interest_id", "route_network_element_id", "seq_no"],
    "rel_fiber_cable_to_route_element": ["fiber_cable_id", "route_network_element_id", "seq_no"],
    "node_container": ["id", "route_node_id", "spec_name", "spec_category"],
    "span_equipment": ["id", "interest_id", "outer_diameter", "is_cable", "name",
                       "spec_name", "access_address_id", "unit_address_id"],
    "service_termination": ["id", "route_node_id", "name", "access_address_id",
                            "unit_address_id"],
    "conduit_slack": ["route_node_id", "number_of_ends"],
    "work_task": ["id", "number", "status"],
    "installation": ["id", "installation_id", "unit_address_id", "status",
                     "location_remark"],
}

REDELIVERY_BATCH_BASE = 1_000_000


def build_log(seed: int, logs: int, scale: int) -> list[dict]:
    """Merge ``logs`` independently seeded ``generate()`` logs into one.

    A single generated log is emitted in phases (specifications, then
    network, then equipment, then work tasks and installations), so any
    short slice of it holds only a few event types. Here log ``i`` runs
    over the merged timeline [0, 1) from ``i / logs`` at the rate of one
    whole log per unit, keeping its own order, and the timeline ends at 1:
    log 0 is whole and log ``i`` contributes the prefix of its history up
    to that point. Every slice of the merged log then holds the logs at
    evenly spread phases of their histories. ``seq`` is renumbered 1..N in
    merged order.
    """
    rng = random.Random(seed)
    keyed = []
    for i in range(logs):
        events = generate(seed=seed * 1009 + i, scale=scale)
        n = len(events)
        for j, ev in enumerate(events):
            # (j + u) / n stays inside the j-th slot: each log keeps its order
            key = i / logs + (j + rng.random()) / n
            if key >= 1.0:
                break
            keyed.append((key, i, j, ev))
    keyed.sort(key=lambda t: t[:3])
    return [
        {"seq": n + 1, "event_type": ev["event_type"], "payload": ev["payload"]}
        for n, (_, _, _, ev) in enumerate(keyed)
    ]


def oracle_tables(events: list[dict]) -> tuple[dict[str, Counter], float]:
    """Row multisets of the 8 public tables from the single-threaded
    Python fold, and the seconds the fold took."""
    t0 = time.perf_counter()
    oracle = FoldOracle()
    oracle.run(events)
    tables = {name: Counter(rows) for name, rows in oracle.tables().items()}
    return tables, time.perf_counter() - t0


def mismatched_tables(sink: DuckDBSink, expected: dict[str, Counter]) -> list[str]:
    """Public tables whose rows differ from ``expected`` (as multisets)."""
    bad = []
    for table, cols in ORACLE_COLUMNS.items():
        collist = ", ".join(f'"{c}"' for c in cols)
        rows = sink.con.execute(f'SELECT {collist} FROM {SCHEMA}."{table}"').fetchall()
        if Counter(rows) != expected[table]:
            bad.append(table)
    return bad


def envelopes_frame(spark, events: list[dict]):
    df = spark.createDataFrame(to_envelope_rows(events), ENVELOPE_SCHEMA).cache()
    df.count()
    return df


def tail_percentile(values: list[float]) -> tuple[float, float] | None:
    """(percentile, value) of the highest percentile that still has at
    least ten samples above it, or None below eleven samples."""
    n = len(values)
    if n < 11:
        return None
    return 100.0 * (n - 10) / n, sorted(values)[n - 11]


class Ledger:
    """Attempted/failed operation counts and the output checks made."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.checks = 0
        self.errors: list[str] = []

    def check(self, sink: DuckDBSink, expected, ops: int, what: str) -> None:
        """Compare a sink with the oracle; a mismatch fails ``ops`` ops."""
        self.checks += 1
        bad = mismatched_tables(sink, expected)
        if bad:
            self.failed += ops
            self.errors.append(f"{what}: tables differ from the fold oracle: {bad}")


class Workload:
    """State shared by one run of one workload."""

    def __init__(self, spark, work: str, seed: int, seconds: float, size: Size, tracer):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.seconds = seconds
        self.size = size
        self.tracer = tracer  # None when tracing is off
        self.ledger = Ledger()
        self.info: dict = {}

    # -- traced-or-not operation bracket -------------------------------------
    def _begin(self, kind: str, traced: bool) -> None:
        if traced:
            self.tracer.enabled = True
            self.tracer.begin_op(kind)

    def _end(self, traced: bool) -> dict | None:
        if not traced:
            return None
        op = self.tracer.end_op()
        self.tracer.enabled = False
        return op


class DehydrateWorkload(Workload):
    """Full dehydrate of a generated log into a fresh sink, repeated."""

    headline = "dehydrate"

    def setup(self) -> None:
        self.events = build_log(self.seed, self.size.logs, self.size.scale)
        self.expected, self.info["oracle_fold_s"] = oracle_tables(self.events)
        self.envelopes = envelopes_frame(self.spark, self.events)
        t0 = time.perf_counter()
        sink = DuckDBSink()
        runner.dehydrate(self.envelopes, sink)
        sink.close()
        self.info["warmup_s"] = time.perf_counter() - t0
        self.info["events"] = len(self.events)

    def _one(self, traced: bool) -> float:
        sink = DuckDBSink()
        if traced:
            self.tracer.count_statements(sink)
        self.ledger.attempted += 1
        self._begin("dehydrate", traced)
        try:
            t0 = time.perf_counter()
            runner.dehydrate(self.envelopes, sink)
            dt = time.perf_counter() - t0
        finally:
            self._end(traced)
        if traced:
            self.tracer.read_engine_counters()
        self.ledger.check(sink, self.expected, 1, "dehydrate")
        sink.close()
        return dt

    def measure(self) -> dict:
        """Dehydrate until ``seconds`` of dehydrate time have passed. With
        tracing on, operations alternate untraced/traced and end untraced."""
        sequence: list[tuple[float, bool]] = []
        while self._more(sequence):
            trace_this = self.tracer is not None and len(sequence) % 2 == 1
            sequence.append((self._one(trace_this), trace_this))
        plain = [s for s, traced in sequence if not traced]
        return {
            "op_s": plain,
            "sequence": sequence,
            "events_applied": len(self.events) * len(plain),
            "busy_s": sum(plain),
        }

    def _more(self, sequence) -> bool:
        if sum(s for s, _ in sequence) < self.seconds:
            return True
        # a traced run brackets each traced op between untraced ones
        return self.tracer is not None and (len(sequence) < 3 or len(sequence) % 2 == 0)


class CatchupWorkload(Workload):
    """Post-downtime catch-up on the file source → bronze → apply_batch
    path, then re-delivered batches through ``apply_batch``."""

    headline = "catchup_batch"

    def setup(self) -> None:
        size = self.size
        self.events = build_log(self.seed, size.logs, size.scale)
        self.expected, self.info["oracle_fold_s"] = oracle_tables(self.events)
        n = len(self.events)
        cut = int(n * PREFIX_SHARE)
        self.tail_events = n - cut
        envelopes = envelopes_frame(self.spark, self.events)
        prefix = envelopes.filter(f"seq <= {cut}")

        t0 = time.perf_counter()
        self.prefix_db = os.path.join(self.work, "prefix.duckdb")
        sink = DuckDBSink(self.prefix_db)
        runner.dehydrate(prefix, sink)
        sink.con.execute("CHECKPOINT")
        sink.close()
        self.prefix_bronze = os.path.join(self.work, "bronze-prefix")
        prefix.write.parquet(self.prefix_bronze)
        envelopes.unpersist()
        self.info["prefix_dehydrate_s"] = time.perf_counter() - t0

        self.landing = os.path.join(self.work, "landing")
        self.files = self._land(self.events[cut:], self.landing, size.files)
        warm = os.path.join(self.work, "landing-warm")
        os.makedirs(warm)
        for i, path in enumerate(self.files[: size.warm_files]):
            shutil.copy(path, warm)
            os.utime(os.path.join(warm, os.path.basename(path)), (1e9 + i, 1e9 + i))
        self.info.update(
            events=n,
            tail_events=self.tail_events,
            min_types_per_batch=min(self._types_per_file),
        )
        # warm-up: one short drain (and, for a traced run, one re-delivery)
        # on a scratch copy of the prefix
        t0 = time.perf_counter()
        sink, bronze, _ = self._drain(warm, "warm", trace=False)
        if self.tracer is not None:
            self._redeliver(sink, bronze, self.files[:1], trace=False)
        sink.close()
        self.info["warmup_s"] = time.perf_counter() - t0

    def _land(self, tail: list[dict], landing: str, files: int) -> list[str]:
        """Write the tail as ``files`` JSON-lines envelope files, one poll
        interval each, with increasing modification times so the file
        source takes them in seq order."""
        os.makedirs(landing)
        rows = to_envelope_rows(tail)
        step = -(-len(rows) // files)
        paths, self._types_per_file = [], []
        for i in range(files):
            chunk = rows[i * step : (i + 1) * step]
            path = os.path.join(landing, f"batch_{i:05d}.json")
            with open(path, "w", encoding="utf-8") as fh:
                for seq, event_type, payload in chunk:
                    fh.write(json.dumps({"seq": seq, "event_type": event_type, "payload": payload}))
                    fh.write("\n")
            os.utime(path, (1e9 + i, 1e9 + i))
            paths.append(path)
            self._types_per_file.append(len({r[1] for r in chunk}))
        return paths

    def _drain(self, landing: str, name: str, trace: bool):
        """Drain ``landing`` from a fresh copy of the dehydrated prefix.
        Returns (sink, bronze dir, [(trigger ms, traced op or None)]), and
        the drain's wall seconds as ``self.last_drain_s``."""
        rdir = os.path.join(self.work, f"round-{name}")
        os.makedirs(rdir)
        db = os.path.join(rdir, "sink.duckdb")
        shutil.copy(self.prefix_db, db)
        bronze = os.path.join(rdir, "bronze")
        shutil.copytree(self.prefix_bronze, bronze)
        sink = DuckDBSink(db)
        if trace:
            self.tracer.count_statements(sink)
        stream = runner.ProjectionStream(
            self.spark, landing, sink, bronze, os.path.join(rdir, "checkpoint"),
            max_files_per_trigger=1,
        )
        ops: dict[int, dict] = {}
        process = stream._process

        def traced_process(batch_df, batch_id):
            # odd batches traced, even ones not: the overhead estimate
            # compares the two halves of the same drain
            on = trace and batch_id % 2 == 1
            self._begin("catchup_batch", on)
            try:
                process(batch_df, batch_id)
            finally:
                op = self._end(on)
                if op is not None:
                    ops[batch_id] = op

        stream._process = traced_process
        t0 = time.perf_counter()
        query = stream.start(available_now=True)
        done = query.awaitTermination(150)
        self.last_drain_s = time.perf_counter() - t0
        if not done:
            query.stop()
            raise RuntimeError(f"catch-up drain {name} did not finish")
        if query.exception() is not None:
            raise RuntimeError(f"catch-up drain {name} failed: {query.exception()}")
        if trace:
            self.tracer.read_engine_counters()
        # numInputRows counts every action on the batch frame, so batches
        # are told apart by their trigger progress alone
        batches = []
        for p in query.recentProgress:
            if p.numInputRows > 0:
                op = ops.get(p.batchId)
                ms = p.durationMs["triggerExecution"]
                if op is not None:
                    op["trigger_s"] = ms / 1000.0
                batches.append((ms, op))
        return sink, bronze, batches

    def _redeliver(self, sink, bronze: str, files: list[str], trace: bool) -> list[float]:
        """Re-apply already-applied landed files under new batch ids."""
        full = self.spark.read.parquet(bronze).dropDuplicates(["seq"])
        out = []
        for i, path in enumerate(files):
            batch = self.spark.read.schema(ENVELOPE_SCHEMA).json(path).dropDuplicates(["seq"])
            self._begin("redelivery", trace)
            try:
                t0 = time.perf_counter()
                applied = runner.apply_batch(
                    full, batch, sink, batch_id=REDELIVERY_BATCH_BASE + i
                )
                out.append(time.perf_counter() - t0)
            finally:
                self._end(trace)
            if not applied:
                raise RuntimeError("re-delivered batch was skipped as already applied")
        if trace:
            self.tracer.read_engine_counters()
        return out

    def measure(self) -> dict:
        """Drain rounds until ``seconds`` of drain time have passed. A
        traced run then re-delivers one batch on the last round's sink."""
        trace = self.tracer is not None
        sequence, drains = [], []
        sink = None
        while sum(drains) < self.seconds:
            if sink is not None:
                sink.close()
            sink, bronze, batches = self._drain(self.landing, str(len(drains)), trace)
            drains.append(self.last_drain_s)
            sequence += [(ms / 1000.0, op is not None) for ms, op in batches]
            self.ledger.attempted += len(self.files)
            if len(batches) != len(self.files):
                self.ledger.failed += len(self.files)
                self.ledger.errors.append(
                    f"catch-up drain ran {len(batches)} batches for {len(self.files)} files"
                )
            else:
                self.ledger.check(sink, self.expected, len(batches), "catch-up drain")
        redelivery = []
        if trace:
            picks = [self.files[len(self.files) // 2]]
            self.ledger.attempted += len(picks)
            redelivery = self._redeliver(sink, bronze, picks, trace)
            self.ledger.check(sink, self.expected, len(picks), "re-delivery")
        sink.close()
        return {
            "op_s": [s for s, traced in sequence if not traced],
            "sequence": sequence,
            "events_applied": self.tail_events * len(drains),
            "busy_s": sum(drains),
            "redelivery_s": redelivery,
        }


WORKLOADS = {"dehydrate": DehydrateWorkload, "catchup": CatchupWorkload}
