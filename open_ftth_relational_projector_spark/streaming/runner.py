"""Dehydrate-then-catch-up orchestration (SURVEY §2.7 T1-T6).

The reference's Worker (Worker.cs:22-48) replays all history with writes
suppressed, snapshots every table (truncate + COPY), then polls every
2000 ms applying per-event DML. Every path here runs one fold, the driver
replay of seq-ordered chunks over sink state (``_apply_chunks``):

* ``dehydrate`` — ``compute_deltas`` of the full log in one sink
  transaction (T2 bootstrap): every table is emptied and the log replays
  over the empty sink, as the reference dehydrates by running its catch-up
  fold (Worker.cs:22-48). The watermark is the log's max seq.
* ``apply_batch`` — one micro-batch of incremental maintenance, wrapped in
  a sink transaction keyed by batch_id (T5: re-delivered batches are
  skipped). A batch above the watermark replays over sink-seeded state
  (streaming/replay.py), in seq-ordered chunks when it outgrows the probe;
  a batch that overlaps the watermark rebuilds every table through
  ``compute_deltas`` of the accumulated log, idempotent by construction —
  re-applying any batch yields the same rows.
* ``ProjectionStream`` — Structured Streaming wiring: file-source
  ``readStream`` over an envelope directory, ``foreachBatch`` into
  ``apply_batch``, default trigger processingTime=2s matching the
  reference's poll loop (Worker.cs:47), ``availableNow`` for drain-and-stop
  runs. A trigger probes its batch once: an empty probe ends it, a
  probe-sized batch is appended to bronze by the driver from the probe
  rows and applied from them — one Spark job per trigger. Bronze is read
  only by an overlapping batch's rebuild, whose fold counts each ``seq``
  once, so a crash between bronze append and sink commit re-applies
  cleanly. The batch itself is deduped inside ``apply_batch``:
  driver-side on the collected probe rows, in Spark by the chunk source —
  a probe-sized batch costs no shuffle, and no driver-path job reads the
  accumulated log.

``spark_fold``, the same fold planned in Spark, is the tests' reference.

Batch-order independence: the final sink state depends only on the set of
applied events, not the batch boundaries — the driver replay folds events
in seq order over the state its predecessors left, and the rebuild folds
the ACCUMULATED log. The equivalence tests
exploit this by splitting one log at random points.
"""

from __future__ import annotations

import os
import uuid
from collections import Counter
from collections.abc import Callable
from itertools import chain, islice
from urllib.parse import urlsplit

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.pandas.types import to_arrow_schema

from open_ftth_relational_projector_spark.events.reader import EventLog
from open_ftth_relational_projector_spark.events.schemas import ENVELOPE_SCHEMA
from open_ftth_relational_projector_spark.projections import project_all
from open_ftth_relational_projector_spark.projections.core import slack_ends
from open_ftth_relational_projector_spark.sinks.ddl import TABLE_COLUMNS
from open_ftth_relational_projector_spark.streaming.replay import fold_spec_registry
from open_ftth_relational_projector_spark.streaming.incremental import (
    affected_ids_from_rows,
    build_edge_context,
    md5_uuid,
)

# every table the fold writes (the 8 projections, the slack-end set and
# the aux seed tables) → its sink columns; the meta table is bookkeeping
_FOLD_TABLES = {
    name: [c for c, _ in cols]
    for name, cols in TABLE_COLUMNS.items()
    if name != "_projector_meta"
}
_BRONZE_SCHEMA = to_arrow_schema(ENVELOPE_SCHEMA)


def aux_seed_frames(
    log: EventLog, state: DataFrame | None = None, edges: DataFrame | None = None
) -> dict[str, DataFrame]:
    """Aux-table seed frames from an accumulated log: the append-only edge
    sets plus the silver span state and spec registries the driver-side
    micro-batch replay reads, as ``spark_fold`` (the tests' reference fold)
    computes them."""
    from open_ftth_relational_projector_spark.operators.lww import latest_by_key
    from open_ftth_relational_projector_spark.projections.core import (
        _parent_edges,
        _parent_registry_versions,
        _span_state,
    )
    from open_ftth_relational_projector_spark.streaming.replay import STATE_COLS

    if state is None:
        state = _span_state(log)
    if edges is None:
        edges = _parent_edges(log)
    span_spec = latest_by_key(
        log.of("SpanEquipmentSpecificationAdded").select(
            F.col("specification.id").alias("spec_id"),
            "seq",
            F.col("specification.name").alias("name"),
            F.col("specification.rootTemplate.spanStructureSpecificationId").alias(
                "struct_spec_id"
            ),
            F.col("specification.isCable").alias("is_cable"),
        ),
        "spec_id",
    ).select("spec_id", "name", "struct_spec_id", "is_cable")
    struct_spec = latest_by_key(
        log.of("SpanStructureSpecificationAdded").select(
            F.col("specification.id").alias("struct_spec_id"),
            "seq",
            F.col("specification.outerDiameter").alias("outer_diameter"),
        ),
        "struct_spec_id",
    ).select("struct_spec_id", "outer_diameter")
    from open_ftth_relational_projector_spark.projections.core import _walk_versions

    nc_spec = latest_by_key(
        log.of("NodeContainerSpecificationAdded").select(
            F.col("specification.id").alias("spec_id"),
            "seq",
            F.col("specification.name").alias("name"),
            F.col("specification.category").alias("category"),
        ),
        "spec_id",
    ).select("spec_id", "name", "category")
    term_spec = latest_by_key(
        log.of("TerminalEquipmentSpecificationAdded").select(
            F.col("specification.id").alias("spec_id"),
            "seq",
            F.col("specification.isCustomerTermination").alias(
                "is_customer_termination"
            ),
        ),
        "spec_id",
    ).select("spec_id", "is_customer_termination")
    walk = latest_by_key(_walk_versions(log), "interest_id").select(
        "interest_id", "seq", "walk"
    )
    cable_placement = latest_by_key(
        log.of("SpanEquipmentPlacedInRouteNetwork").select(
            F.col("equipment.id").alias("cable_id"),
            "seq",
            F.col("equipment.walkOfInterestId").alias("interest_id"),
        ),
        "cable_id",
    ).select("cable_id", "seq", "interest_id")
    return {
        "_aux_affix_edge": edges.select("child_id", "seq", "parent_id"),
        "_aux_root_segment": _parent_registry_versions(log),
        "_aux_detach": log.of("SpanEquipmentDetachedFromParent").select(
            F.col("spanEquipmentId").alias("child_id"), "seq"
        ),
        "_aux_span_state": state.select(*STATE_COLS),
        "_aux_span_spec": span_spec,
        "_aux_struct_spec": struct_spec,
        "_aux_nc_spec": nc_spec,
        "_aux_term_spec": term_spec,
        "_aux_walk": walk,
        "_aux_cable_placement": cable_placement,
    }


def spark_fold(envelopes: DataFrame) -> tuple[dict[str, "pyarrow.Table"], int]:
    """The Spark fold of an event log: every projection and aux table (the
    8 projections, the slack-end pre-aggregation and the aux seed tables)
    as Arrow in sink column order, and the log's max seq (0 if empty). A
    seq that occurs in several rows is folded once, as on the driver path.

    No production path calls it: it is the reference the tests compare the
    driver fold (``compute_deltas``) against, table by table.

    The projection plans → Arrow step fans out concurrently: the tables are
    independent jobs over the shared cached log, span state and edge set.
    """
    from open_ftth_relational_projector_spark.projections.core import (
        _has_child_final,
        _parent_edges,
        _span_state,
    )
    from open_ftth_relational_projector_spark.plans.concurrency import run_concurrent
    from open_ftth_relational_projector_spark.sinks.duckdb_sink import _to_arrow

    log = EventLog.from_envelopes(envelopes.dropDuplicates(["seq"])).persisted()
    state = _span_state(log).persist()
    state.count()  # prime the shared fold once, before the fan-out
    # one edge fold feeds conduit_slack, the slack-end aux set, AND the aux
    # seed tables the driver path maintains from then on
    edges = _parent_edges(log).persist()
    has_child = _has_child_final(log, edges=edges)
    tables = project_all(log, persist=False, state=state, has_child=has_child)
    tables["_aux_slack_end"] = slack_ends(log, state=state, has_child=has_child)
    tables.update(aux_seed_frames(log, state=state, edges=edges))
    arrow = run_concurrent(
        {
            name: (lambda d=df, c=_FOLD_TABLES[name]: _to_arrow(d, c))
            for name, df in tables.items()
        }
    )
    # read while the log is still cached: after the release it would
    # re-run the caller's source
    row = envelopes.agg(F.max("seq")).collect()[0]
    state.unpersist(False)
    edges.unpersist(False)
    log.unpersist()
    return arrow, int(row[0]) if row[0] is not None else 0


def compute_deltas(envelopes: DataFrame, sink) -> int | None:
    """The fold of a whole log, inside the caller's sink transaction: every
    projection and aux table is emptied, then the log replays on the driver
    over the empty sink, read as ``apply_batch`` reads a batch — the bounded
    probe is the one chunk of a log that fits, a larger log streams in
    seq-ordered chunks. Returns the log's highest seq, None if it is empty.
    ``dehydrate`` and an overlapping batch's rebuild both run it.

    The name predates the driver fold: perfbench traces re-delivery time
    under ``runner.compute_deltas``, so it is kept until the benchmark
    itself is changed (ROADMAP D2).
    """
    from open_ftth_relational_projector_spark.streaming.incremental import (
        MAX_DRIVER_BATCH_ROWS,
    )

    probe_rows = _probe_collect(envelopes, MAX_DRIVER_BATCH_ROWS)
    for name, cols in _FOLD_TABLES.items():
        sink.overwrite(name, pa.table({c: [] for c in cols}))
    return _apply_chunks(_driver_chunks(envelopes, probe_rows), sink)


def dehydrate(envelopes: DataFrame, sink) -> int:
    """Full replay → bulk snapshot (T2 phase 1). Returns the watermark seq.

    The log is folded by ``compute_deltas`` — the fold catch-up runs, as in
    the reference (Worker.cs:22-48). Every table and the watermark (the
    log's max seq, 0 for an empty log) are written in one sink
    transaction, so a failed dehydrate leaves the sink as it was.
    """
    sink.ensure_schema()
    sink.begin()
    try:
        last = compute_deltas(envelopes, sink)
        watermark = 0 if last is None else last
        sink.set_meta("watermark", str(watermark))
        sink.commit()
    except Exception:
        sink.rollback()
        raise
    return watermark


def apply_slack_delta(sink, keys: list[str], rows) -> None:
    """Node-level re-aggregation of conduit_slack from the aux end set.

    Replace the end rows of equipments ``keys`` with ``rows``, then recount
    ONLY route nodes that appear in the old or new end rows — the IVM form
    of the reference's increment/decrement counters (ProjektorState.cs:
    473-512), including the delete-at-zero behavior (:505-511): a touched
    node with no end left is a key with no row.
    """
    if not keys:
        return
    old = sink.lookup("_aux_slack_end", ["route_node_id"], "span_equipment_id", keys)
    sink.replace_group("_aux_slack_end", keys, rows)
    touched = {n for (n,) in old} | set(rows.column("route_node_id").to_pylist())
    counts = Counter(
        n
        for (n,) in sink.lookup(
            "_aux_slack_end", ["route_node_id"], "route_node_id", touched
        )
    )
    sink.replace_group(
        "conduit_slack",
        touched,
        pa.table(
            {
                "id": [md5_uuid(n) for n in counts],
                "route_node_id": list(counts),
                "number_of_ends": pa.array(list(counts.values()), pa.int32()),
            }
        ),
    )


def _probe_collect(batch_envelopes: DataFrame, cap: int) -> list:
    """Bounded size-gate probe: pull at most ``cap + 1`` RAW envelope rows
    (seq, event_type, payload — payload stays an unparsed JSON string).
    A batch that fits is applied from these rows as one chunk.

    The input is read as one partition: ``limit`` then scans it in one
    job whatever the input's partitioning (over several partitions it
    runs a job per scale-up round), and stops after ``cap + 1`` rows."""
    return (
        batch_envelopes.select("seq", "event_type", "payload")
        .coalesce(1)
        .limit(cap + 1)
        .collect()
    )


def _probe_chunk(probe_rows: list) -> list[tuple[int, str, dict]]:
    """A probe-sized batch as its one parsed chunk: the first row per seq,
    in seq order — the one sort; every replay reads its chunk in seq
    order."""
    from open_ftth_relational_projector_spark.streaming.incremental import (
        parse_envelope_rows,
    )

    first_per_seq: dict = {}
    for row in probe_rows:
        first_per_seq.setdefault(row[0], row)
    return parse_envelope_rows([first_per_seq[s] for s in sorted(first_per_seq)])


def _seq_chunks(batch_envelopes: DataFrame, cap: int):
    """Chunk source for a batch the probe found oversized: the batch,
    deduped on seq, streamed to the driver in seq order ``cap`` rows at a
    time. A batch's result depends only on the set of events applied, so
    replaying the chunks in order equals replaying the batch."""
    rows = (
        batch_envelopes.dropDuplicates(["seq"])
        .orderBy("seq")
        .select("seq", "event_type", "payload")
        .toLocalIterator()
    )
    while chunk := list(islice(rows, cap)):
        yield chunk


def _driver_chunks(batch_envelopes: DataFrame, probe_rows: list):
    """The batch as parsed, seq-ordered chunks of at most
    ``MAX_DRIVER_BATCH_ROWS`` rows: the probe's one chunk when the batch
    fits, else the batch streamed by ``_seq_chunks``."""
    from open_ftth_relational_projector_spark.streaming.incremental import (
        MAX_DRIVER_BATCH_ROWS,
        parse_envelope_rows,
    )

    if len(probe_rows) <= MAX_DRIVER_BATCH_ROWS:
        return iter([_probe_chunk(probe_rows)])
    return map(
        parse_envelope_rows, _seq_chunks(batch_envelopes, MAX_DRIVER_BATCH_ROWS)
    )


def _apply_chunks(chunks, sink) -> int | None:
    """Replay seq-ordered chunks in order, each over the state its
    predecessors left. Returns the highest seq applied, None if none."""
    last = None
    for parsed in chunks:
        if parsed:
            last = parsed[-1][0]
        _apply_driver_chunk(parsed, sink)
    return last


def _apply_driver_chunk(parsed: list[tuple[int, str, dict]], sink) -> None:
    """Replay one seq-ordered chunk over the sink's current state and write
    each table's ``(keys, rows)`` with ``replace_group``.

    The replays need sink state == fold(events before the chunk); the
    caller guarantees it by applying non-overlapping chunks in seq order
    inside one transaction, so each chunk reads its predecessors' writes.
    Every seed read comes before the chunk's first write, so nothing the
    chunk adds is visible to an earlier event of the same chunk.
    """
    from open_ftth_relational_projector_spark.streaming.replay import (
        replay_lww_tables,
        replay_rel_batch,
    )

    ids = affected_ids_from_rows(parsed)
    writes = build_edge_context(parsed, ids, sink)
    writes.update(replay_lww_tables(parsed, ids, sink))
    writes.update(replay_rel_batch(parsed, ids, sink))
    # spec registries are dimension streams — fold them EVERY chunk (a
    # spec-only chunk must still land in the aux registry for later
    # chunks' placements to resolve against)
    for name, tbl in fold_spec_registry(parsed).items():
        sink.merge(name, tbl)
    slack = writes.pop("_aux_slack_end", None)
    for table, (keys, rows) in writes.items():
        sink.replace_group(table, keys, rows)
    if slack is not None:
        apply_slack_delta(sink, *slack)


def apply_batch(
    full_envelopes: DataFrame | Callable[[], DataFrame],
    batch_envelopes: DataFrame,
    sink,
    batch_id: int | None = None,
    probe_rows: list | None = None,
) -> bool:
    """Apply one micro-batch incrementally. Returns False if skipped
    (already-applied batch_id — T5 exactly-once).

    Two paths, chosen by whether the batch's smallest seq falls at or
    below the sink watermark:

    * no overlap, any size — the driver path. The batch is read in
      chunks of at most ``MAX_DRIVER_BATCH_ROWS`` rows: the bounded size
      probe is the one chunk of a batch that fits; a larger batch streams
      in seq order (``_seq_chunks``). Each chunk is replayed over the
      sink state its predecessors left. ``full_envelopes`` is never read.
    * overlap (a re-delivered or late batch) — a rebuild: as soon as the
      first chunk shows the overlap, every table is refolded from
      ``full_envelopes`` by ``compute_deltas``, the fold ``dehydrate``
      runs, and no further chunk of the batch is read. The watermark
      becomes the larger of its old value and the highest seq in
      ``full_envelopes``.

    ``full_envelopes`` is the accumulated log, as a zero-argument callable
    that builds it — called only by the rebuild, so a driver-path batch
    never lists the log's files (``ProjectionStream``'s bronze) — or as a
    frame, for callers that already hold the log (bench.py, the catalog's
    projector query, perfbench, the tests).

    ``probe_rows`` is the batch's ``_probe_collect`` result when the
    caller already holds it, so the batch is not probed twice.

    Either path runs in one sink transaction, so a failed batch leaves the
    sink unchanged; ``batch_id`` and the watermark are written at commit.
    ``batch_envelopes`` may hold duplicate ``seq`` rows (a re-read file, a
    re-delivered source batch): the probe keeps the first row per seq, the
    chunk source dedups in Spark."""
    if batch_id is not None and sink.get_meta("applied_batch") == str(batch_id):
        return False

    from open_ftth_relational_projector_spark.streaming.incremental import (
        MAX_DRIVER_BATCH_ROWS,
    )

    if probe_rows is None:
        probe_rows = _probe_collect(batch_envelopes, MAX_DRIVER_BATCH_ROWS)
    chunks = _driver_chunks(batch_envelopes, probe_rows)
    first = next(chunks)
    prev_wm = int(sink.get_meta("watermark") or 0)
    sink.begin()
    try:
        if first and first[0][0] <= prev_wm:
            batch_max = compute_deltas(
                full_envelopes() if callable(full_envelopes) else full_envelopes, sink
            )
        else:
            batch_max = _apply_chunks(chain([first], chunks), sink)
        if batch_id is not None:
            sink.set_meta("applied_batch", str(batch_id))
        if batch_max is not None:
            sink.set_meta("watermark", str(max(prev_wm, batch_max)))
        sink.commit()
    except Exception:
        sink.rollback()
        raise
    return True


def _append_bronze(rows: list, bronze_dir: str) -> None:
    """Append probe rows to bronze as one parquet file with
    ENVELOPE_SCHEMA's types, written under a dot-prefixed name (which
    Spark's reader skips) and renamed into place, so a reader sees the
    whole file or none of it."""
    table = pa.table(dict(zip(_BRONZE_SCHEMA.names, zip(*rows))), schema=_BRONZE_SCHEMA)
    os.makedirs(bronze_dir, exist_ok=True)
    name = f"part-{uuid.uuid4()}.parquet"
    tmp = os.path.join(bronze_dir, f".{name}.tmp")
    pq.write_table(table, tmp)
    os.replace(tmp, os.path.join(bronze_dir, name))


class ProjectionStream:
    """Structured-Streaming catch-up loop (T1: 2 s trigger = Worker.cs:47).

    ``bronze_dir`` must be a path on the driver's local filesystem: the
    driver appends probe-sized batches to it with plain file writes
    (``_append_bronze``), so a URI (``file:``, ``hdfs:``, ``s3a:``) is
    rejected rather than split into a local directory named after its
    scheme and a Hadoop one the rebuild reads."""

    def __init__(
        self,
        spark: SparkSession,
        events_dir: str,
        sink,
        bronze_dir: str,
        checkpoint_dir: str,
        max_files_per_trigger: int | None = 64,
    ):
        if urlsplit(bronze_dir).scheme:
            raise ValueError(
                f"bronze_dir must be a local path, not a URI: {bronze_dir}"
            )
        self.spark = spark
        self.events_dir = events_dir
        self.sink = sink
        self.bronze_dir = bronze_dir
        self.checkpoint_dir = checkpoint_dir
        # Bounds the catch-up batch after downtime: the file source emits at
        # most this many landed batch-files per micro-batch (each file is
        # one poll interval of events), so the first post-restart batch is
        # a bounded slice of the backlog, not all of it — the streaming
        # analog of the reference's two-phase Worker design (Worker.cs:32-48,
        # dehydrate bulk, then bounded catch-up). availableNow drains honor
        # it too. An oversized batch that still slips through (a single
        # giant file) replays on the driver in seq-ordered chunks inside
        # apply_batch.
        self.max_files_per_trigger = max_files_per_trigger
        self.query = None

    def _bronze(self) -> DataFrame:
        # a crash between bronze append and sink commit leaves a batch in
        # bronze twice; the fold counts each seq once. The pinned schema
        # spares a parquet footer read per file.
        return self.spark.read.schema(ENVELOPE_SCHEMA).parquet(self.bronze_dir)

    def _process(self, batch_df: DataFrame, batch_id: int) -> None:
        """One trigger: probe the batch; append it to bronze before the
        sink commit — from the probe rows when it fits, else in Spark —
        and apply it. Bronze is read only if the batch overlaps the
        watermark. The batch is deduped inside apply_batch."""
        from open_ftth_relational_projector_spark.streaming.incremental import (
            MAX_DRIVER_BATCH_ROWS,
        )

        probe_rows = _probe_collect(batch_df, MAX_DRIVER_BATCH_ROWS)
        if not probe_rows:
            return
        if len(probe_rows) <= MAX_DRIVER_BATCH_ROWS:
            _append_bronze(probe_rows, self.bronze_dir)
        else:
            batch_df.write.mode("append").parquet(self.bronze_dir)
        apply_batch(
            self._bronze, batch_df, self.sink, batch_id=batch_id, probe_rows=probe_rows
        )

    def start(self, available_now: bool = False, trigger_seconds: float = 2.0):
        reader = self.spark.readStream.schema(ENVELOPE_SCHEMA)
        if self.max_files_per_trigger is not None:
            reader = reader.option(
                "maxFilesPerTrigger", str(self.max_files_per_trigger)
            )
        # landed files are JSON lines (write_envelope_batch)
        writer = (
            reader.json(self.events_dir)
            .writeStream.foreachBatch(self._process)
            .option("checkpointLocation", self.checkpoint_dir)
        )
        if available_now:
            writer = writer.trigger(availableNow=True)
        else:
            writer = writer.trigger(processingTime=f"{trigger_seconds} seconds")
        self.query = writer.start()
        return self.query

    def healthy(self) -> bool:
        """T6: the reference touches /tmp/healthy after dehydration
        (Worker.cs:37); here health = an active, progressing query."""
        return self.query is not None and self.query.isActive

    def await_drained(self, timeout: int = 300) -> None:
        assert self.query is not None
        self.query.awaitTermination(timeout)


def write_envelope_batch(
    envelopes: DataFrame, events_dir: str, batch_no: int
) -> str:
    """Test/demo helper: land one micro-batch as a JSON file the file-source
    stream will pick up (the 'new events arrived in the store' moment)."""
    os.makedirs(events_dir, exist_ok=True)
    path = os.path.join(events_dir, f"batch_{batch_no:05d}.json")
    rows = envelopes.toJSON().collect()
    with open(path, "w", encoding="utf-8") as fh:
        fh.write("\n".join(rows))
    return path
