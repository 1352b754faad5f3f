"""Dehydrate-then-catch-up orchestration (SURVEY §2.7 T1-T6).

The reference's Worker (Worker.cs:22-48) replays all history with writes
suppressed, snapshots every table (truncate + COPY), then polls every
2000 ms applying per-event DML. Spark-first:

* ``dehydrate`` — batch job: run all 8 projections over the full log, bulk
  overwrite the sink, persist the slack-end pre-aggregation, record the
  watermark (T2 bootstrap).
* ``apply_batch`` — one micro-batch of incremental maintenance: affected-key
  recompute (streaming/incremental.py) + keyed MERGE/DELETE, wrapped in a
  sink transaction keyed by batch_id (T5: re-delivered batches are skipped,
  and recompute-from-log is idempotent by construction — re-applying any
  batch yields the same rows).
* ``ProjectionStream`` — Structured Streaming wiring: file-source
  ``readStream`` over an envelope directory, ``foreachBatch`` into
  ``apply_batch``, default trigger processingTime=2s matching the
  reference's poll loop (Worker.cs:47), ``availableNow`` for drain-and-stop
  runs. Bronze accumulation is deduped on ``seq`` so a crash between bronze
  append and sink commit re-applies cleanly. The batch itself is deduped
  inside ``apply_batch``: driver-side on the collected probe rows, in Spark
  only on the oversized path — a driver-sized batch costs no shuffle, and
  none of its jobs reads the accumulated log.

Batch-order independence: because every batch recomputes its touched keys
from the ACCUMULATED log, the final sink state depends only on the set of
applied events, not the batch boundaries — the equivalence tests exploit
this by splitting one log at random points.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F

from open_ftth_relational_projector_spark.events.reader import EventLog
from open_ftth_relational_projector_spark.events.schemas import ENVELOPE_SCHEMA
from open_ftth_relational_projector_spark.projections import project_all
from open_ftth_relational_projector_spark.projections.core import slack_ends
from open_ftth_relational_projector_spark.sinks.ddl import SCHEMA
from open_ftth_relational_projector_spark.streaming.replay import fold_spec_registry
from open_ftth_relational_projector_spark.streaming.incremental import (
    GroupDelta,
    TableDelta,
    affected_ids_from_rows,
    build_edge_context,
    compute_deltas,
    md5_uuid,
)


def aux_seed_frames(
    log: EventLog, state: DataFrame | None = None, edges: DataFrame | None = None
) -> dict[str, DataFrame]:
    """Aux-table seed frames from an accumulated log: the append-only edge
    sets plus the silver span state and spec registries the driver-side
    micro-batch replay reads. Used at dehydration and when a too-large
    batch takes the distributed fallback (which must leave the aux tables
    consistent for the next driver-side batch)."""
    from open_ftth_relational_projector_spark.operators.lww import latest_by_key
    from open_ftth_relational_projector_spark.projections.core import (
        _parent_edges,
        _parent_registry_versions,
        _span_state,
    )
    from open_ftth_relational_projector_spark.sinks.ddl import TABLE_COLUMNS
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


def dehydrate(envelopes: DataFrame, sink) -> int:
    """Full replay → bulk snapshot (T2 phase 1). Returns the watermark seq.

    The Spark side (projection plans → Arrow) fans out concurrently — the
    tables are independent jobs over shared cached substreams; only the
    single-connection DuckDB inserts stay serial. On a cluster the insert
    step is per-table Spark JDBC writes and the whole loop is concurrent.
    """
    from open_ftth_relational_projector_spark.projections.core import (
        _has_child_final,
        _parent_edges,
        _span_state,
    )
    from open_ftth_relational_projector_spark.plans.concurrency import run_concurrent
    from open_ftth_relational_projector_spark.sinks.duckdb_sink import _to_arrow
    from open_ftth_relational_projector_spark.sinks.ddl import TABLE_COLUMNS

    sink.ensure_schema()
    log = EventLog.from_envelopes(envelopes).persisted()
    state = _span_state(log).persist()
    state.count()  # prime the shared fold once, before the fan-out
    # one edge fold feeds conduit_slack, the slack-end aux set, AND the aux
    # seed tables the incremental path maintains from then on
    edges = _parent_edges(log).persist()
    has_child = _has_child_final(log, edges=edges)
    tables = project_all(log, persist=False, state=state, has_child=has_child)
    tables["_aux_slack_end"] = slack_ends(log, state=state, has_child=has_child)
    tables.update(aux_seed_frames(log, state=state, edges=edges))
    arrow = run_concurrent(
        {
            name: (
                lambda d=df, c=[col for col, _ in TABLE_COLUMNS[name]]: _to_arrow(d, c)
            )
            for name, df in tables.items()
        }
    )
    for name in tables:
        sink.overwrite(name, arrow[name])
    row = envelopes.agg(F.max("seq")).collect()[0]
    watermark = int(row[0]) if row[0] is not None else 0
    sink.set_meta("watermark", str(watermark))
    # every consumer of the cached log/state/edges has materialized above
    # — release the blocks (r13, guide §5: unpersist when done; these
    # previously lived for the rest of the session)
    state.unpersist(False)
    edges.unpersist(False)
    log.unpersist()
    return watermark


def apply_slack_delta(sink, delta: GroupDelta) -> None:
    """Node-level re-aggregation of conduit_slack from the aux end set.

    Replace touched equipments' end rows, then recount ONLY route nodes that
    appear in the old or new end rows — the IVM form of the reference's
    increment/decrement counters (ProjektorState.cs:473-512), including the
    delete-at-zero behavior (:505-511).
    """
    eq = delta.group_keys
    if not eq:
        return
    ph = ", ".join("?" for _ in eq)
    old_nodes = set(
        sink.fetch_df(
            f'SELECT DISTINCT route_node_id FROM {SCHEMA}."_aux_slack_end" '
            f"WHERE span_equipment_id IN ({ph})",
            eq,
        )["route_node_id"]
    )
    sink.replace_group("_aux_slack_end", eq, delta.rows)
    new_nodes = set(delta.rows.column("route_node_id").to_pylist())
    touched = sorted(old_nodes | new_nodes)
    if not touched:
        return
    ph = ", ".join("?" for _ in touched)
    counts = sink.fetch_df(
        f'SELECT route_node_id, CAST(COUNT(*) AS INTEGER) AS number_of_ends '
        f'FROM {SCHEMA}."_aux_slack_end" WHERE route_node_id IN ({ph}) '
        f"GROUP BY route_node_id",
        touched,
    )
    if len(counts):
        counts["id"] = counts["route_node_id"].map(md5_uuid)
        sink.merge("conduit_slack", counts)
    counted = set(counts["route_node_id"])
    zero = [n for n in touched if n not in counted]
    sink.delete_keys("conduit_slack", "route_node_id", zero)


def _probe_collect(batch_envelopes: DataFrame, cap: int) -> list:
    """Bounded size-gate probe: pull at most ``cap + 1`` RAW envelope rows
    (seq, event_type, payload — payload stays an unparsed JSON string).
    The driver-sized test seam: everything apply_batch ever collects of a
    batch body goes through here, bounded by construction."""
    return (
        batch_envelopes.select("seq", "event_type", "payload")
        .limit(cap + 1)
        .collect()
    )


def apply_batch(
    full_envelopes: DataFrame,
    batch_envelopes: DataFrame,
    sink,
    batch_id: int | None = None,
    probe_seq_first: bool = False,
) -> bool:
    """Apply one micro-batch incrementally. Returns False if skipped
    (already-applied batch_id — T5 exactly-once).

    ``batch_envelopes`` may hold duplicate ``seq`` rows (a re-read file, a
    re-delivered source batch): the driver path keeps the first row per
    seq of the collected probe, the oversized path dedups in Spark. Rows
    duplicated in the probe only make it larger, so duplicates can push a
    batch to the fallback but never onto the driver path wrongly.

    ``full_envelopes`` (the accumulated log) is read only on the
    distributed fallback — an oversized or overlapping batch — which
    persists it for the per-table recomputes. A driver-sized,
    non-overlapping batch never touches it.

    ``probe_seq_first=True`` sizes the batch with a seq-ONLY probe before
    touching payloads, so an oversized batch never materializes cap+1 raw
    payload strings on the driver (r7 advisor carry-over: the last
    driver-memory spike lived on exactly the backlog path). Costs one
    extra tiny job when the batch turns out driver-sized — callers set it
    only where backlog is plausible (the first micro-batch after a
    (re)start); steady-state 2 s triggers keep the single-job full probe."""
    if batch_id is not None and sink.get_meta("applied_batch") == str(batch_id):
        return False

    from open_ftth_relational_projector_spark.streaming.incremental import (
        MAX_DRIVER_BATCH_ROWS,
        affected_ids_distributed,
    )

    # Size-gate the batch with a PROBE collect of cap+1 rows: the common
    # driver-sized case (every 2 s-trigger micro-batch) stays at ONE Spark
    # job — the probe IS the collected batch, and min/max seq derive
    # driver-side. Only the rare oversized case (post-downtime backlog in
    # one batch) pays a second job for min/max; its probe pull is bounded
    # at cap+1 rows by construction. Payload JSON parses only AFTER
    # driver_sized is confirmed (round-6 advice: the oversized path was
    # paying ~cap json.loads for rows it immediately discarded).
    from open_ftth_relational_projector_spark.streaming.incremental import (
        parse_envelope_rows,
    )

    if probe_seq_first:
        # backlog-plausible caller: size on seq alone (≤ cap+1 longs on
        # the driver), then pull payloads only once driver_sized is known
        seq_rows = (
            batch_envelopes.select("seq")
            .limit(MAX_DRIVER_BATCH_ROWS + 1)
            .collect()
        )
        driver_sized = len(seq_rows) <= MAX_DRIVER_BATCH_ROWS
        probe_rows = (
            _probe_collect(batch_envelopes, MAX_DRIVER_BATCH_ROWS)
            if driver_sized
            else []
        )
    else:
        probe_rows = _probe_collect(batch_envelopes, MAX_DRIVER_BATCH_ROWS)
        driver_sized = len(probe_rows) <= MAX_DRIVER_BATCH_ROWS
    if driver_sized:
        first_per_seq: dict = {}
        for r in probe_rows:
            first_per_seq.setdefault(r.seq, r)
        parsed = parse_envelope_rows(first_per_seq.values())
        seqs = [s for s, _, _ in parsed]
        batch_min = min(seqs, default=None)
        batch_max = max(seqs, default=None)
    else:
        parsed = None
        stat = batch_envelopes.agg(
            F.min("seq").alias("mn"), F.max("seq").alias("mx")
        ).collect()[0]
        batch_min = int(stat["mn"])
        batch_max = int(stat["mx"])
    # lazy: the driver path reads only full_log.spark; the fallback
    # persists it below, once it is known to be needed
    full_log = EventLog.from_envelopes(full_envelopes)
    batch_log = None
    if parsed is None:
        # oversized batch: touched keys come from a distributed distinct
        # aggregation — only the id LISTS reach the driver
        batch_log = EventLog.from_envelopes(
            batch_envelopes.dropDuplicates(["seq"])
        ).persisted()
    try:
        from open_ftth_relational_projector_spark.streaming.replay import (
            replay_lww_tables,
            replay_rel_batch,
        )

        ids = (
            affected_ids_from_rows(parsed)
            if parsed is not None
            else affected_ids_distributed(batch_log)
        )

        # The driver-side replays require sink state == fold(log ∖ batch).
        # A re-delivered/overlapping batch (batch min seq ≤ watermark)
        # violates that, so it takes the distributed recompute, which is
        # idempotent by construction (pure function of the accumulated log).
        prev_wm = int(sink.get_meta("watermark") or 0)
        overlap = batch_min is not None and batch_min <= prev_wm
        driver_ok = driver_sized and not overlap
        if not driver_ok:
            # distributed fallback: materialize the typed streams once —
            # every per-table delta and the aux reseed re-read several of
            # them, and without this each recompute re-filters and
            # re-parses the accumulated envelope log
            full_log = full_log.persisted()

        edge_ctx = (
            build_edge_context(full_log, parsed, ids, sink)
            if parsed is not None and not overlap
            else None
        )
        # join-free LWW tables replay straight against the sink's public
        # rows (zero Spark jobs) whenever the batch is driver-sized
        driver_deltas: dict[str, TableDelta | GroupDelta] = {}
        if driver_ok:
            for table, (up, gone) in replay_lww_tables(parsed, ids, sink).items():
                driver_deltas[table] = TableDelta(upserts=up, delete_keys=gone)
            for table, res in replay_rel_batch(parsed, ids, sink).items():
                if res[0] == "keyed":
                    driver_deltas[table] = TableDelta(
                        upserts=res[1], delete_keys=res[2]
                    )
                else:
                    driver_deltas[table] = GroupDelta(
                        group_keys=res[1], rows=res[2]
                    )
        deltas = compute_deltas(
            full_log, ids, edge_ctx=edge_ctx, skip=tuple(driver_deltas)
        )
        deltas.update(driver_deltas)

        sink.begin()
        try:
            # spec registries are dimension streams — fold them EVERY batch
            # (a spec-only batch must still land in the aux registry for
            # later batches' placements to resolve against)
            if parsed is not None:
                for name, tbl in fold_spec_registry(parsed).items():
                    sink.merge(name, tbl)
            if edge_ctx is not None:
                sink.append("_aux_affix_edge", edge_ctx.new_edges)
                sink.append("_aux_root_segment", edge_ctx.new_registry)
                sink.append("_aux_detach", edge_ctx.new_detaches)
                rr = edge_ctx.span_replay
                if rr is not None:
                    sink.merge("_aux_span_state", rr.state_upserts)
                    sink.delete_keys("_aux_span_state", "id", rr.state_deletes)
            elif parsed is None or ids.get("span") or ids.get("cable"):
                # distributed fallback (overlap/giant batch): the aux sets
                # — including the spec/walk registries an oversized batch
                # never folded driver-side — are reseeded wholesale from
                # the accumulated log (the fallback is already ∝ log).
                for name, df in aux_seed_frames(full_log).items():
                    sink.overwrite(name, df)
            for table, delta in deltas.items():
                if table == "_aux_slack_end":
                    apply_slack_delta(sink, delta)
                elif isinstance(delta, GroupDelta):
                    sink.replace_group(table, delta.group_keys, delta.rows)
                elif isinstance(delta, TableDelta):
                    sink.merge(table, delta.upserts)
                    sink.delete_keys(table, "id", delta.delete_keys)
            if batch_id is not None:
                sink.set_meta("applied_batch", str(batch_id))
            # batch_max came from the sizing aggregate — no extra job
            if batch_max is not None:
                prev = int(sink.get_meta("watermark") or 0)
                sink.set_meta("watermark", str(max(prev, int(batch_max))))
            sink.commit()
        except Exception:
            sink.rollback()
            raise
    finally:
        full_log.unpersist()
        if batch_log is not None:
            batch_log.unpersist()
    return True


class ProjectionStream:
    """Structured-Streaming catch-up loop (T1: 2 s trigger = Worker.cs:47)."""

    def __init__(
        self,
        spark: SparkSession,
        events_dir: str,
        sink,
        bronze_dir: str,
        checkpoint_dir: str,
        fmt: str = "json",
        max_files_per_trigger: int | None = 64,
    ):
        self.spark = spark
        self.events_dir = events_dir
        self.sink = sink
        self.bronze_dir = bronze_dir
        self.checkpoint_dir = checkpoint_dir
        self.fmt = fmt
        # Bounds the catch-up batch after downtime: the file source emits at
        # most this many landed batch-files per micro-batch (each file is
        # one poll interval of events), so the first post-restart batch is
        # a bounded slice of the backlog, not all of it — the streaming
        # analog of the reference's two-phase Worker design (Worker.cs:32-48,
        # dehydrate bulk, then bounded catch-up). availableNow drains honor
        # it too. Oversized batches that still slip through (a single giant
        # file) reroute inside apply_batch to the distributed no-collect
        # path.
        self.max_files_per_trigger = max_files_per_trigger
        self.query = None
        # backlog lands in the first micro-batch after a (re)start (the
        # file source delivers accumulated files there; a single giant
        # file can exceed maxFilesPerTrigger's row bound) — that batch
        # sizes itself seq-first so the oversized case never pulls raw
        # payloads to the driver; steady-state batches keep the
        # single-job probe
        self._first_since_start = True

    def _process(self, batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        batch_df.write.mode("append").parquet(self.bronze_dir)
        # seq-dedup guards the crash window between append and sink commit;
        # the pinned schema spares a parquet footer read per batch. The
        # batch is deduped inside apply_batch.
        full = (
            self.spark.read.schema(ENVELOPE_SCHEMA)
            .parquet(self.bronze_dir)
            .dropDuplicates(["seq"])
        )
        apply_batch(
            full,
            batch_df,
            self.sink,
            batch_id=batch_id,
            probe_seq_first=self._first_since_start,
        )
        self._first_since_start = False

    def start(self, available_now: bool = False, trigger_seconds: float = 2.0):
        self._first_since_start = True  # a restart is a backlog window again
        reader = self.spark.readStream.schema(ENVELOPE_SCHEMA)
        if self.max_files_per_trigger is not None:
            reader = reader.option(
                "maxFilesPerTrigger", str(self.max_files_per_trigger)
            )
        if self.fmt == "json":
            stream = reader.json(self.events_dir)
        else:
            stream = reader.parquet(self.events_dir)
        writer = stream.writeStream.foreachBatch(self._process).option(
            "checkpointLocation", self.checkpoint_dir
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
