"""Incremental view maintenance: the keys and edge-set writes of one chunk.

The reference applies each event imperatively against in-memory state and
issues per-row DML (RelationalDatabaseProjection.cs:226-264, 407-458).
``apply_batch`` (streaming/runner.py) serves every batch above the sink
watermark, of any size, on the driver, in seq-ordered chunks of at most
``MAX_DRIVER_BATCH_ROWS`` rows. ``affected_ids_from_rows`` names the entity
keys a chunk touches and ``build_edge_context`` resolves its affix-edge,
root-segment and detach writes against the sink aux tables; the replays in
streaming/replay.py produce the rest. Every write is ``table → (keys,
rows)`` for ``DuckDBSink.replace_group``, and every seed read is one
``DuckDBSink.lookup``. No job reads the accumulated log. (A batch that
overlaps the watermark replays the accumulated log over emptied tables,
``runner.compute_deltas``.)

conduit_slack — the one cross-entity aggregate — is maintained through the
persisted ``_aux_slack_end`` pre-aggregation: replace touched equipments'
end rows, re-aggregate only touched route nodes (the standard IVM
delta-aggregation; the reference's imperative counters,
ProjektorState.cs:473-512, are the single-threaded special case of this).
"""

from __future__ import annotations

import hashlib

# -- per-event-type affected-entity extraction ------------------------------
# event_type -> (domain, id expression in the flattened typed frame).
# Spec-registration events are absent on purpose: their values are resolved
# as-of later events (frozen-at-use semantics, projections/core.py), so they
# never retroactively touch existing rows.
AFFECTED: dict[str, tuple[str, str]] = {
    "NodeContainerPlacedInRouteNetwork": ("node_container", "container.id"),
    "NodeContainerRemovedFromRouteNetwork": ("node_container", "nodeContainerId"),
    "NodeContainerSpecificationChanged": ("node_container", "nodeContainerId"),
    "WalkOfInterestRegistered": ("interest", "interest.id"),
    "WalkOfInterestRouteNetworkElementsModified": ("interest", "interestId"),
    "InterestUnregistered": ("interest", "interestId"),
    "SpanEquipmentPlacedInRouteNetwork": ("span", "equipment.id"),
    "SpanEquipmentMoved": ("span", "spanEquipmentId"),
    "SpanEquipmentMerged": ("span", "spanEquipmentId"),
    "SpanEquipmentRemoved": ("span", "spanEquipmentId"),
    "SpanEquipmentAffixedToParent": ("span", "spanEquipmentId"),
    "SpanEquipmentDetachedFromParent": ("span", "spanEquipmentId"),
    "SpanEquipmentAddressInfoChanged": ("span", "spanEquipmentId"),
    "SpanEquipmentSpecificationChanged": ("span", "spanEquipmentId"),
    "TerminalEquipmentPlacedInNodeContainer": ("terminal", "equipment.id"),
    "TerminalEquipmentRemoved": ("terminal", "terminalEquipmentId"),
    "TerminalEquipmentNamingInfoChanged": ("terminal", "terminalEquipmentId"),
    "TerminalEquipmentAddressInfoChanged": ("terminal", "terminalEquipmentId"),
    "WorkTaskCreated": ("work_task", "workTaskId"),
    "WorkTaskStatusChanged": ("work_task", "workTaskId"),
    "InstallationCreated": ("installation", "id"),
    "InstallationUnitAddressChanged": ("installation", "id"),
    "InstallationStatusChanged": ("installation", "id"),
    "InstallationLocationRemarkChanged": ("installation", "id"),
}

# fiber-cable relation triggers: placement / affix / detach only
# (ProjektorState.cs:169-171, 388, 421 — walk edits and removals do NOT
# retrigger).
CABLE_TRIGGER_TYPES = [
    "SpanEquipmentPlacedInRouteNetwork",
    "SpanEquipmentAffixedToParent",
    "SpanEquipmentDetachedFromParent",
]


def parse_envelope_rows(rows) -> list[tuple[int, str, dict]]:
    """(seq, event_type, payload-json-string) rows → parsed tuples — the
    ONE definition of the driver-side batch shape (apply_batch's size-gate
    probe routes through it). Rows are unpacked by position: a Spark
    ``Row``'s field access by name costs a lookup per field."""
    import json

    return [(seq, etype, json.loads(payload)) for seq, etype, payload in rows]


def _payload_get(payload: dict, dotted: str):
    cur = payload
    for part in dotted.split("."):
        if not isinstance(cur, dict) or cur is None:
            return None
        cur = cur.get(part)
    return cur


def affected_ids_from_rows(
    parsed: list[tuple[int, str, dict]],
) -> dict[str, list[str]]:
    """Distinct touched entity ids per domain, from a collected batch."""
    per_domain: dict[str, set[str]] = {}
    cable: set[str] = set()
    for _seq, etype, payload in parsed:
        if etype not in AFFECTED:
            continue
        domain, id_path = AFFECTED[etype]
        eid = _payload_get(payload, id_path)
        if eid is None:
            continue
        per_domain.setdefault(domain, set()).add(eid)
        if etype in CABLE_TRIGGER_TYPES:
            cable.add(eid)
    out = {d: sorted(s) for d, s in per_domain.items()}
    if cable:
        out["cable"] = sorted(cable)
    return out


def _fold_has_child(
    edges: list[tuple[str, int, str]], detaches: list[tuple[str, int]]
) -> list[tuple[str, bool]]:
    """Driver-side twin of projections.core._has_child_final over a
    neighborhood-sized edge/detach set (micro-batch scale — the data is
    already on the driver; running it as Spark stages would cost more in
    scheduling than the fold itself).

    Timeline per parent: an edge at eseq sets TRUE; the FIRST detach of
    that edge's child after eseq sets FALSE at that detach's seq; the
    highest-seq entry wins (seqs are globally unique).
    """
    from bisect import bisect_right

    det_by_child: dict[str, list[int]] = {}
    for child, dseq in detaches:
        det_by_child.setdefault(child, []).append(dseq)
    for seqs in det_by_child.values():
        seqs.sort()

    best: dict[str, tuple[int, bool]] = {}

    def visit(parent: str, seq: int, val: bool) -> None:
        cur = best.get(parent)
        if cur is None or seq > cur[0]:
            best[parent] = (seq, val)

    for child, eseq, parent in edges:
        visit(parent, eseq, True)
        ds = det_by_child.get(child)
        if ds:
            i = bisect_right(ds, eseq)
            if i < len(ds):
                visit(parent, ds[i], False)
    return [(p, v) for p, (_, v) in best.items()]


def _latest_before(versions: list[tuple[int, str | None]], seq: int):
    """Rightmost (vseq, value) with vseq < seq, else None — the driver-side
    twin of operators.asof.asof_join's strict semantics. ``versions`` must
    be sorted by vseq (event seqs are globally unique)."""
    from bisect import bisect_left

    i = bisect_left(versions, seq, key=lambda v: v[0])
    return versions[i - 1] if i > 0 else None


# Chunk size of the driver path: a batch of at most this many rows is
# applied from its size probe as one chunk; a larger one streams to the
# driver in seq-ordered chunks of this many rows (a poll-interval
# micro-batch never gets near it).
MAX_DRIVER_BATCH_ROWS = 200_000


def build_edge_context(
    parsed: list[tuple[int, str, dict]],
    ids: dict[str, list[str]],
    sink,
) -> dict[str, tuple[list[str], "pyarrow.Table"]]:
    """The span-side writes of one chunk, as ``table → (keys, rows)``.

    The affix-edge set, the root-segment registry and the detach set are
    all APPEND-ONLY functions of the log (an edge's parent is frozen at
    edge time; registry rows and detaches are events), so the sink keeps
    them as aux tables: resolve only the chunk's new edges, then read back
    just the touched parents' edges and their children's detaches — one
    key-list lookup (a table scan) per read, zero Spark jobs. Their new
    rows come back with no keys (appends); ``replay_span_batch`` adds the
    span state, ``span_equipment`` and ``_aux_slack_end`` writes, the last
    keyed by every fold key (touched spans ∪ their affix parents).

    Returns an empty dict when the chunk touches no span-equipment entity.
    """
    span_ids = ids.get("span")
    if not span_ids:
        return {}
    import pyarrow as pa

    children = ids.get("cable", [])

    # -- batch extraction (mirrors core._edge_events / _parent_registry) ---
    placements: list[tuple[str, int, str]] = []  # (parent_id, seq, root_seg)
    edge_events: list[tuple[str, int, str]] = []  # (child_id, seq, root_seg)
    removals: list[tuple[str, int]] = []  # (pid, seq)
    detaches: list[tuple[str, int]] = []  # (child_id, seq)
    for seq, etype, payload in parsed:
        if etype == "SpanEquipmentPlacedInRouteNetwork":
            eq = payload.get("equipment") or {}
            root = _payload_get(eq, "spanStructures")
            root_seg = None
            if root:
                segs = (root[0] or {}).get("spanSegments")
                if segs:
                    root_seg = (segs[0] or {}).get("id")
            if root_seg is not None:
                placements.append((eq.get("id"), seq, root_seg))
            for hop in eq.get("utilityNetworkHops") or []:
                for affix in (hop or {}).get("parentAffixes") or []:
                    edge_events.append((eq.get("id"), seq, affix.get("spanSegmentId")))
        elif etype == "SpanEquipmentAffixedToParent":
            cid = payload.get("spanEquipmentId")
            for hop in payload.get("newUtilityHopList") or []:
                for affix in (hop or {}).get("parentAffixes") or []:
                    edge_events.append((cid, seq, affix.get("spanSegmentId")))
        elif etype == "SpanEquipmentRemoved":
            removals.append((payload.get("spanEquipmentId"), seq))
        elif etype == "SpanEquipmentDetachedFromParent":
            detaches.append((payload.get("spanEquipmentId"), seq))

    registry_cols = ["root_segment_id", "seq", "parent_id"]

    # -- registry deltas: placements register, removals tombstone ----------
    new_registry: list[tuple[str, int, str | None]] = [
        (root, seq, pid) for pid, seq, root in placements
    ]
    if removals:
        by_pid: dict[str, list[tuple[int, str]]] = {}
        for root, vseq, pid in sink.lookup(
            "_aux_root_segment", registry_cols, "parent_id", {p for p, _ in removals}
        ):
            by_pid.setdefault(pid, []).append((vseq, root))
        for pid, seq, root in placements:
            by_pid.setdefault(pid, []).append((seq, root))
        for versions in by_pid.values():
            versions.sort()
        for pid, seq in removals:
            hit = _latest_before(by_pid.get(pid, []), seq)
            if hit is not None:
                new_registry.append((hit[1], seq, None))

    # -- batch edges, resolved as of the edge event (frozen at edge time) --
    new_edges: list[tuple[str, int, str]] = []
    roots = {root for _, _, root in edge_events if root is not None}
    if roots:
        by_root: dict[str, list[tuple[int, str | None]]] = {}
        for root, vseq, pid in sink.lookup(
            "_aux_root_segment", registry_cols, "root_segment_id", roots
        ):
            by_root.setdefault(root, []).append((vseq, pid))
        for root, vseq, pid in new_registry:
            by_root.setdefault(root, []).append((vseq, pid))
        for versions in by_root.values():
            versions.sort(key=lambda v: v[0])
        for cid, seq, root in edge_events:
            hit = _latest_before(by_root.get(root, []), seq) if root else None
            if hit is not None and hit[1] is not None:
                new_edges.append((cid, seq, hit[1]))

    # -- parent expansion: prior edges of touched children + batch edges ---
    edge_cols = ["child_id", "seq", "parent_id"]
    parents = {p for _, _, p in new_edges}
    parents.update(
        p for _, _, p in sink.lookup("_aux_affix_edge", edge_cols, "child_id", children)
    )
    all_eq = sorted(set(span_ids) | parents)

    # -- fold inputs: every edge of every fold key, + their detaches -------
    fold_edges = sink.lookup("_aux_affix_edge", edge_cols, "parent_id", all_eq)
    fold_edges += new_edges
    fold_detaches = detaches + sink.lookup(
        "_aux_detach", ["child_id", "seq"], "child_id", {c for c, _, _ in fold_edges}
    )

    def arrow(rows: list[tuple], names: list[str]) -> pa.Table:
        cols = list(zip(*rows)) if rows else [[] for _ in names]
        types = {"seq": "int64"}
        return pa.table(
            {n: pa.array(list(c), types.get(n, "string")) for n, c in zip(names, cols)}
        )

    from open_ftth_relational_projector_spark.streaming.replay import (
        replay_span_batch,
    )

    return {
        "_aux_affix_edge": ([], arrow(new_edges, edge_cols)),
        "_aux_root_segment": ([], arrow(new_registry, registry_cols)),
        "_aux_detach": ([], arrow(detaches, ["child_id", "seq"])),
        **replay_span_batch(
            parsed,
            span_ids,
            all_eq,
            dict(_fold_has_child(fold_edges, fold_detaches)),
            sink,
        ),
    }


def md5_uuid(value: str) -> str:
    """Python twin of projections.core.NODE_UUID_EXPR."""
    h = hashlib.md5(value.encode("utf-8")).hexdigest()
    return f"{h[:8]}-{h[8:12]}-{h[12:16]}-{h[16:20]}-{h[20:32]}"
