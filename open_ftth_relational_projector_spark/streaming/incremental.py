"""Incremental view maintenance: the keys and parent/child state of one chunk.

The reference applies each event imperatively against in-memory state and
issues per-row DML (RelationalDatabaseProjection.cs:226-264, 407-458).
``apply_batch`` (streaming/runner.py) serves every batch above the sink
watermark, of any size, on the driver, in seq-ordered chunks of at most
``MAX_DRIVER_BATCH_ROWS`` rows. ``affected_ids_from_rows`` names the entity
keys a chunk touches and ``build_edge_context`` seeds the reference's
parent/child state (root segment → span, child → affixed parents) for
them from the sink aux tables; the replays in streaming/replay.py produce
the writes. Every write is ``table → (keys, rows)`` for
``DuckDBSink.replace_group``, and every seed read is one
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
    ONE definition of the driver-side batch shape: the size-gate probe's
    rows (tuples zipped from its Arrow columns) and ``_seq_chunks``' Spark
    ``Row``s both route through it. Rows are unpacked by position: a
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

    The sink keeps the reference's parent/child state (ProjektorState.cs:
    122, 358-417): ``_aux_root_segment`` maps each live root segment to
    its span, ``_aux_affix_edge`` lists the parents each child has been
    affixed to since its last detach, and ``_aux_span_state.has_child``
    flags a parent. One scan of the chunk names the segments its affixes
    reference and the children that affix or detach; two lookups read
    their root rows and edge rows. The fold keys are the touched spans ∪
    the parents those rows name, and ``replay_span_batch`` replays the
    chunk over that state in seq order, as ``FoldOracle`` does.

    Returns an empty dict when the chunk touches no span-equipment entity.
    """
    span_ids = ids.get("span")
    if not span_ids:
        return {}
    from open_ftth_relational_projector_spark.streaming.replay import (
        affix_segments,
        replay_span_batch,
    )

    segments: set[str] = set()
    children: set[str] = set()
    for _seq, etype, payload in parsed:
        if etype == "SpanEquipmentDetachedFromParent":
            children.add(payload.get("spanEquipmentId"))
        elif etype in ("SpanEquipmentPlacedInRouteNetwork",
                       "SpanEquipmentAffixedToParent"):
            child, segs = affix_segments(etype, payload)
            if segs:
                segments.update(segs)
                children.add(child)

    roots = dict(
        sink.lookup(
            "_aux_root_segment",
            ["root_segment_id", "parent_id"],
            "root_segment_id",
            segments,
        )
    )
    parents: dict[str, list[str]] = {c: [] for c in children}
    for child, parent in sink.lookup(
        "_aux_affix_edge", ["child_id", "parent_id"], "child_id", children
    ):
        parents[child].append(parent)
    all_eq = sorted(set(span_ids).union(roots.values(), *parents.values()))
    return replay_span_batch(parsed, span_ids, all_eq, roots, parents, sink)


def md5_uuid(value: str) -> str:
    """Python twin of projections.core.NODE_UUID_EXPR."""
    h = hashlib.md5(value.encode("utf-8")).hexdigest()
    return f"{h[:8]}-{h[8:12]}-{h[12:16]}-{h[16:20]}-{h[20:32]}"
