"""Driver-side replay of one micro-batch chunk over sink-seeded state.

Every batch above the sink watermark is applied this way (in seq-ordered
chunks of at most incremental.MAX_DRIVER_BATCH_ROWS rows): seed the
touched entities' CURRENT state and the registries the chunk resolves
against from the sink (``_aux_span_state``, the spec, walk and placement
aux tables, and the public tables that are their own state), replay the
chunk's events over it in seq order (exactly ProjektorState.cs's dict
mutations — the semantics are pinned by events/oracle.py and the
batch-split equivalence tests), and write back only the touched rows.
Each replay returns ``table → (keys, rows)``: the sink deletes the rows of
``keys`` and inserts ``rows`` (``DuckDBSink.replace_group``). A key with
no row is a delete.

Scale shape: every seed is one ``sink.lookup`` of the batch's keys — one
scan of the table per chunk (DuckDB plans the key-list semi-join as a full
table scan), so its cost grows with sink size; the replay is O(batch
events); nothing scans the log. A batch that overlaps the watermark
replays the accumulated log over emptied tables (runner.compute_deltas).

Faithfulness notes (mirroring projections/core.py, NOT events/oracle.py's
stricter KeyError behavior):
  * a missing spec at event time yields NULL spec fields (the Spark fold's
    as-of LEFT join semantics);
  * is_customer_conduit is frozen at placement (SpanEquipmentState.cs:53)
    and NULL when the placement had no resolvable spec;
  * updates to never-created or removed ids are dropped (the reference's
    guarded ContainsKey no-ops, ProjektorState.cs:551).
"""

from __future__ import annotations

from open_ftth_relational_projector_spark.sinks.ddl import TABLE_COLUMNS

STATE_COLS = [c for c, _ in TABLE_COLUMNS["_aux_span_state"]]
PUBLIC_COLS = [c for c, _ in TABLE_COLUMNS["span_equipment"]]

SPAN_EVENT_TYPES = {
    "SpanEquipmentPlacedInRouteNetwork",
    "SpanEquipmentMoved",
    "SpanEquipmentMerged",
    "SpanEquipmentRemoved",
    "SpanEquipmentSpecificationChanged",
    "SpanEquipmentAddressInfoChanged",
    "SpanEquipmentSpecificationAdded",
    "SpanStructureSpecificationAdded",
}


def _dedup_keep_order(refs) -> list:
    """Order-preserving dedup — the Python twin of array_distinct (A3)."""
    return list(dict.fromkeys(refs or []))


def fold_spec_registry(parsed) -> dict[str, object]:
    """Per-batch fold of registry events → aux-table arrow upserts.

    Runs EVERY batch in apply_batch, independent of which entities the
    batch touches: a spec/walk/placement registered in one poll interval
    must be resolvable by events in any later one (registries are dimension
    streams, not entity deltas). Last event per key wins within a batch.
    """
    span_rows: dict[str, dict] = {}
    struct_rows: dict[str, dict] = {}
    nc_rows: dict[str, dict] = {}
    term_rows: dict[str, dict] = {}
    walk_rows: dict[str, dict] = {}
    placement_rows: dict[str, dict] = {}
    for seq, etype, p in parsed:
        if etype == "SpanEquipmentSpecificationAdded":
            s = p["specification"]
            span_rows[s["id"]] = {
                "spec_id": s["id"],
                "name": s.get("name"),
                "struct_spec_id": (s.get("rootTemplate") or {}).get(
                    "spanStructureSpecificationId"
                ),
                "is_cable": s.get("isCable"),
            }
        elif etype == "SpanStructureSpecificationAdded":
            s = p["specification"]
            struct_rows[s["id"]] = {
                "struct_spec_id": s["id"],
                "outer_diameter": s.get("outerDiameter"),
            }
        elif etype == "NodeContainerSpecificationAdded":
            s = p["specification"]
            nc_rows[s["id"]] = {
                "spec_id": s["id"],
                "name": s.get("name"),
                "category": s.get("category"),
            }
        elif etype == "TerminalEquipmentSpecificationAdded":
            s = p["specification"]
            term_rows[s["id"]] = {
                "spec_id": s["id"],
                "is_customer_termination": s.get("isCustomerTermination"),
            }
        elif etype == "WalkOfInterestRegistered":
            i = p["interest"]
            walk_rows[i["id"]] = {
                "interest_id": i["id"],
                "seq": seq,
                "walk": _dedup_keep_order(i.get("routeNetworkElementRefs")),
            }
        elif etype == "WalkOfInterestRouteNetworkElementsModified":
            walk_rows[p["interestId"]] = {
                "interest_id": p["interestId"],
                "seq": seq,
                "walk": _dedup_keep_order(p.get("routeNetworkElementIds")),
            }
        elif etype == "SpanEquipmentPlacedInRouteNetwork":
            eq = p["equipment"]
            placement_rows[eq["id"]] = {
                "cable_id": eq["id"],
                "seq": seq,
                "interest_id": eq.get("walkOfInterestId"),
            }
    import pyarrow as pa

    out: dict[str, object] = {}
    if span_rows:
        out["_aux_span_spec"] = _arrow(
            list(span_rows.values()),
            ["spec_id", "name", "struct_spec_id", "is_cable"],
            {"is_cable": "bool"},
        )
    if struct_rows:
        out["_aux_struct_spec"] = _arrow(
            list(struct_rows.values()),
            ["struct_spec_id", "outer_diameter"],
            {"outer_diameter": "int32"},
        )
    if nc_rows:
        out["_aux_nc_spec"] = _arrow(
            list(nc_rows.values()), ["spec_id", "name", "category"], {}
        )
    if term_rows:
        out["_aux_term_spec"] = _arrow(
            list(term_rows.values()),
            ["spec_id", "is_customer_termination"],
            {"is_customer_termination": "bool"},
        )
    if walk_rows:
        out["_aux_walk"] = _arrow(
            list(walk_rows.values()),
            ["interest_id", "seq", "walk"],
            {"seq": "int64", "walk": pa.list_(pa.string())},
        )
    if placement_rows:
        out["_aux_cable_placement"] = _arrow(
            list(placement_rows.values()),
            ["cable_id", "seq", "interest_id"],
            {"seq": "int64"},
        )
    return out


def _any_conn(eq: dict, end: str) -> bool:
    """SpanEquipmentState.cs:69-95 — any (from|to) root-level connection."""
    from open_ftth_relational_projector_spark.operators.arrays import EMPTY_GUID

    last = len(eq["nodesOfInterestIds"]) - 1
    for st in eq.get("spanStructures") or []:
        for seg in (st or {}).get("spanSegments") or []:
            if end == "from":
                if seg["fromNodeOfInterestIndex"] == 0 and seg["fromTerminalId"] != EMPTY_GUID:
                    return True
            else:
                if seg["toNodeOfInterestIndex"] == last and seg["toTerminalId"] != EMPTY_GUID:
                    return True
    return False


def _root_segment_id(eq: dict):
    structs = eq.get("spanStructures")
    if structs:
        segs = (structs[0] or {}).get("spanSegments")
        if segs:
            return (segs[0] or {}).get("id")
    return None


def _arrow(rows: list[dict], cols: list[str], types: dict):
    import pyarrow as pa

    return pa.table(
        {c: pa.array([r.get(c) for r in rows], types.get(c, "string")) for c in cols}
    )


_STATE_TYPES = {
    "outer_diameter": "int32",
    "is_cable": "bool",
    "is_customer_conduit": "bool",
    "root_has_from_conn": "bool",
    "root_has_to_conn": "bool",
}


def replay_span_batch(
    parsed: list[tuple[int, str, dict]],
    span_ids: list[str],
    all_eq: list[str],
    has_child: dict[str, bool],
    sink,
) -> dict[str, tuple[list[str], object]]:
    """Replay one chunk's span/spec events over sink-seeded state.

    ``span_ids`` — entities the chunk touches (the span state and
    ``span_equipment`` keys); ``all_eq`` — span_ids ∪ their affix parents
    (the ``_aux_slack_end`` keys); ``has_child`` — folded flags from the
    edge neighborhood (incremental.build_edge_context), keys ⊆ all_eq.
    """
    events = [e for e in parsed if e[1] in SPAN_EVENT_TYPES]

    # -- seed state + registries (one scan per table) ----------------------
    states = {
        row[0]: dict(zip(STATE_COLS, row))
        for row in sink.lookup("_aux_span_state", STATE_COLS, "id", all_eq)
    }

    spec_ids = set()
    for _seq, etype, p in events:
        if etype == "SpanEquipmentPlacedInRouteNetwork":
            spec_ids.add((p.get("equipment") or {}).get("specificationId"))
        elif etype == "SpanEquipmentSpecificationChanged":
            spec_ids.add(p.get("newSpecificationId"))
    spec_ids.discard(None)

    # spec_id -> (name, struct_spec_id)
    span_specs = {
        sid: (name, ssid)
        for sid, name, ssid in sink.lookup(
            "_aux_span_spec", ["spec_id", "name", "struct_spec_id"], "spec_id", spec_ids
        )
    }
    # batch spec-adds are applied during the replay at their seq; struct
    # specs referenced by either source are fetched after a first pass
    struct_ids = {ssid for _n, ssid in span_specs.values() if ssid is not None}
    for _s, t, p in events:
        if t == "SpanEquipmentSpecificationAdded":
            root = (p.get("specification") or {}).get("rootTemplate") or {}
            if root.get("spanStructureSpecificationId") is not None:
                struct_ids.add(root["spanStructureSpecificationId"])
    struct_specs: dict[str, int | None] = dict(
        sink.lookup(
            "_aux_struct_spec",
            ["struct_spec_id", "outer_diameter"],
            "struct_spec_id",
            struct_ids,
        )
    )

    # -- ordered replay (the reference's fold, state-seeded) ----------------
    def resolve_spec(spec_id):
        """(spec_name, outer_diameter) as of NOW in the replay — NULLs when
        unresolvable (Spark as-of LEFT join semantics)."""
        hit = span_specs.get(spec_id)
        if hit is None:
            return None, None
        name, ssid = hit
        return name, struct_specs.get(ssid)

    for seq, etype, p in events:
        if etype == "SpanEquipmentSpecificationAdded":
            s = p["specification"]
            ssid = (s.get("rootTemplate") or {}).get("spanStructureSpecificationId")
            span_specs[s["id"]] = (s.get("name"), ssid)
        elif etype == "SpanStructureSpecificationAdded":
            s = p["specification"]
            struct_specs[s["id"]] = s.get("outerDiameter")
        elif etype == "SpanEquipmentPlacedInRouteNetwork":
            eq = p["equipment"]
            addr = eq.get("addressInfo") or {}
            spec_name, outer = resolve_spec(eq.get("specificationId"))
            states[eq["id"]] = {
                "id": eq["id"],
                "name": eq.get("name"),
                "interest_id": eq.get("walkOfInterestId"),
                "spec_name": spec_name,
                "outer_diameter": outer,
                "is_cable": eq.get("isCable"),
                "access_address_id": addr.get("accessAddressId"),
                "unit_address_id": addr.get("unitAddressId"),
                "from_node_id": eq["nodesOfInterestIds"][0],
                "to_node_id": eq["nodesOfInterestIds"][-1],
                "is_customer_conduit": (
                    ("ø12" in spec_name.lower()) if spec_name is not None else None
                ),
                "root_segment_id": _root_segment_id(eq),
                "root_has_from_conn": _any_conn(eq, "from"),
                "root_has_to_conn": _any_conn(eq, "to"),
            }
        elif etype in ("SpanEquipmentMoved", "SpanEquipmentMerged"):
            st = states.get(p.get("spanEquipmentId"))
            if st is not None:
                nodes = p["nodesOfInterestIds"]
                st["from_node_id"] = nodes[0]
                st["to_node_id"] = nodes[-1]
        elif etype == "SpanEquipmentSpecificationChanged":
            st = states.get(p.get("spanEquipmentId"))
            if st is not None:
                spec_name, outer = resolve_spec(p.get("newSpecificationId"))
                st["spec_name"] = spec_name
                st["outer_diameter"] = outer
                # is_customer_conduit frozen at placement (reference quirk)
        elif etype == "SpanEquipmentAddressInfoChanged":
            st = states.get(p.get("spanEquipmentId"))
            if st is not None:
                addr = p.get("addressInfo") or {}
                st["access_address_id"] = addr.get("accessAddressId")
                st["unit_address_id"] = addr.get("unitAddressId")
        elif etype == "SpanEquipmentRemoved":
            states.pop(p.get("spanEquipmentId"), None)

    # -- writes --------------------------------------------------------------
    touched_states = [states[i] for i in span_ids if i in states]
    slack_rows = []
    for i in all_eq:
        st = states.get(i)
        if st is None or not st.get("is_customer_conduit") or has_child.get(i, False):
            continue
        if not st.get("root_has_from_conn"):
            slack_rows.append(
                {
                    "span_equipment_id": i,
                    "route_node_id": st.get("from_node_id"),
                    "end_kind": "from",
                }
            )
        if not st.get("root_has_to_conn"):
            slack_rows.append(
                {
                    "span_equipment_id": i,
                    "route_node_id": st.get("to_node_id"),
                    "end_kind": "to",
                }
            )

    return {
        "_aux_span_state": (span_ids, _arrow(touched_states, STATE_COLS, _STATE_TYPES)),
        "span_equipment": (span_ids, _arrow(touched_states, PUBLIC_COLS, _STATE_TYPES)),
        "_aux_slack_end": (
            all_eq,
            _arrow(slack_rows, [c for c, _ in TABLE_COLUMNS["_aux_slack_end"]], {}),
        ),
    }


# ---------------------------------------------------------------------------
# Join-free LWW tables: replay straight against the sink's public rows
# ---------------------------------------------------------------------------

# per table: (creation event, update events, field assignments). Semantics
# mirror projections/base.fold_entity exactly (pinned by the batch/streaming
# equivalence tests): creations open an epoch, updates apply only to live
# entities (the reference's guarded ContainsKey, ProjektorState.cs:597-613,
# 626-668), update values overwrite unconditionally (nulls included).
_LWW_SPECS = {
    "work_task": {
        "domain": "work_task",
        "created": (
            "WorkTaskCreated",
            "workTaskId",
            lambda p: {
                "number": (p.get("workTask") or {}).get("number"),
                "status": (p.get("workTask") or {}).get("status"),
            },
            # null/empty status ⇒ creation skipped (ProjektorState.cs:593)
            lambda p: bool((p.get("workTask") or {}).get("status")),
        ),
        "updates": {
            "WorkTaskStatusChanged": (
                "workTaskId",
                lambda p: {"status": p.get("status")},
            ),
        },
    },
    "installation": {
        "domain": "installation",
        "created": (
            "InstallationCreated",
            "id",
            lambda p: {
                "installation_id": p.get("installationId"),
                "unit_address_id": p.get("unitAddressId"),
                "status": p.get("status"),
                "location_remark": p.get("locationRemark"),
            },
            lambda p: True,
        ),
        "updates": {
            "InstallationUnitAddressChanged": (
                "id",
                lambda p: {"unit_address_id": p.get("unitAddressId")},
            ),
            "InstallationStatusChanged": (
                "id",
                lambda p: {"status": p.get("status")},
            ),
            "InstallationLocationRemarkChanged": (
                "id",
                lambda p: {"location_remark": p.get("locationRemark")},
            ),
        },
    },
}


def replay_lww_tables(
    parsed: list[tuple[int, str, dict]],
    ids: dict[str, list[str]],
    sink,
) -> dict[str, tuple[list[str], object]]:
    """Driver-side replay of the join-free LWW tables for one chunk.

    The sink's public table IS the full state for these tables — seed the
    touched ids' rows (one table scan each), apply the chunk's events in seq
    order, return (touched ids, arrow rows) per table. Zero Spark jobs.
    """
    out: dict[str, tuple[list[str], object]] = {}
    for table, spec in _LWW_SPECS.items():
        touched_ids = ids.get(spec["domain"])
        if not touched_ids:
            continue
        cols = [c for c, _ in TABLE_COLUMNS[table]]
        ctype, cid, cfields, cguard = spec["created"]
        relevant = {ctype, *spec["updates"]}
        states = {
            row[0]: dict(zip(cols, row))
            for row in sink.lookup(table, cols, "id", touched_ids)
        }
        for _seq, etype, p in parsed:
            if etype not in relevant:
                continue
            if etype == ctype:
                if not cguard(p):
                    continue
                eid = p.get(cid)
                states[eid] = {"id": eid, **cfields(p)}
            else:
                id_key, ufields = spec["updates"][etype]
                st = states.get(p.get(id_key))
                if st is not None:
                    st.update(ufields(p))

        rows = [states[i] for i in touched_ids if i in states]
        out[table] = (touched_ids, _arrow(rows, cols, {}))
    return out


# ---------------------------------------------------------------------------
# Joined/derived tables: node_container, service_termination, rel_* — one
# ordered pass over the batch with sink-seeded registries
# ---------------------------------------------------------------------------


def replay_rel_batch(
    parsed: list[tuple[int, str, dict]],
    ids: dict[str, list[str]],
    sink,
) -> dict[str, tuple[list[str], object]]:
    """Driver-side replay of the registry-joined tables for one chunk.

    One pass over the chunk's events in seq order maintains the registries
    (specs, container→node relation, walk versions, cable placements) —
    seeded from the sink aux tables (one scan per table) — so every lookup a
    projection expresses as an as-of join resolves against exactly the
    registry state at that event's position. Returns (keys, arrow rows)
    for node_container, service_termination and the two rel_* tables.

    Cables touched only by a NON-trigger event (e.g. a re-placement whose
    spec isn't a cable) are left out of the rel_fiber keys entirely: their
    sink rows come from their latest trigger, which the chunk leaves
    unchanged, so keeping them is exact.
    """
    from open_ftth_relational_projector_spark.operators.walk_hops import (
        subtract_hops_py,
    )

    nc_ids = ids.get("node_container") or []
    term_ids = ids.get("terminal") or []
    interest_ids = ids.get("interest") or []
    cable_ids = set(ids.get("cable") or [])
    nc_keys, interest_keys = set(nc_ids), set(interest_ids)

    # ---- scan the batch once to collect the ids each seed needs ----------
    nc_spec_ids, term_spec_ids, span_spec_ids = set(), set(), set()
    rel_container_ids, affix_cables, placement_interests = set(), set(), set()
    for _seq, etype, p in parsed:
        if etype == "NodeContainerPlacedInRouteNetwork":
            nc_spec_ids.add((p.get("container") or {}).get("specificationId"))
        elif etype == "NodeContainerSpecificationChanged":
            nc_spec_ids.add(p.get("newSpecificationId"))
        elif etype == "TerminalEquipmentPlacedInNodeContainer":
            eq = p.get("equipment") or {}
            term_spec_ids.add(eq.get("specificationId"))
            rel_container_ids.add(eq.get("nodeContainerId"))
        elif etype == "SpanEquipmentPlacedInRouteNetwork":
            eq = p.get("equipment") or {}
            span_spec_ids.add(eq.get("specificationId"))
            placement_interests.add(eq.get("walkOfInterestId"))
        elif etype in (
            "SpanEquipmentAffixedToParent",
            "SpanEquipmentDetachedFromParent",
        ):
            cid = p.get("spanEquipmentId")
            if cid in cable_ids:
                affix_cables.add(cid)
    for s in (nc_spec_ids, term_spec_ids, span_spec_ids, rel_container_ids,
              placement_interests):
        s.discard(None)

    # ---- seeds (one key-list lookup, a table scan, per table) -------------
    nc_specs = {
        k: (name, cat)
        for k, name, cat in sink.lookup(
            "_aux_nc_spec", ["spec_id", "name", "category"], "spec_id", nc_spec_ids
        )
    }
    term_specs = dict(
        sink.lookup(
            "_aux_term_spec",
            ["spec_id", "is_customer_termination"],
            "spec_id",
            term_spec_ids,
        )
    )
    span_specs = dict(
        sink.lookup("_aux_span_spec", ["spec_id", "is_cable"], "spec_id", span_spec_ids)
    )
    placement_reg = dict(
        sink.lookup(
            "_aux_cable_placement", ["cable_id", "interest_id"], "cable_id", affix_cables
        )
    )
    walk_interests = placement_interests | {
        i for i in placement_reg.values() if i is not None
    }
    walk_reg = {
        k: list(walk) if walk is not None else None
        for k, walk in sink.lookup(
            "_aux_walk", ["interest_id", "walk"], "interest_id", walk_interests
        )
    }
    # container → route-node relation: the node_container table IS the
    # current relation (rows vanish on removal = cleared relation)
    relation = {k: None for k in rel_container_ids}
    relation.update(
        sink.lookup("node_container", ["id", "route_node_id"], "id", rel_container_ids)
    )

    nc_cols = [c for c, _ in TABLE_COLUMNS["node_container"]]
    term_cols = [c for c, _ in TABLE_COLUMNS["service_termination"]]
    nc_states = {
        r[0]: dict(zip(nc_cols, r))
        for r in sink.lookup("node_container", nc_cols, "id", nc_ids)
    }
    term_states = {
        r[0]: dict(zip(term_cols, r))
        for r in sink.lookup("service_termination", term_cols, "id", term_ids)
    }

    interest_final: dict[str, list | None] = {}
    cable_final: dict[str, list | None] = {}

    # ---- ordered replay ---------------------------------------------------
    for _seq, etype, p in parsed:
        if etype == "NodeContainerSpecificationAdded":
            s = p["specification"]
            nc_specs[s["id"]] = (s.get("name"), s.get("category"))
        elif etype == "NodeContainerPlacedInRouteNetwork":
            c = p["container"]
            relation[c["id"]] = c.get("routeNodeId")
            if c["id"] in nc_states or c["id"] in nc_keys:
                name, cat = nc_specs.get(c.get("specificationId"), (None, None))
                nc_states[c["id"]] = {
                    "id": c["id"],
                    "route_node_id": c.get("routeNodeId"),
                    "spec_name": name,
                    "spec_category": cat,
                }
        elif etype == "NodeContainerSpecificationChanged":
            st = nc_states.get(p.get("nodeContainerId"))
            if st is not None:
                name, cat = nc_specs.get(p.get("newSpecificationId"), (None, None))
                st["spec_name"] = name
                st["spec_category"] = cat
        elif etype == "NodeContainerRemovedFromRouteNetwork":
            cid = p.get("nodeContainerId")
            relation[cid] = None
            nc_states.pop(cid, None)
        elif etype == "TerminalEquipmentSpecificationAdded":
            s = p["specification"]
            term_specs[s["id"]] = s.get("isCustomerTermination")
        elif etype == "TerminalEquipmentPlacedInNodeContainer":
            eq = p["equipment"]
            route_node = relation.get(eq.get("nodeContainerId"))
            # the reference's give-up guards (ProjektorState.cs:531-541)
            if term_specs.get(eq.get("specificationId")) is True and route_node:
                addr = eq.get("addressInfo") or {}
                term_states[eq["id"]] = {
                    "id": eq["id"],
                    "route_node_id": route_node,
                    "name": eq.get("name"),
                    "access_address_id": addr.get("accessAddressId"),
                    "unit_address_id": addr.get("unitAddressId"),
                }
        elif etype == "TerminalEquipmentNamingInfoChanged":
            st = term_states.get(p.get("terminalEquipmentId"))
            if st is not None:
                st["name"] = (p.get("namingInfo") or {}).get("name")
        elif etype == "TerminalEquipmentAddressInfoChanged":
            st = term_states.get(p.get("terminalEquipmentId"))
            if st is not None:
                addr = p.get("addressInfo") or {}
                st["access_address_id"] = addr.get("accessAddressId")
                st["unit_address_id"] = addr.get("unitAddressId")
        elif etype == "TerminalEquipmentRemoved":
            term_states.pop(p.get("terminalEquipmentId"), None)
        elif etype == "WalkOfInterestRegistered":
            i = p["interest"]
            walk = _dedup_keep_order(i.get("routeNetworkElementRefs"))
            walk_reg[i["id"]] = walk
            if i["id"] in interest_keys:
                interest_final[i["id"]] = walk
        elif etype == "WalkOfInterestRouteNetworkElementsModified":
            iid = p["interestId"]
            walk = _dedup_keep_order(p.get("routeNetworkElementIds"))
            walk_reg[iid] = walk
            if iid in interest_keys:
                interest_final[iid] = walk
        elif etype == "InterestUnregistered":
            # a tombstone VERSION of the interest table only — the walk
            # registry keeps the last reg/mod (the cable as-of ignores
            # unregistrations, projections/core.py:374)
            iid = p.get("interestId")
            if iid in interest_keys:
                interest_final[iid] = None
        elif etype == "SpanEquipmentSpecificationAdded":
            s = p["specification"]
            span_specs[s["id"]] = s.get("isCable")
        elif etype == "SpanEquipmentPlacedInRouteNetwork":
            eq = p["equipment"]
            placement_reg[eq["id"]] = eq.get("walkOfInterestId")
            if eq["id"] in cable_ids and span_specs.get(
                eq.get("specificationId")
            ) is True:
                walk = walk_reg.get(eq.get("walkOfInterestId"))
                cable_final[eq["id"]] = _sub(
                    subtract_hops_py, walk, eq.get("utilityNetworkHops")
                )
        elif etype in (
            "SpanEquipmentAffixedToParent",
            "SpanEquipmentDetachedFromParent",
        ):
            cid = p.get("spanEquipmentId")
            if cid in cable_ids:
                interest = placement_reg.get(cid)
                if interest is not None:
                    walk = walk_reg.get(interest)
                    cable_final[cid] = _sub(
                        subtract_hops_py, walk, p.get("newUtilityHopList")
                    )

    # ---- writes -----------------------------------------------------------
    out: dict[str, tuple[list[str], object]] = {}
    if nc_ids:
        rows = [nc_states[i] for i in nc_ids if i in nc_states]
        out["node_container"] = (nc_ids, _arrow(rows, nc_cols, {}))
    if term_ids:
        rows = [term_states[i] for i in term_ids if i in term_states]
        out["service_termination"] = (term_ids, _arrow(rows, term_cols, {}))
    rel_cols = ["route_network_element_id", "seq_no"]
    if interest_ids:
        rows = [
            {"interest_id": iid, "route_network_element_id": el, "seq_no": n + 1}
            for iid in interest_ids
            for n, el in enumerate(interest_final.get(iid) or [])
        ]
        out["rel_interest_to_route_element"] = (
            interest_ids,
            _arrow(rows, ["interest_id", *rel_cols], {"seq_no": "int32"}),
        )
    if cable_ids:
        rows = [
            {"fiber_cable_id": cid, "route_network_element_id": el, "seq_no": n + 1}
            for cid, walk in cable_final.items()
            for n, el in enumerate(walk or [])
        ]
        out["rel_fiber_cable_to_route_element"] = (
            list(cable_final),
            _arrow(rows, ["fiber_cable_id", *rel_cols], {"seq_no": "int32"}),
        )
    return out


def _sub(subtract, walk, hops):
    """subtract_hops_py with event-shaped hop dicts (fromNodeId/toNodeId)."""
    if walk is None:
        return None
    norm = (
        None
        if hops is None
        else [
            {
                "from_node_id": (h or {}).get("fromNodeId"),
                "to_node_id": (h or {}).get("toNodeId"),
            }
            for h in hops
        ]
    )
    return subtract(walk, norm)
