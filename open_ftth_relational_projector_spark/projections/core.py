"""The 8 standing projections, as declarative Spark expressions.

Each function maps an EventLog to one output table with the exact column
names of the reference DDL (Database/PostgresWriter.cs:27, 118, 211, 306,
415, 534, 622, 698). Shared building blocks: fold_entity (epoch + partial
field updates), asof_join (state-at-event-time lookups), subtract_hops (X2),
explode_with_seq (W1/X1), array_distinct (A3).

Faithfulness notes (verified against the reference fold, see events/oracle.py):
  * is_customer_conduit frozen at placement (SpanEquipmentState.cs:53).
  * cable→route-element rows are (re)computed at placement-if-spec-cable,
    affix, and detach — never on walk modification, never deleted on removal
    (ProjektorState.cs:169-171, 388, 421).
  * service_termination resolves container→route-node at placement time and
    keeps it even if the container is later removed (ProjektorState.cs:536).
  * conduit_slack is a recompute over final state; the reference maintains it
    incrementally, which is equivalent under single-concurrent-child-per-
    parent discipline (divergence documented in SURVEY §7 hard part 3).
  * conduit_slack.id is deterministic (uuid5 of route_node_id) instead of
    Guid.NewGuid() — excluded from correctness hashing (FIXTURES.md §3).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from open_ftth_relational_projector_spark.events.reader import EventLog
from open_ftth_relational_projector_spark.operators.arrays import EMPTY_GUID
from open_ftth_relational_projector_spark.operators.asof import (
    asof_join,
    asof_join_broadcast,
)
from open_ftth_relational_projector_spark.operators.explode_seq import explode_with_seq
from open_ftth_relational_projector_spark.operators.lww import (
    latest_by_key,
    touched_sql,
)
from open_ftth_relational_projector_spark.operators.walk_hops import subtract_hops
from open_ftth_relational_projector_spark.projections.base import fold_entity

# --------------------------------------------------------------------------
# shared sub-streams
# --------------------------------------------------------------------------


def _memo(log: EventLog, name: str, build) -> DataFrame:
    """Per-log memo of shared substream PLANS (r12, guide §7.3 planning
    time): _walk_versions/_span_placements are consumed by several of the 8
    projections, and rebuilding the same asof-join/selectExpr chains per
    consumer was pure driver-side py4j + Catalyst-analysis latency — plan
    construction is ~75% of the warm 8-table fold wall at bench scale.
    Memoizing the DataFrame object dedupes construction without changing
    any plan (the same lazy frame is referenced instead of an identical
    copy). Concurrent builders may race a miss and build twice — benign
    (identical plans; dict assignment is atomic under the GIL)."""
    memo = getattr(log, "_plan_memo", None)
    if memo is None:
        memo = {}
        log._plan_memo = memo
    if name not in memo:
        memo[name] = build(log)
    return memo[name]


def _walk_versions(log: EventLog) -> DataFrame:
    """Interest-walk state versions: registered ∪ modified, stored deduped
    (ProjektorState.cs:101, 106)."""
    return _memo(log, "walk_versions", _walk_versions_build)


def _walk_versions_build(log: EventLog) -> DataFrame:
    reg = log.of("WalkOfInterestRegistered").selectExpr(
        "interest.id AS interest_id",
        "seq",
        "array_distinct(interest.routeNetworkElementRefs) AS walk",
    )
    mod = log.of("WalkOfInterestRouteNetworkElementsModified").selectExpr(
        "interestId AS interest_id",
        "seq",
        "array_distinct(routeNetworkElementIds) AS walk",
    )
    return reg.unionByName(mod)


def _span_placements(log: EventLog) -> DataFrame:
    """Placement events with all derived per-event fields + as-of spec joins.
    Memoized per log (see _memo): built by the span-state fold AND the
    fiber-cable projection."""
    return _memo(log, "span_placements", _span_placements_build)


def _span_placements_build(log: EventLog) -> DataFrame:
    eq = log.of("SpanEquipmentPlacedInRouteNetwork").selectExpr("seq", "equipment.*")
    segs = "flatten(spanStructures.spanSegments)"
    placed = eq.selectExpr(
        "seq",
        "id",
        "name",
        "specificationId AS spec_id",
        "walkOfInterestId AS interest_id",
        "isCable AS is_cable",
        "element_at(nodesOfInterestIds, 1) AS from_node_id",
        "element_at(nodesOfInterestIds, -1) AS to_node_id",
        "spanStructures[0].spanSegments[0].id AS root_segment_id",
        f"exists({segs}, s -> s.fromNodeOfInterestIndex = 0"
        f" AND s.fromTerminalId != '{EMPTY_GUID}') AS root_has_from_conn",
        f"exists({segs}, s ->"
        " s.toNodeOfInterestIndex = size(nodesOfInterestIds) - 1"
        f" AND s.toTerminalId != '{EMPTY_GUID}') AS root_has_to_conn",
        "addressInfo.accessAddressId AS access_address_id",
        "addressInfo.unitAddressId AS unit_address_id",
        "utilityNetworkHops AS hops",
    )
    return _with_span_spec(log, placed)


def _with_span_spec(log: EventLog, facts: DataFrame) -> DataFrame:
    """Chained as-of joins: spec_id → span spec → root structure spec."""
    spec_v = log.of("SpanEquipmentSpecificationAdded").selectExpr(
        "specification.id AS spec_id",
        "seq",
        "specification.name AS spec_name",
        "specification.isCable AS spec_is_cable",
        "specification.rootTemplate.spanStructureSpecificationId"
        " AS struct_spec_id",
    )
    struct_v = log.of("SpanStructureSpecificationAdded").selectExpr(
        "specification.id AS struct_spec_id",
        "seq",
        "specification.outerDiameter AS outer_diameter",
    )
    # spec registries are dimension streams (bounded however big the fact
    # log gets), so both lookups are broadcast probes — no fact shuffle
    out = asof_join_broadcast(facts, spec_v, "spec_id")
    out = asof_join_broadcast(out, struct_v, "struct_spec_id")
    return out


def _span_state(log: EventLog) -> DataFrame:
    """Final per-equipment state (live rows only) — feeds the span_equipment
    table, conduit_slack, and the has-child timeline."""
    placed = _span_placements(log)
    base = placed.selectExpr(
        "id",
        "seq",
        touched_sql("name"),
        touched_sql("interest_id"),
        touched_sql("spec_name"),
        touched_sql("outer_diameter"),
        touched_sql("is_cable"),
        touched_sql("access_address_id"),
        touched_sql("unit_address_id"),
        touched_sql("from_node_id"),
        touched_sql("to_node_id"),
        touched_sql("contains(lower(spec_name), 'ø12')", "is_customer_conduit"),
        touched_sql("root_segment_id"),
        touched_sql("root_has_from_conn"),
        touched_sql("root_has_to_conn"),
    )

    moved = (
        log.of("SpanEquipmentMoved")
        .unionByName(log.of("SpanEquipmentMerged"))
        .selectExpr(
            "spanEquipmentId AS id",
            "seq",
            touched_sql("element_at(nodesOfInterestIds, 1)", "from_node_id"),
            touched_sql("element_at(nodesOfInterestIds, -1)", "to_node_id"),
        )
    )

    spec_changed_raw = log.of("SpanEquipmentSpecificationChanged").selectExpr(
        "spanEquipmentId AS id",
        "seq",
        "newSpecificationId AS spec_id",
    )
    spec_changed = _with_span_spec(log, spec_changed_raw).selectExpr(
        "id",
        "seq",
        touched_sql("spec_name"),
        touched_sql("outer_diameter"),
        # is_customer_conduit deliberately NOT touched (frozen at placement)
    )

    addr_changed = log.of("SpanEquipmentAddressInfoChanged").selectExpr(
        "spanEquipmentId AS id",
        "seq",
        touched_sql("addressInfo.accessAddressId", "access_address_id"),
        touched_sql("addressInfo.unitAddressId", "unit_address_id"),
    )

    removed = log.of("SpanEquipmentRemoved").selectExpr(
        "spanEquipmentId AS id", "seq"
    )

    fields = {
        "name": "string",
        "interest_id": "string",
        "spec_name": "string",
        "outer_diameter": "int",
        "is_cable": "boolean",
        "access_address_id": "string",
        "unit_address_id": "string",
        "from_node_id": "string",
        "to_node_id": "string",
        "is_customer_conduit": "boolean",
        "root_segment_id": "string",
        "root_has_from_conn": "boolean",
        "root_has_to_conn": "boolean",
    }
    return fold_entity(
        [base], [moved, spec_changed, addr_changed], "id", fields, removals=removed
    )


def _edge_events(log: EventLog) -> DataFrame:
    """Unresolved affix edges (child_id, seq, root_segment_id): explicit
    affix events plus placement-embedded hops (ProjektorState.cs:162-167)."""
    placed = log.of("SpanEquipmentPlacedInRouteNetwork").selectExpr(
        "seq",
        "equipment.id AS id",
        "equipment.utilityNetworkHops AS hops",
    )
    affix = log.of("SpanEquipmentAffixedToParent").selectExpr(
        "seq",
        "spanEquipmentId AS id",
        "newUtilityHopList AS hops",
    )
    emb = placed.filter("hops IS NOT NULL AND size(hops) > 0")
    return (
        emb.unionByName(affix)
        .selectExpr("id AS child_id", "seq", "explode(hops) AS hop")
        .selectExpr(
            "child_id", "seq", "explode_outer(hop.parentAffixes) AS affix"
        )
        .filter("affix IS NOT NULL")
        .selectExpr("child_id", "seq", "affix.spanSegmentId AS root_segment_id")
    )


def _parent_registry_versions(log: EventLog) -> DataFrame:
    """Root-segment registry versions (root_segment_id, seq, parent_id):
    placements register the root segment, removals tombstone it with a NULL
    parent (ProjektorState.cs:146, 285). Append-only in seq — a batch only
    ever ADDS versions, which is what makes the registry incrementally
    maintainable as a sink aux table."""
    placed = log.of("SpanEquipmentPlacedInRouteNetwork").selectExpr(
        "seq",
        "equipment.id AS id",
        "equipment.spanStructures[0].spanSegments[0].id AS root_segment_id",
    )
    reg = placed.selectExpr("root_segment_id", "seq", "id AS parent_id")
    removed = log.of("SpanEquipmentRemoved").selectExpr(
        "spanEquipmentId AS id", "seq"
    )
    rm_root = (
        asof_join(
            removed.withColumnRenamed("id", "pid"),
            placed.selectExpr("id AS pid", "seq", "root_segment_id"),
            "pid",
        )
        .filter("root_segment_id IS NOT NULL")
        .selectExpr(
            "root_segment_id", "seq", "CAST(NULL AS string) AS parent_id"
        )
    )
    return reg.unionByName(rm_root)


def _resolve_edges(edge_events: DataFrame, registry: DataFrame) -> DataFrame:
    """Resolve each edge's parent as of the edge event (frozen at edge time:
    a later re-registration or removal never rewrites an existing edge)."""
    return asof_join(edge_events, registry, "root_segment_id").filter(
        F.col("parent_id").isNotNull()
    )


def _parent_edges(log: EventLog) -> DataFrame:
    """Affix edges (child_id, seq, parent_id), parent resolved as of the
    edge event via the root-segment registry (ProjektorState.cs:358, 122)."""
    return _resolve_edges(_edge_events(log), _parent_registry_versions(log))


def _has_child_final(log: EventLog, edges: DataFrame | None = None) -> DataFrame:
    """Final HasChildSpanEquipments per parent equipment id.

    Timeline per parent: affix edges referencing its root segment set TRUE
    (ProjektorState.cs:370-371); the FIRST detach of a child after an affix
    edge sets FALSE for that edge's parent (the child's parent list is
    cleared on detach, ProjektorState.cs:398-417). Last event wins.

    ``edges`` lets a caller that already materialized ``_parent_edges``
    (``runner.spark_fold``, which also seeds ``_aux_affix_edge`` from it)
    share one computation. The driver replay folds the same timeline
    over the sink's aux tables (incremental._fold_has_child).
    """
    if edges is None:
        edges = _parent_edges(log)
    detaches = log.of("SpanEquipmentDetachedFromParent").selectExpr(
        "spanEquipmentId AS child_id", "seq AS detach_seq"
    )
    cancels = (
        edges.join(detaches, "child_id", "left")
        .filter("detach_seq > seq")
        .groupBy("parent_id", "child_id", "seq")
        .agg(F.expr("min(detach_seq) AS cancel_seq"))
        .selectExpr("parent_id", "cancel_seq AS seq")
        .distinct()
        .selectExpr("*", "false AS val")
    )
    sets = edges.selectExpr("parent_id", "seq", "true AS val")
    timeline = sets.unionByName(cancels)
    return (
        latest_by_key(timeline, "parent_id")
        .selectExpr("parent_id AS id", "val AS has_child")
    )


# --------------------------------------------------------------------------
# the 8 tables
# --------------------------------------------------------------------------


def project_rel_interest_to_route_element(log: EventLog) -> DataFrame:
    """rel_interest_to_route_element(interest_id, route_network_element_id, seq_no).

    An unregistration is just a tombstone VERSION of the walk timeline, so
    live walks are one last-write-wins fold over walks ∪ tombstones — one
    shuffle on interest_id, no join (a registered/unregistered join of two
    interest-sized streams would sort-merge at scale for nothing).
    """
    walks = _walk_versions(log).selectExpr("*", "false AS _dead")
    unreg = log.of("InterestUnregistered").selectExpr(
        "interestId AS interest_id",
        "seq",
        "CAST(NULL AS array<string>) AS walk",
        "true AS _dead",
    )
    live = (
        latest_by_key(walks.unionByName(unreg), "interest_id")
        .filter("NOT _dead")
        .select("interest_id", "walk")
    )
    return explode_with_seq(live, "interest_id", "walk", "route_network_element_id")


def project_rel_fiber_cable_to_route_element(log: EventLog) -> DataFrame:
    """rel_fiber_cable_to_route_element(fiber_cable_id, route_network_element_id, seq_no).

    Triggers: placement when the SPEC says cable (ProjektorState.cs:169 — the
    spec flag, not the payload flag), affix, detach (both unconditional,
    even for non-cables). Latest trigger wins; the walk is resolved as of
    that trigger; rows survive equipment removal.
    """
    placed = _span_placements(log)
    t_place = placed.filter("spec_is_cable").selectExpr(
        "id AS cable_id", "seq", "interest_id", "hops"
    )

    aff = (
        log.of("SpanEquipmentAffixedToParent")
        .selectExpr(
            "spanEquipmentId AS cable_id",
            "seq",
            "newUtilityHopList AS hops",
        )
        .unionByName(
            log.of("SpanEquipmentDetachedFromParent").selectExpr(
                "spanEquipmentId AS cable_id",
                "seq",
                "newUtilityHopList AS hops",
            )
        )
    )
    # the equipment's interest id, from its latest placement before the event
    aff = asof_join(
        aff,
        placed.selectExpr("id AS cable_id", "seq", "interest_id"),
        "cable_id",
    ).filter("interest_id IS NOT NULL")

    triggers = latest_by_key(t_place.unionByName(aff), "cable_id")

    with_walk = asof_join(
        triggers, _walk_versions(log), "interest_id", fact_seq="seq"
    )
    hops_norm = F.expr(
        "transform(hops, h -> struct(h.fromNodeId AS from_node_id,"
        " h.toNodeId AS to_node_id))"
    )
    reduced = with_walk.select(
        "cable_id",
        subtract_hops(F.col("walk"), hops_norm).alias("elements"),
    ).filter("elements IS NOT NULL")
    return explode_with_seq(reduced, "cable_id", "elements", "route_network_element_id").withColumnRenamed(
        "cable_id", "fiber_cable_id"
    )


def project_node_container(log: EventLog) -> DataFrame:
    """node_container(id, route_node_id, spec_name, spec_category)."""
    spec_v = log.of("NodeContainerSpecificationAdded").selectExpr(
        "specification.id AS spec_id",
        "seq",
        "specification.name AS spec_name",
        "specification.category AS spec_category",
    )
    placed = log.of("NodeContainerPlacedInRouteNetwork").selectExpr(
        "seq",
        "container.id AS id",
        "container.routeNodeId AS route_node_id",
        "container.specificationId AS spec_id",
    )
    placed = asof_join_broadcast(placed, spec_v, "spec_id")
    base = placed.selectExpr(
        "id",
        "seq",
        touched_sql("route_node_id"),
        touched_sql("spec_name"),
        touched_sql("spec_category"),
    )

    changed = asof_join_broadcast(
        log.of("NodeContainerSpecificationChanged").selectExpr(
            "nodeContainerId AS id",
            "seq",
            "newSpecificationId AS spec_id",
        ),
        spec_v,
        "spec_id",
    ).selectExpr(
        "id",
        "seq",
        touched_sql("spec_name"),
        touched_sql("spec_category"),
    )

    removed = log.of("NodeContainerRemovedFromRouteNetwork").selectExpr(
        "nodeContainerId AS id", "seq"
    )
    fields = {
        "route_node_id": "string",
        "spec_name": "string",
        "spec_category": "string",
    }
    return fold_entity([base], [changed], "id", fields, removals=removed).drop(
        "_created_seq"
    )


def project_span_equipment(
    log: EventLog, state: DataFrame | None = None
) -> DataFrame:
    """span_equipment(id, interest_id, outer_diameter, is_cable, name,
    spec_name, access_address_id, unit_address_id)."""
    if state is None:
        state = _span_state(log)
    return state.select(
        "id",
        "interest_id",
        "outer_diameter",
        "is_cable",
        "name",
        "spec_name",
        "access_address_id",
        "unit_address_id",
    )


def project_service_termination(log: EventLog) -> DataFrame:
    """service_termination(id, route_node_id, name, access_address_id,
    unit_address_id)."""
    spec_v = log.of("TerminalEquipmentSpecificationAdded").selectExpr(
        "specification.id AS spec_id",
        "seq",
        "specification.isCustomerTermination AS is_customer_termination",
    )
    # container → route-node relation versions (placement sets, removal clears)
    rel_set = log.of("NodeContainerPlacedInRouteNetwork").selectExpr(
        "container.id AS container_id",
        "seq",
        "container.routeNodeId AS route_node_id",
    )
    rel_clear = log.of("NodeContainerRemovedFromRouteNetwork").selectExpr(
        "nodeContainerId AS container_id",
        "seq",
        "CAST(NULL AS string) AS route_node_id",
    )
    rel_v = rel_set.unionByName(rel_clear)

    placed = log.of("TerminalEquipmentPlacedInNodeContainer").selectExpr(
        "seq",
        "equipment.id AS id",
        "equipment.name AS name",
        "equipment.specificationId AS spec_id",
        "equipment.nodeContainerId AS container_id",
        "equipment.addressInfo.accessAddressId AS access_address_id",
        "equipment.addressInfo.unitAddressId AS unit_address_id",
    )
    # terminal-equipment spec registry: dimension stream → broadcast probe;
    # container→node relation scales with containers → keep the shuffle form
    placed = asof_join_broadcast(placed, spec_v, "spec_id")
    placed = asof_join(placed, rel_v, "container_id")
    # the reference's three give-up guards (ProjektorState.cs:531-541)
    placed = placed.filter(
        "is_customer_termination = true AND route_node_id IS NOT NULL"
    )
    base = placed.selectExpr(
        "id",
        "seq",
        touched_sql("route_node_id"),
        touched_sql("name"),
        touched_sql("access_address_id"),
        touched_sql("unit_address_id"),
    )

    renamed = log.of("TerminalEquipmentNamingInfoChanged").selectExpr(
        "terminalEquipmentId AS id",
        "seq",
        touched_sql("namingInfo.name", "name"),
    )
    readdr = log.of("TerminalEquipmentAddressInfoChanged").selectExpr(
        "terminalEquipmentId AS id",
        "seq",
        touched_sql("addressInfo.accessAddressId", "access_address_id"),
        touched_sql("addressInfo.unitAddressId", "unit_address_id"),
    )
    removed = log.of("TerminalEquipmentRemoved").selectExpr(
        "terminalEquipmentId AS id", "seq"
    )
    fields = {
        "route_node_id": "string",
        "name": "string",
        "access_address_id": "string",
        "unit_address_id": "string",
    }
    return fold_entity([base], [renamed, readdr], "id", fields, removals=removed).drop(
        "_created_seq"
    )


NODE_UUID_EXPR = (
    "concat(substr(md5(route_node_id),1,8),'-',substr(md5(route_node_id),9,4),"
    "'-',substr(md5(route_node_id),13,4),'-',substr(md5(route_node_id),17,4),"
    "'-',substr(md5(route_node_id),21,12))"
)


def slack_ends(
    log: EventLog,
    state: DataFrame | None = None,
    has_child: DataFrame | None = None,
) -> DataFrame:
    """Qualifying unconnected customer-conduit ends — the pre-aggregation of
    conduit_slack (ProjektorState.cs:449-471): one row
    (span_equipment_id, route_node_id, end_kind) per slack end. The sink
    keeps this set as ``_aux_slack_end`` so the driver replay can replace
    one equipment's ends and re-aggregate only touched nodes;
    ``runner.spark_fold`` passes its shared ``state`` and ``has_child``.
    """
    if state is None:
        state = _span_state(log)
    if has_child is None:
        has_child = _has_child_final(log)
    state = state.join(has_child, "id", "left").fillna(
        {"has_child": False}
    )
    eligible = state.filter(
        F.col("is_customer_conduit") & ~F.col("has_child")
    )
    from_ends = eligible.filter(~F.col("root_has_from_conn")).select(
        F.col("id").alias("span_equipment_id"),
        F.col("from_node_id").alias("route_node_id"),
        F.lit("from").alias("end_kind"),
    )
    to_ends = eligible.filter(~F.col("root_has_to_conn")).select(
        F.col("id").alias("span_equipment_id"),
        F.col("to_node_id").alias("route_node_id"),
        F.lit("to").alias("end_kind"),
    )
    return from_ends.unionAll(to_ends)


def project_conduit_slack(
    log: EventLog,
    state: DataFrame | None = None,
    has_child: DataFrame | None = None,
) -> DataFrame:
    """conduit_slack(id, route_node_id, number_of_ends).

    Recompute over final state: an end qualifies when the equipment is a
    customer conduit, the root segment end is unconnected, and the equipment
    has no child span equipments (ProjektorState.cs:449-471); counts group by
    the end's current node. id is deterministic (md5-derived uuid of
    route_node_id) — the reference uses Guid.NewGuid() (X6), excluded from
    hashing.
    """
    counts = (
        slack_ends(log, state=state, has_child=has_child)
        .groupBy("route_node_id")
        .agg(F.count(F.lit(1)).cast("int").alias("number_of_ends"))
    )
    return counts.select(
        F.expr(NODE_UUID_EXPR).alias("id"),
        "route_node_id",
        "number_of_ends",
    )


def project_work_task(log: EventLog) -> DataFrame:
    """work_task(id, number, status)."""
    created = log.of("WorkTaskCreated").selectExpr(
        "workTaskId AS id",
        "seq",
        "workTask.number AS number",
        "workTask.status AS status",
    )
    # null/empty status ⇒ creation skipped entirely (ProjektorState.cs:593)
    created = created.filter(
        "status IS NOT NULL AND status != ''"
    ).selectExpr(
        "id",
        "seq",
        touched_sql("number"),
        touched_sql("status"),
    )
    changed = log.of("WorkTaskStatusChanged").selectExpr(
        "workTaskId AS id",
        "seq",
        touched_sql("status"),
    )
    fields = {"number": "string", "status": "string"}
    return fold_entity([created], [changed], "id", fields).drop("_created_seq")


def project_installation(log: EventLog) -> DataFrame:
    """installation(id, installation_id, unit_address_id, status, location_remark)."""
    created = log.of("InstallationCreated").selectExpr(
        "id",
        "seq",
        touched_sql("installationId", "installation_id"),
        touched_sql("unitAddressId", "unit_address_id"),
        touched_sql("status"),
        touched_sql("locationRemark", "location_remark"),
    )
    addr = log.of("InstallationUnitAddressChanged").selectExpr(
        "id", "seq", touched_sql("unitAddressId", "unit_address_id")
    )
    status = log.of("InstallationStatusChanged").selectExpr(
        "id", "seq", touched_sql("status")
    )
    remark = log.of("InstallationLocationRemarkChanged").selectExpr(
        "id", "seq", touched_sql("locationRemark", "location_remark")
    )
    fields = {
        "installation_id": "string",
        "unit_address_id": "string",
        "status": "string",
        "location_remark": "string",
    }
    return fold_entity([created], [addr, status, remark], "id", fields).drop(
        "_created_seq"
    )


PROJECTIONS = {
    "rel_interest_to_route_element": project_rel_interest_to_route_element,
    "rel_fiber_cable_to_route_element": project_rel_fiber_cable_to_route_element,
    "node_container": project_node_container,
    "span_equipment": project_span_equipment,
    "service_termination": project_service_termination,
    "conduit_slack": project_conduit_slack,
    "work_task": project_work_task,
    "installation": project_installation,
}


def project_all(
    log: EventLog,
    persist: bool = True,
    state: DataFrame | None = None,
    has_child: DataFrame | None = None,
) -> dict[str, DataFrame]:
    """All 8 standing projections, sharing the expensive substreams.

    With ``persist`` (the default for multi-table materialization), the
    envelope scan and the folded span-equipment state are cached and primed
    so the 8 plans don't each re-read the source and re-fold the span
    timeline — the local analogue of materializing typed bronze + a silver
    state table at scale. A caller that passes ``state``
    (``runner.spark_fold``) has cached its inputs itself and passes
    ``persist=False``.
    """
    from concurrent.futures import ThreadPoolExecutor

    prime = None
    pool0 = None
    if persist and state is None:
        # r12 (guide §1.2): skip the raw-prime COUNT JOB — the span-state
        # prime below computes THROUGH the raw cache and fills it as a
        # byproduct, so the blocking count bought nothing but a serial job
        # before any plan could build (~40% of the warm fold wall). The
        # state prime runs in a background thread, overlapping the
        # materialization with the driver-side plan construction of the 8
        # tables; a table-count job that beats the prime to a raw partition
        # re-parses it once (the bounded first-touch trade documented in
        # plans/concurrency.py).
        from open_ftth_relational_projector_spark.cache import tracked_persist

        log = log.persisted(eager=False)
        state = tracked_persist(_span_state(log))
        pool0 = ThreadPoolExecutor(1)
        prime = pool0.submit(state.count)
    elif state is None:
        state = _span_state(log)

    def build(name):
        fn = PROJECTIONS[name]
        if name == "conduit_slack":
            return name, fn(log, state=state, has_child=has_child)
        if name == "span_equipment":
            return name, fn(log, state=state)
        return name, fn(log)

    # plan construction is driver-side py4j traffic — threads overlap the
    # socket round-trips (each thread gets its own gateway connection); 8
    # threads so every projection's build is in flight at once (r12 — the
    # build cost is Catalyst analysis inside the JVM, which parallelizes)
    with ThreadPoolExecutor(8) as pool:
        out = dict(pool.map(build, PROJECTIONS))
    if prime is not None:
        prime.result()
        pool0.shutdown()
    return {name: out[name] for name in PROJECTIONS}
