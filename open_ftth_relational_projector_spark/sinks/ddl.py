"""Output-table DDL and key metadata (SURVEY §1.3, §2.1 S5).

Column lists and key choices mirror the reference DDL exactly
(Database/PostgresWriter.cs:27, 118, 211, 306, 415, 534, 622, 698), with
two documented divergences:

* ``uuid`` columns are portable VARCHAR(36) lowercase-hex strings (Spark has
  no native UUID type; FIXTURES.md §3).
* ``conduit_slack`` DML keys on ``route_node_id`` — the reference quirk
  (PostgresWriter.cs:591, 607: UPDATE/DELETE key on route_node_id, not id).

Two private tables support the incremental path:

* ``_aux_slack_end`` — one row per qualifying unconnected customer-conduit
  end (the *pre-aggregation* of conduit_slack). The reference maintains the
  count imperatively (ProjektorState.cs:473-512); keeping the end set keyed
  by equipment makes the aggregate incrementally maintainable at scale:
  a micro-batch replaces only the ends of touched equipments, then
  re-aggregates only the touched route nodes.
* ``_projector_meta`` — watermark + applied-batch bookkeeping for
  exactly-once semantics (SURVEY §2.7 T5; the reference has none).
"""

from __future__ import annotations

SCHEMA = "utility_network"

# table -> ordered (column, sql_type) pairs; sql types valid in both DuckDB
# and PostgreSQL.
TABLE_COLUMNS: dict[str, list[tuple[str, str]]] = {
    "rel_interest_to_route_element": [
        ("interest_id", "VARCHAR(36)"),
        ("route_network_element_id", "VARCHAR(36)"),
        ("seq_no", "INTEGER"),
    ],
    "rel_fiber_cable_to_route_element": [
        ("fiber_cable_id", "VARCHAR(36)"),
        ("route_network_element_id", "VARCHAR(36)"),
        ("seq_no", "INTEGER"),
    ],
    "node_container": [
        ("id", "VARCHAR(36)"),
        ("route_node_id", "VARCHAR(36)"),
        ("spec_name", "VARCHAR(255)"),
        ("spec_category", "VARCHAR(255)"),
    ],
    "span_equipment": [
        ("id", "VARCHAR(36)"),
        ("interest_id", "VARCHAR(36)"),
        ("outer_diameter", "INTEGER"),
        ("is_cable", "BOOLEAN"),
        ("name", "VARCHAR(255)"),
        ("spec_name", "VARCHAR(255)"),
        ("access_address_id", "VARCHAR(36)"),
        ("unit_address_id", "VARCHAR(36)"),
    ],
    "service_termination": [
        ("id", "VARCHAR(36)"),
        ("route_node_id", "VARCHAR(36)"),
        ("name", "VARCHAR(255)"),
        ("access_address_id", "VARCHAR(36)"),
        ("unit_address_id", "VARCHAR(36)"),
    ],
    "conduit_slack": [
        ("id", "VARCHAR(36)"),
        ("route_node_id", "VARCHAR(36)"),
        ("number_of_ends", "INTEGER"),
    ],
    "work_task": [
        ("id", "VARCHAR(36)"),
        ("number", "VARCHAR(255)"),
        ("status", "VARCHAR(255)"),
    ],
    "installation": [
        ("id", "VARCHAR(36)"),
        ("installation_id", "VARCHAR(255)"),
        ("unit_address_id", "VARCHAR(36)"),
        ("status", "VARCHAR(255)"),
        ("location_remark", "VARCHAR(5000)"),
    ],
    # --- private support tables (not part of the reference contract) ---
    "_aux_slack_end": [
        ("span_equipment_id", "VARCHAR(36)"),
        ("route_node_id", "VARCHAR(36)"),
        ("end_kind", "VARCHAR(4)"),  # 'from' | 'to'
    ],
    # the reference's parent/child state (ProjektorState.cs:122, 358-417):
    # each live root segment's span, and the parents each child has been
    # affixed to since its last detach; a parent's flag is has_child below
    "_aux_affix_edge": [
        ("child_id", "VARCHAR(36)"),
        ("parent_id", "VARCHAR(36)"),
    ],
    "_aux_root_segment": [
        ("root_segment_id", "VARCHAR(36)"),
        ("parent_id", "VARCHAR(36)"),
    ],
    # silver state + spec registries for the driver-side micro-batch replay:
    # a poll-interval batch seeds from these and replays in seq order (the
    # reference's own fold), writing back only touched rows.
    "_aux_span_state": [
        ("id", "VARCHAR(36)"),
        ("name", "VARCHAR(255)"),
        ("interest_id", "VARCHAR(36)"),
        ("spec_name", "VARCHAR(255)"),
        ("outer_diameter", "INTEGER"),
        ("is_cable", "BOOLEAN"),
        ("access_address_id", "VARCHAR(36)"),
        ("unit_address_id", "VARCHAR(36)"),
        ("from_node_id", "VARCHAR(36)"),
        ("to_node_id", "VARCHAR(36)"),
        ("is_customer_conduit", "BOOLEAN"),
        ("root_segment_id", "VARCHAR(36)"),
        ("root_has_from_conn", "BOOLEAN"),
        ("root_has_to_conn", "BOOLEAN"),
        ("has_child", "BOOLEAN"),
    ],
    "_aux_span_spec": [
        ("spec_id", "VARCHAR(36)"),
        ("name", "VARCHAR(255)"),
        ("struct_spec_id", "VARCHAR(36)"),
        ("is_cable", "BOOLEAN"),
    ],
    "_aux_struct_spec": [
        ("struct_spec_id", "VARCHAR(36)"),
        ("outer_diameter", "INTEGER"),
    ],
    "_aux_nc_spec": [
        ("spec_id", "VARCHAR(36)"),
        ("name", "VARCHAR(255)"),
        ("category", "VARCHAR(255)"),
    ],
    "_aux_term_spec": [
        ("spec_id", "VARCHAR(36)"),
        ("is_customer_termination", "BOOLEAN"),
    ],
    # latest walk version per interest (reg ∪ mod, stored deduped) — feeds
    # the cable replay's as-of walk resolution
    "_aux_walk": [
        ("interest_id", "VARCHAR(36)"),
        ("seq", "BIGINT"),
        ("walk", "VARCHAR[]"),
    ],
    # latest placement per span equipment (survives removal — the cable
    # projection's interest lookup is an as-of over placements)
    "_aux_cable_placement": [
        ("cable_id", "VARCHAR(36)"),
        ("seq", "BIGINT"),
        ("interest_id", "VARCHAR(36)"),
    ],
    "_projector_meta": [
        ("key", "VARCHAR(255)"),
        ("value", "VARCHAR(255)"),
    ],
}

# merge key per table (the reference's incremental DML WHERE clause).
TABLE_PRIMARY_KEYS: dict[str, list[str]] = {
    "node_container": ["id"],
    "span_equipment": ["id"],
    "service_termination": ["id"],
    "conduit_slack": ["route_node_id"],  # PostgresWriter.cs:591, 607
    "work_task": ["id"],
    "installation": ["id"],
    "_projector_meta": ["key"],
    "_aux_span_state": ["id"],
    "_aux_root_segment": ["root_segment_id"],
    "_aux_span_spec": ["spec_id"],
    "_aux_struct_spec": ["struct_spec_id"],
    "_aux_nc_spec": ["spec_id"],
    "_aux_term_spec": ["spec_id"],
    "_aux_walk": ["interest_id"],
    "_aux_cable_placement": ["cable_id"],
}

# group key for tables maintained by delete-group-then-reinsert (S8:
# PostgresWriter.cs:100-112, 191-203 — cascade replace of an adjacency list).
TABLE_GROUP_KEYS: dict[str, str] = {
    "rel_interest_to_route_element": "interest_id",
    "rel_fiber_cable_to_route_element": "fiber_cable_id",
    "_aux_slack_end": "span_equipment_id",
    "_aux_affix_edge": "child_id",
}


def key_column(table: str) -> str:
    """The column a keyed write replaces by: the group key, else the single
    primary key."""
    if table in TABLE_GROUP_KEYS:
        return TABLE_GROUP_KEYS[table]
    (key,) = TABLE_PRIMARY_KEYS[table]
    return key


# the 8 public projection tables, in reference DDL order.
PROJECTION_TABLES = [
    "rel_interest_to_route_element",
    "rel_fiber_cable_to_route_element",
    "node_container",
    "span_equipment",
    "service_termination",
    "conduit_slack",
    "work_task",
    "installation",
]

# secondary indexes on lookup-side FKs (PostgresWriter.cs:33-38, 124-129,
# 217, 312, 421, 540) — they encode the downstream read patterns. The
# private tables have none: the projector reads them by key list, which
# DuckDB plans as a scan and a hash semi-join whatever the indexes.
SECONDARY_INDEXES: dict[str, list[str]] = {
    "rel_interest_to_route_element": ["route_network_element_id", "interest_id"],
    "rel_fiber_cable_to_route_element": ["route_network_element_id", "fiber_cable_id"],
    "node_container": ["route_node_id"],
    "span_equipment": ["interest_id"],
    "service_termination": ["route_node_id"],
    "conduit_slack": ["route_node_id"],
}


def create_table_sql(table: str, schema: str = SCHEMA) -> str:
    cols = ", ".join(f'"{c}" {t}' for c, t in TABLE_COLUMNS[table])
    return f'CREATE TABLE IF NOT EXISTS {schema}."{table}" ({cols})'


def create_index_sql(table: str, schema: str = SCHEMA) -> list[str]:
    return [
        f'CREATE INDEX IF NOT EXISTS "idx_{table}_{col}" '
        f'ON {schema}."{table}" ("{col}")'
        for col in SECONDARY_INDEXES.get(table, [])
    ]


TABLE_DDL: dict[str, str] = {t: create_table_sql(t) for t in TABLE_COLUMNS}
