"""Event envelope + per-type payload schemas (SURVEY §2.1 S3, FIXTURES.md §1-2).

The reference deserializes camelCase JSON with enums-as-strings and a $type
discriminator (Startup.cs:42-52); the Spark equivalent is a per-type
``from_json`` with an explicit StructType — no inference, no $type needed
because the envelope's event_type column is the discriminator
(RelationalDatabaseProjection.cs:90-221).

All Guid fields are canonical lowercase-hex strings (Spark has no native
UUID type).
"""

from __future__ import annotations

from pyspark.sql import types as T

GUID = T.StringType()

ENVELOPE_SCHEMA = T.StructType(
    [
        T.StructField("seq", T.LongType(), False),
        T.StructField("event_type", T.StringType(), False),
        T.StructField("payload", T.StringType(), False),
    ]
)

ADDRESS_INFO = T.StructType(
    [
        T.StructField("accessAddressId", GUID),
        T.StructField("unitAddressId", GUID),
    ]
)

SPAN_SEGMENT = T.StructType(
    [
        T.StructField("id", GUID),
        T.StructField("fromNodeOfInterestIndex", T.IntegerType()),
        T.StructField("toNodeOfInterestIndex", T.IntegerType()),
        T.StructField("fromTerminalId", GUID),
        T.StructField("toTerminalId", GUID),
    ]
)

SPAN_STRUCTURE = T.StructType(
    [T.StructField("spanSegments", T.ArrayType(SPAN_SEGMENT))]
)

PARENT_AFFIX = T.StructType([T.StructField("spanSegmentId", GUID)])

UTILITY_HOP = T.StructType(
    [
        T.StructField("fromNodeId", GUID),
        T.StructField("toNodeId", GUID),
        T.StructField("parentAffixes", T.ArrayType(PARENT_AFFIX)),
    ]
)


def _s(*fields: T.StructField) -> T.StructType:
    return T.StructType(list(fields))


def _f(name: str, dtype: T.DataType) -> T.StructField:
    return T.StructField(name, dtype)


PAYLOAD_SCHEMAS: dict[str, T.StructType] = {
    # --- node containers (ProjektorState.cs:30-84) ---
    "NodeContainerSpecificationAdded": _s(
        _f(
            "specification",
            _s(_f("id", GUID), _f("name", T.StringType()), _f("category", T.StringType())),
        )
    ),
    "NodeContainerPlacedInRouteNetwork": _s(
        _f(
            "container",
            _s(_f("id", GUID), _f("routeNodeId", GUID), _f("specificationId", GUID)),
        )
    ),
    "NodeContainerRemovedFromRouteNetwork": _s(_f("nodeContainerId", GUID)),
    "NodeContainerSpecificationChanged": _s(
        _f("nodeContainerId", GUID), _f("newSpecificationId", GUID)
    ),
    # --- interests / walks (ProjektorState.cs:99-113) ---
    "WalkOfInterestRegistered": _s(
        _f(
            "interest",
            _s(_f("id", GUID), _f("routeNetworkElementRefs", T.ArrayType(GUID))),
        )
    ),
    "WalkOfInterestRouteNetworkElementsModified": _s(
        _f("interestId", GUID), _f("routeNetworkElementIds", T.ArrayType(GUID))
    ),
    "InterestUnregistered": _s(_f("interestId", GUID)),
    # --- span equipments (State/SpanEquipmentState.cs:37-95, ProjektorState.cs:134-424) ---
    "SpanEquipmentPlacedInRouteNetwork": _s(
        _f(
            "equipment",
            _s(
                _f("id", GUID),
                _f("name", T.StringType()),
                _f("specificationId", GUID),
                _f("walkOfInterestId", GUID),
                _f("nodesOfInterestIds", T.ArrayType(GUID)),
                _f("isCable", T.BooleanType()),
                _f("spanStructures", T.ArrayType(SPAN_STRUCTURE)),
                _f("utilityNetworkHops", T.ArrayType(UTILITY_HOP)),
                _f("addressInfo", ADDRESS_INFO),
            ),
        )
    ),
    "SpanEquipmentMoved": _s(
        _f("spanEquipmentId", GUID), _f("nodesOfInterestIds", T.ArrayType(GUID))
    ),
    "SpanEquipmentMerged": _s(
        _f("spanEquipmentId", GUID), _f("nodesOfInterestIds", T.ArrayType(GUID))
    ),
    "SpanEquipmentRemoved": _s(_f("spanEquipmentId", GUID)),
    "SpanEquipmentAffixedToParent": _s(
        _f("spanEquipmentId", GUID), _f("newUtilityHopList", T.ArrayType(UTILITY_HOP))
    ),
    "SpanEquipmentDetachedFromParent": _s(
        _f("spanEquipmentId", GUID), _f("newUtilityHopList", T.ArrayType(UTILITY_HOP))
    ),
    "SpanEquipmentAddressInfoChanged": _s(
        _f("spanEquipmentId", GUID), _f("addressInfo", ADDRESS_INFO)
    ),
    # --- span specifications (ProjektorState.cs:293-333) ---
    "SpanEquipmentSpecificationAdded": _s(
        _f(
            "specification",
            _s(
                _f("id", GUID),
                _f("name", T.StringType()),
                _f("isCable", T.BooleanType()),
                _f(
                    "rootTemplate",
                    _s(_f("spanStructureSpecificationId", GUID)),
                ),
            ),
        )
    ),
    "SpanStructureSpecificationAdded": _s(
        _f(
            "specification",
            _s(_f("id", GUID), _f("outerDiameter", T.IntegerType())),
        )
    ),
    "SpanEquipmentSpecificationChanged": _s(
        _f("spanEquipmentId", GUID), _f("newSpecificationId", GUID)
    ),
    # --- terminal equipments (ProjektorState.cs:519-583) ---
    "TerminalEquipmentSpecificationAdded": _s(
        _f(
            "specification",
            _s(_f("id", GUID), _f("isCustomerTermination", T.BooleanType())),
        )
    ),
    "TerminalEquipmentPlacedInNodeContainer": _s(
        _f(
            "equipment",
            _s(
                _f("id", GUID),
                _f("name", T.StringType()),
                _f("specificationId", GUID),
                _f("nodeContainerId", GUID),
                _f("addressInfo", ADDRESS_INFO),
            ),
        )
    ),
    "TerminalEquipmentRemoved": _s(_f("terminalEquipmentId", GUID)),
    "TerminalEquipmentNamingInfoChanged": _s(
        _f("terminalEquipmentId", GUID),
        _f("namingInfo", _s(_f("name", T.StringType()))),
    ),
    "TerminalEquipmentAddressInfoChanged": _s(
        _f("terminalEquipmentId", GUID), _f("addressInfo", ADDRESS_INFO)
    ),
    # --- work tasks (ProjektorState.cs:588-613) ---
    "WorkTaskCreated": _s(
        _f("workTaskId", GUID),
        _f("workTask", _s(_f("number", T.StringType()), _f("status", T.StringType()))),
    ),
    "WorkTaskStatusChanged": _s(
        _f("workTaskId", GUID), _f("status", T.StringType())
    ),
    # --- installations (ProjektorState.cs:619-668) ---
    "InstallationCreated": _s(
        _f("id", GUID),
        _f("installationId", T.StringType()),
        _f("unitAddressId", GUID),
        _f("status", T.StringType()),
        _f("locationRemark", T.StringType()),
    ),
    "InstallationUnitAddressChanged": _s(
        _f("id", GUID), _f("unitAddressId", GUID)
    ),
    "InstallationStatusChanged": _s(_f("id", GUID), _f("status", T.StringType())),
    "InstallationLocationRemarkChanged": _s(
        _f("id", GUID), _f("locationRemark", T.StringType())
    ),
}
