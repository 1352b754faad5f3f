"""Array operators (SURVEY §2.4 A3, §2.2 P8, §2.6 X5).

All JVM-side built-ins — no Python in the data path.
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F

#: The reference's Guid.Empty sentinel (State/SpanEquipmentState.cs:75,89).
EMPTY_GUID = "00000000-0000-0000-0000-000000000000"


def dedup_preserving_order(arr: Column) -> Column:
    """Order-preserving distinct: keep the first occurrence of each element.

    Mirrors RemoveDublicatedIds (ProjektorState.cs:673-689). Spark's
    ``array_distinct`` is documented to preserve first-occurrence order, so
    the fold-with-HashSet becomes a single vectorized expression.
    """
    return F.array_distinct(arr)


def first_element(arr: Column) -> Column:
    """``NodesOfInterestIds.First()`` (State/SpanEquipmentState.cs:47)."""
    return F.element_at(arr, 1)


def last_element(arr: Column) -> Column:
    """``NodesOfInterestIds.Last()`` (State/SpanEquipmentState.cs:48)."""
    return F.element_at(arr, -1)
