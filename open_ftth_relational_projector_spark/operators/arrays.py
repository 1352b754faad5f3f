"""Array-side constants of the reference's state model (SURVEY §2.4 A3).

Array operators themselves are Spark built-ins used inline
(``array_distinct`` preserves first-occurrence order, ``element_at`` takes
the first/last element).
"""

from __future__ import annotations

#: The reference's Guid.Empty sentinel (State/SpanEquipmentState.cs:75,89).
EMPTY_GUID = "00000000-0000-0000-0000-000000000000"
