from open_ftth_relational_projector_spark.events.schemas import (
    ENVELOPE_SCHEMA,
    PAYLOAD_SCHEMAS,
)
from open_ftth_relational_projector_spark.events.reader import EventLog

__all__ = ["ENVELOPE_SCHEMA", "PAYLOAD_SCHEMAS", "EventLog"]
