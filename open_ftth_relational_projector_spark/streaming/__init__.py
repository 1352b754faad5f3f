"""Streaming layer (SURVEY §2.7): dehydrate-then-catch-up as Structured
Streaming + incremental view maintenance over a relational sink."""

from open_ftth_relational_projector_spark.streaming.runner import (
    ProjectionStream,
    apply_batch,
    dehydrate,
)

__all__ = [
    "ProjectionStream",
    "apply_batch",
    "dehydrate",
]
