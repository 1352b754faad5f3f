"""Reusable relational operators (the SURVEY §2 inventory, Spark-first).

Each operator is a pure DataFrame → DataFrame (or Column → Column) function:
no driver-side state, no collect(), shuffle only on declared keys — i.e. the
shape that survives a 1000-executor / 100 TB deployment.
"""

from open_ftth_relational_projector_spark.operators.lww import latest_by_key
from open_ftth_relational_projector_spark.operators.asof import asof_join
from open_ftth_relational_projector_spark.operators.explode_seq import explode_with_seq
from open_ftth_relational_projector_spark.operators.walk_hops import subtract_hops

__all__ = [
    "latest_by_key",
    "asof_join",
    "explode_with_seq",
    "subtract_hops",
]
