"""Relational sink (SURVEY §2.1 S5-S8).

The reference writes its 8 projection tables to PostgreSQL two ways:
truncate + binary COPY during dehydration (Database/PostgresWriter.cs:42-70
et al.) and per-row keyed DML during catch-up (:72-112 et al.). Here the
same contract is one sink, ``DuckDBSink``: real SQL semantics (DDL,
upsert, delete, group-replace, transactions) over a DuckDB database. It is
the projector's only sink.
"""

from open_ftth_relational_projector_spark.sinks.ddl import (
    TABLE_COLUMNS,
    TABLE_DDL,
    TABLE_GROUP_KEYS,
    TABLE_PRIMARY_KEYS,
)
from open_ftth_relational_projector_spark.sinks.duckdb_sink import DuckDBSink

__all__ = [
    "TABLE_COLUMNS",
    "TABLE_DDL",
    "TABLE_GROUP_KEYS",
    "TABLE_PRIMARY_KEYS",
    "DuckDBSink",
]
