"""DuckDB-backed relational sink — the projector's only sink.

Implements the reference's write contract with real SQL (DDL bootstrap S5,
truncate+bulk-load S6, keyed upsert/delete S7, delete-group-then-reinsert S8
— Database/PostgresWriter.cs:27-808) and real transactions, so the
streaming-equivalence tests exercise genuine relational-sink semantics
without a Postgres server.

Rows arrive as ``pyarrow.Table``s: ``compute_deltas`` fans its Spark fold
out to Arrow, and the driver replay builds Arrow directly. A pandas frame
or a Spark DataFrame (moved with ``toArrow``) is converted at the boundary.
"""

from __future__ import annotations

from collections.abc import Sequence

import duckdb

from open_ftth_relational_projector_spark.sinks.ddl import (
    SCHEMA,
    TABLE_COLUMNS,
    TABLE_GROUP_KEYS,
    TABLE_PRIMARY_KEYS,
    create_index_sql,
    create_table_sql,
)


def _to_arrow(data, cols: list[str]):
    """Spark DataFrame | pyarrow.Table | pandas.DataFrame → pyarrow.Table
    with exactly ``cols`` in order."""
    import pandas as pd
    import pyarrow as pa

    if isinstance(data, pa.Table):
        return data.select(cols)
    if isinstance(data, pd.DataFrame):
        return pa.Table.from_pandas(data[cols], preserve_index=False)
    return data.select(*cols).toArrow()


class DuckDBSink:
    """Relational sink over a DuckDB database (file or in-memory)."""

    def __init__(self, path: str = ":memory:"):
        self.con = duckdb.connect(path)
        self.schema = SCHEMA

    # -- S5: DDL bootstrap (RelationalDatabaseProjection.cs:77-88) ----------
    def ensure_schema(self) -> None:
        self.con.execute(f"CREATE SCHEMA IF NOT EXISTS {self.schema}")
        for table in TABLE_COLUMNS:
            self.con.execute(create_table_sql(table, self.schema))
            for idx in create_index_sql(table, self.schema):
                self.con.execute(idx)

    def _cols(self, table: str) -> list[str]:
        return [c for c, _ in TABLE_COLUMNS[table]]

    def _insert_df(self, table: str, df) -> int:
        cols = self._cols(table)
        tbl = _to_arrow(df, cols)
        if tbl.num_rows == 0:
            return 0
        self.con.register("_stage", tbl)
        collist = ", ".join(f'"{c}"' for c in cols)
        self.con.execute(
            f'INSERT INTO {self.schema}."{table}" ({collist}) '
            f"SELECT {collist} FROM _stage"
        )
        self.con.unregister("_stage")
        return tbl.num_rows

    # -- S6: truncate + bulk load (PostgresWriter.cs:42-70 pattern) ---------
    def overwrite(self, table: str, df) -> int:
        self.con.execute(f'DELETE FROM {self.schema}."{table}"')
        return self._insert_df(table, df)

    # -- append (aux event-derived sets: rows only ever accumulate) ---------
    def append(self, table: str, df) -> int:
        return self._insert_df(table, df)

    # -- S7: keyed upsert (PostgresWriter.cs:72-98 / :244-259 pattern) ------
    def merge(self, table: str, df) -> int:
        keys = TABLE_PRIMARY_KEYS[table]
        cols = self._cols(table)
        tbl = _to_arrow(df, cols)
        if tbl.num_rows == 0:
            return 0
        self.con.register("_stage", tbl)
        pred = " AND ".join(f't."{k}" = s."{k}"' for k in keys)
        self.con.execute(
            f'DELETE FROM {self.schema}."{table}" t '
            f"WHERE EXISTS (SELECT 1 FROM _stage s WHERE {pred})"
        )
        collist = ", ".join(f'"{c}"' for c in cols)
        self.con.execute(
            f'INSERT INTO {self.schema}."{table}" ({collist}) '
            f"SELECT {collist} FROM _stage"
        )
        self.con.unregister("_stage")
        return tbl.num_rows

    # -- S7: keyed delete (PostgresWriter.cs:100-112 pattern) ---------------
    def delete_keys(self, table: str, key_col: str, keys: Sequence[str]) -> None:
        if not keys:
            return
        ph = ", ".join("?" for _ in keys)
        self.con.execute(
            f'DELETE FROM {self.schema}."{table}" WHERE "{key_col}" IN ({ph})',
            list(keys),
        )

    # -- S8: cascade group replace (PostgresWriter.cs:100-112, 191-203) -----
    def replace_group(self, table: str, keys: Sequence[str], df) -> int:
        """Delete every row whose group key is in ``keys``, insert ``df``."""
        group_col = TABLE_GROUP_KEYS[table]
        self.delete_keys(table, group_col, keys)
        return self._insert_df(table, df)

    # -- meta / watermark (T5 exactly-once bookkeeping) ---------------------
    def get_meta(self, key: str) -> str | None:
        row = self.con.execute(
            f'SELECT "value" FROM {self.schema}."_projector_meta" WHERE "key" = ?',
            [key],
        ).fetchone()
        return row[0] if row else None

    def set_meta(self, key: str, value: str) -> None:
        self.con.execute(
            f'DELETE FROM {self.schema}."_projector_meta" WHERE "key" = ?', [key]
        )
        self.con.execute(
            f'INSERT INTO {self.schema}."_projector_meta" VALUES (?, ?)',
            [key, value],
        )

    # -- reads (tests / downstream consumers) -------------------------------
    def fetch_df(self, sql: str, params: Sequence | None = None):
        return self.con.execute(sql, params or []).df()

    def read_table(self, table: str):
        cols = ", ".join(f'"{c}"' for c in self._cols(table))
        return self.con.execute(
            f'SELECT {cols} FROM {self.schema}."{table}"'
        ).df()

    # -- transactions (atomic micro-batch, T5) ------------------------------
    def begin(self) -> None:
        self.con.execute("BEGIN TRANSACTION")

    def commit(self) -> None:
        self.con.execute("COMMIT")

    def rollback(self) -> None:
        self.con.execute("ROLLBACK")

    def close(self) -> None:
        self.con.close()
