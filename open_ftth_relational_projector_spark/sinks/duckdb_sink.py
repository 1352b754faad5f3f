"""DuckDB-backed relational sink — the projector's only sink.

Implements the reference's write contract with real SQL (DDL bootstrap S5,
truncate+bulk-load S6, keyed replace S7/S8 — Database/PostgresWriter.cs:
27-808) and real transactions, so the streaming-equivalence tests exercise
genuine relational-sink semantics without a Postgres server.

The incremental write is one operation, ``replace_group(table, keys,
rows)``: delete every row whose key is in ``keys``, then insert ``rows``.
The key column is ``ddl.key_column(table)`` (the group key, else the
single primary key); a keyed upsert (``merge``) is a replace of its rows'
own keys, and an empty ``keys`` makes it an append. A key set is bound
as one list parameter and matched with one semi-join, for deletes and
for ``lookup``, the driver replay's one read.

A table that the open transaction emptied (``overwrite``) and has not
inserted into since is neither read nor key-deleted: ``lookup`` and
``delete_keys`` answer without a statement, so chunk 1 of a dehydrate or
rebuild is a bulk load. The sink's own connection is the only writer it
accounts for; every transaction boundary forgets the emptied set.

Rows arrive as ``pyarrow.Table``s (the driver replay builds Arrow
directly) or as Spark DataFrames, moved with ``toArrow``.
"""

from __future__ import annotations

from collections.abc import Collection, Sequence

import duckdb
import pandas as pd
import pyarrow as pa

from open_ftth_relational_projector_spark.sinks.ddl import (
    SCHEMA,
    TABLE_COLUMNS,
    create_index_sql,
    create_table_sql,
    key_column,
)


def _to_arrow(data, cols: list[str]) -> pa.Table:
    """Spark DataFrame | pyarrow.Table → pyarrow.Table with exactly
    ``cols`` in order."""
    if isinstance(data, pa.Table):
        return data.select(cols)
    return data.select(*cols).toArrow()


def _key_in(key_col: str) -> str:
    """Semi-join of ``key_col`` against the key list bound as the
    statement's one parameter. Unlike ``IN (?, ?, …)``, one parameter per
    key, the statement does not grow with the key count; unlike keys
    staged as a registered Arrow view, a call costs no catalog change."""
    return f'"{key_col}" IN (SELECT UNNEST(?::VARCHAR[]))'


class DuckDBSink:
    """Relational sink over a DuckDB database (file or in-memory)."""

    def __init__(self, path: str = ":memory:"):
        self.con = duckdb.connect(path)
        self.schema = SCHEMA
        self._emptied: set[str] = set()

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
        self._emptied.discard(table)
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
        self._emptied.add(table)
        return self._insert_df(table, df)

    # -- append (aux event-derived sets: rows only ever accumulate) ---------
    def append(self, table: str, df) -> int:
        return self._insert_df(table, df)

    # -- S7/S8: keyed delete (PostgresWriter.cs:100-112 pattern) ------------
    def delete_keys(self, table: str, key_col: str, keys: Collection[str]) -> None:
        """Delete every row whose ``key_col`` is in ``keys``. A table the
        open transaction emptied takes no statement: the sink's own
        connection is the only writer it accounts for."""
        if table in self._emptied:
            return
        self.con.execute(
            f'DELETE FROM {self.schema}."{table}" WHERE {_key_in(key_col)}',
            [list(keys)],
        )

    # -- S7/S8: the one incremental write (PostgresWriter.cs:72-112, 191-203)
    def replace_group(self, table: str, keys: Collection[str], df) -> None:
        """Delete every row whose ``key_column(table)`` is in ``keys``, then
        insert ``df``. A key with no row in ``df`` is a delete."""
        if keys:
            self.delete_keys(table, key_column(table), keys)
        self.append(table, df)

    def merge(self, table: str, df) -> None:
        """Keyed upsert: a replace of the keys ``df``'s own rows carry."""
        tbl = _to_arrow(df, self._cols(table))
        self.replace_group(table, tbl.column(key_column(table)).to_pylist(), tbl)

    # -- meta / watermark (T5 exactly-once bookkeeping) ---------------------
    def get_meta(self, key: str) -> str | None:
        row = self.con.execute(
            f'SELECT "value" FROM {self.schema}."_projector_meta" WHERE "key" = ?',
            [key],
        ).fetchone()
        return row[0] if row else None

    def set_meta(self, key: str, value: str) -> None:
        self._emptied.discard("_projector_meta")
        self.con.execute(
            f'DELETE FROM {self.schema}."_projector_meta" WHERE "key" = ?', [key]
        )
        self.con.execute(
            f'INSERT INTO {self.schema}."_projector_meta" VALUES (?, ?)',
            [key, value],
        )

    # -- reads -------------------------------------------------------------
    def fetch_df(self, sql: str, params: Sequence | None = None):
        return self.con.execute(sql, params or []).df()

    def lookup(
        self, table: str, cols: list[str], key_col: str, keys: Collection[str]
    ) -> list[tuple]:
        """``cols`` of every row whose ``key_col`` is in ``keys``, as tuples
        with SQL NULL as None — the driver replay's seed read. A table the
        open transaction emptied answers ``[]`` without a statement: the
        sink's own connection is the only writer it accounts for."""
        if not keys or table in self._emptied:
            return []
        collist = ", ".join(f'"{c}"' for c in cols)
        df = self.fetch_df(
            f'SELECT {collist} FROM {self.schema}."{table}" WHERE {_key_in(key_col)}',
            [list(keys)],
        )
        # pandas renders NULL as NaN in numeric, boolean and list columns
        columns = []
        for _, col in df.items():
            values = col.to_numpy(dtype=object)
            values[pd.isna(values)] = None
            columns.append(values)
        return list(zip(*columns))

    def read_table(self, table: str):
        cols = ", ".join(f'"{c}"' for c in self._cols(table))
        return self.con.execute(
            f'SELECT {cols} FROM {self.schema}."{table}"'
        ).df()

    # -- transactions (atomic micro-batch, T5) ------------------------------
    def begin(self) -> None:
        self._emptied.clear()
        self.con.execute("BEGIN TRANSACTION")

    def commit(self) -> None:
        self._emptied.clear()
        self.con.execute("COMMIT")

    def rollback(self) -> None:
        self._emptied.clear()
        self.con.execute("ROLLBACK")

    def close(self) -> None:
        self.con.close()
