"""Last-write-wins operators (SURVEY §2.4 A2).

The reference folds every event into ``dict[id] = state`` — i.e. the latest
event per key wins (State/ProjektorState.cs:145, 544, 597, 626). In Spark the
same semantics is a keyed aggregation.

Scale note: ``groupBy(key).agg(max_by(...))`` is preferred over
``Window.partitionBy(key).orderBy(desc(seq)) + row_number()==1`` because the
aggregate gets a map-side partial (each task reduces its slice before the
shuffle) and needs no per-partition sort; the window form shuffles every row
and sorts. At 100 TB that is the difference between a partial-agg shuffle of
one row per key per task and a full-data sort.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, functions as F


def latest_by_key(
    df: DataFrame,
    key_cols: Sequence[str] | str,
    seq_col: str = "seq",
    value_cols: Sequence[str] | None = None,
) -> DataFrame:
    """Keep, per key, the row with the highest ``seq_col``.

    Whole-row LWW: equivalent of the reference's ``dict[id] = state``.
    """
    keys = [key_cols] if isinstance(key_cols, str) else list(key_cols)
    if value_cols is None:
        value_cols = [c for c in df.columns if c not in keys and c != seq_col]
    # String-built: one py4j round trip per aggregate, not one per Column call.
    payload = ", ".join(f"`{c}`" for c in value_cols)
    agg = df.groupBy(*keys).agg(
        F.expr(f"max_by(struct({payload}), `{seq_col}`) AS _latest"),
        F.expr(f"max(`{seq_col}`) AS `{seq_col}`"),
    )
    return agg.selectExpr(
        *[f"`{k}`" for k in keys],
        *[f"_latest.`{c}` AS `{c}`" for c in value_cols],
        f"`{seq_col}`",
    )


def touched(value: Column) -> Column:
    """Wrap a written value in a touch marker: ``struct(v)`` when an event
    wrote the field (``v`` may legitimately be NULL), NULL when it did not
    — the input of a field-wise last-write-wins aggregate."""
    return F.struct(value.alias("v"))


def touched_sql(expr: str, alias: str | None = None) -> str:
    """SQL-string form of ``touched`` for ``selectExpr`` call sites.

    ``touched(F.col(x)).alias(y)`` costs ~4 py4j round trips per column;
    wide entity selects (13+ marker columns per event stream) pay that per
    field per stream on every plan construction. The string form is free —
    the whole select becomes ONE round trip.
    """
    alias = alias if alias is not None else expr
    return f"named_struct('v', {expr}) AS `{alias}`"
