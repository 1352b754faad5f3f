"""Differential check: every catalog query vs its DuckDB oracle at a given sf.

Mirrors the driver's t2 gate: row count + column names + order-insensitive
value comparison. Run: python scripts/check_oracle.py [sf_dir]
"""

from __future__ import annotations

import math
import struct
import sys

import duckdb

sys.path.insert(0, ".")

import __spark_entry__ as entry_mod  # noqa: E402
from open_ftth_relational_projector_spark.session import get_spark  # noqa: E402

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def norm(v):
    """Driver-hash-parity normalization.

    Floats compare by their exact IEEE-754 bit pattern (NaN canonicalized)
    — the r7 lesson: the old ``round(v, 4)`` + ``==`` was blind to signed
    zeros (-0.0 == 0.0 in Python) and to 5th/6th-decimal divergence, so
    three rounds of "232/232 OK" sweeps coexisted with a driver hash FAIL.
    This is strictly stricter than the driver's gate; a pass here implies
    a hash match there.
    """
    if v is None:
        return None
    if isinstance(v, float):
        if math.isnan(v):
            return "f:NaN"
        return "f:" + struct.pack(">d", v).hex()
    if isinstance(v, bytes):
        return v.hex()
    return v


def _sort_key(t):
    return tuple((v is None, str(type(v)), v if v is not None else "") for v in t)


def rows_of_spark(df):
    return sorted(
        (
            tuple(norm(v) for v in row)
            for row in (
                tuple(r[c] for c in sorted(df.columns)) for r in df.collect()
            )
        ),
        key=_sort_key,
    )


def rows_of_duck(rel):
    cols = rel.columns
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(
        (tuple(norm(row[i]) for i in order) for row in rel.fetchall()),
        key=_sort_key,
    ), sorted(cols)


def main(sf_dir: str, only: list[str] | None = None) -> int:
    spark = get_spark(app_name="oracle-check", shuffle_partitions=8)
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    from open_ftth_relational_projector_spark.cache import (  # noqa: E402
        release_tracked_persists,
    )

    qs = entry_mod.queries()
    if only:
        qs = {n: f for n, f in qs.items() if n in only}
    osql = entry_mod.oracle_sql()
    failures = []
    for name, fn in qs.items():
        try:
            sdf = fn(spark, sf_dir)
            s_rows = rows_of_spark(sdf)
            s_cols = sorted(sdf.columns)
        except Exception as e:  # noqa: BLE001
            failures.append(name)
            print(f"FAIL  {name}: spark error {type(e).__name__}: {e}")
            continue
        finally:
            # query-scoped catalog caches die as soon as this query's Spark
            # side is collected (the last query's too), before the DuckDB side
            release_tracked_persists(spark)
        if name not in osql:
            print(f"rows  {name}: {len(s_rows)} (no SQL oracle — rows-only)")
            continue
        try:
            d_rows, d_cols = rows_of_duck(con.sql(osql[name]))
        except Exception as e:  # noqa: BLE001
            failures.append(name)
            print(f"FAIL  {name}: duckdb error {e}")
            continue
        if s_cols != d_cols:
            failures.append(name)
            print(f"FAIL  {name}: columns {s_cols} vs {d_cols}")
            continue
        if len(s_rows) != len(d_rows):
            failures.append(name)
            print(f"FAIL  {name}: rowcount {len(s_rows)} vs {len(d_rows)}")
            continue
        if s_rows != d_rows:
            failures.append(name)
            diff = next(
                (i, a, b) for i, (a, b) in enumerate(zip(s_rows, d_rows)) if a != b
            )
            print(f"FAIL  {name}: values differ at sorted idx {diff[0]}:")
            print(f"      spark : {diff[1]}")
            print(f"      duckdb: {diff[2]}")
            continue
        print(f"OK    {name}: {len(s_rows)} rows")
    print(f"\n{len(qs) - len(failures)}/{len(qs)} queries OK")
    spark.stop()
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(
        main(
            sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01",
            sys.argv[2:] or None,
        )
    )
