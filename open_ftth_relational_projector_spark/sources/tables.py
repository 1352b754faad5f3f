"""Driver-testdata table loaders (SURVEY §2.1 S1-class scans).

Parquet scans stay fully declarative so Catalyst applies column pruning and
predicate pushdown; the only normalization done here is type repair for the
one column Spark cannot read natively (events.ts is parquet TIMESTAMP(NANOS);
with spark.sql.legacy.parquet.nanosAsLong=true it arrives as a long of
epoch-nanos and is converted to TIMESTAMP_NTZ to match the DuckDB oracle's
naive microsecond timestamps).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F

TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]


def load_table(
    spark: SparkSession, sf_dir: str, name: str, refresh: bool = False
) -> DataFrame:
    """Memoized per session (r12, guide §6 file-listing caching / §7.3
    planning time): each call previously re-read the parquet footer and
    rebuilt the scan plan — ~0.1 s per call, and a composed catalog query
    loads 3-5 tables, so table loading alone was a measurable slice of
    every query's construction wall. The memo returns the SAME immutable
    lazy DataFrame (identical plan; row data is still scanned fresh at
    every action). Caveat (r12 review): the parquet FILE LISTING is
    pinned at first read (spark.read.parquet snapshots its
    InMemoryFileIndex), so a caller that rewrites or appends files under
    the same path mid-session would see the first read's file set — the
    same semantics as Spark's own filesource listing cache (guide §6).
    Every repo caller reads immutable fixture dirs; a path whose contents
    must be re-listed passes ``refresh=True`` (re-reads the footer/file
    listing and replaces the memo entry — the programmatic escape hatch
    the r12 advice asked for). Keyed on the resolved path; the memo lives
    on the session object so it dies with the session."""
    memo = getattr(spark, "_ofrp_table_memo", None)
    if memo is None:
        memo = {}
        spark._ofrp_table_memo = memo
    key = (os.path.abspath(sf_dir), name)
    df = None if refresh else memo.get(key)
    if df is None:
        df = _load_table_build(spark, sf_dir, name)
        memo[key] = df
    return df


def _load_table_build(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name == "events":
        # runtime-settable; needed even when the caller owns the session
        # (events.ts is parquet TIMESTAMP(NANOS))
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        # nanos → micros (floor), matching DuckDB's ns→us truncation.
        df = df.withColumn(
            "ts", F.timestamp_micros(F.expr("ts div 1000")).cast("timestamp_ntz")
        )
    # ms-precision timestamps (l_shipdate, o_orderdate) read as TimestampNTZ
    # or Timestamp depending on writer metadata; normalize to NTZ so value
    # hashing against the DuckDB oracle is timezone-free.
    for col, dtype in df.dtypes:
        if dtype == "timestamp":
            df = df.withColumn(col, F.col(col).cast("timestamp_ntz"))
    return df


def scattered(df: DataFrame, min_partitions: int | None = None) -> DataFrame:
    """Spread a narrow scan for compute-heavy per-row pipelines.

    Shingling, signature hashing, and vector math cost far more per row than
    the scan, so compute parallelism must not be capped by file layout (the
    local testdata is one row group = one task; a small dimension table on a
    cluster is the same trap). Round-robin repartition to the default
    parallelism when the scan yields fewer partitions — a no-op for inputs
    that are already wide, which is the normal case at scale.
    """
    spark = df.sparkSession
    target = min_partitions or spark.sparkContext.defaultParallelism
    # r12: the .rdd partition-count probe costs ~0.25 s of driver-side
    # plan-to-RDD conversion per call; memoize the answer on the (shared,
    # immutable — see load_table's memo) input frame so each table pays
    # it once per session. Same plan out, construction latency only.
    cache = getattr(df, "_ofrp_scattered", None)
    if cache is not None and cache[0] == target:
        return cache[1]
    out = df.repartition(target) if df.rdd.getNumPartitions() < target else df
    try:
        df._ofrp_scattered = (target, out)
    except AttributeError:  # pragma: no cover — exotic DataFrame subclass
        pass
    return out


def load_tables(
    spark: SparkSession, sf_dir: str, names: list[str] | None = None
) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in names or TABLES}

