"""Storage-layout and execution properties the engine's writes rely on.

Pinned on plain Spark: AQE coalesces post-shuffle partitions, dynamic
partition overwrite rewrites only the touched partition, a range-partitioned
export is globally sorted, additive schema evolution reads back merged,
and rollups re-aggregate exactly from stored partials.
"""

from __future__ import annotations


def test_aqe_coalesces_post_shuffle_partitions(spark):
    """AQE must be ON and actually re-planning: a small groupBy configured
    with 32 shuffle partitions should read back a coalesced exchange, not
    32 tiny reducers — the runtime re-plan the engine relies on at scale
    for skew and small-partition collapse."""
    df = (
        spark.range(0, 1000)
        .selectExpr("id % 7 AS k", "id AS v")
        .groupBy("k")
        .count()
    )
    df.collect()  # AQE finalizes the plan on execution
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "AQEShuffleRead" in plan and "coalesced" in plan, plan[:1500]


def test_dynamic_partition_overwrite_backfills_one_day(spark, tmp_path):
    """The backfill pattern: daily aggregates land partitioned by day;
    when late data arrives for ONE day, dynamic partition overwrite
    rewrites only that partition — untouched days keep their exact files
    (verified by file listing), so a backfill never rewrites the table."""
    import os

    path = str(tmp_path / "daily")
    base = spark.createDataFrame(
        [("2024-01-01", 10), ("2024-01-02", 20), ("2024-01-03", 30)],
        "day string, total long",
    )
    base.write.partitionBy("day").mode("overwrite").parquet(path)

    def files_of(day):
        d = os.path.join(path, f"day={day}")
        return sorted(f for f in os.listdir(d) if f.endswith(".parquet"))

    before_d1 = files_of("2024-01-01")
    before_d3 = files_of("2024-01-03")

    corrected = spark.createDataFrame(
        [("2024-01-02", 25)], "day string, total long"
    )
    (
        corrected.write.partitionBy("day")
        .mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .parquet(path)
    )

    back = {str(r["day"]): r["total"] for r in spark.read.parquet(path).collect()}
    assert back == {"2024-01-01": 10, "2024-01-02": 25, "2024-01-03": 30}
    # untouched partitions keep their exact files
    assert files_of("2024-01-01") == before_d1
    assert files_of("2024-01-03") == before_d3


def test_range_partitioned_export_is_globally_sorted(spark, tmp_path):
    """Ordered export: repartitionByRange + sortWithinPartitions writes
    files whose key ranges are disjoint and ordered (file N's max < file
    N+1's min) — the layout downstream consumers need for merge-reads and
    binary-searchable shards, with NO global single-partition sort."""
    import os

    path = str(tmp_path / "sorted_export")
    df = spark.range(0, 10000).selectExpr("CAST(id * 2654435761 % 100000 AS LONG) AS k")
    (
        df.repartitionByRange(8, "k")
        .sortWithinPartitions("k")
        .write.mode("overwrite")
        .parquet(path)
    )
    import pyarrow.parquet as pq

    ranges = []
    for f in sorted(os.listdir(path)):
        if f.endswith(".parquet"):
            t = pq.read_table(os.path.join(path, f), columns=["k"])
            ks = t["k"].to_pylist()
            assert ks == sorted(ks), f"{f} not internally sorted"
            if ks:
                ranges.append((min(ks), max(ks)))
    ranges.sort()
    assert len(ranges) >= 4
    for (lo1, hi1), (lo2, _hi2) in zip(ranges, ranges[1:]):
        assert hi1 < lo2, "file key ranges must be disjoint and ordered"


def test_schema_evolution_merge_across_shards(spark, tmp_path):
    """Ingestion must tolerate additive schema evolution: a later shard
    adds a column; mergeSchema reads the union schema with nulls for the
    old shard — and the default (no mergeSchema) keeps reading with one
    shard's schema rather than failing."""
    path = str(tmp_path / "evolving")
    spark.createDataFrame(
        [(1, "a")], "doc_id long, text string"
    ).write.mode("append").parquet(path)
    spark.createDataFrame(
        [(2, "b", "en")], "doc_id long, text string, lang string"
    ).write.mode("append").parquet(path)

    merged = spark.read.option("mergeSchema", "true").parquet(path)
    assert set(merged.columns) == {"doc_id", "text", "lang"}
    by_id = {r["doc_id"]: r for r in merged.collect()}
    assert by_id[1]["lang"] is None and by_id[2]["lang"] == "en"


def test_rollup_reaggregation_from_partials(spark):
    """The materialized-rollup contract: month-level stats derived from
    stored DAY-level partials (sum/count/min/max, avg = sum/count) must
    equal the direct month aggregation — the reaggregability property
    that lets a warehouse serve coarse rollups without rescanning raw
    data. Uses the real events table at sf0.001."""
    from pyspark.sql import functions as F

    from open_ftth_relational_projector_spark.sources.tables import load_table

    ev = load_table(spark, "/root/testdata/sf0.001", "events").select(
        F.date_trunc("month", "ts").alias("month"),
        F.to_date("ts").alias("day"),
        "value",
    )
    day_partials = ev.groupBy("month", "day").agg(
        F.sum("value").alias("s"),
        F.count("value").alias("n"),
        F.min("value").alias("mn"),
        F.max("value").alias("mx"),
    )
    from_partials = day_partials.groupBy("month").agg(
        F.round(F.sum("s"), 4).alias("sum_v"),
        F.sum("n").alias("n"),
        F.min("mn").alias("min_v"),
        F.max("mx").alias("max_v"),
        F.round(F.sum("s") / F.sum("n"), 4).alias("avg_v"),
    )
    direct = ev.groupBy("month").agg(
        F.round(F.sum("value"), 4).alias("sum_v"),
        F.count("value").alias("n"),
        F.min("value").alias("min_v"),
        F.max("value").alias("max_v"),
        F.round(F.sum("value") / F.count("value"), 4).alias("avg_v"),
    )
    a = sorted(map(tuple, from_partials.collect()))
    b = sorted(map(tuple, direct.collect()))
    assert a == b and len(a) > 0
