"""Tracked-persist lifecycle (r13): catalog-created caches are released
between queries by long-lived callers, so a re-run can never read a cache
a previous run left behind (the bench's honest-cold run contract)."""

from pyspark.sql import functions as F

from open_ftth_relational_projector_spark.cache import (
    release_tracked_persists,
    tracked_persist,
)


def test_tracked_persist_registers_and_release_unpersists(spark):
    df = spark.range(100).select(F.col("id"), (F.col("id") * 2).alias("v"))
    out = tracked_persist(df)
    assert out is df
    assert df.storageLevel.useMemory  # persisted
    n = release_tracked_persists(spark)
    assert n == 1
    assert not df.storageLevel.useMemory  # unpersisted
    # registry is cleared: releasing again is a no-op
    assert release_tracked_persists(spark) == 0


def test_concurrent_tracked_persists_are_all_released(spark, monkeypatch):
    """Registration from worker threads (curation_decisions builds a branch
    on one) must not lose a frame, including the first registration that
    creates the session's registry: one release frees all of them."""
    import sys
    from concurrent.futures import ThreadPoolExecutor

    from open_ftth_relational_projector_spark import cache

    release_tracked_persists(spark)
    monkeypatch.delattr(spark, cache._REG_ATTR, raising=False)
    frames = [spark.range(10).select((F.col("id") + i).alias("v")) for i in range(8)]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        with ThreadPoolExecutor(8) as pool:
            list(pool.map(tracked_persist, frames, timeout=120))
    finally:
        sys.setswitchinterval(interval)
    assert release_tracked_persists(spark) == 8
    assert not any(df.storageLevel.useMemory for df in frames)


def test_release_is_safe_with_no_registry(spark):
    assert release_tracked_persists(spark) >= 0


def test_catalog_query_persists_are_query_scoped(spark):
    """corpus_pipeline_stats (llm.py) persists its survivor frame through
    tracked_persist; after the action + release, no catalog-created cache
    remains registered."""
    from open_ftth_relational_projector_spark.catalog import SPARK_QUERIES

    release_tracked_persists(spark)
    df = SPARK_QUERIES["corpus_pipeline_stats"](spark, "/root/testdata/sf0.001")
    df.write.format("noop").mode("overwrite").save()
    assert release_tracked_persists(spark) >= 1
