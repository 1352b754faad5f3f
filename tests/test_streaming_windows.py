"""Event-time windows under a REAL streaming run: append-mode emission,
watermark advance across checkpointed restarts, and late-row eviction.

The invariant: after both runs, the parquet sink equals the BATCH window
aggregation over exactly the rows the watermark admitted — the late row
is dropped even though a naive batch recompute would count it.
"""

from __future__ import annotations

import shutil
import tempfile
from datetime import datetime, timedelta

import pytest

from pyspark.sql import functions as F

from open_ftth_relational_projector_spark.streaming.windows import tumbling_counts

SCHEMA = (
    "event_id long, ts timestamp_ntz, user_id long, event_type string, value double"
)
BASE = datetime(2024, 1, 1)


def _rows(minutes_and_types):
    return [
        (i, BASE + timedelta(minutes=m), 1, t, 1.0)
        for i, (m, t) in enumerate(minutes_and_types)
    ]


def _land(rows, src, name):
    """Write one flat parquet file into the stream source dir (the file
    source treats each new file as newly-arrived data)."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(src, exist_ok=True)
    cols = list(zip(*rows))
    pq.write_table(
        pa.table(
            {
                "event_id": pa.array(cols[0], "int64"),
                "ts": pa.array(cols[1], pa.timestamp("us")),
                "user_id": pa.array(cols[2], "int64"),
                "event_type": pa.array(cols[3], "string"),
                "value": pa.array(cols[4], "float64"),
            }
        ),
        f"{src}/{name}.parquet",
    )


def _drain(spark, src, out, cp):
    q = (
        tumbling_counts(
            spark.readStream.schema(SCHEMA).parquet(src),
            window_duration="10 minutes",
            watermark_delay="10 minutes",
        )
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", cp)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)


@pytest.mark.filterwarnings("ignore::ResourceWarning")
def test_windowed_append_with_late_row_eviction(spark):
    tmp = tempfile.mkdtemp(prefix="ofrp_win_")
    src, out, cp = f"{tmp}/in", f"{tmp}/out", f"{tmp}/cp"
    try:
        # run 1: events at minutes 1..99 → watermark lands at 99-10=89min,
        # so windows ending ≤ 80min are finalized and emitted
        run1 = _rows([(m, "a") for m in range(1, 100)])
        _land(run1, src, "batch1")
        _drain(spark, src, out, cp)

        # run 2 (same checkpoint): a LATE row at minute 5 — its window
        # [0,10) was already emitted and evicted, so it must be dropped —
        # plus on-time rows at 200/205min that advance the watermark to
        # 195min, flushing every remaining run-1 window
        run2 = _rows([(5, "late"), (200, "b"), (205, "b")])
        _land(run2, src, "batch2")
        _drain(spark, src, out, cp)

        got = sorted(
            map(tuple, spark.read.parquet(out).collect())
        )

        # expected: batch windows over the admitted rows only (no late row),
        # restricted to windows the final watermark (195min) finalized
        admitted = spark.createDataFrame(
            [r for r in run1 + run2 if r[3] != "late"], SCHEMA
        )
        horizon = BASE + timedelta(minutes=195)
        expected = sorted(
            map(
                tuple,
                tumbling_counts(admitted, "10 minutes")
                .filter(F.col("window_end") <= F.lit(horizon))
                .collect(),
            )
        )
        assert len(expected) == 10  # [0,10)...[90,100) for type a
        assert got == expected
        # and the late row really was dropped: window [0,10) counts only
        # minutes 1..9 from run 1
        first = [r for r in got if r[0] == BASE][0]
        assert first[3] == 9
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_curation_signals_stream_shard_by_shard(spark, tmp_path):
    """The stateless curation signals (quality score, lang guess, token
    counts, fingerprints) run unchanged under Structured Streaming — the
    incremental-ingestion deployment: each arriving shard gets its
    verdict row with NO recomputation of prior shards, and the streamed
    union equals the batch pass over the full corpus."""
    import os

    from pyspark.sql import functions as F, types as T

    from open_ftth_relational_projector_spark.functions import text as TXT

    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
        ]
    )
    src = str(tmp_path / "shards")
    out = str(tmp_path / "out")
    cp = str(tmp_path / "cp")
    os.makedirs(src, exist_ok=True)

    def shard(name, rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)

    def signals(df):
        return df.select(
            "doc_id",
            F.round(TXT.quality_score(F.col("text")), 4).alias("quality"),
            TXT.lang_guess(F.col("text")).alias("lang_guess"),
            TXT.token_count(F.col("text")).alias("n_tokens"),
            F.md5(F.col("text")).alias("fingerprint"),
        )

    shard("a", [(1, "the cat sat on the mat " * 10), (2, "der hund und die katze " * 8)])
    q = (
        signals(spark.readStream.schema(schema).parquet(src))
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", cp)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    shard("b", [(3, "le chat et la souris " * 9), (4, "x")])
    q = (
        signals(spark.readStream.schema(schema).parquet(src))
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", cp)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    streamed = spark.read.parquet(out)
    batch = signals(spark.read.parquet(src))
    assert streamed.count() == 4  # each doc exactly once across restarts
    assert (
        streamed.exceptAll(batch).count() == 0
        and batch.exceptAll(streamed).count() == 0
    )


def test_stream_stream_join_within_time_bound(spark, tmp_path):
    """Stream-stream inner join with watermarks: click events join
    purchase events of the same user within 10 minutes AFTER the click.
    Both sides are real file streams; watermarks bound the join state so
    it can evict (the property that makes stream-stream joins feasible at
    scale). The drained result equals the equivalent batch range-join."""
    import os

    clicks_src = str(tmp_path / "clicks")
    buys_src = str(tmp_path / "buys")
    out = str(tmp_path / "out")
    cp = str(tmp_path / "cp")
    _land(_rows([(0, "click"), (30, "click")]), clicks_src, "c0")
    _land(_rows([(5, "purchase"), (32, "purchase"), (55, "purchase")]),
          buys_src, "b0")

    clicks = (
        spark.readStream.schema(SCHEMA).parquet(clicks_src)
        .selectExpr("user_id", "CAST(ts AS TIMESTAMP) AS click_ts")
        .withWatermark("click_ts", "30 minutes")
    )
    buys = (
        spark.readStream.schema(SCHEMA).parquet(buys_src)
        .selectExpr("user_id AS b_user", "CAST(ts AS TIMESTAMP) AS buy_ts")
        .withWatermark("buy_ts", "30 minutes")
    )
    joined = clicks.join(
        buys,
        F.expr(
            "user_id = b_user AND "
            "buy_ts >= click_ts AND buy_ts <= click_ts + INTERVAL 10 MINUTES"
        ),
    ).select("user_id", "click_ts", "buy_ts")
    q = (
        joined.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", cp)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    streamed = {
        (r["click_ts"].minute, r["buy_ts"].minute)
        for r in spark.read.parquet(out).collect()
    }
    # click@0 pairs with buy@5; click@30 with buy@32; buy@55 matches nothing
    assert streamed == {(0, 5), (30, 32)}


def test_stream_stream_left_outer_emits_unmatched_after_watermark(
    spark, tmp_path
):
    """Left-outer stream-stream join: a click with no purchase inside its
    10-minute bound must STILL emit (null buy side) — but only once the
    watermark proves no match can arrive. Batch 2's far-future row
    advances the watermark past every batch-1 click, forcing the
    unmatched emission."""
    clicks_src = str(tmp_path / "clicks")
    buys_src = str(tmp_path / "buys")
    out = str(tmp_path / "out")
    cp = str(tmp_path / "cp")
    _land(_rows([(0, "click"), (20, "click")]), clicks_src, "c0")
    _land(_rows([(2, "purchase")]), buys_src, "b0")

    def drain():
        clicks = (
            spark.readStream.schema(SCHEMA).parquet(clicks_src)
            .selectExpr("user_id", "CAST(ts AS TIMESTAMP) AS click_ts")
            .withWatermark("click_ts", "5 minutes")
        )
        buys = (
            spark.readStream.schema(SCHEMA).parquet(buys_src)
            .selectExpr("user_id AS b_user", "CAST(ts AS TIMESTAMP) AS buy_ts")
            .withWatermark("buy_ts", "5 minutes")
        )
        joined = clicks.join(
            buys,
            F.expr(
                "user_id = b_user AND buy_ts >= click_ts "
                "AND buy_ts <= click_ts + INTERVAL 10 MINUTES"
            ),
            "left_outer",
        ).select("user_id", "click_ts", "buy_ts")
        q = (
            joined.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", cp)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        return {
            (r["click_ts"].minute, r["buy_ts"].minute if r["buy_ts"] else None)
            for r in spark.read.parquet(out).collect()
        }

    first = drain()
    assert (0, 2) in first  # the matched pair emits immediately
    # batch 2: far-future rows push both watermarks past minute 30
    _land(_rows([(240, "click")]), clicks_src, "c1")
    _land(_rows([(240, "purchase")]), buys_src, "b1")
    second = drain()
    # the unmatched click@20 now emits with a null buy side
    assert (20, None) in second


def test_streaming_exact_dedup_across_batches(spark, tmp_path):
    """Streaming ingestion dedup with PERSISTENT state: each micro-batch
    anti-joins a seen-hashes table maintained in foreachBatch, so a doc
    arriving in batch 2 that duplicates batch 1 text is rejected even
    across separate query runs — the streaming form of
    incremental_dedup_report's exact screen."""
    import os

    src = str(tmp_path / "src")
    accepted = str(tmp_path / "accepted")
    seen = str(tmp_path / "seen")
    cp = str(tmp_path / "cp")
    os.makedirs(src, exist_ok=True)
    schema = "doc_id long, text string"

    def land(rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)

    def sink(batch_df, batch_id):
        batch_hashed = batch_df.withColumn("h", F.md5("text"))
        if os.path.exists(seen):
            known = spark.read.parquet(seen).select("h").distinct()
            fresh = batch_hashed.join(known, "h", "left_anti")
        else:
            fresh = batch_hashed
        # first occurrence within the batch wins too
        from pyspark.sql import Window as W

        w = W.partitionBy("h").orderBy("doc_id")
        fresh = (
            fresh.withColumn("rn", F.row_number().over(w))
            .filter("rn = 1")
            .drop("rn")
        )
        fresh.select("doc_id", "text").write.mode("append").parquet(accepted)
        fresh.select("h").write.mode("append").parquet(seen)

    def drain():
        q = (
            spark.readStream.schema(schema)
            .parquet(src)
            .writeStream.foreachBatch(sink)
            .option("checkpointLocation", cp)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    land([(1, "alpha beta"), (2, "gamma delta"), (3, "alpha beta")])
    drain()
    first = sorted(r["doc_id"] for r in spark.read.parquet(accepted).collect())
    assert first == [1, 2]  # in-batch dup of doc 1 rejected

    land([(4, "alpha beta"), (5, "epsilon zeta")])
    drain()  # separate query run, same state
    second = sorted(r["doc_id"] for r in spark.read.parquet(accepted).collect())
    assert second == [1, 2, 5]  # cross-batch dup rejected, new doc kept


def test_streaming_kmv_sketch_merge_equals_batch(spark):
    """A KMV distinct-count sketch maintained as foreachBatch state —
    merge(state, batch-sketch) truncated to k — must equal the sketch
    built over all data at once, for EVERY split of the stream: the
    mergeability theorem run live as bounded streaming state (≤ k hashes
    per key, regardless of stream length)."""
    from pyspark.sql import Window as W

    from open_ftth_relational_projector_spark.functions.dedup import (
        portable_hash64,
    )

    k = 16
    tmp = tempfile.mkdtemp(prefix="ofrp_kmv_")
    src, cp = f"{tmp}/in", f"{tmp}/cp"
    state = {"df": None}  # per-key k-min hash sets, carried across batches

    def apply_batch(batch_df, _bid):
        w = W.partitionBy("event_type").orderBy("hv")
        batch_sk = (
            batch_df.select(
                "event_type", portable_hash64(F.col("user_id"), 7).alias("hv")
            ).distinct()
        )
        pool = (
            batch_sk if state["df"] is None
            else state["df"].unionByName(batch_sk).distinct()
        )
        state["df"] = (
            pool.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= k)
            .drop("rn")
            .localCheckpoint(eager=True)
        )

    try:
        rows = [
            (i, BASE + timedelta(minutes=i), i % 37, "a" if i % 2 else "b", 1.0)
            for i in range(120)
        ]
        for j, chunk in enumerate([rows[:50], rows[50:70], rows[70:]]):
            _land(chunk, src, f"b{j}")
            q = (
                spark.readStream.schema(SCHEMA)
                .parquet(src)
                .writeStream.foreachBatch(apply_batch)
                .option("checkpointLocation", cp)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination(120)

        streamed = {
            (r["event_type"], r["hv"]) for r in state["df"].collect()
        }
        w = W.partitionBy("event_type").orderBy("hv")
        batch = {
            (r["event_type"], r["hv"])
            for r in (
                spark.createDataFrame(rows, SCHEMA)
                .select(
                    "event_type",
                    portable_hash64(F.col("user_id"), 7).alias("hv"),
                )
                .distinct()
                .withColumn("rn", F.row_number().over(w))
                .filter(F.col("rn") <= k)
                .collect()
            )
        }
        assert streamed == batch
        # bounded state: at most k hashes per key
        sizes = {
            r["event_type"]: r["n"]
            for r in state["df"].groupBy("event_type").agg(
                F.count(F.lit(1)).alias("n")
            ).collect()
        }
        assert all(n <= k for n in sizes.values())
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_stream_static_enrichment_equals_batch(spark):
    """Stream-static join: a streaming fact enriched against a static
    dimension (the broadcast-dim enrichment every streaming pipeline
    does) must equal the batch join over the same landed files, including
    rows with no dimension match (left join keeps them)."""
    dim = spark.createDataFrame(
        [(1, "gold"), (2, "silver")], "user_id long, tier string"
    )
    tmp = tempfile.mkdtemp(prefix="ofrp_ss_")
    src, out, cp = f"{tmp}/in", f"{tmp}/out", f"{tmp}/cp"
    rows = [
        (i, BASE + timedelta(minutes=i), i % 3, "e", float(i)) for i in range(30)
    ]
    try:
        _land(rows[:15], src, "b1")
        _land(rows[15:], src, "b2")
        q = (
            spark.readStream.schema(SCHEMA)
            .parquet(src)
            .join(F.broadcast(dim), "user_id", "left")
            .select("event_id", "user_id", "tier")
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", cp)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        got = sorted(
            (r["event_id"], r["user_id"], r["tier"])
            for r in spark.read.parquet(out).collect()
        )
        batch = sorted(
            (r["event_id"], r["user_id"], r["tier"])
            for r in spark.createDataFrame(rows, SCHEMA)
            .join(F.broadcast(dim), "user_id", "left")
            .select("event_id", "user_id", "tier")
            .collect()
        )
        assert got == batch
        assert any(t is None for _, u, t in got if u == 0)  # unmatched kept
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
