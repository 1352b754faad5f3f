"""Event-time windowed aggregations with watermarks.

The reference assumes a totally-ordered event log and has no event-time
windows at all (SURVEY §2.7 T3/T7) — these operators are part of the
engine's extension surface for real stream analytics, where arrival order
is NOT event-time order and state must be bounded.

Scale design: each aggregation is ONE shuffle keyed by (window, key);
watermarks bound the state store (windows older than
``max(event_time) - delay`` are finalized, emitted, and evicted), so state
size is ∝ (keys × windows inside the watermark horizon), independent of
stream length. The same expressions run in batch (a static DataFrame) for
backfill and for the DuckDB differential oracle — one definition, two
execution modes, exactly the engine's bulk-vs-catch-up duality.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def _watermarked(events: DataFrame, time_col: str, delay: str) -> DataFrame:
    """Streaming: cast event time to TIMESTAMP (withWatermark rejects NTZ;
    the session timezone is UTC so values are unchanged) and register the
    watermark. Batch: pass through — the same window expressions follow.
    The callers cast window bounds back to TIMESTAMP_NTZ so both execution
    modes produce one schema (and hash-match the DuckDB oracle)."""
    if not events.isStreaming:
        return events
    return events.withColumn(
        time_col, F.col(time_col).cast("timestamp")
    ).withWatermark(time_col, delay)


def tumbling_counts(
    events: DataFrame,
    window_duration: str = "1 hour",
    watermark_delay: str = "1 hour",
    time_col: str = "ts",
    key_col: str = "event_type",
) -> DataFrame:
    """Tumbling-window count/sum per key.

    Output columns: window_start, window_end, <key_col>, n_events, sum_value.
    In streaming mode the watermark makes append-mode emission final;
    in batch mode the same plan is a plain two-level group-by.
    """
    src = _watermarked(events, time_col, watermark_delay)
    return (
        src.groupBy(F.window(time_col, window_duration), F.col(key_col))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
        .select(
            F.col("window.start").cast("timestamp_ntz").alias("window_start"),
            F.col("window.end").cast("timestamp_ntz").alias("window_end"),
            key_col,
            "n_events",
            "sum_value",
        )
    )


def sliding_counts(
    events: DataFrame,
    window_duration: str = "1 hour",
    slide: str = "30 minutes",
    watermark_delay: str = "1 hour",
    time_col: str = "ts",
    key_col: str = "event_type",
) -> DataFrame:
    """Sliding-window counts: each event lands in duration/slide windows.

    The explode happens inside Spark's window expression (no self-join);
    shuffle volume is × (duration/slide), the unavoidable sliding cost.
    """
    src = _watermarked(events, time_col, watermark_delay)
    return (
        src.groupBy(F.window(time_col, window_duration, slide), F.col(key_col))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("window.start").cast("timestamp_ntz").alias("window_start"),
            F.col("window.end").cast("timestamp_ntz").alias("window_end"),
            key_col,
            "n_events",
        )
    )


def session_windows(
    events: DataFrame,
    gap: str = "30 minutes",
    watermark_delay: str = "1 hour",
    time_col: str = "ts",
    key_col: str = "user_id",
) -> DataFrame:
    """Gap-based session windows per key (native session_window operator —
    state merges adjacent sessions as late rows bridge them; the watermark
    finalizes sessions whose close precedes the horizon).

    Output: <key_col>, session_start, session_end, n_events, sum_value.
    """
    src = _watermarked(events, time_col, watermark_delay)
    return (
        src.groupBy(F.session_window(time_col, gap), F.col(key_col))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
        .select(
            key_col,
            F.col("session_window.start").cast("timestamp_ntz").alias("session_start"),
            F.col("session_window.end").cast("timestamp_ntz").alias("session_end"),
            "n_events",
            "sum_value",
        )
    )
