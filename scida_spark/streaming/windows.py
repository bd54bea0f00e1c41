"""Streaming windowed aggregations with watermark late-data handling.

These builders take any streaming DataFrame with an event-time column
and return the aggregated streaming DataFrame; the batch-equivalent
semantics are oracle-checked in queries_pipeline.py (same F.window
calls on the bounded table).

Scale posture: watermark bounds state size (state per open window per
key only); session windows use the built-in ``session_window`` operator
(state merges adjacent sessions under the gap).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def ensure_event_time(df: DataFrame, ts_col: str) -> DataFrame:
    """Normalize the event-time column to TIMESTAMP.

    Parquet written as timestamp[us] without the UTC-adjusted flag
    reads as TIMESTAMP_NTZ under Spark ≥4.1, and ``withWatermark``
    rejects NTZ event time (EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE).
    Session TZ is pinned UTC so the cast keeps wall-clock values.
    """
    if dict(df.dtypes).get(ts_col) == "timestamp_ntz":
        df = df.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
    return df


def session_windows(
    events: DataFrame,
    gap: str = "30 minutes",
    watermark: str = "30 minutes",
    ts_col: str = "ts",
    key_col: str = "user_id",
) -> DataFrame:
    """Native session windows (gap-based merge) — the streaming twin of
    the batch lag+cumsum sessionizer (queries q_sessionization)."""
    events = ensure_event_time(events, ts_col)
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(F.session_window(ts_col, gap), key_col)
        .agg(F.count("*").alias("n_events"), F.min(ts_col).alias("session_start"))
        .select(
            key_col,
            F.col("session_window.start").alias("window_start"),
            "n_events",
        )
    )


def clicks_to_purchases_join(
    events: DataFrame,
    *,
    max_gap: str = "1 hour",
    watermark: str = "2 hours",
    ts_col: str = "ts",
) -> DataFrame:
    """Stream-stream inner join: each purchase matched to the same
    user's clicks in the preceding ``max_gap`` (no reference
    counterpart — Structured Streaming capability, SURVEY §2.7).

    Both sides carry watermarks so the join state is bounded: a click
    is held only until the watermark passes click_ts + max_gap, then
    evicted (Spark derives the state horizon from the time-bound
    condition).
    """
    events = ensure_event_time(events, ts_col)
    clicks = (
        events.filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col(ts_col).alias("click_ts"),
            F.col("event_id").alias("click_id"),
        )
        .withWatermark("click_ts", watermark)
    )
    purchases = (
        events.filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col(ts_col).alias("purchase_ts"),
            F.col("event_id").alias("purchase_id"),
        )
        .withWatermark("purchase_ts", watermark)
    )
    cond = (
        (F.col("c_user") == F.col("p_user"))
        & (F.col("click_ts") <= F.col("purchase_ts"))
        & (F.col("click_ts") >= F.col("purchase_ts") - F.expr(f"INTERVAL {max_gap}"))
    )
    return purchases.join(clicks, cond, "inner").select(
        F.col("p_user").alias("user_id"), "purchase_id", "click_id",
        "purchase_ts", "click_ts",
    )


def run_to_completion(stream_df: DataFrame, query_name: str) -> DataFrame:
    """Drive a bounded streaming source to completion via the memory sink
    (complete mode) and return the result as a batch DataFrame — the
    local-test harness pattern."""
    q = (
        stream_df.writeStream.outputMode("complete")
        .format("memory")
        .queryName(query_name)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return stream_df.sparkSession.sql(f"SELECT * FROM {query_name}")
