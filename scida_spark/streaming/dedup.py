"""Streaming deduplication.

:func:`dedup_stream` — exactly-once-per-key emission inside the
watermark horizon via ``dropDuplicatesWithinWatermark`` (bounded state:
keys expire with the watermark).
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def dedup_stream(
    events: DataFrame,
    key_cols: list[str],
    watermark: str = "1 hour",
    ts_col: str = "ts",
) -> DataFrame:
    from scida_spark.streaming.windows import ensure_event_time

    events = ensure_event_time(events, ts_col)
    return events.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(key_cols)
