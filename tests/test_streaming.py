"""Structured Streaming tests: drive bounded file sources to completion
through the memory sink and compare against the batch-computed truth."""

import os

import pytest
from pyspark.sql import functions as F

from scida_spark.streaming import dedup as SD
from scida_spark.streaming import windows as SW
from scida_spark.tables import table


@pytest.fixture(scope="module")
def events_stream(spark, sf_dir, tmp_path_factory):
    """events (ts converted to proper timestamps) written to a stream-
    readable parquet dir + its batch twin."""
    out = str(tmp_path_factory.mktemp("events_stream"))
    batch = table(spark, sf_dir, "events")
    batch.write.mode("overwrite").parquet(out)
    schema = spark.read.parquet(out).schema
    stream = spark.readStream.schema(schema).parquet(out)
    return stream, spark.read.parquet(out)


def test_session_windows_stream(spark, events_stream):
    stream, batch = events_stream
    res = SW.run_to_completion(SW.session_windows(stream), "t_sessions")
    # session count per user must match the batch lag+cumsum sessionizer
    got = res.groupBy("user_id").count().collect()
    got_map = {r["user_id"]: r["count"] for r in got}
    from pyspark.sql.window import Window as W

    w = W.partitionBy("user_id").orderBy("ts")
    gap = F.col("ts").cast("long") - F.lag(F.col("ts")).over(w).cast("long")
    sessions = (
        batch.withColumn("new", F.when(gap.isNull() | (gap > 1800), 1).otherwise(0))
        .groupBy("user_id")
        .agg(F.sum("new").alias("n_sessions"))
    )
    expect_map = {r["user_id"]: r["n_sessions"] for r in sessions.collect()}
    assert got_map == expect_map


def test_dedup_stream(spark, events_stream, tmp_path):
    stream, batch = events_stream
    deduped = SD.dedup_stream(stream, ["user_id", "event_type"])
    q = (
        deduped.writeStream.outputMode("append")
        .format("memory")
        .queryName("t_dedup")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = spark.sql("SELECT count(*) AS n FROM t_dedup").first()["n"]
    expect = batch.select("user_id", "event_type").distinct().count()
    assert got == expect


def test_watermark_drops_late_rows(spark, tmp_path):
    """Late-data policy: rows older than watermark are dropped from
    append-mode windowed aggregation — fed as two ordered micro-batches
    so the watermark from batch 1 gates batch 2."""
    import os
    from pyspark.sql.types import (
        StructType, StructField, TimestampType, LongType
    )
    src = str(tmp_path / "late_src")
    os.makedirs(src)
    schema = StructType([
        StructField("ts", TimestampType(), True),
        StructField("v", LongType(), True),
    ])
    on_time = spark.createDataFrame(
        [("2024-01-01 10:00:30", 1), ("2024-01-01 11:00:30", 2)],
        "ts string, v long",
    ).select(F.col("ts").cast("timestamp").alias("ts"), "v")
    late = spark.createDataFrame(
        [("2024-01-01 09:00:10", 99)], "ts string, v long"
    ).select(F.col("ts").cast("timestamp").alias("ts"), "v")
    on_time.write.parquet(src + "/b1")
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src + "/*")
    )
    agg = (
        stream.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour"))
        .agg(F.count("*").alias("n"), F.sum("v").alias("s"))
    )
    q = (
        agg.writeStream.outputMode("append")
        .format("memory")
        .queryName("t_late")
        .start()
    )
    try:
        q.processAllAvailable()  # batch 1: watermark advances to ~10:50
        late.write.parquet(src + "/b2")  # 09:00 row arrives late
        q.processAllAvailable()
    finally:
        q.stop()
    rows = spark.sql("SELECT * FROM t_late").collect()
    # The 09:00 window is below the watermark -> the late row must not
    # create or update a window; only fully-closed on-time windows emit.
    assert all(r["s"] != 99 for r in rows)


def test_stream_stream_join_matches_batch(spark, events_stream):
    """Stream-stream purchase⋈click join equals the batch join on the
    bounded input."""
    stream, batch = events_stream
    res = SW.clicks_to_purchases_join(stream)
    q = (
        res.writeStream.outputMode("append")
        .format("memory")
        .queryName("t_ssj")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = {
        (r.purchase_id, r.click_id)
        for r in spark.sql("SELECT * FROM t_ssj").collect()
    }
    c = batch.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("cu"), F.col("ts").alias("cts"), F.col("event_id").alias("cid")
    )
    p = batch.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("pu"), F.col("ts").alias("pts"), F.col("event_id").alias("pid")
    )
    expect = {
        (r.pid, r.cid)
        for r in p.join(
            c,
            (F.col("cu") == F.col("pu"))
            & (F.col("cts") <= F.col("pts"))
            & (F.col("cts") >= F.col("pts") - F.expr("INTERVAL 1 HOUR")),
        ).collect()
    }
    assert got == expect


def test_session_window_stream_drops_watermark_late_rows(spark, tmp_path):
    """VERDICT r2 #9: an end-to-end Structured Streaming run of
    session_window fed OUT-OF-ORDER events through a parquet file
    stream (one file per micro-batch), asserting the watermark drops
    the late row.

    Timeline (seconds, gap=30min=1800s, watermark=30min):
      batch 1: user 7 at t=1000 and t=5000  → watermark after: 3200
      batch 2: t=5100 (on time, extends the 5000-session) and t=500
               (LATE — below watermark 3200 → must be dropped)
      batch 3: t=12000 → watermark 10200 closes the 5000/5100 session
    Expected emitted sessions: start=1000 with n=1 (the late t=500 row
    neither created a session nor merged into this one), and
    start=5000 with n=2."""
    import pandas as pd

    src = tmp_path / "sessions_src"
    src.mkdir()

    def write(name, ts_list):
        pd.DataFrame(
            {"TsSec": [float(t) for t in ts_list], "UserId": [7] * len(ts_list)}
        ).to_parquet(src / f"{name}.parquet")

    write("b1", [1000, 5000])
    stream = (
        spark.readStream.schema("TsSec double, UserId long")
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src))
        .select(
            F.col("TsSec").cast("timestamp").alias("ts"),
            F.col("UserId").alias("user_id"),
        )
    )
    agg = SW.session_windows(stream, gap="30 minutes", watermark="30 minutes")
    q = (
        agg.writeStream.outputMode("append")
        .format("memory")
        .queryName("t_sess_late")
        .start()
    )
    try:
        q.processAllAvailable()  # batch 1 → watermark 3200
        write("b2", [5100, 500])
        q.processAllAvailable()  # batch 2: 5100 on time, 500 late
        write("b3", [12000])
        q.processAllAvailable()  # batch 3 closes the 5000-session
    finally:
        q.stop()
    rows = spark.sql("SELECT * FROM t_sess_late ORDER BY window_start").collect()
    sessions = {r["window_start"].timestamp(): r["n_events"] for r in rows}
    # the late 500s row must not appear anywhere
    assert 500.0 not in sessions
    # the 1000s session closed with exactly its one on-time row
    assert sessions.get(1000.0) == 1
    # the 5000s session merged the on-time 5100 row only
    assert sessions.get(5000.0) == 2


def test_ntz_parquet_event_time_regression(spark, tmp_path):
    """Parquet written as timestamp[us] WITHOUT the UTC-adjusted flag
    reads as TIMESTAMP_NTZ under Spark >=4.1; ensure_event_time must
    normalize it so watermarked streams still run (the r5 break)."""
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    out = tmp_path / "ntz_events"
    out.mkdir()
    ts = pd.date_range("2024-01-01", periods=200, freq="90s")
    tbl = pa.table(
        {
            "ts": pa.array(ts, type=pa.timestamp("us")),  # no tz => NTZ in Spark
            "event_type": pa.array(["click", "view"] * 100),
            "value": pa.array([float(i) for i in range(200)]),
        }
    )
    pq.write_table(tbl, str(out / "part-0.parquet"))

    batch = spark.read.parquet(str(out))
    assert dict(batch.dtypes)["ts"] == "timestamp_ntz"

    stream = SW.ensure_event_time(
        spark.readStream.schema(batch.schema).parquet(str(out)), "ts"
    )
    tumbling = (
        stream.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "10 minutes"), "event_type")
        .agg(F.count("*").alias("n"))
    )
    res = SW.run_to_completion(tumbling, "t_ntz_reg")
    rows = res.collect()
    assert sum(r["n"] for r in rows) == 200
    # batch twin through the same normalization
    nb = SW.ensure_event_time(batch, "ts")
    expect = (
        nb.groupBy(F.window("ts", "10 minutes"), "event_type").count().count()
    )
    assert len(rows) == expect


