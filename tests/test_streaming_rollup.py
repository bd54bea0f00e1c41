"""Incremental materialized-aggregate maintenance: waves of event
files reduce to mergeable per-key partials; the served view must equal
the one-shot batch aggregate exactly (count/sum) and within the HLL
bound (distinct), before AND after compaction, and across multiple
ingest sessions."""

from __future__ import annotations

import os

import pandas as pd
import pytest
from pyspark.sql import functions as F

from scida_spark.streaming.rollup import (
    compact_rollup,
    incremental_multi_store_ingest,
    read_rollup,
    rollup_writer,
)

SCHEMA = "event_id long, event_type string, user_id long, value double"


@pytest.fixture()
def dirs(tmp_path):
    d = {"input": tmp_path / "in", "store": tmp_path / "store", "ckpt": tmp_path / "ckpt"}
    d["input"].mkdir()
    return {k: str(v) for k, v in d.items()}


def _wave(path: str, start: int, n: int, types=("click", "view")) -> None:
    rows = [
        (start + i, types[i % len(types)], (start + i) % 7, float(i) + 0.25)
        for i in range(n)
    ]
    pd.DataFrame(
        rows, columns=["event_id", "event_type", "user_id", "value"]
    ).to_parquet(path)


def _run(spark, dirs):
    q = incremental_multi_store_ingest(
        spark,
        dirs["input"],
        SCHEMA,
        checkpoint_dir=dirs["ckpt"],
        writers=[rollup_writer(dirs["store"], ["event_type"], "value", "user_id")],
    )
    q.awaitTermination(120)
    assert not q.isActive


def _served(spark, dirs):
    return {
        r["event_type"]: (r["n_rows"], float(r["sum_val"]), r["approx_distinct"])
        for r in read_rollup(spark, dirs["store"], ["event_type"]).collect()
    }


def _batch_truth(spark, dirs):
    raw = spark.read.schema(SCHEMA).parquet(dirs["input"])
    return {
        r["event_type"]: (r["n"], float(r["s"]), r["d"])
        for r in raw.groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("value").cast("decimal(38,6)")).alias("s"),
            F.countDistinct("user_id").alias("d"),
        )
        .collect()
    }


def _check(served, truth):
    assert set(served) == set(truth)
    for k, (n, s, d_est) in served.items():
        tn, ts, td = truth[k]
        assert n == tn, (k, n, tn)
        assert s == ts, (k, s, ts)
        assert abs(d_est - td) <= max(2, 0.05 * td), (k, d_est, td)


def test_rollup_matches_batch_and_survives_compaction(spark, dirs):
    _wave(os.path.join(dirs["input"], "w1.parquet"), 0, 40)
    _wave(os.path.join(dirs["input"], "w2.parquet"), 40, 25, types=("click", "purchase"))
    _run(spark, dirs)
    truth = _batch_truth(spark, dirs)
    _check(_served(spark, dirs), truth)

    # compaction folds partials but must not change the served view
    n_folded = compact_rollup(spark, dirs["store"], ["event_type"])
    assert n_folded >= 1
    remaining = [d for d in os.listdir(dirs["store"]) if d.startswith("batch_id=")]
    assert remaining == ["batch_id=-1"]
    _check(_served(spark, dirs), truth)

    # a later ingest session appends new partials on top of the base
    _wave(os.path.join(dirs["input"], "w3.parquet"), 65, 30, types=("view", "signup"))
    _run(spark, dirs)
    _check(_served(spark, dirs), _batch_truth(spark, dirs))


def test_replayed_batch_is_idempotent(spark, dirs):
    """Re-running a batch (simulated by rewriting its batch_id dir the
    way a failure-replay would) must not double-count."""
    _wave(os.path.join(dirs["input"], "w1.parquet"), 0, 30)
    _run(spark, dirs)
    before = _served(spark, dirs)
    # simulate the replay: foreachBatch writes the SAME batch_id again
    store = dirs["store"]
    batch_dirs = [d for d in os.listdir(store) if d.startswith("batch_id=")]
    assert len(batch_dirs) == 1
    raw = spark.read.schema(SCHEMA).parquet(dirs["input"])
    from scida_spark.streaming.rollup import _partial

    _partial(raw, ["event_type"], "value", "user_id", 12).write.mode(
        "overwrite"
    ).parquet(os.path.join(store, batch_dirs[0]))
    assert _served(spark, dirs) == before


def _run_res(spark, dirs, k=4):
    from scida_spark.streaming.rollup import reservoir_writer

    q = incremental_multi_store_ingest(
        spark,
        dirs["input"],
        SCHEMA,
        checkpoint_dir=dirs["ckpt"] + "_res",
        writers=[
            reservoir_writer(dirs["store"] + "_res", ["event_type"], "user_id",
                             k=k, salt="t"),
        ],
        max_files_per_trigger=1,
    )
    q.awaitTermination(120)
    assert not q.isActive


def _res_batch_truth(spark, dirs, k=4):
    from pyspark.sql.window import Window as W

    raw = spark.read.schema(SCHEMA).parquet(dirs["input"])
    keyed = raw.select(
        "event_type",
        "user_id",
        F.md5(F.concat(F.col("user_id").cast("string"), F.lit("t"))).alias(
            "rkey"
        ),
    ).distinct()
    w = W.partitionBy("event_type").orderBy("rkey", "user_id")
    return {
        (r["event_type"], r["rnk"]): r["user_id"]
        for r in keyed.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .collect()
    }


def test_reservoir_equals_batch_topk_and_compacts(spark, dirs):
    """3-wave streaming reservoir == batch min-k-by-hash over all
    distinct (group, id); compaction is a fixed point (bit-identical
    serve); ids overlapping across waves (user_id % 7 repeats every
    wave) are deduped, not double-sampled."""
    from scida_spark.streaming.rollup import (
        compact_reservoir,
        read_reservoir,
    )

    _wave(os.path.join(dirs["input"], "w1.parquet"), 0, 40)
    _wave(os.path.join(dirs["input"], "w2.parquet"), 40, 25,
          types=("click", "purchase"))
    _wave(os.path.join(dirs["input"], "w3.parquet"), 65, 30,
          types=("view", "signup"))
    _run_res(spark, dirs)
    store = dirs["store"] + "_res"
    got = {
        (r["event_type"], r["sample_rank"]): r["rid"]
        for r in read_reservoir(spark, store, ["event_type"], k=4).collect()
    }
    assert got == _res_batch_truth(spark, dirs)
    assert compact_reservoir(spark, store, ["event_type"], k=4) >= 3
    post = {
        (r["event_type"], r["sample_rank"]): r["rid"]
        for r in read_reservoir(spark, store, ["event_type"], k=4).collect()
    }
    assert post == got
    # small groups: purchase/signup have < 4+ distinct users? every
    # group reports min(k, distinct) rows
    assert all(rank <= 4 for _, rank in got)


def test_multi_store_ingest_one_pass_feeds_both(spark, dirs):
    """incremental_multi_store_ingest: ONE streaming pass writes both
    the rollup and reservoir partials; each served view equals its
    single-ingest / batch truth exactly."""
    from scida_spark.streaming.rollup import read_reservoir, reservoir_writer

    _wave(os.path.join(dirs["input"], "w1.parquet"), 0, 40)
    _wave(os.path.join(dirs["input"], "w2.parquet"), 40, 25,
          types=("click", "purchase"))
    res_store = dirs["store"] + "_res2"
    q = incremental_multi_store_ingest(
        spark,
        dirs["input"],
        SCHEMA,
        checkpoint_dir=dirs["ckpt"] + "_multi",
        writers=[
            rollup_writer(dirs["store"], ["event_type"], "value", "user_id"),
            reservoir_writer(res_store, ["event_type"], "user_id", k=4,
                             salt="t"),
        ],
        max_files_per_trigger=1,
    )
    q.awaitTermination(120)
    assert not q.isActive
    # rollup half == one-shot batch aggregate (exact components)
    truth = _batch_truth(spark, dirs)
    served = _served(spark, dirs)
    assert set(served) == set(truth)
    for t in truth:
        assert served[t][0] == truth[t][0] and served[t][1] == truth[t][1]
    # reservoir half == batch min-k-by-hash
    got = {
        (r["event_type"], r["sample_rank"]): r["rid"]
        for r in read_reservoir(spark, res_store, ["event_type"], k=4).collect()
    }
    assert got == _res_batch_truth(spark, dirs)
