"""Incremental exact-substring index (streaming/esubindex.py):
incremental == batch bitwise, replay idempotence, takedown masking,
meta validation — the postings-store contract matrix applied to the
first store built entirely on storekit."""

import os
import random

import pandas as pd
import pytest

from scida_spark.functions.dedup import exact_substring_pairs
from scida_spark.streaming.esubindex import (
    delete_esub_docs,
    incremental_esub_ingest,
    read_esub_pairs,
)

SCHEMA = "doc_id long, text string"
L, K = 60, 16

random.seed(99)
_ALPH = "abcdefghij "


def _rnd(n):
    return "".join(random.choice(_ALPH) for _ in range(n))


# 24 base docs; planted verbatim 80-char shares both WITHIN one wave
# and ACROSS waves (the cross-batch join under test), plus a sub-L
# share that must never pair.
BASE = [_rnd(180) for _ in range(24)]
DOCS = [(i, t) for i, t in enumerate(BASE)]
DOCS += [
    (100, _rnd(15) + BASE[2][40:120] + _rnd(10)),   # wave 0 twin of 2
    (101, _rnd(15) + BASE[9][30:110] + _rnd(10)),   # wave 1 twin of 9 (same wave)
    (102, _rnd(15) + BASE[1][50:130] + _rnd(10)),   # wave 2 twin of 1 (cross-wave)
    (103, _rnd(25) + BASE[3][10:65] + _rnd(25)),    # 55 chars: sub-L, no pair
]
WAVES = [
    [d for d in DOCS if d[0] in set(range(8)) | {100}],
    [d for d in DOCS if d[0] in set(range(8, 16)) | {101}],
    [d for d in DOCS if d[0] in set(range(16, 24)) | {102, 103}],
]


@pytest.fixture()
def dirs(tmp_path):
    d = {"input": tmp_path / "in", "index": tmp_path / "idx", "ckpt": tmp_path / "ck"}
    d["input"].mkdir()
    return {k: str(v) for k, v in d.items()}


def _write_wave(path, rows):
    pd.DataFrame(rows, columns=["doc_id", "text"]).to_parquet(path)


def _ingest(spark, dirs, n_waves=3, **kw):
    for i in range(n_waves):
        _write_wave(os.path.join(dirs["input"], f"w{i}.parquet"), WAVES[i])
    q = incremental_esub_ingest(
        spark, dirs["input"], SCHEMA,
        index_dir=dirs["index"], checkpoint_dir=dirs["ckpt"],
        min_len=L, k=K, **kw,
    )
    q.awaitTermination(180)
    assert not q.isActive


def _pairs(df):
    return sorted((r["doc_a"], r["doc_b"]) for r in df.collect())


def _batch_pairs(spark, rows):
    df = spark.createDataFrame(rows, SCHEMA)
    return _pairs(exact_substring_pairs(df, "doc_id", "text", L, K))


def test_incremental_equals_batch(spark, dirs):
    _ingest(spark, dirs)
    got = _pairs(read_esub_pairs(spark, dirs["index"]))
    want = _batch_pairs(spark, DOCS)
    assert got == want and len(got) >= 3
    assert (2, 100) in got and (9, 101) in got and (1, 102) in got
    assert (3, 103) not in got  # sub-L share


def test_replay_idempotent(spark, dirs):
    """A fresh checkpoint over the same input replays every batch;
    batch_id=N overwrite + the before_batch history guard keep the
    answer identical (no doc pairs with itself, nothing doubles)."""
    _ingest(spark, dirs)
    first = _pairs(read_esub_pairs(spark, dirs["index"]))
    import shutil

    shutil.rmtree(dirs["ckpt"])
    _ingest(spark, dirs)
    assert _pairs(read_esub_pairs(spark, dirs["index"])) == first


def test_takedown_masks(spark, dirs):
    _ingest(spark, dirs)
    before = _pairs(read_esub_pairs(spark, dirs["index"]))
    assert (2, 100) in before
    delete_esub_docs(spark, dirs["index"], [2], batch_id=50)
    masked = _pairs(read_esub_pairs(spark, dirs["index"]))
    assert (2, 100) not in masked
    assert masked == [p for p in before if 2 not in p]


def test_meta_validated_on_reopen(spark, dirs):
    _ingest(spark, dirs, n_waves=1)
    _write_wave(os.path.join(dirs["input"], "w9.parquet"), WAVES[1])
    q = incremental_esub_ingest(
        spark, dirs["input"], SCHEMA,
        index_dir=dirs["index"],
        checkpoint_dir=dirs["ckpt"] + "2",
        min_len=40, k=K,  # conflicting min_len: must refuse
    )
    with pytest.raises(Exception, match="refusing"):
        try:
            q.awaitTermination(120)
        except Exception as exc:  # unwrap the streaming wrapper
            raise RuntimeError(str(exc)) from exc
        finally:
            q.stop()


def test_esub_probe_targeted_serve(spark, dirs):
    """Online probe: new (un-ingested) docs report exactly their
    >= L-char-share partners among ingested docs; pruning + masking
    hold; unrelated probes report nothing."""
    from scida_spark.streaming.esubindex import delete_esub_docs, esub_probe

    _ingest(spark, dirs)
    probe_share = BASE[4][30:120]  # 90 verbatim chars of ingested doc 4
    probes = spark.createDataFrame(
        [
            (9000, _rnd(12) + probe_share + _rnd(12)),
            (9001, _rnd(150)),  # unrelated
            (9002, BASE[7][: 55]),  # sub-L prefix: no hit
        ],
        SCHEMA,
    )
    got = {
        (r["probe_id"], r["doc"])
        for r in esub_probe(spark, dirs["index"], probes).collect()
    }
    assert (9000, 4) in got
    assert not {p for p, _ in got} & {9001, 9002}
    # tombstoned partner stops serving
    delete_esub_docs(spark, dirs["index"], [4], batch_id=60)
    got2 = {
        (r["probe_id"], r["doc"])
        for r in esub_probe(spark, dirs["index"], probes).collect()
    }
    assert (9000, 4) not in got2
