"""Streaming incremental connected components: N-batch label store ==
one batch CC over the whole corpus; replay idempotency."""

from __future__ import annotations

import os

import pandas as pd
import pytest
from pyspark.sql.types import LongType, StringType, StructField, StructType

SCHEMA = StructType(
    [StructField("doc_id", LongType()), StructField("text", StringType())]
)

# Three waves engineered so wave 3 BRIDGES two clusters built in
# earlier waves, exact-dups a wave-1 doc, and adds a singleton.
W1 = [
    (1, "the quick brown fox jumps over the lazy dog near the river"),
    (2, "the quick brown fox jumps over the lazy dog near the creek"),
    (3, "entirely different text about distributed query engines at scale"),
    (4, "tiny"),
]
W2 = [
    (10, "entirely different text about distributed query engines at size"),
    (11, "unrelated musings on sketch algorithms and mergeable summaries"),
]
W3 = [
    # bridges cluster{1,2} and cluster{3,10}: near-dup of both families
    (20, "the quick brown fox jumps over the lazy dog near the creek "
         "entirely different text about distributed query engines at scale"),
    (21, "tiny"),          # exact dup of sub-n-token doc 4 (LSH-invisible)
    (22, "a fresh singleton no one resembles in any way whatsoever"),
]


@pytest.fixture()
def dirs(tmp_path):
    d = {k: str(tmp_path / k) for k in ("input", "labels", "index", "ckpt")}
    os.makedirs(d["input"])
    return d


def _run(spark, dirs):
    from scida_spark.streaming.cc import incremental_cc_ingest

    q = incremental_cc_ingest(
        spark,
        dirs["input"],
        SCHEMA,
        labels_dir=dirs["labels"],
        index_dir=dirs["index"],
        checkpoint_dir=dirs["ckpt"],
        threshold=0.3,
        num_perm=64,
        bands=32,
    )
    q.awaitTermination(180)
    assert not q.isActive


def _batch_cc_reference(spark, docs, threshold=0.3):
    """One-shot CC over the union with the SAME edge operator the
    ingest uses (MinHash+LSH + exact digests): per-doc signatures are
    a pure function of (text, seed), and a full-corpus banded self-join
    sees exactly the union of the ingest's within-batch and cross-batch
    banded joins — so N-batch ingest == one batch run of the same
    operator, the honest equivalence for a probabilistic blocker."""
    from scida_spark.functions.dedup import (
        connected_components,
        minhash_dedup_pairs_from_shingles,
        shingle_hash_table,
    )
    from pyspark.sql import functions as F

    df = spark.createDataFrame(docs, "doc_id long, text string")
    sh = shingle_hash_table(df, "doc_id", "text", 3).localCheckpoint(eager=True)
    near = minhash_dedup_pairs_from_shingles(
        sh, num_perm=64, bands=32, threshold=threshold
    ).select("doc_a", "doc_b")
    dig = df.select("doc_id", F.md5("text").alias("d"))
    reps = dig.groupBy("d").agg(F.min("doc_id").alias("doc_a"))
    ex = (
        dig.join(reps, "d")
        .filter(F.col("doc_id") != F.col("doc_a"))
        .select("doc_a", F.col("doc_id").alias("doc_b"))
    )
    comp = {
        r["node"]: r["cluster_id"]
        for r in connected_components(near.unionAll(ex)).collect()
    }
    return {i: comp.get(i, i) for i, _ in docs}


def test_incremental_cc_matches_batch_cc(spark, dirs):
    from scida_spark.streaming.cc import read_labels

    for k, wave in enumerate((W1, W2, W3)):
        pd.DataFrame(wave, columns=["doc_id", "text"]).to_parquet(
            os.path.join(dirs["input"], f"w{k}.parquet")
        )
    _run(spark, dirs)
    got = {
        r["doc"]: r["label"]
        for r in read_labels(spark, dirs["labels"]).collect()
    }
    want = _batch_cc_reference(spark, W1 + W2 + W3)
    assert got == want
    # the engineered guarantees actually hold on this corpus:
    assert want[20] == want[1] == want[3]  # wave-3 doc bridged both clusters
    assert want[21] == want[4]             # exact short-doc dup linked
    assert want[22] == 22                  # singleton stays its own label


def test_incremental_cc_replay_idempotent(spark, dirs):
    from scida_spark.streaming.cc import read_labels

    pd.DataFrame(W1, columns=["doc_id", "text"]).to_parquet(
        os.path.join(dirs["input"], "w0.parquet")
    )
    _run(spark, dirs)
    before = {
        (r["doc"], r["label"])
        for r in read_labels(spark, dirs["labels"]).collect()
    }
    import shutil

    shutil.rmtree(dirs["ckpt"])  # checkpoint loss -> full replay
    _run(spark, dirs)
    after = {
        (r["doc"], r["label"])
        for r in read_labels(spark, dirs["labels"]).collect()
    }
    assert before == after
