"""Incremental streaming vector index (streaming/vecindex.py): serve
from the store is bit-identical to batch ivf_topk over the live
corpus, replays are idempotent, tombstones mask, and compaction is a
fixed point that applies them."""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from scida_spark.functions.similarity import build_ivf_index, ivf_topk
from scida_spark.streaming.vecindex import (
    compact_vector_store,
    create_vector_store,
    delete_vectors,
    incremental_vector_ingest,
    ivf_topk_from_store,
    read_vectors,
    vector_index_writer,
)

NP = 3  # nprobe used throughout


def _emb_df(spark, n=120, dim=8, seed=3):
    rng = np.random.RandomState(seed)
    rows = [
        (i, [float(x) for x in rng.normal(0, 1, dim)]) for i in range(n)
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def _topk_set(df):
    return sorted(
        (r["query_id"], r["cand_id"], r["sim"], r["rank"]) for r in df.collect()
    )


@pytest.fixture()
def store(spark, tmp_path):
    emb = _emb_df(spark)
    cent = build_ivf_index(emb, nlist=4)
    sdir = str(tmp_path / "vstore")
    create_vector_store(spark, sdir, cent)
    return sdir, emb, cent


def test_serve_equals_batch_after_three_batches(spark, store):
    sdir, emb, cent = store
    w = vector_index_writer(sdir)
    for k, (lo, hi) in enumerate([(0, 40), (40, 80), (80, 120)]):
        w(emb.filter((F.col("vec_id") >= lo) & (F.col("vec_id") < hi)), k)
    q = emb.filter(F.col("vec_id") < 4)
    served = ivf_topk_from_store(spark, sdir, q, k=5, nprobe=NP)
    batch = ivf_topk(emb, q, k=5, centroids=cent, nprobe=NP)
    assert _topk_set(served) == _topk_set(batch)  # bit-identical


def test_replay_idempotent(spark, store):
    sdir, emb, cent = store
    w = vector_index_writer(sdir)
    b1 = emb.filter(F.col("vec_id") < 60)
    b2 = emb.filter(F.col("vec_id") >= 60)
    w(b1, 0)
    w(b2, 1)
    q = emb.filter(F.col("vec_id") < 3)
    before = _topk_set(ivf_topk_from_store(spark, sdir, q, k=5, nprobe=NP))
    w(b2, 1)  # replayed micro-batch overwrites its own partial
    after = _topk_set(ivf_topk_from_store(spark, sdir, q, k=5, nprobe=NP))
    assert before == after
    assert read_vectors(spark, sdir).count() == 120  # no double-ingest


def test_deletes_mask_and_match_batch_rebuild(spark, store):
    sdir, emb, cent = store
    w = vector_index_writer(sdir)
    w(emb, 0)
    dead = [i for i in range(120) if i % 7 == 5]
    delete_vectors(spark, sdir, dead, batch_id=100)
    q = emb.filter(F.col("vec_id") < 4)
    served = ivf_topk_from_store(spark, sdir, q, k=5, nprobe=NP)
    live = emb.filter(~F.col("vec_id").isin(dead))
    batch = ivf_topk(live, q, k=5, centroids=cent, nprobe=NP)
    assert _topk_set(served) == _topk_set(batch)
    got = {r["cand_id"] for r in served.collect()}
    assert not (got & set(dead))


def test_compaction_fixed_point_and_applies_tombstones(spark, store):
    sdir, emb, cent = store
    w = vector_index_writer(sdir)
    for k, (lo, hi) in enumerate([(0, 40), (40, 80), (80, 120)]):
        w(emb.filter((F.col("vec_id") >= lo) & (F.col("vec_id") < hi)), k)
    dead = list(range(0, 120, 11))
    delete_vectors(spark, sdir, dead, batch_id=50)
    q = emb.filter((F.col("vec_id") > 110) & (F.col("vec_id") < 115))
    pre = _topk_set(ivf_topk_from_store(spark, sdir, q, k=5, nprobe=NP))
    assert compact_vector_store(spark, sdir) == 3
    post = _topk_set(ivf_topk_from_store(spark, sdir, q, k=5, nprobe=NP))
    assert pre == post  # fixed point
    # tombstones APPLIED: rows gone from the store, delete dir cleared
    assert read_vectors(spark, sdir, apply_deletes=False).count() == 120 - len(
        dead
    )
    assert not os.path.isdir(os.path.join(sdir, "deletes")) or not any(
        d.startswith("batch_id=") for d in os.listdir(os.path.join(sdir, "deletes"))
    )
    assert compact_vector_store(spark, sdir) == 0  # nothing left to fold


def test_real_stream_ingest(spark, store, tmp_path):
    """availableNow file stream, 3 genuine micro-batches
    (maxFilesPerTrigger=1), serve == batch."""
    sdir, emb, cent = store
    inp = str(tmp_path / "input")
    os.makedirs(inp)
    pdf = emb.toPandas()
    for k, (lo, hi) in enumerate([(0, 40), (40, 80), (80, 120)]):
        pd.DataFrame(
            pdf[(pdf.vec_id >= lo) & (pdf.vec_id < hi)]
        ).to_parquet(os.path.join(inp, f"b{k}.parquet"))
    sq = incremental_vector_ingest(
        spark,
        inp,
        "vec_id long, embedding array<double>",
        store_dir=sdir,
        checkpoint_dir=str(tmp_path / "ckpt"),
        max_files_per_trigger=1,
    )
    sq.awaitTermination(180)
    assert not sq.isActive
    n_b = len(
        [
            d
            for d in os.listdir(os.path.join(sdir, "vectors"))
            if d.startswith("batch_id=")
        ]
    )
    assert n_b == 3
    q = emb.filter(F.col("vec_id") < 4)
    served = ivf_topk_from_store(spark, sdir, q, k=5, nprobe=NP)
    batch = ivf_topk(emb, q, k=5, centroids=cent, nprobe=NP)
    assert _topk_set(served) == _topk_set(batch)


def test_meta_validation_and_missing_store(spark, store, tmp_path):
    sdir, emb, cent = store
    # re-create with the same params: no-op
    create_vector_store(spark, sdir, cent)
    # different quantizer shape: refused
    with pytest.raises(ValueError, match="refusing to re-create"):
        create_vector_store(spark, sdir, cent[:2])
    # serve/ingest without a quantizer: loud failure, not silence
    with pytest.raises(FileNotFoundError, match="create_vector_store"):
        ivf_topk_from_store(
            spark, str(tmp_path / "nostore"), emb.limit(1), k=3
        )


def test_second_maintainer_raises(spark, store):
    """A FOREIGN live maintainer (pid 1 — always alive) blocks
    compaction; own-pid locks are deliberately stealable."""
    import json

    from scida_spark.streaming import storefs

    sdir, emb, cent = store
    vector_index_writer(sdir)(emb, 0)
    lock = os.path.join(sdir, storefs.LOCK_FILE)
    with open(lock, "w") as f:
        json.dump({"pid": 1}, f)
    try:
        with pytest.raises(RuntimeError, match="single-writer"):
            compact_vector_store(spark, sdir)
    finally:
        os.remove(lock)
    assert compact_vector_store(spark, sdir) == 1  # lock gone: proceeds


def test_vecindex_composes_with_multi_store_ingest(spark, store, tmp_path):
    """The vector writer rides the ONE-pass multi-store ingest next to
    a postings writer: one stream with BOTH text and vector columns
    maintains the retrieval index AND the vector index, and the served
    top-k matches the standalone batch truth (the driftgate/postings
    composition precedent — N materializations, one readStream)."""
    from scida_spark.streaming.postings import (
        bm25_topk_from_store,
        postings_writer,
    )
    from scida_spark.streaming.rollup import incremental_multi_store_ingest

    sdir, emb, cent = store
    pstore = str(tmp_path / "pstore")
    inp = str(tmp_path / "input")
    os.makedirs(inp)
    pdf = emb.toPandas()
    texts = ["hash join scan", "stream window agg", "vector list probe"]
    pdf["doc_id"] = pdf["vec_id"]
    pdf["text"] = [f"{texts[i % 3]} d{i}" for i in range(len(pdf))]
    for k, (lo, hi) in enumerate([(0, 60), (60, 120)]):
        pdf[(pdf.vec_id >= lo) & (pdf.vec_id < hi)].to_parquet(
            os.path.join(inp, f"b{k}.parquet")
        )
    q = incremental_multi_store_ingest(
        spark,
        inp,
        "vec_id long, embedding array<double>, doc_id long, text string",
        checkpoint_dir=str(tmp_path / "ckpt"),
        writers=[
            postings_writer(pstore),
            lambda df, bid: vector_index_writer(sdir)(
                df.select("vec_id", "embedding"), bid
            ),
        ],
        max_files_per_trigger=1,
    )
    q.awaitTermination(180)
    assert not q.isActive
    qv = emb.filter(F.col("vec_id") < 4)
    served = ivf_topk_from_store(spark, sdir, qv, k=5, nprobe=NP)
    batch = ivf_topk(emb, qv, k=5, centroids=cent, nprobe=NP)
    assert _topk_set(served) == _topk_set(batch)
    got = bm25_topk_from_store(spark, pstore, [(0, "vector probe")], k=3)
    assert got.count() == 3


def test_empty_store_serves_empty(spark, store):
    """A created-but-never-ingested store serves an empty top-k (and
    an empty read), not a missing-path crash."""
    sdir, emb, cent = store
    assert read_vectors(spark, sdir).count() == 0
    got = ivf_topk_from_store(
        spark, sdir, emb.filter(F.col("vec_id") < 2), k=5, nprobe=NP
    )
    assert got.count() == 0
    assert got.columns == ["query_id", "cand_id", "sim", "rank"]



def test_hybrid_rrf_from_both_stores(spark, store, tmp_path):
    """Hybrid retrieval SERVED end-to-end from the two incrementally
    maintained stores: rrf_fuse(bm25-from-postings-store,
    ivf-from-vector-store) is bit-identical to fusing the batch
    rankers — both legs are serve==batch, and the fusion is rank-only,
    so the hybrid result inherits the equivalence."""
    from scida_spark.functions.retrieval import bm25_topk, rrf_fuse
    from scida_spark.streaming.postings import (
        bm25_topk_from_store,
        postings_writer,
    )

    sdir, emb, cent = store
    vector_index_writer(sdir)(emb, 0)
    pstore = str(tmp_path / "pstore")
    texts = ["hash join scan", "stream window agg", "vector list probe"]
    docs = spark.createDataFrame(
        [(i, f"{texts[i % 3]} d{i}") for i in range(120)],
        "doc_id long, text string",
    )
    pw = postings_writer(pstore)
    pw(docs.filter(F.col("doc_id") < 60), 0)
    pw(docs.filter(F.col("doc_id") >= 60), 1)

    queries_txt = [(0, "vector probe"), (1, "stream agg")]
    qv = emb.filter(F.col("vec_id") < 2)

    text_s = bm25_topk_from_store(spark, pstore, queries_txt, k=10)
    vec_s = ivf_topk_from_store(spark, sdir, qv, k=10, nprobe=NP).select(
        "query_id", F.col("cand_id").alias("doc_id"), "sim", "rank"
    )
    hybrid_s = rrf_fuse(text_s, vec_s, k=10)

    text_b = bm25_topk(docs, queries_txt, k=10)
    vec_b = ivf_topk(emb, qv, k=10, centroids=cent, nprobe=NP).select(
        "query_id", F.col("cand_id").alias("doc_id"), "sim", "rank"
    )
    hybrid_b = rrf_fuse(text_b, vec_b, k=10)

    got = sorted(
        (r["query_id"], r["doc_id"], r["score"], r["rank"])
        for r in hybrid_s.collect()
    )
    want = sorted(
        (r["query_id"], r["doc_id"], r["score"], r["rank"])
        for r in hybrid_b.collect()
    )
    assert got == want and len(got) > 0


def test_mmr_diversifies_served_candidates(spark, store):
    """Composition: MMR re-rank over candidates SERVED from the
    incremental vector store (the serving-tier diversification pass).
    The diversified list equals mmr over the batch twin's candidates
    (both legs serve identical candidate sets), and with lam pushing
    hard toward diversity a near-duplicate of the top hit drops below
    a distinct vector."""
    from scida_spark.functions.similarity import mmr_rerank

    sdir, emb, cent = store
    vector_index_writer(sdir)(emb, 0)
    q = emb.filter(F.col("vec_id") == 0)
    served = ivf_topk_from_store(spark, sdir, q, k=8, nprobe=NP)
    vecs = emb.select(
        F.col("vec_id").alias("cand_id"),
        F.col("embedding").cast("array<double>").alias("cvec"),
    )
    cands_s = served.join(vecs, "cand_id").select(
        "query_id", "cand_id", F.col("sim").alias("rel"), "cvec"
    )
    batch = ivf_topk(emb, q, k=8, centroids=cent, nprobe=NP)
    cands_b = batch.join(vecs, "cand_id").select(
        "query_id", "cand_id", F.col("sim").alias("rel"), "cvec"
    )
    got_s = sorted(
        (r["step"], r["cand_id"], r["score"])
        for r in mmr_rerank(cands_s, k=4, lam=0.6).collect()
    )
    got_b = sorted(
        (r["step"], r["cand_id"], r["score"])
        for r in mmr_rerank(cands_b, k=4, lam=0.6).collect()
    )
    assert got_s == got_b and len(got_s) == 4
