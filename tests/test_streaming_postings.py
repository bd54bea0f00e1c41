"""Incremental retrieval-index store (streaming/postings.py): serve
from the accumulated postings/doclen/stats partials must equal a batch
bm25/QL rebuild over the full corpus BIT-FOR-BIT, before and after
compaction; bucket pruning must reach the parquet scan."""

from __future__ import annotations

import os
import zlib

import pandas as pd
import pytest
from pyspark.sql import functions as F

from scida_spark.functions.retrieval import bm25_topk, query_likelihood_topk
from scida_spark.streaming.postings import (
    DEFAULT_BUCKETS,
    bm25_topk_from_store,
    compact_postings,
    incremental_postings_ingest,
    ql_topk_from_store,
    read_corpus_stats,
    term_bucket,
)

SCHEMA = "doc_id long, text string"

TEXTS = [
    "hash join order scan",
    "stream window agg window",
    "the dup the dup the",
    "sort merge join hash hash",
    "scan scan scan",
    "window stream batch",
    "the quick brown fox",
    "join hash stream",
    "",
]

QUERIES = [(0, "hash join"), (1, "stream window"), (2, "the dup")]


@pytest.fixture()
def dirs(tmp_path):
    d = {
        "input": tmp_path / "in",
        "store": tmp_path / "store",
        "ckpt": tmp_path / "ckpt",
    }
    d["input"].mkdir()
    return {k: str(v) for k, v in d.items()}


def _wave(path: str, lo: int, hi: int) -> None:
    rows = [
        (i, TEXTS[i % len(TEXTS)] + (" extra" if i % 4 == 0 else ""))
        for i in range(lo, hi)
    ]
    pd.DataFrame(rows, columns=["doc_id", "text"]).to_parquet(path)


def _ingest(spark, dirs, **kw):
    q = incremental_postings_ingest(
        spark,
        dirs["input"],
        SCHEMA,
        store_dir=dirs["store"],
        checkpoint_dir=dirs["ckpt"],
        **kw,
    )
    q.awaitTermination(120)
    assert not q.isActive


def _rows(df):
    return sorted(
        (r["query_id"], r["doc_id"], r["score"], r["rank"])
        for r in df.collect()
    )


def test_serve_equals_batch_bitwise(spark, dirs):
    """3 ingested waves; bm25 and QL served from the store must match
    the batch rankers over the concatenated corpus EXACTLY (same
    doubles — shared scorer, identical index content)."""
    _wave(os.path.join(dirs["input"], "w0.parquet"), 0, 30)
    _ingest(spark, dirs, max_files_per_trigger=1)
    _wave(os.path.join(dirs["input"], "w1.parquet"), 30, 55)
    _wave(os.path.join(dirs["input"], "w2.parquet"), 55, 80)
    _ingest(spark, dirs, max_files_per_trigger=1)

    # the store really is incremental: one dir per micro-batch
    batches = [
        d
        for d in os.listdir(os.path.join(dirs["store"], "postings"))
        if d.startswith("batch_id=")
    ]
    assert len(batches) == 3, batches

    docs = spark.read.schema(SCHEMA).parquet(dirs["input"])
    assert read_corpus_stats(spark, dirs["store"]) == (
        80,
        docs.select(
            F.coalesce(
                F.sum(F.size(F.split(F.trim("text"), r"\s+"))), F.lit(0)
            )
        ).first()[0],
    )

    got_bm = _rows(bm25_topk_from_store(spark, dirs["store"], QUERIES, k=5))
    want_bm = _rows(bm25_topk(docs, QUERIES, k=5))
    assert got_bm == want_bm and len(got_bm) > 0

    got_ql = _rows(ql_topk_from_store(spark, dirs["store"], QUERIES, k=5))
    want_ql = _rows(query_likelihood_topk(docs, QUERIES, k=5))
    assert got_ql == want_ql and len(got_ql) > 0


def test_compaction_is_fixed_point(spark, dirs):
    _wave(os.path.join(dirs["input"], "w0.parquet"), 0, 20)
    _ingest(spark, dirs, max_files_per_trigger=1)
    _wave(os.path.join(dirs["input"], "w1.parquet"), 20, 45)
    _ingest(spark, dirs, max_files_per_trigger=1)

    before_bm = _rows(bm25_topk_from_store(spark, dirs["store"], QUERIES))
    before_ql = _rows(ql_topk_from_store(spark, dirs["store"], QUERIES))
    before_cs = read_corpus_stats(spark, dirs["store"])
    assert compact_postings(spark, dirs["store"]) == 2
    for sub in ("postings", "doclen", "stats"):
        dirs_left = [
            d
            for d in os.listdir(os.path.join(dirs["store"], sub))
            if d.startswith("batch_id=")
        ]
        assert dirs_left == ["batch_id=-1"], (sub, dirs_left)
    assert read_corpus_stats(spark, dirs["store"]) == before_cs
    assert _rows(bm25_topk_from_store(spark, dirs["store"], QUERIES)) == before_bm
    assert _rows(ql_topk_from_store(spark, dirs["store"], QUERIES)) == before_ql
    # compacting a compacted store is a no-op
    assert compact_postings(spark, dirs["store"]) == 0


def test_replayed_batch_is_idempotent(spark, dirs):
    """Re-running the SAME writer for a batch id overwrites instead of
    double-counting (the batch_id=N overwrite contract)."""
    from scida_spark.streaming.postings import postings_writer

    docs = spark.createDataFrame(
        [(i, TEXTS[i % len(TEXTS)]) for i in range(25)], SCHEMA
    )
    w = postings_writer(dirs["store"])
    w(docs, 0)
    first = _rows(bm25_topk_from_store(spark, dirs["store"], QUERIES))
    w(docs, 0)  # replay
    assert read_corpus_stats(spark, dirs["store"])[0] == 25
    assert _rows(bm25_topk_from_store(spark, dirs["store"], QUERIES)) == first


def test_bucket_function_matches_jvm(spark):
    """term_bucket (zlib.crc32) must equal the JVM crc32 the writer
    partitions by, or pruning would silently drop postings."""
    terms = ["hash", "join", "stream", "window", "the", "dup", "zzz", "é"]
    df = spark.createDataFrame([(t,) for t in terms], "tok string")
    got = {
        r["tok"]: r["b"]
        for r in df.select(
            "tok",
            (F.crc32(F.col("tok").cast("binary")) % DEFAULT_BUCKETS)
            .cast("int")
            .alias("b"),
        ).collect()
    }
    assert got == {t: term_bucket(t) for t in terms}


def test_bucket_pruning_reaches_scan(spark, dirs):
    """The served plan must show partition pruning on tok_bucket —
    the point of sharding the postings (only the query terms' buckets
    are read)."""
    from scida_spark.streaming.postings import read_postings, postings_writer

    docs = spark.createDataFrame(
        [(i, TEXTS[i % len(TEXTS)]) for i in range(25)], SCHEMA
    )
    postings_writer(dirs["store"])(docs, 0)
    p = read_postings(spark, dirs["store"], terms={"hash", "join"})
    plan = p._jdf.queryExecution().executedPlan().toString()
    assert "tok_bucket" in plan
    # the scan's partition filter prunes buckets: reading ALL postings
    # would list every bucket dir; the pruned scan reads at most the
    # buckets of the two terms.
    want = {term_bucket("hash"), term_bucket("join")}
    n_parts = p.select("tok_bucket").distinct().count()
    assert n_parts <= len(want)


def test_meta_n_buckets_persisted_and_validated(spark, dirs):
    """The store is self-describing (r11 ADVICE #1): n_buckets is
    written to _meta.json at ingest, readers resolve it from there, and
    a conflicting explicit value (reader or appending writer) raises
    instead of silently pruning / sharding the wrong buckets."""
    from scida_spark.streaming.postings import postings_writer, read_postings
    from scida_spark.streaming.storekit import store_meta

    docs = spark.createDataFrame(
        [(i, TEXTS[i % len(TEXTS)]) for i in range(25)], SCHEMA
    )
    postings_writer(dirs["store"], n_buckets=8)(docs, 0)
    assert store_meta(dirs["store"])["n_buckets"] == 8

    # reader with no explicit value uses the store's own meta (NOT the
    # 16-bucket default) — serve works and pruning stays consistent
    rows = _rows(bm25_topk_from_store(spark, dirs["store"], QUERIES, k=5))
    assert rows == _rows(bm25_topk(docs, QUERIES, k=5))

    # conflicting reader value → refuse, don't mis-prune
    with pytest.raises(ValueError, match="n_buckets"):
        read_postings(spark, dirs["store"], terms={"hash"}, n_buckets=16)
    # conflicting appending writer → refuse, don't mix shardings
    with pytest.raises(ValueError, match="n_buckets"):
        postings_writer(dirs["store"], n_buckets=16)(docs, 1)


def test_storefs_crash_recovery_states(tmp_path):
    """recover_pending repairs every interruption point of the
    scratch → manifest → delete → promote sequence (r11 ADVICE #2)."""
    import shutil

    from scida_spark.streaming import storefs

    def mk_store():
        root = tmp_path / "s"
        shutil.rmtree(root, ignore_errors=True)
        for b in (0, 1):
            d = root / f"batch_id={b}"
            d.mkdir(parents=True)
            pd.DataFrame({"v": [b]}).to_parquet(d / "part.parquet")
        return str(root)

    def mk_scratch(root):
        sc = storefs.scratch_dir(root)
        os.makedirs(sc)
        pd.DataFrame({"v": [0, 1]}).to_parquet(
            os.path.join(sc, "part.parquet")
        )

    # A: crash BEFORE the manifest commit point — the (possibly torn)
    # scratch is dropped, the store is untouched
    root = mk_store()
    mk_scratch(root)
    assert storefs.recover_pending(root)
    assert storefs.list_batches(root) == ["batch_id=0", "batch_id=1"]
    assert not os.path.isdir(storefs.scratch_dir(root))

    # B: crash right AFTER the manifest commit — the fold is replayed:
    # batches retired, scratch promoted to the base
    root = mk_store()
    mk_scratch(root)
    storefs.write_json_atomic(
        os.path.join(root, storefs.MANIFEST),
        {"folded": ["batch_id=0", "batch_id=1"]},
    )
    assert storefs.recover_pending(root)
    assert storefs.list_batches(root) == []
    assert os.path.isdir(os.path.join(root, "batch_id=-1"))
    assert not os.path.isfile(os.path.join(root, storefs.MANIFEST))

    # C: crash MID-DELETE (one batch already gone) — same outcome
    root = mk_store()
    mk_scratch(root)
    storefs.write_json_atomic(
        os.path.join(root, storefs.MANIFEST),
        {"folded": ["batch_id=0", "batch_id=1"]},
    )
    shutil.rmtree(os.path.join(root, "batch_id=0"))
    assert storefs.recover_pending(root)
    assert storefs.list_batches(root) == []
    assert os.path.isdir(os.path.join(root, "batch_id=-1"))

    # D: crash AFTER the promote, before the manifest removal — the
    # leftover manifest is cleared, the promoted base survives
    root = mk_store()
    mk_scratch(root)
    storefs.promote_compacted(root, ["batch_id=0", "batch_id=1"])
    storefs.write_json_atomic(
        os.path.join(root, storefs.MANIFEST), {"folded": []}
    )
    assert storefs.recover_pending(root)
    assert os.path.isdir(os.path.join(root, "batch_id=-1"))
    assert not os.path.isfile(os.path.join(root, storefs.MANIFEST))

    # clean store: nothing to do
    assert not storefs.recover_pending(root)


def test_compaction_crash_heals_on_next_read(spark, dirs, monkeypatch):
    """A compaction killed right after its commit point must not lose
    (or double-count) any postings: the next store READ self-heals via
    recover_pending and serves the identical rankings."""
    from scida_spark.streaming import storefs
    from scida_spark.streaming.postings import postings_writer

    docs = spark.createDataFrame(
        [(i, TEXTS[i % len(TEXTS)]) for i in range(40)], SCHEMA
    )
    w = postings_writer(dirs["store"])
    w(docs.filter(F.col("doc_id") < 20), 0)
    w(docs.filter(F.col("doc_id") >= 20), 1)
    before = _rows(bm25_topk_from_store(spark, dirs["store"], QUERIES))

    # kill the fold at the commit point: every substore scratch and
    # the store-level txn manifest written (r13: ONE commit point for
    # all three substores), nothing retired or promoted yet
    real_finish = storefs._finish

    def boom(root, folded):
        raise RuntimeError("simulated crash at the commit point")

    monkeypatch.setattr(storefs, "_finish", boom)
    with pytest.raises(RuntimeError, match="simulated crash"):
        compact_postings(spark, dirs["store"])
    monkeypatch.setattr(storefs, "_finish", real_finish)

    # the crash window really exists (txn manifest + all scratches on
    # disk, batch partials untouched)
    assert os.path.isfile(
        os.path.join(dirs["store"], storefs.TXN_MANIFEST)
    )
    for sub in ("postings", "doclen", "stats"):
        root = os.path.join(dirs["store"], sub)
        assert os.path.isdir(storefs.scratch_dir(root))
        assert storefs.list_batches(root) == ["batch_id=0", "batch_id=1"]

    # the next serve heals the WHOLE store transactionally and returns
    # identical rankings
    assert _rows(bm25_topk_from_store(spark, dirs["store"], QUERIES)) == before
    assert not os.path.isfile(
        os.path.join(dirs["store"], storefs.TXN_MANIFEST)
    )
    for sub in ("postings", "doclen", "stats"):
        assert storefs.list_batches(os.path.join(dirs["store"], sub)) == []
    # and a rerun compaction completes normally, still a fixed point
    compact_postings(spark, dirs["store"])
    assert _rows(bm25_topk_from_store(spark, dirs["store"], QUERIES)) == before


def test_tombstone_deletes_serve_equals_batch(spark, dirs):
    """delete_docs (r12): serving after tombstones must equal a batch
    rebuild over corpus-minus-deleted BIT-for-bit; compaction applies
    the tombstones (delete store empties, rankings unchanged); deletes
    of unknown ids and re-deletes are no-ops."""
    from scida_spark.streaming.postings import (
        delete_docs,
        postings_writer,
        read_corpus_stats,
        read_deletes,
    )

    docs = spark.createDataFrame(
        [(i, TEXTS[i % len(TEXTS)]) for i in range(40)], SCHEMA
    )
    w = postings_writer(dirs["store"])
    w(docs.filter(F.col("doc_id") < 20), 0)
    w(docs.filter(F.col("doc_id") >= 20), 1)

    gone = [3, 7, 21, 35]
    delete_docs(spark, dirs["store"], gone, 0)
    # re-delete one + delete a never-ingested id: both no-ops
    delete_docs(spark, dirs["store"], [3, 999], 1)

    remaining = docs.filter(~F.col("doc_id").isin(gone))
    want_bm = _rows(bm25_topk(remaining, QUERIES, k=5))
    want_ql = _rows(query_likelihood_topk(remaining, QUERIES, k=5))
    got_bm = _rows(bm25_topk_from_store(spark, dirs["store"], QUERIES, k=5))
    got_ql = _rows(ql_topk_from_store(spark, dirs["store"], QUERIES, k=5))
    assert got_bm == want_bm and len(got_bm) > 0
    assert got_ql == want_ql

    # corpus stats: raw partials still include deleted docs (the read
    # path subtracts); after compaction the store itself is clean
    want_stats = (
        remaining.count(),
        remaining.select(
            F.coalesce(
                F.sum(F.size(F.split(F.trim("text"), r"\s+"))), F.lit(0)
            )
        ).first()[0],
    )
    compact_postings(spark, dirs["store"])
    assert read_deletes(spark, dirs["store"]) is None  # tombstones applied
    assert read_corpus_stats(spark, dirs["store"]) == want_stats
    assert _rows(
        bm25_topk_from_store(spark, dirs["store"], QUERIES, k=5)
    ) == want_bm
    # deleted ids are physically gone from the folded doclen
    from scida_spark.streaming.postings import read_doclen

    assert (
        read_doclen(spark, dirs["store"])
        .filter(F.col("doc_id").isin(gone))
        .count()
        == 0
    )


def test_tombstone_on_compacted_store(spark, dirs):
    """Deleting AFTER compaction folds the base partial again — the
    apply path works without batch partials present."""
    from scida_spark.streaming.postings import delete_docs, postings_writer

    docs = spark.createDataFrame(
        [(i, TEXTS[i % len(TEXTS)]) for i in range(30)], SCHEMA
    )
    postings_writer(dirs["store"])(docs, 0)
    compact_postings(spark, dirs["store"])
    delete_docs(spark, dirs["store"], [1, 2], 0)
    remaining = docs.filter(~F.col("doc_id").isin([1, 2]))
    want = _rows(bm25_topk(remaining, QUERIES, k=5))
    assert _rows(
        bm25_topk_from_store(spark, dirs["store"], QUERIES, k=5)
    ) == want
    compact_postings(spark, dirs["store"])
    assert _rows(
        bm25_topk_from_store(spark, dirs["store"], QUERIES, k=5)
    ) == want


# ---------------------------------------------------------------------------
# r13: store-level transactions, single-writer lock, stats contract
# ---------------------------------------------------------------------------


def test_txn_crash_between_substores_heals_consistently(
    spark, dirs, monkeypatch
):
    """The r12 ADVICE #3 window: a compaction that died after applying
    tombstones to doclen but before rewriting stats left
    read_corpus_stats overcounting. r13's single-txn commit makes that
    impossible — kill the apply after the FIRST substore fold and the
    next READ replays the WHOLE plan (all three folds + the tombstone
    clear) before serving."""
    from scida_spark.streaming import storefs
    from scida_spark.streaming.postings import (
        delete_docs,
        postings_writer,
        read_deletes,
        read_doclen,
    )

    docs = spark.createDataFrame(
        [(i, TEXTS[i % len(TEXTS)]) for i in range(40)], SCHEMA
    )
    w = postings_writer(dirs["store"])
    w(docs.filter(F.col("doc_id") < 20), 0)
    w(docs.filter(F.col("doc_id") >= 20), 1)
    gone = [3, 7, 21]
    delete_docs(spark, dirs["store"], gone, 0)
    remaining = docs.filter(~F.col("doc_id").isin(gone))
    want_stats = (
        remaining.count(),
        remaining.select(
            F.coalesce(
                F.sum(F.size(F.split(F.trim("text"), r"\s+"))), F.lit(0)
            )
        ).first()[0],
    )
    want_bm = _rows(bm25_topk_from_store(spark, dirs["store"], QUERIES, k=5))

    # die after the first substore's _finish (postings folded, doclen
    # and stats still staged, tombstones not yet cleared)
    real_finish = storefs._finish
    calls = {"n": 0}

    def flaky(root, folded):
        calls["n"] += 1
        if calls["n"] > 1:
            raise RuntimeError("simulated crash mid-apply")
        real_finish(root, folded)

    monkeypatch.setattr(storefs, "_finish", flaky)
    with pytest.raises(RuntimeError, match="mid-apply"):
        compact_postings(spark, dirs["store"])
    monkeypatch.setattr(storefs, "_finish", real_finish)

    # the partial-apply window really exists: postings folded, doclen
    # partials still in place, txn manifest pending
    assert storefs.list_batches(os.path.join(dirs["store"], "postings")) == []
    assert storefs.list_batches(os.path.join(dirs["store"], "doclen")) == [
        "batch_id=0",
        "batch_id=1",
    ]
    assert os.path.isfile(os.path.join(dirs["store"], storefs.TXN_MANIFEST))

    # next read heals the WHOLE transaction first: stats are the
    # post-delete truth (the r12 sequence would have overcounted here)
    assert read_corpus_stats(spark, dirs["store"]) == want_stats
    assert not os.path.isfile(
        os.path.join(dirs["store"], storefs.TXN_MANIFEST)
    )
    assert read_deletes(spark, dirs["store"]) is None  # clear replayed
    assert (
        read_doclen(spark, dirs["store"])
        .filter(F.col("doc_id").isin(gone))
        .count()
        == 0
    )
    assert (
        _rows(bm25_topk_from_store(spark, dirs["store"], QUERIES, k=5))
        == want_bm
    )


def test_single_writer_lock_and_reader_hands_off(spark, dirs):
    """r12 ADVICE #4: a second maintainer must raise while the first
    is alive; a reader's recovery hooks must NOT heal (delete scratch /
    replay manifests) under a live maintainer's lock, and must heal as
    soon as the owner is provably dead."""
    from scida_spark.streaming import storefs
    from scida_spark.streaming.postings import postings_writer

    docs = spark.createDataFrame(
        [(i, TEXTS[i % len(TEXTS)]) for i in range(10)], SCHEMA
    )
    postings_writer(dirs["store"])(docs, 0)

    # simulate a LIVE foreign maintainer (pid 1 is always alive)
    lock = os.path.join(dirs["store"], storefs.LOCK_FILE)
    storefs.write_json_atomic(lock, {"pid": 1})
    with pytest.raises(RuntimeError, match="single-writer"):
        compact_postings(spark, dirs["store"])

    # a live maintainer's working state is hands-off for readers
    proot = os.path.join(dirs["store"], "postings")
    os.makedirs(storefs.scratch_dir(proot))
    assert not storefs.recover_pending(proot)
    assert os.path.isdir(storefs.scratch_dir(proot))
    storefs.write_json_atomic(
        os.path.join(dirs["store"], storefs.TXN_MANIFEST),
        {"folds": [], "clear": []},
    )
    assert not storefs.recover_store(dirs["store"])

    # owner dies -> the same hooks heal (dead-pid lease semantics)
    storefs.write_json_atomic(lock, {"pid": 999999999})
    assert storefs.recover_store(dirs["store"])
    assert storefs.recover_pending(proot)
    assert not os.path.isdir(storefs.scratch_dir(proot))

    # and a new maintainer steals the dead lock and completes
    assert compact_postings(spark, dirs["store"]) == 1
    assert not os.path.isfile(lock)  # released on exit


def test_corpus_stats_live_contract_with_tombstones(spark, dirs):
    """r12 ADVICE #1: sharing read_corpus_stats() output across
    rankers must score identically to passing nothing, even with
    tombstones outstanding (the old path re-subtracted the deletes)."""
    from scida_spark.streaming.postings import delete_docs, postings_writer

    docs = spark.createDataFrame(
        [(i, TEXTS[i % len(TEXTS)]) for i in range(30)], SCHEMA
    )
    postings_writer(dirs["store"])(docs, 0)
    delete_docs(spark, dirs["store"], [2, 5, 11], 0)

    cs = read_corpus_stats(spark, dirs["store"])  # LIVE (delete-adjusted)
    for fn in (bm25_topk_from_store, ql_topk_from_store):
        implicit = _rows(fn(spark, dirs["store"], QUERIES, k=5))
        shared = _rows(
            fn(spark, dirs["store"], QUERIES, k=5, corpus_stats=cs)
        )
        assert shared == implicit and len(shared) > 0


def test_meta_validates_every_ingest_param_on_reopen(spark, dirs):
    """r12 ADVICE #2: re-opening a store with a different
    with_forward / id_col / text_col must be refused — a mixed store
    silently breaks serving."""
    from scida_spark.streaming.postings import postings_writer

    docs = spark.createDataFrame(
        [(i, TEXTS[i % len(TEXTS)]) for i in range(5)], SCHEMA
    )
    postings_writer(dirs["store"], with_forward=True)(docs, 0)

    with pytest.raises(ValueError, match="with_forward"):
        postings_writer(dirs["store"], with_forward=False)(docs, 1)
    with pytest.raises(ValueError, match="id_col"):
        postings_writer(dirs["store"], id_col="uid", with_forward=True)(
            docs.withColumnRenamed("doc_id", "uid"), 1
        )
    # identical params keep appending fine
    postings_writer(dirs["store"], with_forward=True)(docs, 1)


# --------------------------------------------------------------------------
# Forward substore + RM3 served entirely from the index
# --------------------------------------------------------------------------


def test_doc_bucket_jvm_python_twin(spark):
    from scida_spark.streaming.postings import doc_bucket

    ids = [0, 1, 7, 12345, 999999999, 2**40 + 3]
    df = spark.createDataFrame([(i,) for i in ids], "doc_id long").select(
        "doc_id",
        (F.crc32(F.col("doc_id").cast("string").cast("binary")) % 16)
        .cast("int")
        .alias("b"),
    )
    got = {r["doc_id"]: r["b"] for r in df.collect()}
    assert got == {i: doc_bucket(i, 16) for i in ids}


def test_rm3_from_store_equals_batch_bitwise(spark, dirs):
    """RM3 served ENTIRELY from the incrementally maintained index (QL
    pass-1 from token-sharded postings, feedback term vectors from the
    doc-sharded forward substore, weighted pass-2 from postings) is
    BIT-identical to batch rm3_topk over the concatenated corpus —
    before AND after compaction, and with tombstones masked."""
    from scida_spark.functions.retrieval import rm3_topk
    from scida_spark.streaming.postings import (
        delete_docs,
        read_forward,
        rm3_topk_from_store,
    )

    _wave(os.path.join(dirs["input"], "w0.parquet"), 0, 30)
    _wave(os.path.join(dirs["input"], "w1.parquet"), 30, 55)
    _wave(os.path.join(dirs["input"], "w2.parquet"), 55, 80)
    _ingest(spark, dirs, max_files_per_trigger=1, with_forward=True)

    docs = spark.read.schema(SCHEMA).parquet(dirs["input"])
    params = dict(k=10, k_fb=3, m=5, alpha=0.5, mu=60.0)
    served = rm3_topk_from_store(spark, dirs["store"], QUERIES, **params)
    batch = rm3_topk(docs, QUERIES, **params)
    assert _rows(served) == _rows(batch) and served.count() > 0

    # forward fetch is pruned AND masked: tombstone a feedback doc and
    # both engines must agree on the post-delete ranking
    dead = [5, 6, 7]
    delete_docs(spark, dirs["store"], dead, batch_id=50)
    live = docs.filter(~F.col("doc_id").isin(dead))
    served_d = rm3_topk_from_store(spark, dirs["store"], QUERIES, **params)
    batch_d = rm3_topk(live, QUERIES, **params)
    assert _rows(served_d) == _rows(batch_d)
    assert not {r["doc_id"] for r in served_d.collect()} & set(dead)

    # compaction folds the forward substore too and stays a fixed point
    assert compact_postings(spark, dirs["store"]) == 3
    assert sorted(
        d
        for d in os.listdir(os.path.join(dirs["store"], "fwd"))
        if d.startswith("batch_id=")
    ) == ["batch_id=-1"]
    served_c = rm3_topk_from_store(spark, dirs["store"], QUERIES, **params)
    assert _rows(served_c) == _rows(batch_d)

    # read_forward prunes to the requested ids' buckets and masks
    fwd = read_forward(spark, dirs["store"], [10, 11])
    assert {r["doc_id"] for r in fwd.select("doc_id").distinct().collect()} == {
        10,
        11,
    }


def test_rm3_from_store_max_df_equals_batch(spark, dirs):
    """r14: the expansion-term df ceiling served from the index (df
    from a bucket-pruned postings read) is bit-identical to the batch
    twin's (df from a corpus scan), and the ceiling genuinely changes
    the result vs the unceilinged run."""
    from scida_spark.functions.retrieval import rm3_topk
    from scida_spark.streaming.postings import rm3_topk_from_store

    _wave(os.path.join(dirs["input"], "w0.parquet"), 0, 30)
    _wave(os.path.join(dirs["input"], "w1.parquet"), 30, 55)
    _ingest(spark, dirs, max_files_per_trigger=1, with_forward=True)

    docs = spark.read.schema(SCHEMA).parquet(dirs["input"])
    params = dict(k=10, k_fb=3, m=5, alpha=0.5, mu=60.0, max_df=0.25)
    served = rm3_topk_from_store(spark, dirs["store"], QUERIES, **params)
    batch = rm3_topk(docs, QUERIES, **params)
    assert _rows(served) == _rows(batch) and served.count() > 0

    no_ceiling = rm3_topk(
        docs, QUERIES, k=10, k_fb=3, m=5, alpha=0.5, mu=60.0
    )
    assert _rows(no_ceiling) != _rows(batch)


def test_read_forward_refuses_non_forward_store(spark, dirs):
    from scida_spark.streaming.postings import (
        read_forward,
        rm3_topk_from_store,
    )

    _wave(os.path.join(dirs["input"], "w0.parquet"), 0, 10)
    _ingest(spark, dirs)  # with_forward NOT set
    with pytest.raises(ValueError, match="without"):
        read_forward(spark, dirs["store"], [1, 2])
    # rm3 serve fails FAST too — even for queries that would find no
    # feedback docs (uniform behavior, not data-dependent)
    with pytest.raises(ValueError, match="forward substore"):
        rm3_topk_from_store(spark, dirs["store"], [(0, "zzz")])


def test_forward_meta_validated_on_reopen(spark, dirs):
    from scida_spark.streaming.postings import postings_writer

    _wave(os.path.join(dirs["input"], "w0.parquet"), 0, 10)
    _ingest(spark, dirs, with_forward=True)
    docs = spark.read.schema(SCHEMA).parquet(dirs["input"])
    w = postings_writer(dirs["store"], with_forward=False)
    with pytest.raises(ValueError, match="with_forward"):
        w(docs, 99)
