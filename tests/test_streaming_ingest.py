"""Streaming incremental-dedup ingest: waves of document files flow
through foreachBatch; each batch is deduped within itself and against
the persisted signature index of prior survivors (keep-history-first).
"""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from scida_spark.streaming.ingest import incremental_dedup_ingest

SCHEMA = "doc_id long, text string"

BASE = [
    "the quick brown fox jumps over the lazy dog near the quiet river bank today",
    "a distributed query engine partitions data across many executors to scan in parallel",
    "minhash signatures approximate jaccard similarity between shingle sets of documents",
    "structured streaming processes unbounded data as a sequence of small batch jobs",
    "column pruning and predicate pushdown reach the parquet scan when plans are declarative",
]


def _near(text: str) -> str:
    words = text.split()
    words[3] = words[3] + "x"
    return " ".join(words)


@pytest.fixture()
def dirs(tmp_path):
    d = {
        "input": tmp_path / "in",
        "corpus": tmp_path / "corpus",
        "index": tmp_path / "index",
        "ckpt": tmp_path / "ckpt",
    }
    d["input"].mkdir()
    return {k: str(v) for k, v in d.items()}


def _write_wave(path: str, rows: list[tuple[int, str]]) -> None:
    pd.DataFrame(rows, columns=["doc_id", "text"]).to_parquet(path)


def _run(spark, dirs):
    q = incremental_dedup_ingest(
        spark,
        dirs["input"],
        SCHEMA,
        corpus_dir=dirs["corpus"],
        index_dir=dirs["index"],
        checkpoint_dir=dirs["ckpt"],
        num_perm=64,
        bands=32,
        threshold=0.5,
    )
    q.awaitTermination(120)
    assert not q.isActive


def test_incremental_dedup_ingest(spark, dirs):
    # Wave 1: five distinct documents.
    _write_wave(f"{dirs['input']}/w1.parquet", list(enumerate(BASE, start=1)))
    _run(spark, dirs)
    got1 = {
        r.doc_id for r in spark.read.parquet(dirs["corpus"]).select("doc_id").collect()
    }
    assert got1 == {1, 2, 3, 4, 5}

    # Wave 2: 11 = exact copy of 1 (cross-batch), 12 = near-dup of 2
    # (cross-batch), 13 = new, 14/15 identical (exact within batch),
    # 16 = near-dup of 14 (within batch).
    fresh14 = "language identification uses character ngram frequencies as a cheap robust signal"
    _write_wave(
        f"{dirs['input']}/w2.parquet",
        [
            (11, BASE[0]),
            (12, _near(BASE[1])),
            (13, "benchmark decontamination removes training documents overlapping the evaluation suites from the final corpus before release"),
            (14, fresh14),
            (15, fresh14),
            (16, _near(fresh14)),
        ],
    )
    _run(spark, dirs)
    got2 = {
        r.doc_id for r in spark.read.parquet(dirs["corpus"]).select("doc_id").collect()
    }
    assert got2 == {1, 2, 3, 4, 5, 13, 14}

    # Wave 3: 17 near-duplicates 13 — a WAVE-2 survivor — proving the
    # index was extended with wave-2 acceptances; 18 is new; 19 is a
    # SHORT new doc (2 tokens → empty 3-gram shingle set).
    _write_wave(
        f"{dirs['input']}/w3.parquet",
        [
            (17, _near("benchmark decontamination removes training documents overlapping the evaluation suites from the final corpus before release")),
            (18, "vectorized arrow batches move columnar data between the jvm and python workers"),
            (19, "short doc"),
        ],
    )
    _run(spark, dirs)
    got3 = {
        r.doc_id for r in spark.read.parquet(dirs["corpus"]).select("doc_id").collect()
    }
    assert got3 == {1, 2, 3, 4, 5, 13, 14, 18, 19}

    # Wave 4: 20 exactly duplicates the SHORT doc 19 — invisible to
    # MinHash (no shingles, no bands), caught only by the digest index.
    _write_wave(f"{dirs['input']}/w4.parquet", [(20, "short doc")])
    _run(spark, dirs)
    got4 = {
        r.doc_id for r in spark.read.parquet(dirs["corpus"]).select("doc_id").collect()
    }
    assert got4 == {1, 2, 3, 4, 5, 13, 14, 18, 19}

    # The index holds bands/shingles ONLY for accepted documents with
    # shingles (the short doc 19 has none), and one digest per
    # accepted doc.
    idx_docs = {
        r.doc
        for r in spark.read.parquet(f"{dirs['index']}/bands").select("doc").collect()
    }
    assert idx_docs == got4 - {19}
    sh_docs = {
        r.doc
        for r in spark.read.parquet(f"{dirs['index']}/shingles").select("doc").collect()
    }
    assert sh_docs == got4
    assert spark.read.parquet(f"{dirs['index']}/digests").count() == len(got4)


def test_ingest_batch_writes_idempotent(spark, dirs):
    """Replaying a batch id overwrites its own output (no duplicates)."""
    _write_wave(f"{dirs['input']}/w1.parquet", list(enumerate(BASE, start=1)))
    _run(spark, dirs)
    n1 = spark.read.parquet(dirs["corpus"]).count()
    # Simulate a replay of batch 0 by calling the foreachBatch body
    # again through a fresh stream with a WIPED checkpoint (Spark will
    # re-deliver the same file as batch 0 against the existing sinks).
    import shutil

    shutil.rmtree(dirs["ckpt"])
    _run(spark, dirs)
    got = spark.read.parquet(dirs["corpus"])
    assert got.count() == n1
    assert got.groupBy("doc_id").count().filter(F.col("count") > 1).count() == 0


# --------------------------------------------------------------------------
# Compacting a batch-fragmented vector index
# --------------------------------------------------------------------------


def test_vector_index_compaction_preserves_query_results(spark, tmp_path):
    """Write PQ codes and vectors as per-batch fragments, COMPACT the
    fragmented code/vector dirs (operators/maintenance.py), and query
    the compacted index — results must be identical to querying the
    fragmented one."""
    import numpy as np

    from scida_spark.functions.similarity import (
        pq_encode,
        pq_topk_from_encoded,
        train_pq_codebooks,
    )
    from scida_spark.operators.maintenance import compact_parquet, dir_stats

    rng = np.random.RandomState(11)
    idx = str(tmp_path / "vidx")
    waves = [rng.standard_normal((80, 16)) for _ in range(3)]
    cb = train_pq_codebooks(waves[0], m=4, nbits=4)
    for w, vecs in enumerate(waves):
        batch = spark.createDataFrame(
            [(w * 80 + i, [float(x) for x in v]) for i, v in enumerate(vecs)],
            "vec_id long, embedding array<double>",
        )
        pq_encode(batch, cb).write.parquet(f"{idx}/codes/batch_id={w}")
        batch.write.parquet(f"{idx}/vectors/batch_id={w}")

    codes = spark.read.parquet(f"{idx}/codes").select("vec_id", "code")
    vecs_df = spark.read.parquet(f"{idx}/vectors").select("vec_id", "embedding")
    queries = vecs_df.filter(F.col("vec_id") < 3)
    before = sorted(
        (r["query_id"], r["cand_id"], r["rank"])
        for r in pq_topk_from_encoded(codes, vecs_df, cb, queries, k=5).collect()
    )

    n_frag, total = dir_stats(f"{idx}/codes")
    assert n_frag >= 3
    rep = compact_parquet(spark, f"{idx}/codes", str(tmp_path / "codes_c"),
                          target_bytes=total)
    assert rep["files_after"] < n_frag
    compact_parquet(spark, f"{idx}/vectors", str(tmp_path / "vecs_c"),
                    target_bytes=1 << 30)
    codes_c = spark.read.parquet(str(tmp_path / "codes_c")).select("vec_id", "code")
    vecs_c = spark.read.parquet(str(tmp_path / "vecs_c")).select("vec_id", "embedding")
    after = sorted(
        (r["query_id"], r["cand_id"], r["rank"])
        for r in pq_topk_from_encoded(codes_c, vecs_c, cb, queries, k=5).collect()
    )
    assert before == after and len(after) == 15


# --------------------------------------------------------------------------
# Takedown deletions + transactional compaction of the signature index
# --------------------------------------------------------------------------


def test_takedown_unblocks_resubmission_and_compaction_purges(spark, dirs):
    """A tombstoned doc (1) drops from the corpus view immediately,
    (2) stops blocking an exact or near-dup resubmission at the next
    batch, and (3) is physically purged from corpus + all three index
    substores by the transactional compaction, which clears the
    tombstones and stays a fixed point."""
    import os

    from scida_spark.streaming.ingest import (
        compact_dedup_index,
        delete_ingested_docs,
        read_accepted_corpus,
        read_ingest_deletes,
    )

    # wave 1: 5 distinct docs, all accepted
    _write_wave(
        os.path.join(dirs["input"], "w1.parquet"),
        [(i, BASE[i]) for i in range(5)],
    )
    _run(spark, dirs)
    assert read_accepted_corpus(spark, dirs["corpus"]).count() == 5

    # take down doc 2 (content removed: right-to-be-forgotten)
    delete_ingested_docs(spark, dirs["index"], [2], batch_id=100)
    masked = read_accepted_corpus(spark, dirs["corpus"], dirs["index"])
    assert sorted(r["doc_id"] for r in masked.collect()) == [0, 1, 3, 4]

    # wave 2: an EXACT copy of doc 2's text (new id 12) and a NEAR dup
    # of it (id 13) — both must now be admitted; an exact copy of the
    # still-live doc 0 (id 10) must still be dropped
    _write_wave(
        os.path.join(dirs["input"], "w2.parquet"),
        [(10, BASE[0]), (12, BASE[2]), (13, _near(BASE[2]))],
    )
    _run(spark, dirs)
    after = read_accepted_corpus(spark, dirs["corpus"], dirs["index"])
    ids = sorted(r["doc_id"] for r in after.collect())
    # 12 in, 13 deduped against 12 WITHIN the batch (min-id wins), 10 out
    assert 12 in ids and 10 not in ids and 2 not in ids

    # compaction: physical purge + tombstone clear, serve fixed point
    before_rows = sorted(
        (r["doc_id"], r["text"]) for r in after.collect()
    )
    folded = compact_dedup_index(
        spark, dirs["index"], corpus_dir=dirs["corpus"]
    )
    assert folded >= 1
    assert read_ingest_deletes(spark, dirs["index"]) is None
    post = read_accepted_corpus(spark, dirs["corpus"], dirs["index"])
    assert sorted((r["doc_id"], r["text"]) for r in post.collect()) == before_rows
    # the purged doc's signatures are gone from every substore
    for sub in ("bands", "shingles"):
        part = spark.read.parquet(os.path.join(dirs["index"], sub))
        assert part.filter(F.col("doc") == 2).count() == 0
    dig = spark.read.parquet(os.path.join(dirs["index"], "digests"))
    assert dig.filter(F.col("doc") == 2).count() == 0
    # base partial only
    assert sorted(
        d
        for d in os.listdir(os.path.join(dirs["index"], "bands"))
        if d.startswith("batch_id=")
    ) == ["batch_id=-1"]

    # wave 3 on the compacted index: still keep-history-first
    _write_wave(
        os.path.join(dirs["input"], "w3.parquet"),
        [(20, BASE[1]), (21, "entirely new content about vector search")],
    )
    _run(spark, dirs)
    final = read_accepted_corpus(spark, dirs["corpus"], dirs["index"])
    fids = {r["doc_id"] for r in final.collect()}
    assert 21 in fids and 20 not in fids


def test_compaction_without_deletes_is_pure_fold(spark, dirs):
    import os

    from scida_spark.streaming.ingest import (
        compact_dedup_index,
        read_accepted_corpus,
    )

    _write_wave(
        os.path.join(dirs["input"], "w1.parquet"),
        [(i, BASE[i]) for i in range(3)],
    )
    _run(spark, dirs)
    before = sorted(
        r["doc_id"]
        for r in read_accepted_corpus(spark, dirs["corpus"]).collect()
    )
    bands_before = spark.read.parquet(
        os.path.join(dirs["index"], "bands")
    ).count()
    assert compact_dedup_index(spark, dirs["index"]) >= 1
    assert (
        spark.read.parquet(os.path.join(dirs["index"], "bands")).count()
        == bands_before
    )
    # corpus untouched (no corpus_dir passed, no deletes anyway)
    assert (
        sorted(
            r["doc_id"]
            for r in read_accepted_corpus(spark, dirs["corpus"]).collect()
        )
        == before
    )
