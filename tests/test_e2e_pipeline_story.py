"""The full TRAINING-DATA-PIPELINE story, end to end, on this engine:

raw corpus → quality + repetition filters → exact dedup → near-dup
cleaned corpus (pairs → CC → canonical) → benchmark decontamination →
deterministic train/eval/test split → per-split sketch rollup →
corpus-wide line dedup → shard export with audit → BPE tokenizer +
packing → repeated-span dedup → chunking.
Every stage is an operator the registry exposes individually; this
test pins that they COMPOSE — the "a user could run their whole
pipeline here" contract — with planted documents whose fate is known
at every stage.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from scida_spark.functions import dedup as D
from scida_spark.functions import sketches as SK
from scida_spark.functions import text as TX
from scida_spark.functions.sampling import hash_split


@pytest.fixture(scope="module")
def corpus(spark):
    rows = []
    for i in range(40):  # clean docs: mostly-distinct bodies, tiny shared tail
        body = " ".join(f"w{i}x{j}" for j in range(12))
        rows.append((i, f"{body} common tail marker"))
    rows.append((100, rows[0][1]))                  # exact dup of doc 0
    rows.append((101, rows[1][1] + " extra"))       # near-dup of doc 1
    rows.append((102, "spam spam spam spam spam spam spam spam spam spam"))  # stutter
    rows.append((103, "ok " * 2))                   # too short / low quality
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_pipeline_composes_end_to_end(spark, corpus):
    # 1) repetition filter drops the stutter doc, keeps clean docs
    rep = TX.repetition_stats(corpus, "doc_id", "text")
    keep_rep = rep.filter(F.col("passes_repetition")).select("doc_id")
    kept1 = corpus.join(keep_rep, "doc_id", "left_semi")
    ids1 = {r["doc_id"] for r in kept1.select("doc_id").collect()}
    assert 102 not in ids1 and 0 in ids1 and 100 in ids1

    # 2) exact dedup keeps the min-id copy of identical texts
    kept2 = D.exact_dedup(kept1, "doc_id", "text")
    ids2 = {r["doc_id"] for r in kept2.select("doc_id").collect()}
    assert 100 not in ids2 and 0 in ids2

    # 3) near-dup pairs → CC → drop non-canonical members
    sh = D.shingle_hash_table(kept2, "doc_id", "text", 3).localCheckpoint(eager=True)
    pairs = D.ngram_jaccard_pairs_from_shingles(sh, threshold=0.5)
    cc = D.connected_components(pairs.select("doc_a", "doc_b"))
    dupes = cc.filter(F.col("cluster_id") != F.col("node")).select(
        F.col("node").alias("doc_id")
    )
    kept3 = kept2.join(dupes, "doc_id", "left_anti")
    ids3 = {r["doc_id"] for r in kept3.select("doc_id").collect()}
    assert 101 not in ids3 and 1 in ids3  # canonical (min id) survives

    # 4) decontamination vs a "benchmark" = doc 5's text: only doc 5's
    # planted leak (a corpus doc carrying doc 5's distinct body) hits
    leak = kept3.filter(F.col("doc_id") == 6).select(
        F.lit(999).alias("doc_id"),
        F.concat(F.lit("w5x0 w5x1 w5x2 w5x3 prefix "), F.col("text")).alias("text"),
    )
    sh = D.shingle_hash_table(kept3.unionByName(leak), "doc_id", "text", n=3)
    bench = sh.filter(F.col("doc") == 5)
    corpus_sh = sh.filter(F.col("doc") != 5)
    hits = {
        r["corpus_doc"]
        for r in D.ngram_overlap_pairs(corpus_sh, bench, min_shared=2).collect()
    }
    assert 999 in hits

    # 5) deterministic split: stable across repartitionings
    split = hash_split(kept3, "doc_id", salt="story")
    a = {(r["doc_id"], r["split"]) for r in split.collect()}
    b = {(r["doc_id"], r["split"]) for r in hash_split(kept3.repartition(5), "doc_id", salt="story").collect()}
    assert a == b and len({s for _, s in a}) >= 2

    # 6) per-split sketch rollup reconciles with exact counts
    sk = SK.sketch_table(split, ["split"], "doc_id")
    total = SK.rollup_distinct(sk, []).collect()[0]
    assert total["n_rows"] == kept3.count()
    exact = kept3.select(F.countDistinct("doc_id").alias("d")).collect()[0]["d"]
    assert abs(total["approx_distinct"] - exact) <= max(2, 0.05 * exact)

    # 7) corpus line dedup: a boilerplate footer injected into every doc
    # is DISCOVERED as hot and stripped, round-tripping the texts exactly
    with_footer = kept3.withColumn(
        "text", F.concat(F.col("text"), F.lit("\nGlobal Footer Inc"))
    )
    hot = TX.hot_lines(with_footer, "text", min_docs=2)
    stripped = TX.remove_hot_lines(with_footer, hot, "doc_id", "text")
    orig = {r["doc_id"]: r["text"] for r in kept3.collect()}
    got = {r["doc_id"]: r["cleaned"] for r in stripped.collect()}
    assert got == orig

    # 8) shard export of the train split, with a disk-verified manifest
    from scida_spark.operators.export import export_training_shards, verify_shards
    import tempfile

    train = split.filter(F.col("split") == "train").select("doc_id", "text")
    dst = tempfile.mkdtemp(prefix="scida_story_export_")
    m = export_training_shards(train, "doc_id", dst, rows_per_shard=10)
    assert m["n_rows"] == train.count()
    assert verify_shards(spark, dst)["ok"]
    back_ids = {
        r["doc_id"] for r in spark.read.parquet(dst).select("doc_id").collect()
    }
    assert back_ids == {r["doc_id"] for r in train.select("doc_id").collect()}

    # 9) learn a BPE tokenizer ON the cleaned corpus, encode, and pack
    # sequences by the REAL learned token counts — tokenizer feeds packer
    from scida_spark.functions.bpe import bpe_encode, learn_bpe, word_counts
    from scida_spark.functions.packing import pack_sequences_by

    merges = learn_bpe(word_counts(kept3), n_merges=50)
    enc = bpe_encode(kept3, merges)
    packed = pack_sequences_by(
        enc.withColumn("_dom", F.col("doc_id") % 4), "doc_id", "n_bpe_tokens", 64, "_dom"
    )
    packed_rows = packed.collect()
    all_docs = {d for r in packed_rows for d in r["doc_ids"]}
    assert all_docs == {r["doc_id"] for r in kept3.collect()}  # every doc packed once
    assert all(r["total_tokens"] <= 64 or r["oversize"] for r in packed_rows)

    # 10) repeated-span dedup catches a license paragraph pasted into
    # several docs (doc-level dedup passed them — they differ overall)
    from scida_spark.functions import spans as SP

    license_blurb = "licensed under the apache license version two point zero"
    with_blurb = kept3.withColumn(
        "text",
        F.when(
            F.col("doc_id") < 3,
            F.concat(F.col("text"), F.lit(" " + license_blurb)),
        ).otherwise(F.col("text")),
    )
    hot_sp = SP.hot_spans(with_blurb, "text", k=5, min_docs=2)
    masked = SP.mask_hot_spans(with_blurb, hot_sp, "doc_id", "text", k=5)
    got_m = {r["doc_id"]: r for r in masked.collect()}
    for did in got_m:
        if did < 3 and did in orig:
            assert license_blurb not in got_m[did]["masked"]
            assert got_m[did]["n_masked"] >= len(license_blurb.split())

    # 11) chunk the cleaned corpus for an embedding pipeline: every
    # token lands in a chunk, chunks respect the window
    from scida_spark.functions.chunking import chunk_documents

    chunks = chunk_documents(kept3, "doc_id", "text", 16, 4).collect()
    assert all(r["n_chunk_tokens"] <= 16 for r in chunks)
    for doc_id, text in orig.items():
        toks = set(text.split())
        covered = set()
        for r in chunks:
            if r["doc_id"] == doc_id:
                covered.update(r["chunk_text"].split())
        assert toks <= covered
