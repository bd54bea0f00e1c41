"""Streaming corpus ingest with incremental near-dup filtering.

The production rolling-ingest shape for a growing training corpus:
new documents land as files; each micro-batch is exact-deduped within
itself, near-dup-deduped within itself (MinHash+LSH pairs → connected
components → keep the min-id doc per cluster), then checked AGAINST
THE PERSISTED SIGNATURE INDEX of everything already accepted — history
is never re-read in full and never re-signed. Survivors are appended
to the corpus sink, and their band buckets + shingle sets are appended
to the index, so the next batch's cross-check sees them.

Cost per batch: O(batch) signing + one banded equi-join against the
index (bucket key, never all-pairs) + an exact-Jaccard verify that
touches only the shingle rows of candidate old docs. At 100 TB the
bands/shingles store is the ingest-time index kept next to the corpus
(partitioned by batch; the per-batch band join's small side is the new
batch, which broadcasts).

All foreachBatch writes are keyed by ``batch_id`` subdirectory with
``mode("overwrite")`` — the standard idempotent exactly-once-to-storage
pattern: a replayed batch after failure overwrites its own output
instead of duplicating rows.

Takedowns (r13): :func:`delete_ingested_docs` tombstones accepted
documents (O(deletes) written — the postings/vecindex convention);
masks apply immediately at every read (the doc drops from
:func:`read_accepted_corpus`, and its bands/shingles/digest stop
blocking resubmissions), and :func:`compact_dedup_index` makes the
removal physical — corpus purge first as its own crash-safe unit, then
all three index substores folded + tombstones cleared in ONE storefs
transaction. With this, the incremental stores (text postings, vector
lists, near-dup signatures) share the same tombstone +
transactional-compaction contract.

Net-new surface (no reference counterpart; the reference is a
batch-only astrophysics engine — SURVEY §2.7).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from scida_spark.streaming import storefs, storekit
from scida_spark.functions.dedup import (
    _band_signatures,
    connected_components,
    exact_dedup,
    jaccard_accept,
    minhash_signatures_from_shingles,
    shingle_hash_table,
)


def _read_index_part(
    spark: SparkSession, root: str, part: str, before_batch: int
) -> DataFrame | None:
    """Read one index component (``bands`` / ``shingles`` /
    ``digests``) if any batch has written it yet; None on the very
    first batch. Only partitions with ``batch_id < before_batch`` are
    read (partition pruning on the directory key): a REPLAYED batch
    must not see its own prior writes, or it would drop every one of
    its docs as a duplicate of itself. Tombstoned docs
    (:func:`delete_ingested_docs`) are masked — a taken-down document
    stops suppressing future near-duplicates immediately, before any
    compaction."""
    path = os.path.join(root, part)
    if not os.path.isdir(path):
        return None
    try:
        df = spark.read.parquet(path)
    except Exception:
        return None
    df = df.filter(F.col("batch_id") < before_batch)
    dels = read_ingest_deletes(spark, root)
    if dels is not None:
        if "doc" not in df.columns:
            raise ValueError(
                f"dedup index substore {part} predates the takedown "
                "schema (no 'doc' column) but tombstones exist; "
                "rebuild the index from the corpus before deleting "
                "(compaction folds partials but cannot re-derive the "
                "missing 'doc' column)"
            )
        df = df.join(F.broadcast(dels), "doc", "left_anti")
    return df


def read_ingest_deletes(
    spark: SparkSession, index_dir: str
) -> DataFrame | None:
    """Distinct tombstoned doc ids (column ``doc``); None if no
    deletes are outstanding."""
    return storekit.read_tombstones(spark, index_dir, out_col="doc")


def delete_ingested_docs(
    spark: SparkSession,
    index_dir: str,
    ids,
    batch_id: int,
    id_col: str = "doc_id",
) -> None:
    """Tombstone accepted documents (takedown / right-to-be-forgotten):
    O(deletes) written, nothing rewritten — the postings/vecindex r12
    convention applied to the near-dup signature index. Effects at
    serve/ingest time (via the masks in :func:`_read_index_part` and
    :func:`read_accepted_corpus`): the doc's bands, shingles, and
    exact digest stop blocking new submissions, and the doc drops from
    the corpus view; :func:`compact_dedup_index` makes the removal
    physical. Deletions are a MAINTENANCE operation — run them while
    the ingest stream is quiescent (the storefs single-writer
    convention), or a replayed in-flight batch may legitimately admit
    documents its original run suppressed. Doc ids are ingested once
    across the stream's lifetime (the vecindex contract): re-using a
    tombstoned id for a NEW document is undefined — the tombstone
    masks any row carrying that id until a compaction clears it."""
    storekit.write_tombstones(
        spark, index_dir, ids, batch_id, id_col=id_col, out_col="doc"
    )


def read_accepted_corpus(
    spark: SparkSession,
    corpus_dir: str,
    index_dir: str | None = None,
    id_col: str = "doc_id",
) -> DataFrame:
    """The accepted corpus across all batches, with outstanding
    tombstones masked when ``index_dir`` is given (broadcast
    anti-join — the serve-time half of the takedown contract; the
    bytes go at :func:`compact_dedup_index`)."""
    docs = spark.read.parquet(corpus_dir).drop("batch_id")
    if index_dir is not None:
        dels = read_ingest_deletes(spark, index_dir)
        if dels is not None:
            docs = docs.join(
                F.broadcast(dels.select(F.col("doc").alias(id_col))),
                id_col,
                "left_anti",
            )
    return docs


def compact_dedup_index(
    spark: SparkSession,
    index_dir: str,
    corpus_dir: str | None = None,
    id_col: str = "doc_id",
) -> int:
    """Fold every per-batch partial of the signature index (bands /
    shingles / digests) into one base partial, applying outstanding
    tombstones, and clear the delete store — ONE crash-safe storefs
    transaction (the ``compact_postings`` shape). With ``corpus_dir``
    the tombstoned documents are also PHYSICALLY purged from the
    corpus sink first, as that directory's own scratch+manifest unit:
    a crash between the corpus purge and the index transaction leaves
    tombstones outstanding (masks still correct), and the next
    compaction finishes the job — the tombstones are cleared only by
    the index commit, so they always outlive the purge. Returns the
    max number of batch partials folded across substores."""
    def _purge_corpus(dels):
        # store-specific pre-stage under the same lock: physically
        # purge tombstoned docs from the corpus sink FIRST, as that
        # directory's own scratch+manifest unit — a crash between the
        # purge and the index txn leaves tombstones outstanding (masks
        # still correct) and the next compaction finishes the job.
        if corpus_dir is None or dels is None:
            return
        storefs.recover_pending(corpus_dir)
        cb = storefs.list_batches(corpus_dir)
        if os.path.isdir(os.path.join(corpus_dir, storefs.BASE_DIR)):
            cb = cb + [storefs.BASE_DIR]
        if not cb:
            return
        purged = (
            spark.read.option("basePath", corpus_dir)
            .parquet(corpus_dir)
            .drop("batch_id")
            .join(
                F.broadcast(dels.select(F.col("doc").alias(id_col))),
                id_col,
                "left_anti",
            )
            .localCheckpoint(eager=True)
        )
        purged.write.mode("overwrite").parquet(
            storefs.scratch_dir(corpus_dir)
        )
        storefs.promote_compacted(corpus_dir, cb)

    def _fold(sub):
        def rewrite(df, dels):
            df = df.drop("batch_id")
            if dels is not None:
                if "doc" not in df.columns:
                    raise ValueError(
                        f"dedup index substore {sub} predates the "
                        "takedown schema (no 'doc' column); tombstones "
                        "cannot be applied to it"
                    )
                df = df.join(F.broadcast(dels), "doc", "left_anti")
            return df

        return rewrite

    return storekit.compact_store(
        spark,
        index_dir,
        [storekit.Substore(s, _fold(s)) for s in ("bands", "shingles", "digests")],
        read_dels=lambda sp: read_ingest_deletes(sp, index_dir),
        pre_stage=_purge_corpus,
    )


def incremental_dedup_ingest(
    spark: SparkSession,
    input_dir: str,
    schema,
    *,
    corpus_dir: str,
    index_dir: str,
    checkpoint_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_perm: int = 64,
    bands: int = 16,
    threshold: float = 0.5,
    seed: int = 42,
    available_now: bool = True,
):
    """Start the streaming ingest; returns the StreamingQuery.

    ``input_dir`` is watched for new parquet files with ``schema``;
    accepted documents land under ``corpus_dir/batch_id=N/``; the
    signature index under ``index_dir/{bands,shingles}/batch_id=N/``.
    Keep-history-first semantics: a new doc near-duplicating an already
    accepted doc (exact, or Jaccard ≥ ``threshold`` on word
    ``n``-grams) is dropped; within a batch the min-id doc of each
    near-dup cluster survives. The same (num_perm, bands, seed) MUST be
    used for the life of the index — mismatched parameters silently
    produce disjoint band buckets.
    """
    rows_per_band = num_perm // bands

    def process(batch: DataFrame, batch_id: int) -> None:
        sess = batch.sparkSession
        # (1) exact dedup: within-batch (min-id per identical text) AND
        # against the persisted digest index — MinHash alone cannot
        # catch an exact duplicate of a sub-n-token document (its
        # shingle set is empty, so it produces no bands), so exact
        # history membership needs its own tiny index: one md5 per
        # accepted doc, equi-joined.
        b0 = exact_dedup(batch, id_col, text_col)
        old_dig = _read_index_part(sess, index_dir, "digests", batch_id)
        if old_dig is not None:
            b0 = b0.join(
                old_dig.select("digest").distinct().withColumnRenamed(
                    "digest", "_hist_digest"
                ),
                F.md5(F.col(text_col)) == F.col("_hist_digest"),
                "left_anti",
            )
        b1 = b0.localCheckpoint(eager=True)
        # (2) within-batch near-dups: LSH pairs -> CC -> keep min id.
        sh_new = shingle_hash_table(b1, id_col, text_col, n=n).localCheckpoint(
            eager=True
        )
        from scida_spark.functions.dedup import minhash_dedup_pairs_from_shingles

        pairs_in = minhash_dedup_pairs_from_shingles(
            sh_new, num_perm=num_perm, bands=bands, threshold=threshold, seed=seed
        )
        drop_in = (
            connected_components(pairs_in)
            .filter(F.col("node") != F.col("cluster_id"))
            .select(F.col("node").alias("doc"))
        )
        sh_surv = sh_new.join(drop_in, "doc", "left_anti").localCheckpoint(eager=True)
        # (3) cross-batch: new survivors' bands vs the PERSISTED index.
        new_sig = minhash_signatures_from_shingles(sh_surv, num_perm, seed)
        new_bands = _band_signatures(new_sig, bands, rows_per_band).localCheckpoint(
            eager=True
        )
        old_bands = _read_index_part(sess, index_dir, "bands", batch_id)
        old_sh = _read_index_part(sess, index_dir, "shingles", batch_id)
        if old_bands is not None and old_sh is not None:
            cands = (
                F.broadcast(new_bands.withColumnRenamed("doc", "new_doc"))
                .join(old_bands.select(F.col("doc").alias("old_doc"), "bucket"),
                      "bucket")
                .select("new_doc", "old_doc")
                .distinct()
            )
            a = sh_surv.select(F.col("doc").alias("new_doc"), F.col("sh").alias("sh_a"))
            b = old_sh.select(F.col("doc").alias("old_doc"), F.col("sh").alias("sh_b"))
            dup_new = (
                cands.join(a, "new_doc")
                .join(b, "old_doc")
                .withColumn("n_inter", F.size(F.array_intersect("sh_a", "sh_b")))
                .withColumn(
                    "n_union", F.size("sh_a") + F.size("sh_b") - F.col("n_inter")
                )
                .filter(jaccard_accept(F.col("n_inter"), F.col("n_union"), threshold))
                .select(F.col("new_doc").alias("doc"))
                .distinct()
            )
        else:
            dup_new = None
        final_sh = sh_surv if dup_new is None else sh_surv.join(
            dup_new, "doc", "left_anti"
        )
        final_ids = final_sh.select(F.col("doc").alias(id_col)).localCheckpoint(
            eager=True
        )
        survivors = b1.join(final_ids, id_col, "left_semi")
        # (4) idempotent per-batch writes: corpus + index appendices.
        survivors.write.mode("overwrite").parquet(
            f"{corpus_dir}/batch_id={batch_id}"
        )
        new_bands.join(
            final_ids.select(F.col(id_col).alias("doc")), "doc", "left_semi"
        ).write.mode("overwrite").parquet(f"{index_dir}/bands/batch_id={batch_id}")
        final_sh.write.mode("overwrite").parquet(
            f"{index_dir}/shingles/batch_id={batch_id}"
        )
        survivors.select(
            F.col(id_col).alias("doc"), F.md5(F.col(text_col)).alias("digest")
        ).write.mode("overwrite").parquet(
            f"{index_dir}/digests/batch_id={batch_id}"
        )

    return storekit.run_file_ingest(
        spark, input_dir, schema, process, checkpoint_dir,
        available_now=available_now, max_files_per_trigger=1,
    )


