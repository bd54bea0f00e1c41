"""Incremental connected components over a streaming corpus — rolling
near-dup CLUSTER LABELS, where streaming/ingest.py's dedup path keeps
only survivors.

Some pipelines must keep every document but know its cluster (leakage-
safe splits assign by cluster; analytics count cluster sizes; a later
curation pass picks a canonical member per cluster by quality rather
than arrival). This driver maintains a (doc, label) store across
micro-batches: per batch it discovers the batch's edges — exact-dup
edges via an md5 digest index, near-dup edges via within-batch
MinHash+LSH plus the banded cross-join against the persisted signature
index — and merges them into the store with
``functions/dedup.py::merge_cc_labels``, whose label-level lift makes
the merge cost O(touched clusters + batch), never O(history). The
store invariant (label == cluster min id) survives every merge by
induction, so an N-batch ingest ends with EXACTLY the labels of one
batch CC over the whole corpus (pytest-pinned).

Store layout: ``labels_dir/batch_id=N/`` holds only the rows that
batch created or re-labeled (idempotent overwrite per batch — the
rollup/ingest replay contract); :func:`read_labels` serves latest-
batch-wins per doc. Index layout matches streaming/ingest.py
(``bands`` / ``shingles`` / ``digests`` under ``index_dir``), with
digests carrying the doc id (this module needs the EDGE, not just
membership).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from scida_spark.streaming import storekit

from scida_spark.functions.dedup import (
    _band_signatures,
    jaccard_accept,
    merge_cc_labels,
    minhash_dedup_pairs_from_shingles,
    minhash_signatures_from_shingles,
    shingle_hash_table,
)
from scida_spark.streaming.ingest import _read_index_part
from scida_spark.session import local_df


def read_labels(
    spark: SparkSession, labels_dir: str, before_batch: int | None = None
) -> DataFrame:
    """Serve the label store: latest-batch row per doc. Pass
    ``before_batch`` inside a replayed micro-batch so it cannot see
    its own prior writes (the _read_index_part rule)."""
    if not os.path.isdir(labels_dir):
        return local_df(spark, [], "doc long, label long")
    try:
        df = spark.read.parquet(labels_dir)
    except Exception:
        return local_df(spark, [], "doc long, label long")
    if before_batch is not None:
        df = df.filter(F.col("batch_id") < before_batch)
    return df.groupBy("doc").agg(
        F.max_by("label", "batch_id").alias("label")
    )


def incremental_cc_ingest(
    spark: SparkSession,
    input_dir: str,
    schema,
    *,
    labels_dir: str,
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
    """Start the streaming label maintenance; returns the
    StreamingQuery. Same (num_perm, bands, seed) for the index's whole
    life — the ingest.py contract."""
    rows_per_band = num_perm // bands

    def process(batch: DataFrame, batch_id: int) -> None:
        sess = batch.sparkSession
        batch = batch.dropDuplicates([id_col])
        docs = batch.select(
            F.col(id_col).alias("doc"), F.col(text_col).alias("__t")
        ).localCheckpoint(eager=True)
        # --- collapse-first (the r8 rule): exact replicas connect to
        # their min-id rep through digest edges below, so ALL near-dup
        # machinery (signing, banding, verify, the persisted index)
        # runs over one representative per distinct text — a
        # replica-heavy batch costs its distinct-text count, and the
        # components are identical (rep edges make each clique one
        # node as far as connectivity is concerned). Measured at the
        # ×100 replica corpus (500k docs, 100-cliques, 3 waves):
        # 269 s -> 42.6 s end-to-end, identical labels.
        dig = docs.select("doc", F.md5("__t").alias("digest"))
        reps = dig.groupBy("digest").agg(F.min("doc").alias("doc_a"))
        e_exact = (
            dig.join(reps, "digest")
            .filter(F.col("doc") != F.col("doc_a"))
            .select("doc_a", F.col("doc").alias("doc_b"))
        )
        rep_docs = docs.join(
            reps.select(F.col("doc_a").alias("doc")), "doc", "left_semi"
        )
        sh = shingle_hash_table(
            rep_docs, "doc", "__t", n=n
        ).localCheckpoint(eager=True)
        # --- edges -----------------------------------------------------
        # within-batch near-dups over reps (LSH bands + exact verify)
        e_in = minhash_dedup_pairs_from_shingles(
            sh, num_perm=num_perm, bands=bands, threshold=threshold, seed=seed
        ).select("doc_a", "doc_b")
        edges = e_in.unionAll(e_exact)
        # cross-batch near-dups: sign + band THIS batch's reps once
        # (the banding doubles as the batch's index appendix below),
        # broadcast the batch bands against the PERSISTED bands index,
        # and exact-verify candidates against old shingles only — the
        # ingest.py pattern. History is never re-signed: per-batch cost
        # is O(batch × bands + matches), not O(history).
        new_sig = minhash_signatures_from_shingles(sh, num_perm, seed)
        new_bands = _band_signatures(
            new_sig, bands, rows_per_band
        ).localCheckpoint(eager=True)
        old_bands = _read_index_part(sess, index_dir, "bands", batch_id)
        old_sh = _read_index_part(sess, index_dir, "shingles", batch_id)
        if old_bands is not None and old_sh is not None:
            cands = (
                F.broadcast(new_bands.withColumnRenamed("doc", "doc_a"))
                .join(
                    old_bands.select(F.col("doc").alias("doc_b"), "bucket"),
                    "bucket",
                )
                .select("doc_a", "doc_b")
                .distinct()
            )
            a = sh.select(F.col("doc").alias("doc_a"), F.col("sh").alias("sh_a"))
            b = old_sh.select(
                F.col("doc").alias("doc_b"), F.col("sh").alias("sh_b")
            )
            e_x = (
                cands.join(a, "doc_a")
                .join(b, "doc_b")
                .withColumn("n_inter", F.size(F.array_intersect("sh_a", "sh_b")))
                .withColumn(
                    "n_union",
                    F.size("sh_a") + F.size("sh_b") - F.col("n_inter"),
                )
                .filter(jaccard_accept(F.col("n_inter"), F.col("n_union"), threshold))
                .select("doc_a", "doc_b")
            )
            edges = edges.unionAll(e_x)
        # cross-batch exact dups vs the digest index — REP level on
        # both sides (a new clique's members reach the cross edge
        # through their local rep edge, and the index stores one row
        # per distinct text per batch, so a 100-replica clique never
        # fans out to 100 edges per matching doc)
        old_dig = _read_index_part(sess, index_dir, "digests", batch_id)
        rep_dig = reps.select(F.col("doc_a").alias("doc"), "digest")
        if old_dig is not None:
            e_xd = (
                rep_dig.join(
                    old_dig.select(
                        F.col("doc").alias("doc_b"), "digest"
                    ),
                    "digest",
                )
                .select(F.col("doc").alias("doc_a"), "doc_b")
            )
            edges = edges.unionAll(e_xd)
        # --- merge + idempotent writes ----------------------------------
        labels = read_labels(sess, labels_dir, before_batch=batch_id)
        out = merge_cc_labels(labels, edges, docs.select("doc"))
        out.write.mode("overwrite").parquet(
            f"{labels_dir}/batch_id={batch_id}"
        )
        new_bands.write.mode("overwrite").parquet(
            f"{index_dir}/bands/batch_id={batch_id}"
        )
        sh.write.mode("overwrite").parquet(
            f"{index_dir}/shingles/batch_id={batch_id}"
        )
        rep_dig.write.mode("overwrite").parquet(
            f"{index_dir}/digests/batch_id={batch_id}"
        )

    return storekit.run_file_ingest(
        spark, input_dir, schema, process, checkpoint_dir,
        available_now=available_now, max_files_per_trigger=1,
    )
