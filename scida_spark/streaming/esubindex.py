"""Incremental EXACT-SUBSTRING dedup index — winnowing anchors
maintained over a stream (r14).

The streaming twin of ``functions/dedup.py::exact_substring_pairs``
(Lee et al. 2022's suffix-array family): documents arrive in
micro-batches; each batch pays ONE map-only winnowing pass, its
anchors are checked within-batch AND against the persisted anchor
history (equi-join on the anchor hash — never all-pairs), verified
pairs are appended, and the anchors join the index so the next batch
sees them. History is never re-hashed.

This is also the first store built ENTIRELY on
:mod:`scida_spark.streaming.storekit` — the r14 unification's payoff
measured: the store-specific code here is a writer (what a batch
reduces to), two substore fold specs, and read paths; meta validation,
tombstones, the heal/lock/stage/commit transaction, and the stream
driver are all one-line kit calls.

Layout (the postings-store conventions):

* ``anchors/batch_id=N/h_bucket=B/`` — (doc, h, pos, hood): the
  winnowed anchor occurrences, hash-sharded by ``crc32(h) %
  n_buckets`` so a targeted "find duplicates of THESE docs" serve
  prunes to the probe anchors' buckets. ``hood`` is the
  (2·min_len−k)-char neighborhood around the anchor — storing it
  makes pair verification self-contained (no corpus fetch at serve
  time) at ~(density × hood) ≈ 5× corpus bytes; at real scale store
  (doc, pos) only and fetch neighborhoods from the corpus sink's
  doc_bucket forward layout instead (the rm3 forward-substore trade,
  in reverse).
* ``pairs/batch_id=N/`` — (doc_a, doc_b) verified in batch N
  (within-batch + new-vs-history): the ACCUMULATED answer; serving is
  a partial read + distinct, never a recompute.
* ``deletes/batch_id=N/`` — tombstoned doc ids (the shared takedown
  contract): masked at every read.

Incremental == batch, exactly: winnowing is a pure per-document
content function, so the union over batches of (within-batch pairs +
new-vs-history pairs) equals ``exact_substring_pairs`` over the
concatenated corpus row-for-row (pinned in
tests/test_streaming_esubindex.py and driver-attested by the
``esubs`` section of ``dedup_signature_pairs``, whose oracle is the
same direct L-gram-join replay as batch ``esub``).

CONTRACT: each doc id is ingested exactly once across the stream's
lifetime (the postings/vecindex grain); replayed micro-batches are
safe (idempotent ``batch_id=N`` overwrite — a replayed batch also
excludes its own prior anchors from "history", or every doc would
pair with itself).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from scida_spark.functions.dedup import winnow_anchors
from scida_spark.session import local_df
from scida_spark.streaming import storekit

__all__ = [
    "esub_index_writer",
    "incremental_esub_ingest",
    "read_esub_pairs",
    "read_esub_anchors",
    "delete_esub_docs",
    "esub_probe",
]

DEFAULT_BUCKETS = 16


def _anchor_table(
    batch: DataFrame,
    id_col: str,
    text_col: str,
    min_len: int,
    k: int,
    n_buckets: int,
) -> DataFrame:
    """(doc, h, pos, hood, h_bucket) for one batch — one map-only
    winnowing pass plus the neighborhood substring (computed here, at
    ingest, so serving never re-reads the text)."""
    window = min_len - k + 1
    nlen = 2 * min_len - k
    a = winnow_anchors(batch, id_col, text_col, k=k, window=window)
    t = batch.select(
        F.col(id_col).alias("doc"), F.col(text_col).alias("_t")
    )
    return (
        a.withColumnRenamed(id_col, "doc")
        .join(t, "doc")
        .select(
            "doc",
            "h",
            "pos",
            F.substr(
                F.col("_t"),
                F.greatest(F.col("pos") - (min_len - k), F.lit(1)),
                F.lit(nlen),
            ).alias("hood"),
            (F.crc32(F.col("h").cast("binary")) % n_buckets)
            .cast("int")
            .alias("h_bucket"),
        )
    )


def _lgrams(hood, min_len: int):
    """The neighborhood's L-gram array — guarded against the
    descending sequence(1, 0) trap (see exact_substring_pairs)."""
    n = F.length(hood) - (min_len - 1)
    return F.when(
        n >= 1,
        F.transform(
            F.sequence(F.lit(1), n),
            lambda i: F.substr(hood, i, F.lit(min_len)),
        ),
    ).otherwise(F.array().cast("array<string>"))


def _verify_pairs(cand: DataFrame, min_len: int) -> DataFrame:
    """(doc_a, doc_b) distinct pairs whose anchor neighborhoods share
    an L-gram — map-only on the candidate rows (the batch operator's
    verify stage, reading hoods from the index instead of texts)."""
    return (
        cand.filter(
            F.arrays_overlap(
                _lgrams(F.col("hood_a"), min_len),
                _lgrams(F.col("hood_b"), min_len),
            )
        )
        .select("doc_a", "doc_b")
        .distinct()
    )


def esub_index_writer(
    index_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_len: int = 60,
    k: int = 16,
    n_buckets: int = DEFAULT_BUCKETS,
):
    """Per-batch writer maintaining anchors + discovered pairs —
    composable under ``rollup.py::incremental_multi_store_ingest``
    (one ingest pass can maintain this index next to the near-dup
    signature index and the postings store)."""

    def write(batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        storekit.ensure_meta(
            index_dir,
            {
                "min_len": int(min_len),
                "k": int(k),
                "n_buckets": int(n_buckets),
                "id_col": id_col,
                "text_col": text_col,
            },
            "exact-substring index",
        )
        new = _anchor_table(
            batch, id_col, text_col, min_len, k, n_buckets
        ).localCheckpoint(eager=True)
        # within-batch pairs
        a = new.select(
            F.col("doc").alias("doc_a"),
            "h",
            F.col("hood").alias("hood_a"),
        )
        b = new.select(
            F.col("doc").alias("doc_b"),
            "h",
            F.col("hood").alias("hood_b"),
        )
        within = a.join(b, "h").filter(F.col("doc_a") < F.col("doc_b"))
        # new-vs-history: only partitions batch_id < N (a REPLAYED
        # batch must not see its own prior anchors), tombstones masked
        pairs = _verify_pairs(within, min_len)
        hist = read_esub_anchors(spark, index_dir, before_batch=batch_id)
        if hist is not None:
            ha = hist.select(
                F.col("doc").alias("doc_h"),
                "h",
                F.col("hood").alias("hood_h"),
            )
            cross = (
                F.broadcast(
                    new.select(
                        F.col("doc").alias("doc_n"),
                        "h",
                        F.col("hood").alias("hood_n"),
                    )
                )
                .join(ha, "h")
                .filter(F.col("doc_n") != F.col("doc_h"))
                .select(
                    F.least("doc_n", "doc_h").alias("doc_a"),
                    F.greatest("doc_n", "doc_h").alias("doc_b"),
                    F.when(F.col("doc_n") < F.col("doc_h"), F.col("hood_n"))
                    .otherwise(F.col("hood_h"))
                    .alias("hood_a"),
                    F.when(F.col("doc_n") < F.col("doc_h"), F.col("hood_h"))
                    .otherwise(F.col("hood_n"))
                    .alias("hood_b"),
                )
            )
            pairs = pairs.unionAll(_verify_pairs(cross, min_len)).distinct()
        pairs.write.mode("overwrite").parquet(
            os.path.join(index_dir, "pairs", f"batch_id={batch_id}")
        )
        new.drop("pos").write.mode("overwrite").partitionBy(
            "h_bucket"
        ).parquet(os.path.join(index_dir, "anchors", f"batch_id={batch_id}"))

    return write


def incremental_esub_ingest(
    spark: SparkSession,
    input_dir: str,
    schema,
    *,
    index_dir: str,
    checkpoint_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_len: int = 60,
    k: int = 16,
    n_buckets: int = DEFAULT_BUCKETS,
    available_now: bool = True,
    max_files_per_trigger: int | None = 1,
):
    """Watch ``input_dir`` for new document files and maintain the
    exact-substring index; returns the StreamingQuery."""
    writer = esub_index_writer(
        index_dir, id_col, text_col, min_len, k, n_buckets
    )
    return storekit.run_file_ingest(
        spark, input_dir, schema, writer, checkpoint_dir,
        available_now=available_now,
        max_files_per_trigger=max_files_per_trigger,
    )


def read_esub_anchors(
    spark: SparkSession,
    index_dir: str,
    before_batch: int | None = None,
    apply_deletes: bool = True,
) -> DataFrame | None:
    """The accumulated anchor table (doc, h, hood[, h_bucket]); None
    before the first write. ``before_batch`` implements the replay
    guard; tombstoned docs are masked by default."""
    root = os.path.join(index_dir, "anchors")
    if not os.path.isdir(root):
        return None
    try:
        df = storekit.read_partials(spark, root)
    except Exception:
        return None
    if before_batch is not None:
        df = df.filter(F.col("batch_id") < before_batch)
    if apply_deletes:
        dels = storekit.read_tombstones(spark, index_dir, out_col="doc")
        if dels is not None:
            df = df.join(F.broadcast(dels), "doc", "left_anti")
    return df


def read_esub_pairs(
    spark: SparkSession, index_dir: str, apply_deletes: bool = True
) -> DataFrame:
    """All discovered (doc_a, doc_b) pairs — a partial read +
    distinct, never a recompute. Pairs touching a tombstoned doc are
    masked (either side)."""
    root = os.path.join(index_dir, "pairs")
    p = storekit.read_partials(spark, root).select("doc_a", "doc_b")
    if apply_deletes:
        dels = storekit.read_tombstones(spark, index_dir, out_col="doc")
        if dels is not None:
            d = F.broadcast(dels)
            p = p.join(
                d.select(F.col("doc").alias("doc_a")), "doc_a", "left_anti"
            ).join(
                d.select(F.col("doc").alias("doc_b")), "doc_b", "left_anti"
            )
    return p.distinct()


def delete_esub_docs(
    spark: SparkSession, index_dir: str, ids, batch_id: int,
    id_col: str = "doc_id",
) -> None:
    """Tombstone docs (the shared takedown contract): their pairs and
    anchors stop serving immediately (masked at every read)."""
    storekit.write_tombstones(
        spark, index_dir, ids, batch_id, id_col=id_col, out_col="doc"
    )


def esub_probe(
    spark: SparkSession,
    index_dir: str,
    probe: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """ONLINE serve: which already-ingested documents share a verbatim
    >= min_len substring with each of these NEW (not-yet-ingested)
    probe documents? The submission-time dedup check — the esub analog
    of the postings store's term-targeted serve and the vector store's
    probe-pruned query path.

    The probe batch pays one map-only winnowing pass (its own anchors
    + neighborhoods, parameters from the store's meta so probe and
    index agree by construction); the INDEX read prunes to the probe
    anchors' ``h_bucket`` partitions — a bounded probe touches
    |probe-anchor buckets| / n_buckets of the anchor substore, never
    the whole history. Tombstoned docs are masked. Returns
    (probe_id, doc) distinct — probe ids need not be disjoint from
    ingested ids (a re-submitted id simply reports its other copies;
    self-matches by id are excluded)."""
    meta = storekit.store_meta(index_dir)
    if not meta:
        raise FileNotFoundError(
            f"exact-substring index {index_dir} has no meta; ingest "
            "something first"
        )
    min_len, k = int(meta["min_len"]), int(meta["k"])
    n_buckets = int(meta["n_buckets"])
    pa = _anchor_table(
        probe, id_col, text_col, min_len, k, n_buckets
    ).localCheckpoint(eager=True)
    buckets = sorted(
        r["h_bucket"]
        for r in pa.select("h_bucket").distinct().collect()
    )
    hist = read_esub_anchors(spark, index_dir)
    if hist is None or not buckets:
        return local_df(spark, [], f"probe_id long, doc long")
    hist = hist.filter(F.col("h_bucket").isin(buckets))
    cand = (
        F.broadcast(
            pa.select(
                F.col("doc").alias("probe_id"),
                "h",
                F.col("hood").alias("hood_a"),
            )
        )
        .join(
            hist.select(
                F.col("doc"), "h", F.col("hood").alias("hood_b")
            ),
            "h",
        )
        .filter(F.col("probe_id") != F.col("doc"))
    )
    return (
        cand.filter(
            F.arrays_overlap(
                _lgrams(F.col("hood_a"), min_len),
                _lgrams(F.col("hood_b"), min_len),
            )
        )
        .select("probe_id", "doc")
        .distinct()
    )
