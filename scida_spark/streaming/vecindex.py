"""Incremental streaming VECTOR index — the postings-store pattern
applied to ANN serving (r13, closing the r12 verdict's "streaming
story" item: text retrieval AND vector retrieval both incrementally
maintainable).

``ivf_topk`` recomputes list assignments per invocation — fine for a
one-shot batch job, wrong for a serving pipeline where vectors arrive
continuously. Here the coarse quantizer is trained ONCE (the
``build_ivf_index`` / ``save_ivf_index`` ingest artifact), each
micro-batch pays exactly one map-only assignment pass against the
persisted centroids, and queries are served from the accumulated
inverted lists without ever re-assigning history:

* ``centroids/`` — (list_id, centroid array<double>): the persisted
  quantizer (written once at :func:`create_vector_store`; every
  writer and reader loads THIS matrix, so assignments are consistent
  across batches and processes by construction).
* ``vectors/batch_id=N/list_id=L/`` — (vec_id, v): the per-batch list
  partials, partitioned by ``list_id`` so a query's probes prune the
  scan to ``nprobe / nlist`` of the index (partition pruning — the
  IVF analog of the postings store's ``tok_bucket`` sharding).
* ``deletes/batch_id=N/`` — tombstoned ids (the postings-store r12
  convention): O(deletes) written, nothing rewritten; the serve path
  masks via one broadcast anti-join on the probed subset, and
  :func:`compact_vector_store` applies them.

Everything is a mergeable monoid (append / set-union) under
``batch_id=N`` idempotent overwrite, so replayed micro-batches never
double-ingest; serve = merge partials; compaction folds to one base
partial (``batch_id=-1``) through the crash-safe
:mod:`scida_spark.streaming.storefs` transaction (single-writer under
``maintenance_lock``) and is a serve FIXED POINT.

Serve ≡ batch, exactly: the stored (vec_id, v, list_id) rows are the
SAME rows ``functions/similarity.py::ivf_topk`` computes internally
(``ivf_assign`` against the same centroid matrix is deterministic per
vector), and :func:`ivf_topk_from_store` scores them with the
identical ``cosine_batch`` + row_number pipeline — so the served
top-k equals a batch ``ivf_topk(live_corpus, queries,
centroids=same)`` row-for-row, bit-for-bit (pinned in
tests/test_streaming_vecindex.py and driver-attested by the ``ivfs``
section of ``sim_topk``).

CONTRACT: each vector id is ingested exactly once across the stream's
lifetime (the postings-store grain); re-adding a tombstoned id is
undefined (delete wins at serve time until compaction clears the
tombstone). No reference counterpart (scida has no vector or
streaming surface) — net-new engine capability, SURVEY §2.7.
"""

from __future__ import annotations

import os

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from scida_spark.functions.similarity import (
    cosine_batch,
    ivf_assign,
    load_ivf_index,
    save_ivf_index,
)
from scida_spark.session import local_df
from scida_spark.streaming import storefs, storekit

__all__ = [
    "create_vector_store",
    "vector_index_writer",
    "incremental_vector_ingest",
    "read_vectors",
    "delete_vectors",
    "read_vector_deletes",
    "ivf_topk_from_store",
    "compact_vector_store",
]


def create_vector_store(
    spark: SparkSession,
    store_dir: str,
    centroids: "np.ndarray",
) -> None:
    """Initialize the store: persist the centroid matrix (the
    quantizer every writer/reader shares) and the self-describing
    meta. Re-creating over an existing store with different
    parameters is refused — a mixed-quantizer store serves garbage
    silently (the postings ``_ensure_meta`` rule)."""

    def _persist_artifacts():
        # runs only on first creation, BEFORE the meta commit: a crash
        # in between leaves no meta, so the store reads as uncreated,
        # never half-created
        save_ivf_index(spark, centroids, os.path.join(store_dir, "centroids"))

    storekit.ensure_meta(
        store_dir,
        {
            "id_col": "vec_id",
            "vec_col": "embedding",
            "n_lists": int(centroids.shape[0]),
            "dim": int(centroids.shape[1]),
        },
        "vector store",
        before_write=_persist_artifacts,
        verbs=("created", "re-create"),
    )


def _load_centroids(spark: SparkSession, store_dir: str) -> "np.ndarray":
    if not os.path.isfile(os.path.join(store_dir, storekit.META_FILE)):
        raise FileNotFoundError(
            f"vector store {store_dir} has no {storekit.META_FILE}; call "
            "create_vector_store first (the quantizer must exist before "
            "any ingest or serve)"
        )
    return load_ivf_index(spark, os.path.join(store_dir, "centroids"))


def vector_index_writer(store_dir: str):
    """Per-batch writer maintaining the inverted-list partials —
    composable under ``streaming/rollup.py::incremental_multi_store_
    ingest``. One map-only ``ivf_assign`` pass per batch against the
    persisted centroids (loaded once per writer, broadcast to
    executors); the partial lands under ``batch_id=N`` with idempotent
    overwrite."""
    cache: dict = {}

    def write(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        meta = storekit.store_meta(store_dir)
        if "cent" not in cache:
            cache["cent"] = _load_centroids(spark, store_dir)
        assigned = ivf_assign(
            batch_df,
            cache["cent"],
            1,
            meta.get("id_col", "vec_id"),
            meta.get("vec_col", "embedding"),
        ).select(
            F.col("vec_id"),
            "v",
            F.element_at("lists", 1).alias("list_id"),
        )
        assigned.write.mode("overwrite").partitionBy("list_id").parquet(
            os.path.join(store_dir, "vectors", f"batch_id={batch_id}")
        )

    return write


def incremental_vector_ingest(
    spark: SparkSession,
    input_dir: str,
    schema,
    *,
    store_dir: str,
    checkpoint_dir: str,
    available_now: bool = True,
    max_files_per_trigger: int | None = None,
):
    """Watch ``input_dir`` for new vector files and maintain the
    inverted-list store; returns the StreamingQuery."""
    writer_fn = vector_index_writer(store_dir)
    return storekit.run_file_ingest(
        spark, input_dir, schema, writer_fn, checkpoint_dir,
        available_now=available_now,
        max_files_per_trigger=max_files_per_trigger,
    )


def read_vectors(
    spark: SparkSession,
    store_dir: str,
    lists=None,
    apply_deletes: bool = True,
) -> DataFrame:
    """(vec_id, v, list_id) over the accumulated history; with
    ``lists`` the scan prunes to those ``list_id`` partitions (the
    probe path — at scale this reads nprobe/nlist of the index).
    Tombstoned ids are masked by default (broadcast anti-join on the
    pruned subset)."""
    root = os.path.join(store_dir, "vectors")
    storefs.recover_pending(root)
    if not os.path.isdir(root) or not any(
        d.startswith("batch_id=") for d in os.listdir(root)
    ):
        # created-but-never-ingested store: an empty index serves an
        # empty result, not a missing-path crash
        return local_df(spark, [], "vec_id long, v array<double>, list_id int")
    v = spark.read.option("basePath", root).parquet(root)
    if lists is not None:
        v = v.filter(F.col("list_id").isin([int(x) for x in lists]))
    if apply_deletes:
        id_col = storekit.store_meta(store_dir).get("id_col", "vec_id")
        dels = read_vector_deletes(spark, store_dir, id_col)
        if dels is not None:
            v = v.join(F.broadcast(dels), "vec_id", "left_anti")
    return v


def delete_vectors(
    spark: SparkSession,
    store_dir: str,
    ids,
    batch_id: int,
) -> None:
    """Tombstone ``ids`` (DataFrame with the store's id column, or an
    iterable of ints) as ``deletes/batch_id=N`` — O(deletes) written,
    nothing rewritten; idempotent overwrite (the postings r12
    convention)."""
    id_col = storekit.store_meta(store_dir).get("id_col", "vec_id")
    storekit.write_tombstones(
        spark, store_dir, ids, batch_id, id_col=id_col, out_col="vec_id"
    )


def read_vector_deletes(
    spark: SparkSession, store_dir: str, id_col: str = "vec_id"
) -> DataFrame | None:
    return storekit.read_tombstones(spark, store_dir, out_col="vec_id")


def ivf_topk_from_store(
    spark: SparkSession,
    store_dir: str,
    queries: DataFrame,
    k: int = 10,
    nprobe: int = 4,
    id_col: str | None = None,
    vec_col: str | None = None,
) -> DataFrame:
    """IVF approximate top-k served from the store — the SAME scorer
    as the batch ``ivf_topk`` (probe assignment via ``ivf_assign``
    against the persisted centroids, list equi-join, ``cosine_batch``,
    deterministic row_number tie-break), reading only the probed
    ``list_id`` partitions, so the served result is bit-identical to a
    batch ``ivf_topk(live_corpus, queries, centroids=same,
    nprobe=same)``."""
    meta = storekit.store_meta(store_dir)
    id_col = id_col or meta.get("id_col", "vec_id")
    vec_col = vec_col or meta.get("vec_col", "embedding")
    cent = _load_centroids(spark, store_dir)
    # Queries are a SERVING REQUEST — bounded by construction (the
    # knn "pairs broadcast" rule) — so probe assignment runs
    # driver-side in numpy against the already-loaded centroid
    # matrix: ONE collect of the query vectors instead of re-scanning
    # the query frame for the probe-list job AND the join side. Same
    # float64 normalize/argsort math as ivf_assign's kernel, so probes
    # are identical to the batch path's.
    qrows = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).cast("array<double>").alias("qv"),
    ).collect()
    if not qrows:
        return local_df(spark, 
            [], "query_id long, cand_id long, sim double, rank int"
        )
    mat = np.stack([np.asarray(r["qv"], dtype=np.float64) for r in qrows])
    mat = mat / np.linalg.norm(mat, axis=1, keepdims=True)
    top = np.argsort(-(mat @ cent.T), axis=1)[:, :nprobe]
    probe_lists = sorted({int(x) for row in top for x in row})
    q = local_df(spark, 
        [
            (int(r["query_id"]), list(r["qv"]), [int(x) for x in row])
            for r, row in zip(qrows, top)
        ],
        "query_id long, qv array<double>, lists array<int>",
    ).select("query_id", "qv", F.explode("lists").alias("list_id"))
    cands = read_vectors(spark, store_dir, lists=probe_lists).select(
        F.col("vec_id").alias("cand_id"), F.col("v").alias("cv"), "list_id"
    )
    scored = (
        cands.join(F.broadcast(q), "list_id")
        .filter(F.col("cand_id") != F.col("query_id"))
        .withColumn("sim", cosine_batch(F.col("qv"), F.col("cv")))
        .select("query_id", "cand_id", "sim")
    )
    w = W.partitionBy("query_id").orderBy(F.col("sim").desc(), "cand_id")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id", "cand_id", "sim", F.col("rank").cast("int").alias("rank")
        )
    )


def compact_vector_store(spark: SparkSession, store_dir: str) -> int:
    """Fold every ``vectors`` batch partial into one base partial
    (``batch_id=-1``), applying outstanding tombstones (deleted rows
    drop from the fold, and the delete store's clear rides the same
    atomic transaction — no window where the rows are gone but the
    tombstones still mask). Serve after compaction is bit-identical —
    a fixed point. Single-writer under ``storefs.maintenance_lock``;
    crash-safe via the store-level txn manifest. Returns batch dirs
    folded."""
    def _fold(df, dels):
        df = df.drop("batch_id")
        if dels is not None:
            df = df.join(F.broadcast(dels), "vec_id", "left_anti")
        return df

    return storekit.compact_store(
        spark,
        store_dir,
        [storekit.Substore("vectors", _fold, partition_by="list_id")],
        read_dels=lambda s: read_vector_deletes(s, store_dir),
    )
