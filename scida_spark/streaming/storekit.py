"""Shared lifecycle for the incremental stores (r14, closes r13
VERDICT next #5).

Four stores grew the same maintenance surface independently — the
token-sharded postings index (``postings.py``), the IVF vector index
(``vecindex.py``), the near-dup signature index (``ingest.py``), and
the mergeable-summaries rollup/freq/reservoir/span stores
(``rollup.py``, ``ingest.py``) — all built on the same ``storefs``
conventions: ``batch_id=N`` partials, a ``batch_id=-1`` base,
scratch + manifest promotion, a store-level transaction for
multi-substore folds, tombstones under ``deletes/``, and the
single-writer maintenance lock. This module extracts that lifecycle
once, so the NEXT store is a substore spec + a fold function, not 300
new lines:

* :func:`ensure_meta` — write-once ``_meta.json`` with re-open
  validation (every ingest parameter checked; a mismatched writer is
  refused, because a mixed-parameter store serves silently wrong).
* :func:`write_tombstones` / :func:`read_tombstones` — O(deletes)
  delete partials + the distinct masked-id view.
* :func:`compact_store` — the multi-substore transactional fold:
  heal, lock, stage every substore's fold into scratch, then commit
  folds + tombstone clear through ONE ``promote_txn`` manifest.
* :func:`compact_monoid_store` — the single-directory fold for
  mergeable-summary stores (rollup/freq/reservoir/span): heal, lock,
  fold, ``promote_compacted``.

Scale notes live with the stores; the kit itself adds no jobs beyond
the folds it is asked to stage (each substore fold is one
read → rewrite → scratch write, partition layout preserved via
``Substore.partition_by``).
"""

from __future__ import annotations

import os
import shutil
from dataclasses import dataclass
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from scida_spark.streaming import storefs
from scida_spark.session import local_df

META_FILE = "_meta.json"


def ensure_meta(
    store_dir: str,
    want: dict,
    kind: str,
    before_write: Callable[[], None] | None = None,
    verbs: tuple[str, str] = ("written", "append"),
) -> bool:
    """Write ``_meta.json`` on first use; on re-open, validate EVERY
    parameter present in the existing meta against ``want`` and raise
    on any mismatch (appending e.g. differently-sharded partials makes
    a store silently unreadable — the postings ``_ensure_meta`` rule,
    r12 ADVICE #2). ``before_write`` runs only on first creation,
    BEFORE the meta commit (e.g. persisting the centroid artifact
    the meta describes — a crash in between leaves no meta,
    so the store reads as uncreated, never half-created). Returns True
    iff the meta was created by this call."""
    os.makedirs(store_dir, exist_ok=True)
    path = os.path.join(store_dir, META_FILE)
    if os.path.isfile(path):
        have = storefs.read_json(path)
        diffs = {
            k: (have.get(k), v)
            for k, v in want.items()
            if k in have and have.get(k) != v
        }
        if diffs:
            raise ValueError(
                f"{kind} {store_dir} was {verbs[0]} with "
                + ", ".join(f"{k}={h!r}" for k, (h, _) in diffs.items())
                + f"; refusing to {verbs[1]} with "
                + ", ".join(f"{k}={w!r}" for k, (_, w) in diffs.items())
            )
        return False
    if before_write is not None:
        before_write()
    storefs.write_json_atomic(path, want)
    return True


def store_meta(store_dir: str) -> dict:
    """The store's persisted parameters ({} for a pre-meta store)."""
    path = os.path.join(store_dir, META_FILE)
    return storefs.read_json(path) if os.path.isfile(path) else {}


def write_tombstones(
    spark: SparkSession,
    store_dir: str,
    ids,
    batch_id: int,
    *,
    id_col: str,
    out_col: str,
    sub: str = "deletes",
) -> None:
    """Tombstone ``ids`` (a DataFrame carrying ``id_col``, or an
    iterable of ints) as the delete partial ``sub/batch_id=N`` —
    O(deletes) written, nothing rewritten, idempotent overwrite. The
    ids are masked at serve time (:func:`read_tombstones` feeds a
    broadcast anti-join) and applied physically at the next
    :func:`compact_store`."""
    df = (
        ids
        if isinstance(ids, DataFrame)
        else local_df(spark, 
            [(int(i),) for i in ids], f"{id_col} long"
        )
    )
    df.select(F.col(id_col).alias(out_col)).distinct().write.mode(
        "overwrite"
    ).parquet(os.path.join(store_dir, sub, f"batch_id={batch_id}"))


def read_tombstones(
    spark: SparkSession,
    store_dir: str,
    *,
    out_col: str,
    sub: str = "deletes",
) -> DataFrame | None:
    """Distinct outstanding tombstoned ids (column ``out_col``); None
    when no deletes are pending. Heals an interrupted compaction
    first (no-op under a live maintainer's lock)."""
    root = os.path.join(store_dir, sub)
    if not os.path.isdir(root):
        return None
    storefs.recover_pending(root)
    if not any(d.startswith("batch_id=") for d in os.listdir(root)):
        return None
    return (
        spark.read.option("basePath", root)
        .parquet(root)
        .select(out_col)
        .distinct()
    )


def run_file_ingest(
    spark: SparkSession,
    input_dir: str,
    schema,
    process,
    checkpoint_dir: str,
    *,
    available_now: bool = True,
    max_files_per_trigger: int | None = None,
):
    """The shared Structured Streaming driver every incremental store
    uses: watch ``input_dir`` for new parquet files, run
    ``process(batch_df, batch_id)`` per micro-batch (foreachBatch —
    each store's writer does its idempotent ``batch_id=N`` overwrite),
    one checkpointed query. ``available_now`` (default) drains the
    backlog and stops — the catch-up/backfill trigger; pass False for
    a continuously-running maintainer. Returns the StreamingQuery."""
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option(
            "maxFilesPerTrigger", int(max_files_per_trigger)
        )
    writer = (
        reader.parquet(input_dir)
        .writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def write_batch_files(df: DataFrame, conds: list, dst: str) -> None:
    """Write ``df.filter(conds[k])`` as the single file
    ``<dst>/b{k}.parquet``, in order: a file stream orders its backlog
    by modification time, so with ``maxFilesPerTrigger=1`` batch k is
    exactly ``conds[k]`` and every earlier batch is its history."""
    os.makedirs(dst, exist_ok=True)
    for k, cond in enumerate(conds):
        part = os.path.join(dst, f"_part{k}")
        df.filter(cond).coalesce(1).write.mode("overwrite").parquet(part)
        src = next(f for f in os.listdir(part) if f.endswith(".parquet"))
        os.rename(os.path.join(part, src), os.path.join(dst, f"b{k}.parquet"))
        shutil.rmtree(part)


def read_partials(spark: SparkSession, root: str) -> DataFrame:
    """The standard partial-store read: heal any interrupted
    compaction first (no-op under a live maintainer's lock), then a
    ``basePath`` parquet read so the ``batch_id`` directory key comes
    back as a partition column (pruned by any ``batch_id`` filter)."""
    storefs.recover_pending(root)
    return spark.read.option("basePath", root).parquet(root)


@dataclass
class Substore:
    """One substore's fold spec for :func:`compact_store`:
    ``rewrite(df, dels)`` maps the substore's full partial view
    (basePath read — carries the ``batch_id`` partition column) plus
    the IN-LOCK tombstone view (None when no deletes are outstanding)
    to its new base partial; the write preserves ``partition_by`` so
    serve-time partition pruning survives compaction."""

    name: str
    rewrite: Callable[[DataFrame, DataFrame | None], DataFrame]
    partition_by: str | None = None


def compact_store(
    spark: SparkSession,
    store_dir: str,
    substores: list[Substore],
    *,
    read_dels: Callable[[SparkSession], DataFrame | None],
    pre_stage: Callable[[DataFrame | None], None] | None = None,
    deletes_sub: str = "deletes",
) -> int:
    """The multi-substore transactional compaction shared by the
    postings / vector / near-dup-signature stores:

    1. HEAL before locking — replay a dead predecessor's store-level
       txn (``recover_store``) and any per-substore manifest, drop
       stale pre-commit scratch.
    2. LOCK — ``storefs.maintenance_lock(store_dir)``: single writer;
       a concurrent maintainer raises, readers keep hands off our
       working state.
    3. ``pre_stage(dels)`` — store-specific work that must precede the
       staging under the same lock (e.g. the dedup index's physical
       corpus purge, its own scratch+manifest unit: a crash between it
       and the txn leaves tombstones outstanding — masks still
       correct — and the next compaction finishes the job).
    4. STAGE every substore fold into its scratch dir. A substore with
       no batch partials is skipped UNLESS tombstones are outstanding
       and a base exists — then the base itself is re-folded so the
       deletes go physical.
    5. COMMIT folds + tombstone clear through ONE ``promote_txn``
       manifest — no crash can leave one substore folded (tombstones
       applied) beside a sibling still carrying pre-delete partials.

    Returns the max number of batch dirs folded across substores (0
    when there was nothing to do)."""
    storefs.recover_store(store_dir)
    for s in substores:
        p = os.path.join(store_dir, s.name)
        if os.path.isdir(p):
            storefs.recover_pending(p)
    with storefs.maintenance_lock(store_dir):
        dels = read_dels(spark)
        if pre_stage is not None:
            pre_stage(dels)
        folds: list[tuple[str, list[str]]] = []
        for s in substores:
            root = os.path.join(store_dir, s.name)
            if not os.path.isdir(root):
                continue
            batches = storefs.list_batches(root)
            if not batches:
                if dels is None or not os.path.isdir(
                    os.path.join(root, storefs.BASE_DIR)
                ):
                    continue
                batches = [storefs.BASE_DIR]
            df = spark.read.option("basePath", root).parquet(root)
            base = s.rewrite(df, dels)
            w = base.write.mode("overwrite")
            if s.partition_by:
                w = w.partitionBy(s.partition_by)
            w.parquet(storefs.scratch_dir(root))
            folds.append((s.name, batches))
        clear: list[tuple[str, list[str]]] = []
        if dels is not None:
            droot = os.path.join(store_dir, deletes_sub)
            if os.path.isdir(droot):
                clear.append((deletes_sub, storefs.list_batches(droot)))
        if folds or clear:
            storefs.promote_txn(store_dir, folds, clear)
        return max((len(b) for _, b in folds), default=0)


def compact_monoid_store(
    spark: SparkSession,
    store_dir: str,
    build_base: Callable[[], DataFrame],
    *,
    absorb_base: bool = False,
    sever_lineage: bool = False,
) -> int:
    """The single-directory fold for mergeable-summary stores
    (rollup / freq / reservoir / span): heal, lock, write
    ``build_base()`` to scratch, ``promote_compacted``. The summed row
    IS the monoid element, so subsequent batches keep appending
    partials on top and serving after the fold is bit-identical.

    ``absorb_base``: also retire an existing ``batch_id=-1`` base
    alongside the batch partials (for stores whose ``build_base``
    reads the directory PLAIN, without basePath, and therefore folds
    the base's rows in — leaving the old base dir would double-count).
    ``sever_lineage``: eager-checkpoint the fold before the rewrite
    (required when ``build_base`` reads the very files the promote is
    about to delete). Returns the number of batch dirs folded."""
    storefs.recover_pending(store_dir)
    with storefs.maintenance_lock(store_dir):
        batches = storefs.list_batches(store_dir)
        if absorb_base and os.path.isdir(
            os.path.join(store_dir, storefs.BASE_DIR)
        ):
            batches = batches + [storefs.BASE_DIR]
        if not batches:
            return 0
        base = build_base()
        if sever_lineage:
            base = base.localCheckpoint(eager=True)
        base.write.mode("overwrite").parquet(storefs.scratch_dir(store_dir))
        storefs.promote_compacted(store_dir, batches)
        return len(batches)
