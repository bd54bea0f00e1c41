"""Incremental materialized-aggregate maintenance over a stream.

The 100 TB dashboard shape: the raw event stream is far too large to
re-aggregate per query, so each micro-batch is reduced to MERGEABLE
per-key partials — count, DECIMAL sum, and an HLL sketch of the
distinct-count column — and appended to a partial store keyed by
``batch_id``. Serving a query merges partials (sum the counts/sums,
union the sketches): cost O(keys × batches written), never a rescan
of history. A maintenance compaction periodically folds all partials
into one base partial, restoring O(keys) serving cost; because every
component is a commutative monoid, compact-then-merge ≡ merge — the
same algebra the batch-side sketch rollups (functions/sketches.py)
rely on.

Exactly-once to storage: each batch writes its OWN
``batch_id=N`` subdirectory with ``mode("overwrite")`` — a replayed
batch after failure overwrites its previous output instead of
double-counting (same idempotence convention as streaming/ingest.py).

Net-new surface (no reference counterpart — SURVEY §2.7); the
batch-side equivalence contract (merged view ≡ one-shot groupBy over
all data, exactly for count/sum, within the HLL bound for distincts)
is pinned in tests/test_streaming_rollup.py.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from scida_spark.streaming import storekit

DEC = "decimal(38,6)"


def _partial(batch_df: DataFrame, key_cols: list[str], sum_col: str,
             distinct_col: str, lgk: int) -> DataFrame:
    """Reduce one micro-batch to mergeable per-key partials."""
    return batch_df.groupBy(*key_cols).agg(
        F.count("*").alias("n_rows"),
        F.sum(F.col(sum_col).cast(DEC)).alias("sum_val"),
        F.hll_sketch_agg(distinct_col, F.lit(lgk)).alias("distinct_sketch"),
    )


def read_rollup(
    spark: SparkSession, store_dir: str, key_cols: list[str]
) -> DataFrame:
    """Serve the materialized aggregate: merge all partials into one
    row per key — counts and sums re-aggregate EXACTLY (monoid),
    distincts via HLL union (within the sketch bound). Cost is
    O(keys × partial files), independent of raw history size."""
    partials = storekit.read_partials(spark, store_dir)
    return partials.groupBy(*key_cols).agg(
        F.sum("n_rows").alias("n_rows"),
        F.sum("sum_val").alias("sum_val"),
        F.hll_sketch_estimate(F.hll_union_agg("distinct_sketch")).alias(
            "approx_distinct"
        ),
    )


def compact_rollup(
    spark: SparkSession, store_dir: str, key_cols: list[str]
) -> int:
    """Fold every partial into a single base partial (batch_id=-1 by
    convention, read like any other partial). Serving cost drops back
    to O(keys); the merged view is unchanged because every component
    is mergeable. Heal/lock/promote mechanics:
    :func:`storekit.compact_monoid_store`."""
    def _base():
        partials = storekit.read_partials(spark, store_dir)
        return partials.groupBy(*key_cols).agg(
            F.sum("n_rows").alias("n_rows"),
            F.sum("sum_val").alias("sum_val"),
            F.hll_union_agg("distinct_sketch").alias("distinct_sketch"),
        )

    return storekit.compact_monoid_store(spark, store_dir, _base)


# --------------------------------------------------------------------------
# Deterministic streaming reservoir (min-k-by-hash uniform sample)
# --------------------------------------------------------------------------


def _reservoir_partial(
    batch_df: DataFrame,
    group_cols: list[str],
    id_col: str,
    k: int,
    salt: str,
) -> DataFrame:
    """Per-group k smallest md5(id || salt) rows of one batch — the
    min-k monoid partial. The rank filter plans as WindowGroupLimit
    (map-side prune before the exchange)."""
    from pyspark.sql.window import Window as W

    keyed = batch_df.select(
        *group_cols,
        F.col(id_col).alias("rid"),
        F.md5(F.concat(F.col(id_col).cast("string"), F.lit(salt))).alias(
            "rkey"
        ),
    ).dropDuplicates(group_cols + ["rkey"])
    w = W.partitionBy(*group_cols).orderBy("rkey", "rid")
    return (
        keyed.withColumn("_r", F.row_number().over(w))
        .filter(F.col("_r") <= int(k))
        .drop("_r")
    )


def read_reservoir(
    spark: SparkSession, store_dir: str, group_cols: list[str], k: int = 64
) -> DataFrame:
    """Serve the reservoir: merge all partials, dedupe on the hash key
    (the same id may survive several batches' partials), keep the k
    smallest per group. Returns (group..., rid, rkey, sample_rank)."""
    from pyspark.sql.window import Window as W

    partials = storekit.read_partials(spark, store_dir)
    w = W.partitionBy(*group_cols).orderBy("rkey", "rid")
    return (
        partials.select(*group_cols, "rid", "rkey")
        .dropDuplicates(group_cols + ["rkey"])
        .withColumn("sample_rank", F.row_number().over(w))
        .filter(F.col("sample_rank") <= int(k))
    )


def compact_reservoir(
    spark: SparkSession, store_dir: str, group_cols: list[str], k: int = 64
) -> int:
    """Fold all reservoir partials into one base partial
    (``batch_id=-1``); min-k is idempotent, so serving afterwards is
    bit-identical. Via :func:`storekit.compact_monoid_store`."""
    return storekit.compact_monoid_store(
        spark,
        store_dir,
        lambda: read_reservoir(spark, store_dir, group_cols, k).drop(
            "sample_rank"
        ),
    )


# --------------------------------------------------------------------------
# One ingest pass, many stores
# --------------------------------------------------------------------------


def rollup_writer(
    store_dir: str,
    key_cols: list[str],
    sum_col: str,
    distinct_col: str,
    lgk: int = 12,
):
    """Per-batch writer for the count/sum/HLL rollup store, composable
    under :func:`incremental_multi_store_ingest`."""

    def write(batch_df: DataFrame, batch_id: int) -> None:
        _partial(batch_df, key_cols, sum_col, distinct_col, lgk).write.mode(
            "overwrite"
        ).parquet(os.path.join(store_dir, f"batch_id={batch_id}"))

    return write


def reservoir_writer(
    store_dir: str,
    group_cols: list[str],
    id_col: str,
    k: int = 64,
    salt: str = "res",
):
    """Per-batch writer for the deterministic reservoir store,
    composable under :func:`incremental_multi_store_ingest`."""

    def write(batch_df: DataFrame, batch_id: int) -> None:
        _reservoir_partial(batch_df, group_cols, id_col, k, salt).write.mode(
            "overwrite"
        ).parquet(os.path.join(store_dir, f"batch_id={batch_id}"))

    return write


def incremental_multi_store_ingest(
    spark: SparkSession,
    input_dir: str,
    schema,
    *,
    checkpoint_dir: str,
    writers,
    available_now: bool = True,
    max_files_per_trigger: int | None = None,
):
    """ONE streaming pass maintaining MANY mergeable stores: every
    micro-batch is persisted once and each writer derives its partial
    from the same in-memory batch — the production shape at 100 TB,
    where the event stream is read once per trigger no matter how many
    materializations (rollup, reservoir, ...) ride it.
    Each writer keeps the idempotent ``batch_id=N`` overwrite
    contract, so replay safety composes."""

    def process(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.persist()
        try:
            for w in writers:
                w(batch_df, batch_id)
        finally:
            batch_df.unpersist()

    return storekit.run_file_ingest(
        spark, input_dir, schema, process, checkpoint_dir,
        available_now=available_now,
        max_files_per_trigger=max_files_per_trigger,
    )
