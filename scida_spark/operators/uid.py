"""Global 0-based row index (``uid``) — the load-bearing positional
semantic of the reference data model.

scida injects ``uid = da.arange(nparts)`` per container at load
(reference src/scida/io/_base.py:734-750); group membership is defined
by contiguous uid ranges. Spark relations are unordered, so the engine
makes the index explicit and persists it as a column.

The file readers assign uid from split offsets (``sources/convert.py``).
For a relation without one, :func:`with_uid_by_order` derives a
deterministic uid from a total ordering (sort keys). Scale-safe:
``row_number`` over a partitioned window would need a single task for a
global ordering, so it uses the two-phase form — per-partition local
ranks + broadcast partition offsets (classic zipWithIndex, but in
DataFrame terms).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from scida_spark.operators.prefix_sum import exclusive_key_prefix


def with_uid_by_order(
    df: DataFrame,
    key_col: str,
    *tiebreak_cols: str,
    uid_col: str = "uid",
    key_bucket_width: int | None = None,
) -> DataFrame:
    """Assign uid = dense global 0-based index under
    ``(key_col, *tiebreak_cols)`` ordering.

    Deterministic two-phase plan (no single-task global window over the
    big side, no reliance on physical partition ids):

      1. per-key row counts (groupBy — output is |distinct keys| rows),
         prefix-summed into per-key offsets with a window over the
         *small* aggregated side;
      2. broadcast-join the offsets back and rank within each key
         (shuffle partitioned by key — parallel at any scale).

    The phase-1 window orders the distinct-key table in one task; for
    key cardinality beyond ~1e7 pass ``key_bucket_width`` (numeric keys)
    to recurse the trick once — ``prefix_sum.exclusive_key_prefix``
    buckets keys by ``floor(key/width)``, so the only single-task window
    left is over |keys|/width bucket rows (see SCALE.md's ×100 row for
    the measured cliff and fix)."""
    counts = df.groupBy(key_col).agg(F.count("*").alias("__cnt"))
    offsets = exclusive_key_prefix(
        counts, key_col, "__cnt", bucket_width=key_bucket_width, out_col="__offset"
    )
    w_local = W.partitionBy(key_col).orderBy(*(tiebreak_cols or (key_col,)))
    return (
        df.join(F.broadcast(offsets), key_col)
        .withColumn(uid_col, F.row_number().over(w_local).cast("long") + F.col("__offset") - 1)
        .drop("__offset", "__cnt")
    )


def uid_range_filter(
    df: DataFrame,
    key_col: str,
    *tiebreak_cols: str,
    ranges: list[tuple[int, int]],
    uid_col: str = "uid",
    key_bucket_width: int | None = None,
) -> DataFrame:
    """Rows whose order-derived uid falls in any half-open ``[lo, hi)``
    of ``ranges`` — same rows and uid values as
    ``with_uid_by_order(df, ...)`` followed by the uid predicate, but
    WITHOUT ranking the big side.

    uid is monotone in (key, tiebreaks) order, so the per-key offset
    table already brackets every key's uid span: a key overlaps a range
    iff ``offset < hi and offset + cnt > lo``. Only overlapping keys'
    rows are ranked (selection-sized, not corpus-sized); the big side
    is touched by one scan for the counts aggregate (map-side combine —
    only (key, cnt) rows shuffle) and one scan hash-joined against the
    broadcast selected-key table. This is the query-time analog of the
    custom sources' uid-pushdown split pruning (sources/npy.py): the
    selector's cost tracks the selection, not the corpus (measured at
    the ×100 set — see SCALE.md).

    ``ranges`` must be literal ints (they parameterize the plan, like
    the reference's slice arguments); ``key_bucket_width`` as in
    :func:`with_uid_by_order`."""
    counts = df.groupBy(key_col).agg(F.count("*").alias("__cnt"))
    offsets = exclusive_key_prefix(
        counts, key_col, "__cnt", bucket_width=key_bucket_width, out_col="__offset"
    )
    key_keep = F.lit(False)
    uid_keep = F.lit(False)
    for lo, hi in ranges:
        lo, hi = int(lo), int(hi)
        key_keep = key_keep | (
            (F.col("__offset") < hi) & (F.col("__offset") + F.col("__cnt") > lo)
        )
        uid_keep = uid_keep | ((F.col(uid_col) >= lo) & (F.col(uid_col) < hi))
    sel = offsets.filter(key_keep).select(key_col, "__offset")
    w_local = W.partitionBy(key_col).orderBy(*(tiebreak_cols or (key_col,)))
    return (
        df.join(F.broadcast(sel), key_col)
        .withColumn(
            uid_col,
            F.row_number().over(w_local).cast("long") + F.col("__offset") - 1,
        )
        .drop("__offset")
        .filter(uid_keep)
    )
