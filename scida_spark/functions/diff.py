"""Dataset diff — what changed between two versions of a corpus.

The data-ops question every re-crawl / re-ingest raises: which records
were added, which disappeared, which changed content, and where (which
language, source, shard) did the churn concentrate. One FULL OUTER
join on the record id, content compared by digest (so "changed" means
bytes, not object identity), then a facet rollup of the four statuses.

Scale: the join shuffles both sides on the id — co-locate via
bucketing when diffing the same table lineage repeatedly
(``bucketBy``, as in ``queries_scida._bucketed_cached``); the digest is computed map-side, so the
shuffled payload is (id, 16-byte digest, facet), never the content.
The summary is one groupBy over the statused rows. Deterministic:
status is a pure function of the two versions.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _digest(cols) -> Column:
    # md5 over an INJECTIVE encoding of the content tuple: each column
    # is length-prefixed ("<len>:<value>"), NULL encodes as the bare
    # token "N" (which no length-prefixed value can produce, ":" always
    # follows the digits). Concatenating length-prefixed tokens is
    # injective, so unlike a bare concat_ws (which SKIPS NULLs and
    # cannot tell ('a',NULL,'b') from ('a','b',NULL), or a value
    # containing the separator from the same bytes split across
    # columns), two tuples digest equal iff they are equal.
    # Engine-reproducible: DuckDB twin is
    #   md5(concat(CASE WHEN c IS NULL THEN 'N'
    #              ELSE concat(CAST(length(c) AS VARCHAR), ':', c) END, ...))
    # (both engines count characters in length()).
    parts = []
    for c in cols:
        s = F.col(c).cast("string")
        parts.append(
            F.when(s.isNull(), F.lit("N")).otherwise(
                F.concat(F.length(s).cast("string"), F.lit(":"), s)
            )
        )
    return F.md5(F.concat(*parts))


def dataset_diff(
    old: DataFrame,
    new: DataFrame,
    id_col: str,
    content_cols,
    keep_cols=(),
) -> DataFrame:
    """Row-level diff: one row per id present in either version with
    ``status`` in added / removed / changed / unchanged. ``keep_cols``
    (taken from the NEW side when present, else the old) ride along
    for facet rollups."""
    content_cols = list(content_cols)
    keep_cols = list(keep_cols)
    o = old.select(
        F.col(id_col).alias("__id"),
        _digest(content_cols).alias("__ho"),
        *[F.col(c).alias(f"__o_{c}") for c in keep_cols],
    )
    n = new.select(
        F.col(id_col).alias("__idn"),
        _digest(content_cols).alias("__hn"),
        *[F.col(c).alias(f"__n_{c}") for c in keep_cols],
    )
    j = o.join(n, F.col("__id") == F.col("__idn"), "full_outer")
    status = (
        F.when(F.col("__id").isNull(), F.lit("added"))
        .when(F.col("__idn").isNull(), F.lit("removed"))
        .when(F.col("__ho") == F.col("__hn"), F.lit("unchanged"))
        .otherwise(F.lit("changed"))
    )
    sel = [
        F.coalesce(F.col("__id"), F.col("__idn")).alias(id_col),
        status.alias("status"),
    ]
    for c in keep_cols:
        sel.append(F.coalesce(F.col(f"__n_{c}"), F.col(f"__o_{c}")).alias(c))
    return j.select(*sel)


def diff_summary(
    diff: DataFrame, facet_cols=(), id_col: str | None = None
) -> DataFrame:
    """Per-facet churn rollup: (facets..., status, n) — one groupBy.
    ``id_col`` is unused (kept for call-site readability)."""
    return diff.groupBy(*list(facet_cols), "status").agg(
        F.count("*").alias("n")
    )


def scd2_history(
    snapshots: DataFrame,
    id_col: str,
    content_cols,
    version_col: str = "version",
) -> DataFrame:
    """Slowly-changing-dimension (type 2) history from a stack of
    snapshots: one row per (id, maximal run of CONSECUTIVE versions
    with unchanged content), with ``valid_from`` / ``valid_to`` /
    ``n_versions`` / ``is_current`` — the temporal complement of
    :func:`dataset_diff` (diff answers "what changed between two
    versions"; this answers "when was each record what").

    Runs break on content change (via the injective :func:`_digest`)
    AND on absence: an id that disappears in version k and reappears
    in k+2 gets two rows even if the content returns unchanged —
    presence is part of history. ``is_current`` marks runs that reach
    the latest version in the stack.

    Scale: digest map-side, ONE shuffle on the id for the per-id
    version window (rows per id = number of versions the id appears
    in, bounded by the snapshot count, so no hot partition), one
    groupBy at (id, run) grain; the global latest version is a 1-row
    broadcast. Deterministic: a pure function of the snapshot stack.

    PRECONDITION — one row per (id, version): a snapshot is a keyed
    table, so the same id appearing twice IN THE SAME version with
    DIFFERENT content is a contract violation (the lag window would
    see an arbitrary interleaving and run breaks become
    nondeterministic). Exact duplicate rows (same id, version, AND
    content — e.g. a snapshot appended twice) are tolerated: they are
    dropped on the digest grain below, which is deterministic."""
    from pyspark.sql.window import Window as _W

    d = snapshots.select(
        F.col(id_col).alias("__id"),
        F.col(version_col).cast("long").alias("__v"),
        _digest(list(content_cols)).alias("__h"),
    )
    # Exact-duplicate drop WITHOUT a second exchange: repartition on
    # __id up front, and BOTH windows ride that one shuffle — the
    # (__id, __v, __h) dedup window's ClusteredDistribution is
    # satisfied by hashpartitioning(__id) (subset key), same as the
    # (__id) lag window and the (__id, __run) groupBy below. A
    # dropDuplicates([...3 cols]) here would hash-exchange the stack
    # twice.
    d = d.repartition("__id")
    w_dup = _W.partitionBy("__id", "__v", "__h").orderBy("__v")
    d = (
        d.withColumn("__rn", F.row_number().over(w_dup))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )
    w = _W.partitionBy("__id").orderBy("__v")
    flagged = d.withColumn(
        "__new_run",
        (
            F.lag("__h").over(w).isNull()
            | (F.lag("__h").over(w) != F.col("__h"))
            | (F.lag("__v").over(w) != F.col("__v") - 1)
        ).cast("int"),
    ).withColumn("__run", F.sum("__new_run").over(w))
    vmax = snapshots.agg(
        F.max(F.col(version_col).cast("long")).alias("__vmax")
    )
    return (
        flagged.groupBy("__id", "__run")
        .agg(
            F.min("__v").alias("valid_from"),
            F.max("__v").alias("valid_to"),
            F.count("*").alias("n_versions"),
        )
        .crossJoin(F.broadcast(vmax))
        .select(
            F.col("__id").alias(id_col),
            "valid_from",
            "valid_to",
            "n_versions",
            (F.col("valid_to") == F.col("__vmax")).alias("is_current"),
        )
    )
