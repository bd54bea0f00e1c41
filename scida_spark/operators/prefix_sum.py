"""Distributed global prefix sum — scale-safe running totals under a
total ordering.

A naive ``SUM() OVER (ORDER BY ...)`` forces Spark to move *all* rows
to one task (WindowExec warns "No Partition Defined"). The reference
never hits this because its offsets cumsum runs over the small catalog
only (arepo/dataset.py:342-352) — but a 100 TB engine needs the general
form. Classic two-phase scan, in DataFrame terms (SURVEY §7 hard-item
(b); same pattern as operators/uid.py::with_uid_by_order):

  1. per-key partial sums (one groupBy shuffle; output is |keys| rows);
  2. exclusive prefix over the *small* per-key table (window over keys
     — one task over |keys| rows, which is the point: the big side
     never serializes);
  3. broadcast the key offsets back; within-key running sum under the
     tie-break ordering (partitioned window — parallel at any scale);
  4. row result = key offset + local running sum.

For key cardinality beyond ~1e7, apply step 2 recursively (bucket the
keys). Sums are computed in DECIMAL(38,6): exact, order-independent,
and bit-identical across engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

DEC = "decimal(38,6)"


def exclusive_key_prefix(
    totals: DataFrame,
    key_col: str,
    sum_col: str,
    bucket_width: float | None = None,
    out_col: str = "__off",
) -> DataFrame:
    """Exclusive prefix of ``sum_col`` over ascending ``key_col`` order
    on a one-row-per-key table — the shared phase-1 of every two-phase
    global form (uid assignment, running sums, catalog offsets, AUC
    ranks). Returns ``totals`` with ``out_col`` added: every input
    column is kept.

    ``bucket_width=None`` is the single-window plan: fine to ~1e7 keys,
    but it serializes |keys| rows through one task (WindowExec warns).
    With a width, the same trick recurses once: keys bucket by
    ``floor(key / width)`` (order-preserving for numeric keys), bucket
    TOTALS prefix-sum over the tiny bucket table (the only remaining
    single-task window — |keys|/width rows), and the within-bucket
    exclusive prefix runs partitioned by bucket, parallel at any scale.
    Identical values — addition is reassociated only across exact
    engine-side arithmetic (longs / DECIMAL), never doubles.

    A NULL key forms its own bucket and sorts first at both levels
    (ASC NULLS FIRST), matching the single-window order; the bucket
    join is null-safe so those rows survive."""
    dtype = dict(totals.dtypes)[sum_col]
    zero = F.lit(0).cast(dtype)
    if bucket_width is None:
        w_off = W.orderBy(key_col).rowsBetween(W.unboundedPreceding, -1)
        return totals.withColumn(
            out_col, F.coalesce(F.sum(sum_col).over(w_off), zero)
        )
    # fractional widths are legal (float keys — e.g. AUC score
    # vocabularies); integral widths keep the exact literal form
    bw = float(bucket_width)
    bkt = totals.withColumn(
        "__bkt",
        F.floor(
            F.col(key_col) / F.lit(int(bw) if bw.is_integer() else bw)
        ),
    )
    w_b = W.orderBy("__bkt").rowsBetween(W.unboundedPreceding, -1)
    boffs = (
        bkt.groupBy("__bkt")
        .agg(F.sum(sum_col).alias("__btot"))
        .withColumn("__boff", F.coalesce(F.sum("__btot").over(w_b), zero))
        .select(F.col("__bkt").alias("__bkt2"), "__boff")
    )
    w_in = (
        W.partitionBy("__bkt").orderBy(key_col).rowsBetween(W.unboundedPreceding, -1)
    )
    return (
        bkt.withColumn("__in", F.coalesce(F.sum(sum_col).over(w_in), zero))
        .join(F.broadcast(boffs), F.col("__bkt").eqNullSafe(F.col("__bkt2")))
        .withColumn(out_col, F.col("__boff") + F.col("__in"))
        .drop("__bkt", "__bkt2", "__boff", "__in")
    )


def global_running_sum(
    df: DataFrame,
    value_col: str,
    key_col: str,
    *tiebreak_cols: str,
    out_col: str = "running",
    key_bucket_width: int | None = None,
) -> DataFrame:
    """running[i] = sum of value over all rows ordered before-or-at i
    under (key_col, *tiebreak_cols) total ordering — no single-task
    window over the big side. ``key_bucket_width`` buckets phase 1 too
    (see :func:`exclusive_key_prefix`) for key cardinality beyond ~1e7."""
    totals = df.groupBy(key_col).agg(
        F.sum(F.col(value_col).cast(DEC)).alias("__tot")
    )
    offsets = exclusive_key_prefix(
        totals, key_col, "__tot", bucket_width=key_bucket_width
    )
    w_local = (
        W.partitionBy(key_col)
        .orderBy(*(tiebreak_cols or (key_col,)))
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return (
        df.join(F.broadcast(offsets), key_col)
        .withColumn(
            out_col,
            (F.sum(F.col(value_col).cast(DEC)).over(w_local) + F.col("__off")),
        )
        .drop("__off", "__tot")
    )


def grouped_ntile_stats_from_cells(
    raw_cells: DataFrame,
    k: int,
    group_col: str,
    bucket_col: str,
    cnt_col: str = "__cnt",
    out_col: str = "ntile",
    percentiles: list[tuple[str, float]] | None = None,
) -> DataFrame:
    """Per-(group, tile) row count and bucket-value min/max of
    ``NTILE(k) OVER (PARTITION BY group ORDER BY bucket, <any
    tie-break>)`` from an ALREADY-AGGREGATED ``(group, bucket, cnt)``
    cell table, WITHOUT ranking a single row (r15 — guide §1.2 "change
    the distributed algorithm").

    A native NTILE partitioned by a low-cardinality group sorts each
    group's ENTIRE membership on one task (measured: 3 return-flag
    groups x 20M rows each at the x100 scale = three straggler sorts).
    Here NTILE assigns tiles by rank alone, rows sharing a bucket value
    occupy one contiguous rank block ``(__off, __off + __cnt]``, and
    tile ``j`` owns the rank interval ``(start_j, start_j + size_j]``
    with ``size_j = q+1`` for ``j <= n % k`` else ``q`` (``q = n div
    k`` — the uneven-split rule). So the number of a cell's rows
    landing in tile ``j`` is the interval overlap, and a tile's bucket
    min/max are the min/max bucket values among cells with positive
    overlap. Counts, min and max are invariant to the tie-break order
    (ties share a bucket value), so the result is bit-identical to
    aggregating the native window's per-row output — pinned in
    tests/test_prefix_sum.py — while the plan never shuffles or sorts
    the raw rows. A pipeline that computed the cell counts once reuses
    the IDENTICAL DataFrame here, so the one cell shuffle is planned
    once and shared across consumers. Returns ``(group_col, out_col,
    n_rows, bucket_min, bucket_max)``, one row per non-empty tile.

    ``percentiles`` (r16): ``[(out_name, p), ...]`` additionally
    computes the EXACT interpolated percentile per group — the same
    value as Spark's ``percentile(bucket, p, cnt)`` aggregate,
    bit-for-bit — as closed-form window expressions over the SAME
    windowed cells, appended as constant-per-group columns on every
    (group, tile) row. This keeps the whole computation ONE linear
    pipeline (one scan, no second aggregate branch, no join): the
    value at 0-indexed rank r among the group's non-NULL values is
    the unique cell whose cumulative-count interval covers r, and
    Spark's ``Percentile.getPercentile`` interpolates
    ``(ceil(pos) - pos) * v_floor + (pos - floor(pos)) * v_ceil`` at
    ``pos = p * (n_nonnull - 1)``, returning ``v_floor`` outright when
    ``pos`` is integral or both ranks land in one cell — replicated
    here expression-for-expression (same IEEE ops, same order), pinned
    in tests/test_prefix_sum.py. NULL bucket cells count for the tile
    ranks (native NTILE sorts NULLS FIRST) but are excluded from the
    percentile ranks, exactly like the aggregate they replace."""
    w_off = (
        W.partitionBy(group_col)
        .orderBy(bucket_col)
        .rowsBetween(W.unboundedPreceding, -1)
    )
    w_all = W.partitionBy(group_col)
    base_cols = [
        F.col(group_col),
        F.col(bucket_col),
        F.col(cnt_col).alias("__cnt"),
        F.coalesce(F.sum(cnt_col).over(w_off), F.lit(0))
        .cast("long")
        .alias("__off"),
        F.sum(cnt_col).over(w_all).cast("long").alias("__n"),
    ]
    if percentiles:
        # non-NULL row count per group: percentile ranks skip NULLs
        base_cols.append(
            F.coalesce(
                F.sum(
                    F.when(F.col(bucket_col).isNotNull(), F.col(cnt_col))
                ).over(w_all),
                F.lit(0),
            )
            .cast("long")
            .alias("__nn")
        )
    cells = raw_cells.select(*base_cols)
    pct_names: list[str] = []
    if percentiles:
        # window-over-window: same partitioning, unbounded frame — a
        # chained Window operator, no new exchange or sort.
        pct_exprs = []
        # rank offset among non-NULL values (NULL cells sort first)
        nnoff = F.col("__off") - (F.col("__n") - F.col("__nn"))
        val = F.col(bucket_col).cast("double")
        for name, p in percentiles:
            pos = F.lit(float(p)) * (F.col("__nn") - F.lit(1)).cast(
                "double"
            )
            lower = F.floor(pos)
            higher = F.ceil(pos)

            def _pick(rank):
                hit = (
                    F.col(bucket_col).isNotNull()
                    & (nnoff <= rank)
                    & (rank < nnoff + F.col("__cnt"))
                )
                return F.max(F.when(hit, val)).over(w_all)

            vl, vh = _pick(lower), _pick(higher)
            pct_exprs.append(
                F.when(lower == higher, vl)
                .when(vl == vh, vl)
                .otherwise(
                    (higher.cast("double") - pos) * vl
                    + (pos - lower.cast("double")) * vh
                )
                .alias(name)
            )
            pct_names.append(name)
        cells = cells.select("*", *pct_exprs)
    kk = F.lit(int(k))
    qsz = F.floor(F.col("__n") / kk).cast("long")
    rem = (F.col("__n") % kk).cast("long")
    j = F.col(out_col).cast("long")
    start = F.when(j <= rem, (j - 1) * (qsz + 1)).otherwise(
        rem * (qsz + 1) + (j - 1 - rem) * qsz
    )
    size = F.when(j <= rem, qsz + 1).otherwise(qsz)
    ov = F.least(start + size, F.col("__off") + F.col("__cnt")) - F.greatest(
        start, F.col("__off")
    )
    return (
        cells.withColumn(
            out_col, F.explode(F.array(*[F.lit(i) for i in range(1, k + 1)]))
        )
        .withColumn("__ov", ov)
        .filter(F.col("__ov") > 0)
        .groupBy(group_col, F.col(out_col).cast("int").alias(out_col))
        .agg(
            F.sum("__ov").cast("long").alias("n_rows"),
            F.min(bucket_col).alias("bucket_min"),
            F.max(bucket_col).alias("bucket_max"),
            # constant within the group — min() just forwards the value
            *[F.min(n).alias(n) for n in pct_names],
        )
    )


def grouped_median_element_cells(
    cells: DataFrame,
    group_col: str,
    value_col: str,
    cnt_col: str,
    out_col: str = "med",
) -> DataFrame:
    """EXACT element-pick median per group — the value at rank
    ceil(n/2) under ascending ``value_col`` order — over an
    ALREADY-AGGREGATED per-(group, value) count table: the window runs
    over the cells (rows bounded by distinct values per group, not
    group size), so no task ever sorts a group's raw membership. An
    element pick, not an interpolation, so the result is one of the
    input values and hash-matches any engine bit-for-bit (the
    KLL-anchor trick). The reference form of
    :func:`grouped_robust_stats_cells`' median and MAD picks.

    ``cells`` must hold each (group, value) at most once (a groupBy
    output does); multiplicity rides in ``cnt_col``. ``value_col``
    must be non-NULL: engines disagree on where NULLs sort (Spark ASC
    puts them first, DuckDB last), so a NULL-bearing column would shift
    every rank — filter or coalesce upstream.

    Returns one row per group: ``(group_col, out_col, n)``."""
    w_cum = W.partitionBy(group_col).orderBy(value_col)
    w_all = W.partitionBy(group_col)
    cum = cells.select(
        group_col,
        F.col(value_col).alias(out_col),
        F.col(cnt_col).alias("__c"),
        F.sum(cnt_col).over(w_cum).alias("__cum"),
        F.sum(cnt_col).over(w_all).alias("__n"),
    )
    target = F.expr("(__n + 1) DIV 2")
    return cum.filter(
        (F.col("__cum") >= target) & (F.col("__cum") - F.col("__c") < target)
    ).select(group_col, out_col, F.col("__n").alias("n"))

def grouped_robust_stats_cells(
    cells: DataFrame,
    group_col: str,
    value_col: str,
    cnt_col: str,
) -> DataFrame:
    """Exact element-pick median, MAD (median absolute deviation, also
    an element pick), and the ``|x − med| > 3·MAD`` outlier count per
    group, from an ALREADY-AGGREGATED ``(group, value, cnt)`` cell
    table — as ONE LINEAR PIPELINE (r16).

    The r15 form computed the same math as four DataFrame branches
    (median pick, deviation re-aggregate, MAD pick, outlier sum)
    joined back together, which plans the shared cells subtree once
    per consumer and relies on AQE runtime exchange reuse to avoid
    re-executing it. Here the median and MAD picks are WINDOW
    expressions over the flag-partitioned cells (``max(when(<the
    grouped_median_element_cells pick condition>, value))`` over the
    partition — exactly one cell satisfies the condition), the
    deviation re-aggregation keys on (group, dev) while the rows are
    already clustered by group (no new exchange), and the outlier
    count folds into the final group-grain aggregate: one cells
    subtree in the plan, two exchanges total, zero joins. Values are
    bit-identical to the branch form (same picks, same integer
    arithmetic) — pinned in tests/test_prefix_sum.py.

    ``value_col`` must be non-NULL (the grouped_median_element_cells
    contract). Returns ``(group_col, med, mad, n_outliers)``."""
    w_all = W.partitionBy(group_col)
    target = F.expr("(__n + 1) DIV 2")
    pick = (F.col("__cum") >= target) & (
        F.col("__cum") - F.col("__c") < target
    )

    def _pick_over(df: DataFrame, vcol: str, out: str) -> DataFrame:
        keep = [c for c in df.columns if not c.startswith("__")]
        return df.select(
            *keep,
            F.col("__c"),
            F.sum("__c")
            .over(W.partitionBy(group_col).orderBy(vcol))
            .alias("__cum"),
            F.sum("__c").over(w_all).alias("__n"),
        ).select(
            *keep,
            F.col("__c"),
            F.max(F.when(pick, F.col(vcol))).over(w_all).alias(out),
        )

    c = _pick_over(
        cells.select(
            group_col, value_col, F.col(cnt_col).alias("__c")
        ),
        value_col,
        "med",
    )
    devc = (
        c.groupBy(
            group_col,
            F.abs(F.col(value_col) - F.col("med")).alias("_dev"),
        )
        .agg(F.sum("__c").alias("__c"), F.min("med").alias("med"))
    )
    d = _pick_over(devc, "_dev", "mad")
    return d.groupBy(group_col).agg(
        F.min("med").alias("med"),
        F.min("mad").alias("mad"),
        F.sum(
            F.when(F.col("_dev") > 3 * F.col("mad"), F.col("__c")).otherwise(
                F.lit(0)
            )
        ).alias("n_outliers"),
    )


def grouped_topn(
    df: DataFrame,
    n: int,
    group_col: str,
    order_cols,
    out_col: str = "rn",
) -> DataFrame:
    """The rows with ``ROW_NUMBER() <= n`` per group under a TOTAL
    ordering (include a unique tie-break column) — deliberately the
    NATIVE window + rank filter, because Catalyst already plans it as
    the two-phase skew-safe form this module otherwise hand-builds:
    ``WindowGroupLimit ... Partial`` runs BEFORE the exchange (each
    map task forwards at most n rows per group — a per-partition sort
    + streaming group limit, never a group-wide sort) and ``Final``
    prunes again after, so a hot group with billions of rows ships at
    most n * map_tasks rows through the shuffle.

    This is the measured OPPOSITE of the NTILE situation: a
    hand-rolled salted two-level rewrite was built, A/B'd at a forced
    500k-row single hot group, and DELETED — it shuffled the full
    corpus on (group, salt) where the native plan prunes map-side
    first (0.8 s vs 0.3 s warm, and the gap widens with data). NTILE
    still needs :func:`grouped_ntile_stats_from_cells` because
    rank-limit pushdown only exists for rank-like functions with a
    ``rank <= k`` filter.
    ``tests/test_plans.py`` pins the Partial WindowGroupLimit so a
    regression (e.g. the filter drifting away from the window) is
    caught.

    Returns ONLY the selected rows (original columns + ``out_col``)."""
    w = W.partitionBy(group_col).orderBy(*list(order_cols))
    return df.withColumn(out_col, F.row_number().over(w)).filter(
        F.col(out_col) <= int(n)
    )
