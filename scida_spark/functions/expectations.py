"""Data-quality expectations — declarative constraint checks with a
one-scan report (the Deequ / Great Expectations shape, Spark-first).

A 100 TB ingest pipeline gates every batch on constraints: column
completeness, key uniqueness, value ranges, accepted categorical sets,
pattern conformance, referential integrity. The natural Spark design
computes EVERY single-table check in ONE aggregation pass — each check
compiles to an algebraic aggregate expression (conditional counts),
all of them evaluated in the same map-side-combined scan — and emits a
tidy report: one row per check with the observed metric, the declared
bound, and a verdict. All metrics are mergeable (sums/counts), so
per-partition partials combine map-side and the same check specs work
inside ``foreachBatch`` for streaming gates.

No UDFs anywhere; the report itself is lazy (a DataFrame), so it can
be unioned across tables, filtered to failures, or joined to history.

Check constructors (each returns a spec dict):

* ``not_null(col, min_fraction)`` — non-NULL fraction >= bound.
* ``unique(col)`` — distinct/total == 1.0. Exact ``count_distinct``
  by default (one Expand in the shared scan); pass ``approx=True`` to
  the report for ``approx_count_distinct`` (HLL — no Expand, the
  100 TB default when an exact uniqueness proof isn't required).
* ``in_range(col, lo, hi, min_fraction)`` — fraction of non-NULL
  values inside [lo, hi] >= bound.
* ``accepted(col, values, min_fraction)`` — fraction of non-NULL
  values inside the accepted set >= bound.
* ``matches(col, regex, min_fraction)`` — fraction of non-NULL values
  matching the (Java) regex >= bound.

Referential integrity needs a join, so it is its own one-row report
(:func:`fk_check`) that unions with the scan report: orphan count via
LEFT ANTI join (broadcast the parent's distinct keys when they fit —
caller hint — else a shuffled semi-diff; either way no row explosion).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

def not_null(col: str, min_fraction: float = 1.0) -> dict:
    return {"kind": "not_null", "col": col, "bound": float(min_fraction)}


def unique(col: str) -> dict:
    return {"kind": "unique", "col": col, "bound": 1.0}


def in_range(col: str, lo, hi, min_fraction: float = 1.0) -> dict:
    return {
        "kind": "in_range", "col": col, "lo": lo, "hi": hi,
        "bound": float(min_fraction),
    }


def accepted(col: str, values, min_fraction: float = 1.0) -> dict:
    return {
        "kind": "accepted", "col": col, "values": list(values),
        "bound": float(min_fraction),
    }


def matches(col: str, regex: str, min_fraction: float = 1.0) -> dict:
    return {
        "kind": "matches", "col": col, "regex": regex,
        "bound": float(min_fraction),
    }


def _frac(cond: Column, denom: Column) -> Column:
    # NULL (not 0/0's NaN) on an empty denominator: an empty table
    # genuinely has no evidence either way; the verdict below treats
    # NULL observed as passed=false so empty batches surface loudly.
    num = F.sum(F.when(cond, F.lit(1)).otherwise(F.lit(0)))
    return F.when(denom > 0, num / denom)


def _label(c: dict) -> str:
    if c["kind"] == "in_range":
        return f"in_range:{c['col']}:[{c['lo']},{c['hi']}]"
    if c["kind"] == "accepted":
        return f"accepted:{c['col']}"
    if c["kind"] == "matches":
        return f"matches:{c['col']}"
    return f"{c['kind']}:{c['col']}"


def expect_report(df: DataFrame, checks, approx: bool = False) -> DataFrame:
    """Evaluate every check in ONE aggregation over ``df`` and return
    the report: ``(check, observed, bound, passed)``, one row per
    check, in the caller's check order.

    The single ``agg`` means one scan + one map-side-combined reduce
    regardless of check count; ``stack`` unpivots the 1-row metric
    vector into report rows without another job. ``approx`` swaps
    exact ``count_distinct`` for the HLL sketch in ``unique`` checks
    (bound then applies to the ESTIMATED ratio — gate with slack)."""
    checks = list(checks)
    n_all = F.count(F.lit(1))
    aggs = [n_all.alias("__n")]
    for i, c in enumerate(checks):
        col = F.col(c["col"])
        nn = F.count(col)  # non-NULL count
        if c["kind"] == "not_null":
            m = _frac(col.isNotNull(), n_all)
        elif c["kind"] == "unique":
            d = (
                F.approx_count_distinct(c["col"])
                if approx
                else F.count_distinct(col)
            )
            m = F.when(nn > 0, d.cast("double") / nn)
        elif c["kind"] == "in_range":
            m = _frac(col.isNotNull() & col.between(c["lo"], c["hi"]), nn)
        elif c["kind"] == "accepted":
            m = _frac(col.isin(c["values"]), nn)
        elif c["kind"] == "matches":
            m = _frac(col.isNotNull() & col.rlike(c["regex"]), nn)
        else:
            raise ValueError(f"unknown check kind: {c['kind']}")
        aggs.append(m.cast("double").alias(f"__m{i}"))
    row = df.agg(*aggs)
    labels = [_label(c) for c in checks]
    bad = [l for l in labels if "'" in l or "\\" in l]
    if bad:  # labels are spliced into a stack() SQL expr below
        raise ValueError(f"check labels must not contain quotes: {bad}")
    pairs = ", ".join(
        f"'{label}', __m{i}, CAST({c['bound']} AS DOUBLE)"
        for i, (label, c) in enumerate(zip(labels, checks))
    )
    return row.select(
        F.expr(f"stack({len(checks)}, {pairs}) AS (check, observed, bound)"),
        F.col("__n").cast("long").alias("n"),
    ).select(
        "check",
        "observed",
        "bound",
        # NULL observed (empty input) fails closed
        F.coalesce(F.col("observed") >= F.col("bound"), F.lit(False)).alias(
            "passed"
        ),
        "n",
    )


def fk_check(
    child: DataFrame,
    child_col: str,
    parent: DataFrame,
    parent_col: str,
    max_orphans: int = 0,
    broadcast_parent: bool = True,
) -> DataFrame:
    """Referential-integrity report row: ``observed`` = number of
    child rows whose non-NULL ``child_col`` has no match in
    ``parent[parent_col]`` (left join against the parent's DISTINCT
    keys, counting the unmatched), passed when <= ``max_orphans``.
    NULL FKs are not orphans (SQL FK semantics — use ``not_null`` to
    forbid them).

    Scale: the anti join shuffles on the key like any equi-join;
    ``broadcast_parent`` hints the distinct-key side when it fits
    (dimension tables), making the check map-only."""
    keys = parent.select(F.col(parent_col).alias("__pk")).distinct()
    if broadcast_parent:
        keys = F.broadcast(keys)
    # LEFT OUTER + conditional count: orphan count AND the scanned-row
    # total in the same pass (an anti join would need a second job for n)
    orphans = (
        child.filter(F.col(child_col).isNotNull())
        .join(keys, F.col(child_col) == F.col("__pk"), "left")
        .agg(
            F.sum(F.when(F.col("__pk").isNull(), 1).otherwise(0))
            .cast("double")
            .alias("observed"),
            F.count(F.lit(1)).cast("long").alias("n"),
        )
    )
    return orphans.select(
        F.lit(f"fk:{child_col}").alias("check"),
        "observed",
        F.lit(float(max_orphans)).alias("bound"),
        (F.col("observed") <= float(max_orphans)).alias("passed"),
        "n",
    )
