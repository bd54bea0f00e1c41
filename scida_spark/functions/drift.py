"""Distribution-drift monitor between dataset versions (PSI / KL).

When a corpus is re-crawled, re-filtered, or re-balanced, the first
question is whether its DISTRIBUTIONS moved — token-length profiles,
quality-score profiles, per-language mix — not just which rows changed
(that's ``functions/diff.py``). The standard monitoring stats are the
Population Stability Index and the KL divergence over a bucketed
histogram:

    PSI      = sum_b (p_b - q_b) * ln(p_b / q_b)
    KL(p||q) = sum_b  p_b        * ln(p_b / q_b)

with q = old-version proportions, p = new-version proportions.
(Rule-of-thumb thresholds: PSI < 0.1 stable, 0.1-0.25 moderate shift,
> 0.25 action.)

Design (the ``metrics.py`` isotonic-PAV precedent — heavy lifting
distributed, final O(vocabulary) arithmetic driver-side):

* **Bucketing is INTEGER and engine-replayable** — callers bucket with
  closed-form integer expressions (``least(n_tok div 8, 31)``,
  ``floor(score * 64)``), never with randomized sketch boundaries, so
  an oracle can rebuild the identical histogram.
* **Counting is one map-side-combined groupBy per version** with
  output bounded by facets x buckets — at 100 TB that is exactly two
  aggregation scans, nothing else touches the corpus.
* **The divergence fold runs driver-side over the collected count
  table** (facets x buckets rows — hundreds, not billions) using
  ``math.log`` (glibc — the same libm ``ln`` DuckDB calls, the bm25
  idf convention), so every output double is bit-replayable.

Replay contract (what an oracle must mirror):

1. buckets = the UNION of buckets observed in either version, per
   facet; B = |union|.
2. Laplace +1 smoothing: q_b = (c_old_b + 1) / (n_old + B),
   p_b = (c_new_b + 1) / (n_new + B) — all-integer numerators and
   denominators, one IEEE division each, finite for empty buckets.
3. terms summed in ASCENDING bucket order (the dsir sorted-fold rule;
   DuckDB: ordered ``list_reduce``).

Net-new surface (no reference counterpart; the training-data-pipeline
mandate). Driver-attested as ``drift:*`` rows in
``sketch_distinct_rollup``.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from scida_spark.session import local_df

__all__ = ["psi_kl", "drift_table"]


def psi_kl(
    counts: list[tuple[int, int, int]],
) -> tuple[float, float, int, int, int]:
    """(psi, kl, n_old, n_new, n_buckets) from one facet's
    [(bucket, c_old, c_new), ...] — the replay-contract fold: Laplace
    +1 over the bucket union, ascending-bucket summation, libm ln."""
    counts = sorted(counts)
    n_buckets = len(counts)
    n_old = sum(co for _, co, _ in counts)
    n_new = sum(cn for _, _, cn in counts)
    psi = 0.0
    kl = 0.0
    for _, co, cn in counts:
        q = (co + 1) / (n_old + n_buckets)
        p = (cn + 1) / (n_new + n_buckets)
        r = math.log(p / q)
        psi = psi + (p - q) * r
        kl = kl + p * r
    return psi, kl, n_old, n_new, n_buckets


def drift_table(
    spark: SparkSession,
    old_counts: DataFrame,
    new_counts: DataFrame,
) -> DataFrame:
    """Per-facet drift from two (facet, bucket, c) histogram tables (one
    map-side-combined groupBy per version):
    (facet, psi, kl, n_old, n_new, n_buckets). The full-outer bucket
    merge is distributed (tiny x tiny); the fold collects the merged
    count table — metadata-sized by construction — and runs the
    replay-contract arithmetic driver-side."""
    merged = old_counts.withColumnRenamed("c", "c_old").join(
        new_counts.withColumnRenamed("c", "c_new"),
        ["facet", "bucket"],
        "full_outer",
    ).select(
        "facet",
        "bucket",
        F.coalesce("c_old", F.lit(0)).alias("c_old"),
        F.coalesce("c_new", F.lit(0)).alias("c_new"),
    )
    by_facet: dict = {}
    for r in merged.collect():
        by_facet.setdefault(r["facet"], []).append(
            (int(r["bucket"]), int(r["c_old"]), int(r["c_new"]))
        )
    rows = []
    for facet in sorted(by_facet):
        psi, kl, n_old, n_new, nb = psi_kl(by_facet[facet])
        rows.append((facet, psi, kl, n_old, n_new, nb))
    return local_df(spark, 
        rows,
        "facet string, psi double, kl double, n_old long, n_new long, "
        "n_buckets int",
    )
