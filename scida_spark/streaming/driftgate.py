"""Streaming distribution-drift gate — quarantine micro-batches whose
bucketed distribution moved past a PSI threshold against the ACCEPTED
corpus so far.

The expectation gate (``streaming/gate.py``) stops batches that break
DECLARED invariants (nulls, ranges, key uniqueness). This gate stops
the failure mode expectations can't see: every row individually valid,
but the BATCH distribution shifted — a crawler that started pulling a
different site mix, a tokenizer change upstream, a language flip. Per
micro-batch:

1. the batch's integer-bucketed histogram (caller-supplied ``bucketer``
   — the closed-form bucket rule from ``functions/drift.py``) is
   computed in ONE map-side-combined groupBy, bounded by
   facets x buckets;
2. PSI/KL per facet vs the accumulated ACCEPTED-corpus histogram is
   the :func:`~scida_spark.functions.drift.psi_kl` replay-contract
   fold over two collected count tables (metadata-sized);
3. the batch is admitted if every facet WITH batch rows stays at or
   under the PSI threshold (rule-of-thumb: 0.25 = action), AND the
   facet MIX itself — scored as one synthetic ``__mix__`` facet whose
   "buckets" are the facets and whose counts are per-facet row totals
   (derived from the SAME histograms, no extra state) — stays under
   the threshold. The mix facet closes the vanished-facet blind spot
   (r12 VERDICT #2): a crawler that silently drops an entire language
   produces NO per-facet row for it (nothing to score), but the mix
   distribution shifts and quarantines the batch. Else the whole
   batch diverts to quarantine (the gate.py all-or-nothing contract —
   systematic shift, not row defects). ``__mix__`` is reserved: a
   real facet with that name would collide in the report;
4. every batch appends a per-facet report (psi, kl, n, admitted), and
   ADMITTED batches append their histogram partial to the reference
   store — a sum monoid under ``batch_id=N`` idempotent overwrite
   (the rollup-store pattern), so the reference is O(batches x facets
   x buckets), never a corpus rescan.

Replay safety: the admit decision excludes the batch's OWN partial
from the reference (a replayed batch that already wrote its histogram
re-decides against the same reference it originally saw, then
re-overwrites identical data). The first batch bootstraps: with an
empty reference there is nothing to drift from, so it is admitted and
seeds the store.

Net-new surface (no reference counterpart; SURVEY §2.7).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from scida_spark.functions.drift import psi_kl
from scida_spark.streaming import storefs, storekit
from scida_spark.session import local_df

__all__ = [
    "drift_gate_writer",
    "drift_gated_ingest",
    "read_drift_reports",
    "read_reference_hist",
]

REPORT_SCHEMA = (
    "facet string, psi double, kl double, n_batch long, admitted boolean"
)


def read_reference_hist(
    spark: SparkSession, hist_dir: str, exclude_batch: int | None = None
) -> DataFrame | None:
    """The accepted-corpus histogram partials (facet, bucket, c,
    batch_id); None if nothing has been admitted yet. ``exclude_batch``
    implements the replay guard."""
    if not os.path.isdir(hist_dir):
        return None
    storefs.recover_pending(hist_dir)
    if not any(d.startswith("batch_id=") for d in os.listdir(hist_dir)):
        return None
    h = spark.read.option("basePath", hist_dir).parquet(hist_dir)
    if exclude_batch is not None:
        h = h.filter(F.col("batch_id") != int(exclude_batch))
    return h


def drift_gate_writer(
    *,
    bucketer,
    hist_dir: str,
    admit_dir: str,
    quarantine_dir: str,
    report_dir: str,
    threshold: float = 0.25,
):
    """Per-batch writer implementing the gate; composable under a
    ``foreachBatch`` (or ``streaming/rollup.py``'s multi-store pass).
    ``bucketer(df) -> DataFrame[facet, b]`` must be the closed-form
    integer bucketing rule (functions/drift.py conventions)."""

    def write(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        bh = (
            bucketer(batch_df)
            .groupBy(
                F.col("facet").cast("string").alias("facet"),
                F.col("b").cast("long").alias("bucket"),
            )
            .agg(F.count("*").alias("c"))
        )
        batch_counts: dict = {}
        for r in bh.collect():
            batch_counts.setdefault(r["facet"], {})[int(r["bucket"])] = int(
                r["c"]
            )
        ref = read_reference_hist(spark, hist_dir, exclude_batch=batch_id)
        ref_counts: dict = {}
        if ref is not None:
            for r in (
                ref.groupBy("facet", "bucket")
                .agg(F.sum("c").alias("c"))
                .collect()
            ):
                ref_counts.setdefault(r["facet"], {})[int(r["bucket"])] = int(
                    r["c"]
                )
        have_ref = sum(sum(v.values()) for v in ref_counts.values()) > 0
        report = []
        admitted = True
        for facet in sorted(batch_counts):
            bc = batch_counts[facet]
            rc = ref_counts.get(facet, {})
            if have_ref:
                buckets = sorted(set(bc) | set(rc))
                psi, kl, _no, nn, _nb = psi_kl(
                    [(b, rc.get(b, 0), bc.get(b, 0)) for b in buckets]
                )
            else:  # bootstrap: nothing to drift from
                psi, kl, nn = 0.0, 0.0, sum(bc.values())
            report.append((facet, psi, kl, nn))
            if have_ref and psi > threshold:
                admitted = False
        # Facet-mix score (r12 VERDICT #2): the per-facet loop above
        # only sees facets WITH batch rows, so a facet that VANISHES
        # (an entire language dropped upstream) is invisible to it.
        # The mix distribution — "bucket" = facet, count = facet row
        # total — is derivable from the same two histograms (facet
        # totals are already in the reference store), costs nothing
        # extra, and is scored through the identical psi_kl fold under
        # the identical threshold. Facet names map to dense ordinals
        # over the sorted ref∪batch union: psi_kl only needs a stable
        # per-call alignment, and both engines of any replay sort the
        # same union.
        bat_tot = {f: sum(v.values()) for f, v in batch_counts.items()}
        if have_ref and bat_tot:
            ref_tot = {f: sum(v.values()) for f, v in ref_counts.items()}
            mix_facets = sorted(set(ref_tot) | set(bat_tot))
            mix_psi, mix_kl, _no, mix_n, _nb = psi_kl(
                [
                    (i, ref_tot.get(f, 0), bat_tot.get(f, 0))
                    for i, f in enumerate(mix_facets)
                ]
            )
            if mix_psi > threshold:
                admitted = False
        else:
            # bootstrap, or an EMPTY batch (no distribution to gate —
            # zero rows are admitted vacuously, nothing appends)
            mix_psi, mix_kl, mix_n = 0.0, 0.0, sum(bat_tot.values())
        if bat_tot:
            report.append(("__mix__", mix_psi, mix_kl, mix_n))
        local_df(spark, 
            [(f, p, k, n, admitted) for f, p, k, n in report]
            or [("<empty>", 0.0, 0.0, 0, True)],
            REPORT_SCHEMA,
        ).write.mode("overwrite").parquet(
            os.path.join(report_dir, f"batch_id={batch_id}")
        )
        dst = admit_dir if admitted else quarantine_dir
        batch_df.write.mode("overwrite").parquet(
            os.path.join(dst, f"batch_id={batch_id}")
        )
        if admitted:
            bh.write.mode("overwrite").parquet(
                os.path.join(hist_dir, f"batch_id={batch_id}")
            )

    return write


def drift_gated_ingest(
    spark: SparkSession,
    input_dir: str,
    schema,
    *,
    bucketer,
    hist_dir: str,
    admit_dir: str,
    quarantine_dir: str,
    report_dir: str,
    checkpoint_dir: str,
    threshold: float = 0.25,
    available_now: bool = True,
    max_files_per_trigger: int | None = None,
):
    """Watch ``input_dir``; gate each micro-batch on distribution
    drift vs the accepted corpus. Returns the StreamingQuery."""
    writer = drift_gate_writer(
        bucketer=bucketer,
        hist_dir=hist_dir,
        admit_dir=admit_dir,
        quarantine_dir=quarantine_dir,
        report_dir=report_dir,
        threshold=threshold,
    )
    return storekit.run_file_ingest(
        spark, input_dir, schema, writer, checkpoint_dir,
        available_now=available_now,
        max_files_per_trigger=max_files_per_trigger,
    )


def read_drift_reports(spark: SparkSession, report_dir: str) -> DataFrame:
    """Full report history (facet, psi, kl, n_batch, admitted,
    batch_id) — 'when did the corpus start drifting' is one query."""
    return spark.read.option("basePath", report_dir).parquet(report_dir)
