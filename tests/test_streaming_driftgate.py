"""Streaming distribution-drift gate (streaming/driftgate.py): a
planted-shift batch must quarantine, steady batches admit, the
reference histogram holds exactly the accepted rows' counts, and replays
re-decide identically."""

from __future__ import annotations

import os

import pandas as pd
import pytest
from pyspark.sql import functions as F

from scida_spark.functions.drift import psi_kl
from scida_spark.streaming.driftgate import (
    drift_gate_writer,
    drift_gated_ingest,
    read_drift_reports,
    read_reference_hist,
)

SCHEMA = "doc_id long, lang string, n_tok long"


def _bucketer(df):
    # closed-form integer buckets (functions/drift.py conventions)
    return df.select(
        F.col("lang").alias("facet"),
        F.least(F.floor(F.col("n_tok") / 8), F.lit(31)).alias("b"),
    )


@pytest.fixture()
def dirs(tmp_path):
    d = {
        k: str(tmp_path / k)
        for k in ("input", "hist", "admit", "quar", "report", "ckpt")
    }
    os.makedirs(d["input"])
    return d


def _wave(path, lo, hi, shift=0):
    rows = [(i, "en" if i % 2 == 0 else "de", 10 + (i % 40) + shift)
            for i in range(lo, hi)]
    pd.DataFrame(rows, columns=["doc_id", "lang", "n_tok"]).to_parquet(path)


def _mk_writer(dirs, threshold=0.25):
    return drift_gate_writer(
        bucketer=_bucketer,
        hist_dir=dirs["hist"],
        admit_dir=dirs["admit"],
        quarantine_dir=dirs["quar"],
        report_dir=dirs["report"],
        threshold=threshold,
    )


def test_shifted_batch_quarantined_steady_admitted(spark, dirs):
    _wave(os.path.join(dirs["input"], "w0.parquet"), 0, 400)
    _wave(os.path.join(dirs["input"], "w1.parquet"), 400, 800)
    # planted hard mean-shift: every token count +200 (all mass moves
    # to the capped bucket)
    _wave(os.path.join(dirs["input"], "w2.parquet"), 800, 1200, shift=200)
    q = drift_gated_ingest(
        spark,
        dirs["input"],
        SCHEMA,
        bucketer=_bucketer,
        hist_dir=dirs["hist"],
        admit_dir=dirs["admit"],
        quarantine_dir=dirs["quar"],
        report_dir=dirs["report"],
        checkpoint_dir=dirs["ckpt"],
        max_files_per_trigger=1,
    )
    q.awaitTermination(180)
    assert not q.isActive

    rep = read_drift_reports(spark, dirs["report"])
    by_batch = {
        int(r["batch_id"]): bool(r["admitted"])
        for r in rep.select("batch_id", "admitted").distinct().collect()
    }
    assert by_batch == {0: True, 1: True, 2: False}

    # bootstrap batch reports psi == 0 (nothing to drift from); the
    # shifted batch's psi clears the action threshold by a wide margin
    # on every REAL facet (the __mix__ facet is steady here — the
    # en/de split never changes — so it reports near-zero, correctly)
    r0 = rep.filter(F.col("batch_id") == 0).select(F.max("psi")).first()[0]
    r2 = (
        rep.filter(
            (F.col("batch_id") == 2) & (F.col("facet") != "__mix__")
        )
        .select(F.min("psi"))
        .first()[0]
    )
    r2mix = rep.filter(
        (F.col("batch_id") == 2) & (F.col("facet") == "__mix__")
    ).first()["psi"]
    assert r0 == 0.0 and r2 > 1.0 and r2mix < 0.25

    admitted_rows = spark.read.parquet(dirs["admit"]).count()
    quar_rows = spark.read.parquet(dirs["quar"]).count()
    assert (admitted_rows, quar_rows) == (800, 400)

    # the reference histogram is EXACTLY the accepted rows' counts —
    # quarantined batches contribute nothing
    ref = (
        read_reference_hist(spark, dirs["hist"])
        .groupBy("facet", "bucket")
        .agg(F.sum("c").alias("c"))
    )
    want = (
        _bucketer(spark.read.parquet(dirs["admit"]))
        .groupBy(F.col("facet"), F.col("b").cast("long").alias("bucket"))
        .agg(F.count("*").alias("c"))
    )
    assert ref.exceptAll(want).count() == 0
    assert want.exceptAll(ref).count() == 0

    # reported psi replays through the same psi_kl contract
    ref0 = {}  # reference batch 2 saw = batches 0+1 (en facet)
    for r in want.filter(F.col("facet") == "en").collect():
        ref0[int(r["bucket"])] = int(r["c"])
    b2 = spark.read.parquet(dirs["quar"])
    bc = {
        int(r["bucket"]): int(r["c"])
        for r in _bucketer(b2.filter(F.col("lang") == "en"))
        .groupBy(F.col("b").cast("long").alias("bucket"))
        .agg(F.count("*").alias("c"))
        .collect()
    }
    buckets = sorted(set(ref0) | set(bc))
    psi, _kl, *_ = psi_kl([(b, ref0.get(b, 0), bc.get(b, 0)) for b in buckets])
    got = rep.filter(
        (F.col("batch_id") == 2) & (F.col("facet") == "en")
    ).first()["psi"]
    assert got == psi


def test_replay_is_idempotent(spark, dirs):
    """Re-running a committed batch re-decides against the SAME
    reference (own partial excluded) and rewrites identical data."""
    w = _mk_writer(dirs)
    b0 = spark.createDataFrame(
        [(i, "en", 10 + i % 40) for i in range(300)], SCHEMA
    )
    b1 = spark.createDataFrame(
        [(i, "en", 10 + i % 40) for i in range(300, 600)], SCHEMA
    )
    w(b0, 0)
    w(b1, 1)
    ref_before = sorted(
        (r["facet"], r["bucket"], r["c"])
        for r in read_reference_hist(spark, dirs["hist"])
        .groupBy("facet", "bucket")
        .agg(F.sum("c").alias("c"))
        .collect()
    )
    w(b1, 1)  # replay
    rep = read_drift_reports(spark, dirs["report"])
    assert rep.filter(F.col("batch_id") == 1).first()["admitted"] is True
    ref_after = sorted(
        (r["facet"], r["bucket"], r["c"])
        for r in read_reference_hist(spark, dirs["hist"])
        .groupBy("facet", "bucket")
        .agg(F.sum("c").alias("c"))
        .collect()
    )
    assert ref_before == ref_after  # no double count
    assert spark.read.parquet(dirs["admit"]).count() == 600


def test_driftgate_composes_with_multi_store_ingest(spark, dirs):
    """The gate writer rides the ONE-pass multi-store ingest (the
    N-materializations-one-readStream rule) alongside a postings
    writer: one stream maintains gate routing AND a retrieval index,
    and both stores match their standalone-ingest truths."""
    from scida_spark.streaming.postings import (
        bm25_topk_from_store,
        postings_writer,
    )
    from scida_spark.streaming.rollup import incremental_multi_store_ingest

    pstore = os.path.join(dirs["hist"] + "_ps")
    texts = ["hash join scan", "stream window agg", "the dup the"]
    rows = [
        (i, "en", f"{texts[i % 3]} d{i}")
        for i in range(240)
    ]
    pd.DataFrame(rows, columns=["doc_id", "lang", "text"]).to_parquet(
        os.path.join(dirs["input"], "w0.parquet")
    )
    pd.DataFrame(
        [(i, "en", f"{texts[i % 3]} d{i}") for i in range(240, 480)],
        columns=["doc_id", "lang", "text"],
    ).to_parquet(os.path.join(dirs["input"], "w1.parquet"))

    def _b(df):
        return df.select(
            F.col("lang").alias("facet"),
            F.least(
                F.floor(F.size(F.split(F.trim("text"), " ")) / 2), F.lit(15)
            ).alias("b"),
        )

    gate_w = drift_gate_writer(
        bucketer=_b,
        hist_dir=dirs["hist"],
        admit_dir=dirs["admit"],
        quarantine_dir=dirs["quar"],
        report_dir=dirs["report"],
    )
    q = incremental_multi_store_ingest(
        spark,
        dirs["input"],
        "doc_id long, lang string, text string",
        checkpoint_dir=dirs["ckpt"],
        writers=[gate_w, postings_writer(pstore)],
        max_files_per_trigger=1,
    )
    q.awaitTermination(180)
    assert not q.isActive

    rep = read_drift_reports(spark, dirs["report"])
    assert sorted(
        (int(r["batch_id"]), bool(r["admitted"]))
        for r in rep.select("batch_id", "admitted").distinct().collect()
    ) == [(0, True), (1, True)]
    assert spark.read.parquet(dirs["admit"]).count() == 480
    # the retrieval index rode the same pass: serve works over all docs
    got = bm25_topk_from_store(spark, pstore, [(0, "hash join")], k=3)
    assert got.count() == 3


def test_vanished_facet_quarantined_via_mix(spark, dirs):
    """r12 VERDICT #2: a facet that VANISHES from a batch (an entire
    language silently dropped upstream) produces no per-facet row to
    score — only the synthetic __mix__ facet can see it. Reference:
    en/de 50/50. Batch 2: en only, with the en n_tok distribution
    UNCHANGED (per-facet psi ~0) — must quarantine on __mix__, and the
    replayed psi must match the psi_kl contract on the facet totals."""
    w = _mk_writer(dirs)
    mk = lambda lo, hi, langs: spark.createDataFrame(
        [(i, langs[i % len(langs)], 10 + i % 40) for i in range(lo, hi)],
        SCHEMA,
    )
    w(mk(0, 400, ["en", "de"]), 0)
    w(mk(400, 800, ["en", "de"]), 1)
    w(mk(800, 1200, ["en"]), 2)  # de vanished; en distribution steady

    rep = read_drift_reports(spark, dirs["report"])
    by_batch = {
        int(r["batch_id"]): bool(r["admitted"])
        for r in rep.select("batch_id", "admitted").distinct().collect()
    }
    assert by_batch == {0: True, 1: True, 2: False}
    # the ONLY facet over threshold is the mix — the en histogram is
    # steady, and there is no de row at all in the batch-2 report
    b2 = {r["facet"]: r["psi"] for r in rep.filter(F.col("batch_id") == 2).collect()}
    assert set(b2) == {"en", "__mix__"}
    assert b2["en"] <= 0.25 < b2["__mix__"]
    # replay the mix psi through the contract fold on facet totals:
    # ref = batches 0+1 (400 en, 400 de), batch = 400 en
    psi, _kl, *_ = psi_kl([(0, 400, 0), (1, 400, 400)])  # de=0, en=1
    assert b2["__mix__"] == psi
    # quarantined rows contributed nothing to the reference
    ref = read_reference_hist(spark, dirs["hist"])
    assert ref.agg(F.sum("c")).first()[0] == 800


def test_new_facet_flood_quarantined_via_mix(spark, dirs):
    """The mix facet's other blind-spot closure: a facet the reference
    has NEVER seen flooding in (a crawler suddenly pulling a new
    language at volume) shifts the facet-mix distribution even though
    the new facet itself has no reference histogram (its per-facet
    score sees an empty rc but rides the same threshold) and the
    existing facets' histograms are steady."""
    w = _mk_writer(dirs)
    mk = lambda lo, hi, langs: spark.createDataFrame(
        [(i, langs[i % len(langs)], 10 + i % 40) for i in range(lo, hi)],
        SCHEMA,
    )
    w(mk(0, 400, ["en", "de"]), 0)
    w(mk(400, 800, ["en", "de"]), 1)
    # half the batch is a brand-new facet; en/de keep their bucket law
    w(mk(800, 1200, ["en", "de", "zz", "zz"]), 2)

    rep = read_drift_reports(spark, dirs["report"])
    by_batch = {
        int(r["batch_id"]): bool(r["admitted"])
        for r in rep.select("batch_id", "admitted").distinct().collect()
    }
    assert by_batch == {0: True, 1: True, 2: False}
    b2 = {r["facet"]: r["psi"] for r in rep.filter(F.col("batch_id") == 2).collect()}
    assert "zz" in b2 and "__mix__" in b2
    assert b2["__mix__"] > 0.25  # the mix sees the flood
    # nothing from the flooded batch reached the reference
    ref = read_reference_hist(spark, dirs["hist"])
    assert ref.agg(F.sum("c")).first()[0] == 800
