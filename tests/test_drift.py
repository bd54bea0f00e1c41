"""Distribution-drift monitor (functions/drift.py): PSI/KL vs
hand-computed ground truth, the planted-shift contract, and layout
independence of the replay fold."""

import math

import pytest
from pyspark.sql import functions as F

from scida_spark.functions.drift import drift_table, psi_kl


def _hist(df):
    """(facet, bucket, c) histogram of ``df``'s ``facet`` / ``b`` columns."""
    return df.groupBy(
        F.col("facet"), F.col("b").cast("long").alias("bucket")
    ).agg(F.count("*").alias("c"))


def _hand_psi_kl(old, new):
    """Independent re-derivation of the replay contract."""
    buckets = sorted(set(old) | set(new))
    B = len(buckets)
    no, nn = sum(old.values()), sum(new.values())
    psi = kl = 0.0
    for b in buckets:
        q = (old.get(b, 0) + 1) / (no + B)
        p = (new.get(b, 0) + 1) / (nn + B)
        psi += (p - q) * math.log(p / q)
        kl += p * math.log(p / q)
    return psi, kl


def test_psi_kl_matches_hand_derivation():
    old = {0: 50, 1: 30, 2: 20}
    new = {0: 20, 1: 30, 3: 50}  # bucket 2 vanished, bucket 3 appeared
    got_psi, got_kl, n_old, n_new, nb = psi_kl(
        [(b, old.get(b, 0), new.get(b, 0)) for b in (0, 1, 2, 3)]
    )
    want_psi, want_kl = _hand_psi_kl(old, new)
    assert got_psi == want_psi and got_kl == want_kl
    assert (n_old, n_new, nb) == (100, 100, 4)
    assert got_psi > 0.25  # a real shift reads as "action" on the PSI scale


def test_identical_distributions_have_zero_drift():
    counts = [(b, 10 * (b + 1), 10 * (b + 1)) for b in range(5)]
    psi, kl, *_ = psi_kl(counts)
    assert psi == 0.0 and kl == 0.0  # p == q exactly -> ln(1) == 0


def test_planted_shift_is_detected_and_ranked(spark):
    """A planted mean-shift must produce strictly larger PSI than an
    unshifted twin, and both must be >= 0 (the sign contract the
    driver's within_tol pins)."""
    base = spark.range(2000).select(
        F.lit("a").alias("facet"), (F.col("id") % 10).alias("b")
    )
    same = spark.range(2000).select(
        F.lit("a").alias("facet"), (F.col("id") % 10).alias("b")
    )
    shifted = spark.range(2000).select(
        F.lit("a").alias("facet"),
        # mass moves hard toward bucket 0: a planted distribution shift
        F.when(F.col("id") % 4 == 0, (F.col("id") % 10)).otherwise(
            F.lit(0)
        ).alias("b"),
    )
    flat = drift_table(
        spark, _hist(base), _hist(same)
    ).first()
    moved = drift_table(
        spark,
        _hist(base),
        _hist(shifted),
    ).first()
    assert flat["psi"] == 0.0 and flat["kl"] == 0.0
    assert moved["psi"] > 0.25 > flat["psi"]
    assert moved["kl"] > 0.0
    assert moved["n_old"] == moved["n_new"] == 2000
    assert moved["n_buckets"] == 10


def test_layout_independence(spark):
    """The fold is ascending-bucket by contract — partitioning of the
    inputs must not change a single bit of the output doubles."""
    old = spark.range(997).select(
        (F.col("id") % 3).cast("string").alias("facet"),
        (F.col("id") % 7).alias("b"),
    )
    new = spark.range(1201).select(
        (F.col("id") % 3).cast("string").alias("facet"),
        ((F.col("id") * 5) % 9).alias("b"),
    )
    a = drift_table(
        spark, _hist(old), _hist(new)
    ).collect()
    b = drift_table(
        spark,
        _hist(old.repartition(13)),
        _hist(new.repartition(3)),
    ).collect()
    key = lambda r: r["facet"]  # noqa: E731
    assert sorted(a, key=key) == sorted(b, key=key)
    assert len(a) == 3 and all(r["psi"] >= 0.0 for r in a)


def test_empty_side_buckets_stay_finite():
    """Laplace smoothing keeps vanished/new buckets finite (no inf/nan)."""
    psi, kl, *_ = psi_kl([(0, 100, 0), (1, 0, 100)])
    assert math.isfinite(psi) and math.isfinite(kl) and psi > 0
