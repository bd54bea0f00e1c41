"""Deterministic Pareto keep: layout-invariant membership, high scores
always survive, alpha controls the low-score tail."""

from __future__ import annotations

from pyspark.sql import functions as F

from scida_spark.functions.quality_classifier import pareto_keep


def test_pareto_keep_deterministic_and_monotone(spark):
    # 20 high-score docs (score 1) and 20 low-score docs (score 0)
    scored = spark.createDataFrame(
        [(i, 1.0 if i < 20 else 0.0) for i in range(40)],
        "doc_id long, q_score double",
    )

    def kept(df):
        keep = pareto_keep(F.col("q_score"), F.col("doc_id"), salt="s")
        return {r["doc_id"] for r in df.filter(keep).collect()}

    kept1 = kept(scored)
    kept2 = kept(scored.repartition(5))
    assert kept1 == kept2  # layout-invariant
    assert set(range(20)) <= kept1  # high scores always survive
    # a handful of low-score docs may survive the Pareto tail — at
    # alpha=9 the survival probability for score~0 is (1+1)^-9 ~ 0.2%,
    # so with 20 bad docs expect none-to-few
    assert len(kept1 - set(range(20))) <= 3


def test_pareto_alpha_controls_leniency(spark):
    """Lower alpha => fatter Pareto tail => more low-score survivors."""
    df = spark.range(0, 4000).select(
        F.col("id").alias("doc_id"), F.lit(0.05).alias("q_score")
    )
    strict = df.filter(
        pareto_keep(F.col("q_score"), F.col("doc_id"), alpha=9.0, salt="x")
    ).count()
    lenient = df.filter(
        pareto_keep(F.col("q_score"), F.col("doc_id"), alpha=1.0, salt="x")
    ).count()
    assert strict < lenient
    # alpha=1: P(keep | score 0.05) = P(pareto >= 0.95) = (1.95)^-1 ~ 0.51
    assert abs(lenient / 4000 - 1 / 1.95) < 0.05
