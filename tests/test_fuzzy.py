"""Fuzzy edit-distance pairs (PassJoin segment blocking): completeness
vs a brute-force oracle, exact distances, short-string path coverage."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from scida_spark.functions.fuzzy import fuzzy_pairs_segment


def _brute(spark, df, d):
    a = df.select(F.col("id").alias("id_a"), F.col("t").alias("ta"))
    b = df.select(F.col("id").alias("id_b"), F.col("t").alias("tb"))
    return {
        (r["id_a"], r["id_b"], r["dist"])
        for r in a.crossJoin(b)
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("dist", F.levenshtein("ta", "tb"))
        .filter(F.col("dist") <= d)
        .collect()
    }


def _corpus(seed=7, n=120):
    rng = random.Random(seed)
    words = [
        "".join(rng.choice("abcdefg") for _ in range(rng.randint(1, 14)))
        for _ in range(n // 2)
    ]
    out = []
    for w in words:
        out.append(w)
        mode = rng.random()
        if mode < 0.4 and len(w) > 1:  # near-dup by one deletion
            i = rng.randrange(len(w))
            out.append(w[:i] + w[i + 1 :])
        elif mode < 0.7:  # substitution
            i = rng.randrange(len(w))
            out.append(w[:i] + rng.choice("abcdefg") + w[i + 1 :])
        else:  # insertion
            i = rng.randrange(len(w) + 1)
            out.append(w[:i] + rng.choice("abcdefg") + w[i:])
    return [(i, t) for i, t in enumerate(out)]


@pytest.mark.parametrize("d", [1, 2])
def test_fuzzy_pairs_complete_vs_bruteforce(spark, d):
    df = spark.createDataFrame(_corpus(), "id long, t string")
    got = {
        (r["id_a"], r["id_b"], r["distance"])
        for r in fuzzy_pairs_segment(df, "id", "t", max_distance=d).collect()
    }
    assert got == _brute(spark, df, d)


def test_fuzzy_pairs_short_strings_covered(spark):
    # All-short corpus: strings of every length up to d+2, including
    # ones too short to split into d+1 segments.
    rows = [(1, "a"), (2, "b"), (3, "ab"), (4, "ba"), (5, "abc"), (6, "abcd"), (7, "")]
    df = spark.createDataFrame(rows, "id long, t string")
    got = {
        (r["id_a"], r["id_b"], r["distance"])
        for r in fuzzy_pairs_segment(df, "id", "t", max_distance=2).collect()
    }
    assert got == _brute(spark, df, 2)


def test_fuzzy_pairs_mixed_lengths_cross_boundary(spark):
    # Pairs across a length difference of up to d must be found.
    rows = [(1, "abcdefgh"), (2, "abcdefg"), (3, "abcdefghij"), (4, "zzzzzzzz")]
    df = spark.createDataFrame(rows, "id long, t string")
    got = {
        (r["id_a"], r["id_b"])
        for r in fuzzy_pairs_segment(df, "id", "t", max_distance=2).collect()
    }
    assert (1, 2) in got and (1, 3) in got
    assert not any(4 in p for p in got)


def test_fuzzy_pairs_no_cartesian_in_long_path(spark):
    df = spark.createDataFrame(
        [(i, f"abcdefghij{i:04d}") for i in range(200)], "id long, t string"
    )
    out = fuzzy_pairs_segment(df, "id", "t", max_distance=1)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan, plan[:1500]
    assert "BroadcastNestedLoopJoin" not in plan, plan[:1500]
    # Numeric suffixes differing in one digit ARE distance-1 pairs;
    # the blocked result must match brute force exactly.
    dfb = df.select("id", F.col("t"))
    n_brute = len(
        _brute(
            spark,
            dfb.select(F.col("id"), F.col("t").alias("t")),
            1,
        )
    )
    assert out.count() == n_brute


def test_hot_run_corpus_is_complete(spark):
    """A stop-run shared by every string (hot q-grams, hot leading
    segments) must not lose a single true pair."""
    rng = random.Random(9)
    stop = "zzzzzzzz"          # 8-char run: many hot 3-grams per string
    rows = []
    for i in range(120):
        tail = "".join(rng.choice("abcdef") for _ in range(rng.randint(6, 14)))
        rows.append((i, stop + tail))
    # plant true near-dup pairs
    rows += [(1000, rows[3][1] + "x"), (1001, rows[7][1][:-1])]
    df = spark.createDataFrame(rows, "id long, t string")
    full = {
        (r["id_a"], r["id_b"], r["distance"])
        for r in fuzzy_pairs_segment(df, "id", "t", max_distance=2).collect()
    }
    assert full == _brute(spark, df, 2)
    assert {(3, 1000), (7, 1001)} <= {(x, y) for x, y, _ in full}


def test_single_char_strings_pair_both_ways(spark):
    """Strings made of one repeated character must still find their
    pairs, against partners both longer AND shorter."""
    hot = "aaaaaaaaaa"
    rows = [
        (0, hot),
        (1, hot + "b"),          # distance 1, longer partner
        (2, hot[:-1]),           # distance 1, shorter partner
        (3, "qrstuvwxyz"),       # unrelated strong string, same length
        (4, hot),                # exact duplicate -> distance 0
    ]
    df = spark.createDataFrame(rows, "id long, t string")
    got = {
        (r["id_a"], r["id_b"]): r["distance"]
        for r in fuzzy_pairs_segment(df, "id", "t", max_distance=1).collect()
    }
    assert got == {(0, 1): 1, (0, 2): 1, (0, 4): 0, (1, 4): 1, (2, 4): 1}


# ---------------------------------------------------------------------------
# PassJoin segment blocking (fuzzy_pairs_segment, r9)
# ---------------------------------------------------------------------------


@pytest.mark.parametrize("d", [1, 2, 3])
def test_segment_complete_vs_bruteforce(spark, d):
    df = spark.createDataFrame(_corpus(seed=11), "id long, t string")
    got = {
        (r["id_a"], r["id_b"], r["distance"])
        for r in fuzzy_pairs_segment(df, "id", "t", max_distance=d).collect()
    }
    assert got == _brute(spark, df, d)


def test_segment_tiny_and_empty_strings(spark):
    """Strings shorter than d+1 chars (including '') cannot be
    segment-indexed — the length-window fallback must still pair them."""
    rows = [(0, ""), (1, "a"), (2, "ab"), (3, "ba"), (4, "abcd"), (5, "abcde")]
    df = spark.createDataFrame(rows, "id long, t string")
    for d in (1, 2):
        got = {
            (r["id_a"], r["id_b"], r["distance"])
            for r in fuzzy_pairs_segment(df, "id", "t", max_distance=d).collect()
        }
        assert got == _brute(spark, df, d), d


def test_segment_exact_on_uniform_keys(spark):
    """Exact answers on a fixed-length small-alphabet prefix corpus
    (the dedup_signature_pairs shape, where q-gram blocking degrades)."""
    rng = random.Random(3)
    words = ["key", "agg", "row", "scan", "slow", "fast"]
    rows = [
        (i, " ".join(rng.choice(words) for _ in range(6))[:24].ljust(24, "x"))
        for i in range(150)
    ]
    df = spark.createDataFrame(rows, "id long, t string")
    seg = {
        (r["id_a"], r["id_b"], r["distance"])
        for r in fuzzy_pairs_segment(df, "id", "t", max_distance=2).collect()
    }
    assert seg == _brute(spark, df, 2)


def test_segment_d0_equality_join(spark):
    rows = [(0, "aa"), (1, "aa"), (2, "ab"), (3, "aa")]
    df = spark.createDataFrame(rows, "id long, t string")
    got = {
        (r["id_a"], r["id_b"], r["distance"])
        for r in fuzzy_pairs_segment(df, "id", "t", max_distance=0).collect()
    }
    assert got == {(0, 1, 0), (0, 3, 0), (1, 3, 0)}


def test_segment_no_cartesian(spark):
    df = spark.createDataFrame([(0, "abcdefgh")], "id long, t string")
    plan = (
        fuzzy_pairs_segment(df, "id", "t", max_distance=2)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan
