"""DSIR importance-resampling selection (functions/dsir.py)."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from scida_spark.functions.dsir import (
    DSIR_VOCAB,
    dsir_log_weights,
    dsir_select_stratified,
    hashed_ngram_features,
)


def _corpus(spark):
    rows = [
        # target-ish docs (repeated English function words)
        (0, "w", "the cat sat on the mat", True),
        (1, "w", "the dog and the cat", True),
        (2, "w", "a cat and a dog sat", True),
        # off-target docs (disjoint vocabulary)
        (3, "c", "zzz qqq xxx vvv", False),
        (4, "c", "qqq zzz vvv kkk", False),
        # mixed doc: shares 'the cat' with the target
        (5, "c", "the cat zzz qqq", False),
    ]
    return spark.createDataFrame(rows, "doc_id long, src string, text string, tgt boolean")


def test_hashed_features_unigrams_plus_bigrams(spark):
    df = spark.createDataFrame([("a b c",), ("solo",)], "t string")
    n = df.select(F.size(hashed_ngram_features(F.col("t"))).alias("n")).collect()
    assert [r["n"] for r in n] == [5, 1]  # 3 uni + 2 bi; 1 uni + 0 bi
    # buckets in range
    mx = df.select(
        F.array_max(hashed_ngram_features(F.col("t"))).alias("m")
    ).agg(F.max("m")).collect()[0][0]
    assert 0 <= mx < DSIR_VOCAB


def test_dsir_scores_rank_target_like_docs_higher(spark):
    docs = _corpus(spark)
    w = dsir_log_weights(docs, "doc_id", "text", F.col("tgt"))
    s = {r["doc_id"]: r["score"] for r in w.collect()}
    # every target doc outranks every pure off-target doc
    assert min(s[0], s[1], s[2]) > max(s[3], s[4])
    # the mixed doc sits strictly between
    assert max(s[3], s[4]) < s[5] < min(s[0], s[1], s[2])


def test_dsir_score_matches_hand_computation(spark):
    # one tiny corpus, recompute a doc's score in pure Python from the
    # same md5 bucketing + add-one smoothing + sorted-order fold
    docs = spark.createDataFrame(
        [(0, "aa bb", True), (1, "aa cc", False)],
        "doc_id long, text string, tgt boolean",
    )
    w = {r["doc_id"]: r["score"] for r in
         dsir_log_weights(docs, "doc_id", "text", F.col("tgt")).collect()}

    import hashlib

    def bucket(g):
        return int(hashlib.md5((g + "dsir").encode()).hexdigest()[:8], 16) % DSIR_VOCAB

    grams = {0: ["aa", "bb", "aa bb"], 1: ["aa", "cc", "aa cc"]}
    allg = grams[0] + grams[1]
    tc, rc = {}, {}
    for g in grams[0]:
        tc[bucket(g)] = tc.get(bucket(g), 0) + 1
    for g in allg:
        rc[bucket(g)] = rc.get(bucket(g), 0) + 1
    nt, nr, V = 3, 6, DSIR_VOCAB
    for d in (0, 1):
        feats = sorted(bucket(g) for g in grams[d])
        want = 0.0
        for b in feats:
            want += (
                math.log(tc.get(b, 0) + 1.0) - math.log(nt + V)
                - math.log(rc[b] + 1.0) + math.log(nr + V)
            )
        assert abs(w[d] - want) < 1e-12, (d, w[d], want)


def test_dsir_stratified_quota_exact_and_deterministic(spark):
    docs = _corpus(spark)
    w = dsir_log_weights(docs, "doc_id", "text", F.col("tgt"))
    scored = docs.select("doc_id", "src").join(w, "doc_id")
    out = dsir_select_stratified(scored, "doc_id", "src", num=1, den=2)
    got = {r["doc_id"]: r["in_dsir"] for r in out.collect()}
    # src 'w' has 3 docs -> ceil(3/2)=2 kept; src 'c' has 3 -> 2 kept
    assert sum(got[d] for d in (0, 1, 2)) == 2
    assert sum(got[d] for d in (3, 4, 5)) == 2
    # the mixed doc 5 outranks pure off-target docs within 'c'
    assert got[5]
    # deterministic across partitionings
    out2 = dsir_select_stratified(
        scored.repartition(7), "doc_id", "src", num=1, den=2
    )
    got2 = {r["doc_id"]: r["in_dsir"] for r in out2.collect()}
    assert got == got2


def test_dsir_global_quota_via_running_count(spark):
    # the module docstring's scale path for a single GLOBAL quota:
    # rank with the two-level running count (operators/prefix_sum.py::
    # global_running_sum) instead of a one-partition window. Top-20%
    # = running count <= 8 ordered by score DESC — realized by ranking
    # on the NEGATED score (the running sum orders ascending), with
    # doc_id as the deterministic tiebreak.
    from scida_spark.functions.dsir import dsir_log_weights
    from scida_spark.operators.prefix_sum import global_running_sum

    rows = [
        (i, "the cat sat on mat " + ("zz " * (i % 4)), i % 2 == 0)
        for i in range(40)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, tgt boolean")
    scored = dsir_log_weights(docs, "doc_id", "text", F.col("tgt")).withColumn(
        "_one", F.lit(1)
    ).withColumn("_neg", -F.col("score"))
    ranked = global_running_sum(scored, "_one", "_neg", "doc_id", out_col="_r")
    kept = {r["doc_id"] for r in ranked.filter(F.col("_r") <= 8).collect()}
    # must equal the single-window reference selection (40/5 = 8 docs)
    from pyspark.sql.window import Window as W

    ref = scored.withColumn(
        "_rn",
        F.row_number().over(W.orderBy(F.desc("score"), F.asc("doc_id"))),
    )
    want = {r["doc_id"] for r in ref.filter(F.col("_rn") <= 8).collect()}
    assert kept == want and len(kept) == 8
