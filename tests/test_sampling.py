"""Domain mixing: integer-exact thresholds, deterministic stratified
hash sampling, target-proportion composition."""

from __future__ import annotations

from pyspark.sql import functions as F

# --------------------------------------------------------------------------
# Domain mixing
# --------------------------------------------------------------------------


def test_mix_thresholds_integer_exact():
    from scida_spark.functions.sampling import BUCKET_SPACE, mix_thresholds

    counts = {"a": 1000, "b": 100, "c": 500}
    # weights 1:1:1 → b is the constraint (100/1); a keeps 100/1000,
    # c keeps 100/500 — exact integer floors.
    thr = mix_thresholds(counts, {"a": 1, "b": 1, "c": 1})
    assert thr["b"] == BUCKET_SPACE
    assert thr["a"] == (100 * BUCKET_SPACE) // 1000
    assert thr["c"] == (100 * BUCKET_SPACE) // 500


def test_mix_thresholds_weighted_and_ties():
    from scida_spark.functions.sampling import BUCKET_SPACE, mix_thresholds

    # a: 600/3=200, b: 200/1=200 — exact tie on count/weight; the
    # name tie-break must pick 'a' deterministically.
    thr = mix_thresholds({"a": 600, "b": 200}, {"a": 3, "b": 1})
    assert thr == {"a": BUCKET_SPACE, "b": BUCKET_SPACE}


def test_temperature_weights_regimes():
    """alpha=1 → natural proportions (every threshold = keep-all, the
    mix is a no-op); alpha=0 → equalize (every domain thinned to the
    smallest count); alpha=0.5 flattens in between, with the smallest
    domain always kept whole."""
    from scida_spark.functions.sampling import (
        BUCKET_SPACE,
        mix_thresholds,
        temperature_weights,
    )

    counts = {"en": 40000, "de": 10000, "zh": 2500}
    # alpha=1: w ∝ c exactly (2^20 scaling is exact for integers), so
    # c/w is constant — every domain is "the constraint" and keeps all.
    thr1 = mix_thresholds(counts, temperature_weights(counts, alpha=1.0))
    assert all(t == BUCKET_SPACE for t in thr1.values())
    # alpha=0: uniform weights — plain downsample-to-min.
    thr0 = mix_thresholds(counts, temperature_weights(counts, alpha=0.0))
    assert thr0["zh"] == BUCKET_SPACE
    assert thr0["en"] == (2500 * BUCKET_SPACE) // 40000
    # alpha=0.5: smallest domain whole; shares follow sqrt(c) — en is
    # thinned to sqrt(40000/2500) = 4x zh's count (vs 16x natural).
    thr5 = mix_thresholds(counts, temperature_weights(counts, alpha=0.5))
    assert thr5["zh"] == BUCKET_SPACE
    exp_en = thr5["en"] * 40000  # expected kept mass, bucket-space scaled
    exp_zh = BUCKET_SPACE * 2500
    assert abs(exp_en / exp_zh - 4.0) < 1e-3
    # Fixed-point truncation is what an oracle's CAST(... AS BIGINT)
    # computes — pin one literal.
    assert temperature_weights({"x": 40000}, alpha=0.5)["x"] == int(
        (40000.0**0.5) * 1048576
    )


def test_mix_thresholds_missing_weight_raises():
    import pytest as _pytest

    from scida_spark.functions.sampling import mix_thresholds

    with _pytest.raises(ValueError, match="without a mix weight"):
        mix_thresholds({"a": 10, "b": 10}, {"a": 1})


def _domain_mix(df, weights, salt):
    """Thin ``df`` to the ``weights`` domain mixture: per-domain counts,
    integer thresholds, then the map-only membership filter."""
    from scida_spark.functions.sampling import in_mix_column, mix_thresholds

    counts = {r[0]: r[1] for r in df.groupBy("domain").count().collect()}
    thr = mix_thresholds(counts, weights)
    return df.filter(in_mix_column(F.col("doc_id"), F.col("domain"), thr, salt))


def test_domain_mix_hits_target_proportions(spark):
    df = spark.range(0, 20_000).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") % 10 < 8, "web").otherwise("code").alias("domain"),
    )
    # web:16k, code:4k; target 1:1 → code constrains, web thins to 4k.
    out = _domain_mix(df, {"web": 1, "code": 1}, salt="t")
    got = {r[0]: r[1] for r in out.groupBy("domain").count().collect()}
    assert got["code"] == 4000
    # Hash thinning is binomial around the exact threshold: 16k rows at
    # p=0.25 → sd ≈ 55; allow 5 sd.
    assert abs(got["web"] - 4000) < 275


def test_domain_mix_deterministic_and_nested(spark):
    df = spark.range(0, 5_000).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") % 4 < 3, "big").otherwise("small").alias("domain"),
    )
    a = {r[0] for r in _domain_mix(df, {"big": 1, "small": 1}, salt="s").select("doc_id").collect()}
    b = {r[0] for r in _domain_mix(df, {"big": 1, "small": 1}, salt="s").select("doc_id").collect()}
    assert a == b
    # A tighter mix (small upweighted → big thinned harder) at the SAME
    # salt selects a SUBSET of big's rows (nested composition).
    c = {r[0] for r in _domain_mix(df, {"big": 1, "small": 3}, salt="s").filter(F.col("domain") == "big").select("doc_id").collect()}
    assert c <= {x for x in a}


def test_in_mix_column_unknown_stratum_excluded(spark):
    from scida_spark.functions.sampling import BUCKET_SPACE, in_mix_column

    df = spark.createDataFrame(
        [(1, "known"), (2, "unknown")], "doc_id long, domain string"
    )
    out = df.withColumn(
        "m", in_mix_column(F.col("doc_id"), F.col("domain"), {"known": BUCKET_SPACE})
    )
    got = {r.domain: r.m for r in out.collect()}
    assert got == {"known": True, "unknown": False}


def test_stratified_exact_sample_quotas(spark):
    """Exact per-stratum quota: ceil(count * num/den) rows flagged in
    every stratum, bit-for-bit deterministic across calls."""
    from scida_spark.functions.sampling import stratified_exact_sample

    rows = [(i, "a" if i < 10 else ("b" if i < 17 else "c")) for i in range(20)]
    df = spark.createDataFrame(rows, "id long, s string")
    # strata sizes: a=10, b=7, c=3; num/den=1/3 → quotas 4, 3, 1
    out = stratified_exact_sample(df, "id", "s", num=1, den=3, salt="x").collect()
    per = {}
    for r in out:
        per.setdefault(r["s"], []).append(r)
    assert sum(1 for r in per["a"] if r["in_strat"]) == 4
    assert sum(1 for r in per["b"] if r["in_strat"]) == 3
    assert sum(1 for r in per["c"] if r["in_strat"]) == 1
    again = stratified_exact_sample(df, "id", "s", num=1, den=3, salt="x").collect()
    assert {(r["id"], r["in_strat"]) for r in again} == {
        (r["id"], r["in_strat"]) for r in out
    }
    # different salt reshuffles the selection (same quota)
    other = stratified_exact_sample(df, "id", "s", num=1, den=3, salt="y").collect()
    assert sum(r["in_strat"] for r in other) == 8
    assert {r["id"] for r in other if r["in_strat"]} != {
        r["id"] for r in out if r["in_strat"]
    }


def test_stratified_exact_sample_prefix_monotone(spark):
    """The 1/5 selection is a subset of the 2/5 selection at the same
    salt (prefix property of the rank order)."""
    from scida_spark.functions.sampling import stratified_exact_sample

    df = spark.createDataFrame(
        [(i, "s%d" % (i % 3)) for i in range(60)], "id long, s string"
    )
    small = {
        r["id"]
        for r in stratified_exact_sample(df, "id", "s", 1, 5, salt="z").collect()
        if r["in_strat"]
    }
    big = {
        r["id"]
        for r in stratified_exact_sample(df, "id", "s", 2, 5, salt="z").collect()
        if r["in_strat"]
    }
    assert small < big


def test_stratified_exact_sample_one_exchange(spark):
    """Both windows share the partition key: the physical plan contains
    exactly one Exchange (plus the scan), not one per window."""
    from scida_spark.functions.sampling import stratified_exact_sample

    df = spark.createDataFrame([(i, "s") for i in range(10)], "id long, s string")
    plan = (
        stratified_exact_sample(df, "id", "s", 1, 5)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert plan.count("Exchange hashpartitioning") == 1


# ---------------------------------------------------------------------------
# cluster_hash_split (r9): leakage-safe splits
# ---------------------------------------------------------------------------


def _dup_corpus(spark):
    # 60 distinct texts, each duplicated 1-5x with distinct ids
    rows = []
    nid = 0
    for t in range(60):
        for _ in range(t % 5 + 1):
            rows.append((nid, f"text body {t}"))
            nid += 1
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_cluster_split_no_leakage(spark):
    from scida_spark.functions.sampling import cluster_hash_split

    df = _dup_corpus(spark).repartition(7)
    out = cluster_hash_split(df, "doc_id", "text", salt="t1")
    # identical texts never straddle splits
    k = out.groupBy("text").agg(
        F.countDistinct("cluster_split").alias("k")
    )
    assert k.filter(F.col("k") > 1).count() == 0
    # and the plain per-id split DOES leak on this corpus (the bug
    # cluster_hash_split exists to fix) — proves the test has teeth
    from scida_spark.functions.sampling import hash_split

    naive = hash_split(df, "doc_id", salt="t1")
    nk = naive.groupBy("text").agg(F.countDistinct("split").alias("k"))
    assert nk.filter(F.col("k") > 1).count() > 0


def test_cluster_split_matches_rep_assignment(spark):
    from scida_spark.functions.sampling import cluster_hash_split, hash_split

    df = _dup_corpus(spark)
    out = cluster_hash_split(df, "doc_id", "text", salt="t2")
    # every member's label == hash_split of its cluster rep id
    rep = df.groupBy("text").agg(F.min("doc_id").alias("rep"))
    expected = hash_split(rep, "rep", salt="t2").select(
        "text", F.col("split").alias("want")
    )
    j = out.join(expected, "text")
    assert j.filter(F.col("cluster_split") != F.col("want")).count() == 0


def test_cluster_split_deterministic_across_partitionings(spark):
    from scida_spark.functions.sampling import cluster_hash_split

    df = _dup_corpus(spark)
    a = cluster_hash_split(df.repartition(1), "doc_id", "text", salt="z")
    b = cluster_hash_split(df.repartition(13), "doc_id", "text", salt="z")
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def test_cluster_split_composes_with_neardup_reps(spark):
    # the docstring's near-dup composition, end-to-end: MinHash pairs
    # -> connected components -> rep as the content key. Every NEAR-dup
    # family (not just byte-identical texts) lands in one split.
    from scida_spark.functions.dedup import (
        connected_components,
        minhash_dedup_pairs_from_shingles,
        shingle_hash_table,
    )
    from scida_spark.functions.sampling import cluster_hash_split

    base = [
        "the quick brown fox jumps over the lazy dog again and again",
        "pack my box with five dozen liquor jugs before noon today ok",
        "sphinx of black quartz judge my vow said the old librarian",
    ]
    rows = []
    nid = 0
    fam = {}
    for f, b in enumerate(base):
        for k in range(4):  # 4 near-dup variants per family
            toks = b.split()
            if k:
                toks.append(f"tail{k}")  # light perturbation, high Jaccard
            rows.append((nid, " ".join(toks)))
            fam[nid] = f
            nid += 1
    df = spark.createDataFrame(rows, "doc_id long, text string")
    # bands=32 (2 rows/band): detection prob ~1 at the planted Jaccard
    sh = shingle_hash_table(df, "doc_id", "text").localCheckpoint(eager=True)
    pairs = minhash_dedup_pairs_from_shingles(sh, threshold=0.3, bands=32)
    cc = connected_components(pairs).withColumnRenamed("node", "doc_id")
    keyed = df.join(cc, "doc_id", "left").withColumn(
        "ckey", F.coalesce(F.col("cluster_id"), F.col("doc_id")).cast("string")
    )
    out = cluster_hash_split(keyed, "doc_id", "ckey", salt="nd")
    got = {r["doc_id"]: r["cluster_split"] for r in out.collect()}
    for f in range(len(base)):
        members = [d for d, ff in fam.items() if ff == f]
        assert len({got[d] for d in members}) == 1, (f, {d: got[d] for d in members})


def test_weighted_sample_exact_quota_and_weight_bias(spark):
    from scida_spark.functions.sampling import weighted_sample_flag

    # 200 low-weight docs (w=0.1) + 200 high-weight docs (w=5.0):
    # the ES key u^(1/w) concentrates near 1 for high w, so the
    # top-10% sample must be dominated by high-weight docs.
    rows = [(i, "g", 0.1 if i < 200 else 5.0) for i in range(400)]
    df = spark.createDataFrame(rows, "doc_id long, g string, w double")
    out = weighted_sample_flag(
        df, "doc_id", F.col("w"), "g", num=1, den=10, salt="t"
    )
    kept = [r["doc_id"] for r in out.filter(F.col("in_wsample")).collect()]
    assert len(kept) == 40  # exact ceil(400/10)
    n_high = sum(1 for d in kept if d >= 200)
    assert n_high >= 35, n_high
    # deterministic across partitionings
    out2 = weighted_sample_flag(
        df.repartition(13), "doc_id", F.col("w"), "g", num=1, den=10, salt="t"
    )
    kept2 = {r["doc_id"] for r in out2.filter(F.col("in_wsample")).collect()}
    assert set(kept) == kept2


def test_domain_cap_flag_matches_row_number(spark):
    """in_domcap == (native per-domain rank by score desc, id asc) <=
    cap — RefinedWeb composition rule, exact and deterministic."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window as W

    from scida_spark.functions.sampling import domain_cap_flag

    rows = [(i, f"d{i % 4}", float((i * 7) % 23)) for i in range(300)]
    df = spark.createDataFrame(rows, "id long, dom string, score double")
    got = domain_cap_flag(
        df, "id", "dom", [F.col("score").desc(), F.col("id").asc()], cap=10
    )
    w = W.partitionBy("dom").orderBy(F.col("score").desc(), F.col("id").asc())
    want = df.withColumn("rn", F.row_number().over(w)).withColumn(
        "want", F.col("rn") <= 10
    )
    joined = got.join(want.select("id", "want"), "id")
    assert joined.filter(F.col("in_domcap") != F.col("want")).count() == 0
    # all rows survive with a flag (selection never drops the complement)
    assert got.count() == 300
    assert got.filter("in_domcap").count() == 40  # 4 domains x cap 10


def test_domain_cap_flag_deterministic_across_partitionings(spark):
    from pyspark.sql import functions as F

    from scida_spark.functions.sampling import domain_cap_flag

    rows = [(i, f"d{i % 3}", float(i % 11)) for i in range(120)]
    df = spark.createDataFrame(rows, "id long, dom string, score double")
    order = [F.col("score").desc(), F.col("id").asc()]
    a = {
        (r["id"], r["in_domcap"])
        for r in domain_cap_flag(df.repartition(17), "id", "dom", order, 5).collect()
    }
    b = {
        (r["id"], r["in_domcap"])
        for r in domain_cap_flag(df.coalesce(1), "id", "dom", order, 5).collect()
    }
    assert a == b
