"""Exact AUC (midrank ties) + confusion/derived metrics."""

from __future__ import annotations

import pytest


def _sk_auc(scores, labels):
    """Reference midrank AUC (pure Python)."""
    n = len(scores)
    order = sorted(range(n), key=lambda i: scores[i])
    ranks = [0.0] * n
    i = 0
    while i < n:
        j = i
        while j + 1 < n and scores[order[j + 1]] == scores[order[i]]:
            j += 1
        mid = (i + 1 + j + 1) / 2.0
        for k in range(i, j + 1):
            ranks[order[k]] = mid
        i = j + 1
    pos = [ranks[i] for i in range(n) if labels[i]]
    np_, nn = len(pos), n - len(pos)
    return (sum(pos) - np_ * (np_ + 1) / 2.0) / (np_ * nn)


def test_auc_exact_matches_reference_with_ties(spark):
    from scida_spark.functions.metrics import auc_exact

    scores = [0.1, 0.4, 0.4, 0.8, 0.8, 0.8, 0.2, 0.9, 0.4, 0.05]
    labels = [False, True, False, True, True, False, False, True, True, False]
    df = spark.createDataFrame(
        list(zip(range(10), scores, labels)), "id long, s double, y boolean"
    )
    [r] = auc_exact(df, "s", "y").collect()
    assert r["auc"] == pytest.approx(_sk_auc(scores, labels), abs=0)
    assert r["n_pos"] == 5 and r["n_neg"] == 5


def test_auc_perfect_random_and_inverted(spark):
    from scida_spark.functions.metrics import auc_exact

    rows = [(i, float(i), i >= 50) for i in range(100)]
    df = spark.createDataFrame(rows, "id long, s double, y boolean")
    assert auc_exact(df, "s", "y").collect()[0]["auc"] == 1.0
    inv = spark.createDataFrame(
        [(i, float(-i), i >= 50) for i in range(100)], "id long, s double, y boolean"
    )
    assert auc_exact(inv, "s", "y").collect()[0]["auc"] == 0.0
    const = spark.createDataFrame(
        [(i, 1.0, i % 2 == 0) for i in range(10)], "id long, s double, y boolean"
    )
    assert const.transform(
        lambda d: auc_exact(d, "s", "y")
    ).collect()[0]["auc"] == 0.5  # all tied -> 0.5 by midranks


def test_auc_grouped_and_degenerate(spark):
    from scida_spark.functions.metrics import auc_exact

    rows = [(i, "g1", float(i), i >= 5) for i in range(10)]
    rows += [(100 + i, "g2", float(i), True) for i in range(4)]  # no negatives
    df = spark.createDataFrame(rows, "id long, g string, s double, y boolean")
    got = {r["g"]: r["auc"] for r in auc_exact(df, "s", "y", ["g"]).collect()}
    assert got["g1"] == 1.0
    assert got["g2"] is None  # undefined, surfaced as NULL


def test_auc_layout_independent(spark):
    from scida_spark.functions.metrics import auc_exact

    rows = [(i, float((i * 7) % 13), (i * 3) % 5 < 2) for i in range(200)]
    df = spark.createDataFrame(rows, "id long, s double, y boolean")
    a = auc_exact(df, "s", "y").collect()[0]["auc"]
    b = auc_exact(df.repartition(17), "s", "y").collect()[0]["auc"]
    assert a == b


def test_auc_randomized_reference_multi_seed(spark):
    """Randomized agreement with the pure-Python midrank reference
    across several seeds and heavy-tie regimes (bucketed scores)."""
    import random

    from scida_spark.functions.metrics import auc_exact

    for seed in (3, 17, 99):
        rng = random.Random(seed)
        n = 500
        scores = [float(rng.randint(0, 12)) for _ in range(n)]  # heavy ties
        labels = [rng.random() < 0.3 for _ in range(n)]
        if not any(labels) or all(labels):
            labels[0] = not labels[0]
        df = spark.createDataFrame(
            list(zip(range(n), scores, labels)), "id long, s double, y boolean"
        )
        got = auc_exact(df, "s", "y").collect()[0]["auc"]
        assert got == pytest.approx(_sk_auc(scores, labels), abs=0), seed


def test_isotonic_calibration_hand_computed(spark):
    """Buckets (n, n_pos): 0:(2,1) 1:(1,0) 2:(2,2) 3:(1,0) 4:(1,1) —
    PAV pools {0,1} -> 1/3 and {2,3} -> 2/3, leaves 4 at 1.0. Also
    pins monotonicity and that pooled buckets share one exact value."""
    from scida_spark.functions.metrics import isotonic_calibration

    rows = (
        [(0, False), (0, True), (1, False)]
        + [(2, True), (2, True), (3, False), (4, True)]
    )
    df = spark.createDataFrame(rows, "sb long, y boolean")
    got = {
        r["sb"]: (r["n"], r["n_pos"], r["calibrated"])
        for r in isotonic_calibration(df, "sb", "y").collect()
    }
    assert got == {
        0: (2, 1, 1 / 3),
        1: (1, 0, 1 / 3),
        2: (2, 2, 2 / 3),
        3: (1, 0, 2 / 3),
        4: (1, 1, 1.0),
    }


def test_isotonic_calibration_already_monotone_is_identity(spark):
    from scida_spark.functions.metrics import isotonic_calibration

    rows = [(0, False), (1, True), (1, False), (2, True)]
    df = spark.createDataFrame(rows, "sb long, y boolean")
    got = {
        r["sb"]: r["calibrated"]
        for r in isotonic_calibration(df, "sb", "y").collect()
    }
    assert got == {0: 0.0, 1: 0.5, 2: 1.0}


def test_isotonic_calibration_minmax_identity_randomized(spark):
    """PAV == the min-max formula g(i) = max_{j<=i} min_{k>=i}
    avg(y[j..k]) (Barlow et al.) — the identity the driver oracle
    replays in SQL. Brute-force the formula in Python over random
    count tables and require BIT equality, not approximate."""
    import random

    from scida_spark.functions.metrics import isotonic_calibration

    rng = random.Random(1015)
    for trial in range(8):
        vocab = rng.randint(2, 12)
        rows = []
        for sb in range(vocab):
            n = rng.randint(1, 5)
            npos = rng.randint(0, n)
            rows += [(sb, True)] * npos + [(sb, False)] * (n - npos)
        df = spark.createDataFrame(rows, "sb long, y boolean")
        got = {
            r["sb"]: r["calibrated"]
            for r in isotonic_calibration(df, "sb", "y").collect()
        }
        # brute-force minimax over integer prefix sums
        import itertools

        cn = [0] * vocab
        np_ = [0] * vocab
        for sb, y in rows:
            cn[sb] += 1
            np_[sb] += int(y)
        pc = list(itertools.accumulate(np_))
        cc = list(itertools.accumulate(cn))
        for i in range(vocab):
            best = None
            for j in range(i + 1):
                worst = None
                for k in range(i, vocab):
                    r = (pc[k] - (pc[j] - np_[j])) / (cc[k] - (cc[j] - cn[j]))
                    worst = r if worst is None else min(worst, r)
                best = worst if best is None else max(best, worst)
            assert got[i] == best, (trial, i, got[i], best)


def test_isotonic_calibration_all_null_label_bucket(spark):
    """A score bucket whose labels are ALL NULL must count 0 positives
    (coalesce), not raise TypeError on int(None) — the ADVICE r10
    regression. NULL labels never count as positive anywhere."""
    from scida_spark.functions.metrics import isotonic_calibration

    rows = [(0, True), (1, None), (1, None), (2, True)]
    df = spark.createDataFrame(rows, "sb long, y boolean")
    got = {
        r["sb"]: (r["n"], r["n_pos"], r["calibrated"])
        for r in isotonic_calibration(df, "sb", "y").collect()
    }
    # counts: 0:(1,1) 1:(2,0) 2:(1,1) -> PAV pools {0,1} to 1/3
    assert got == {0: (1, 1, 1 / 3), 1: (2, 0, 1 / 3), 2: (1, 1, 1.0)}


# --------------------------------------------------------------------------
# ranking_metrics (recall@k / MRR / nDCG / AP)
# --------------------------------------------------------------------------


def _ndcg_ref(ranked_rels, all_rels, k):
    import math

    disc = lambda i: math.log(2.0) / math.log(i + 1.0)
    dcg = sum(r * disc(i) for i, r in enumerate(ranked_rels[:k], start=1))
    ideal = sorted(all_rels, reverse=True)[:k]
    idcg = sum(r * disc(i) for i, r in enumerate(ideal, start=1))
    return dcg / idcg if idcg > 0 else 0.0


def test_ranking_metrics_hand_computed(spark):
    from scida_spark.functions.metrics import ranking_metrics

    # query 0: run = [10(rel), 11, 12(rel), 13]; judged rel: 10, 12, 14
    # query 1: run = [20, 21]; judged rel: 22 (missed entirely)
    # query 2: run = [30]; no judgments at all
    run = spark.createDataFrame(
        [
            (0, 10, 1), (0, 11, 2), (0, 12, 3), (0, 13, 4),
            (1, 20, 1), (1, 21, 2),
            (2, 30, 1),
        ],
        "query_id long, doc_id long, rank int",
    )
    qrels = spark.createDataFrame(
        [(0, 10, 1.0), (0, 12, 1.0), (0, 14, 1.0), (1, 22, 1.0)],
        "query_id long, doc_id long, rel double",
    )
    got = {
        r["query_id"]: r
        for r in ranking_metrics(run, qrels, k=4).collect()
    }
    q0 = got[0]
    assert (q0["n_rel"], q0["n_hit"]) == (3, 2)
    assert q0["recall"] == pytest.approx(2 / 3)
    assert q0["mrr"] == pytest.approx(1.0)
    # AP: hits at ranks 1 and 3 -> (1/1 + 2/3) / R=3
    assert q0["ap"] == pytest.approx((1.0 + 2.0 / 3.0) / 3.0)
    assert q0["ndcg"] == pytest.approx(
        _ndcg_ref([1.0, 0.0, 1.0, 0.0], [1.0, 1.0, 1.0], 4)
    )
    q1 = got[1]
    assert (q1["recall"], q1["mrr"], q1["ndcg"], q1["ap"]) == (0.0, 0.0, 0.0, 0.0)
    q2 = got[2]
    assert (q2["n_rel"], q2["recall"], q2["ndcg"]) == (0, 0.0, 0.0)


def test_ranking_metrics_graded_gains_and_k_cutoff(spark):
    from scida_spark.functions.metrics import ranking_metrics

    # graded rels; the rank-3 hit falls outside k=2
    run = spark.createDataFrame(
        [(0, 1, 1), (0, 2, 2), (0, 3, 3)],
        "query_id long, doc_id long, rank int",
    )
    qrels = spark.createDataFrame(
        [(0, 2, 2.0), (0, 3, 3.0), (0, 9, 1.0)],
        "query_id long, doc_id long, rel double",
    )
    [r] = ranking_metrics(run, qrels, k=2).collect()
    assert r["n_hit"] == 1 and r["recall"] == pytest.approx(1 / 3)
    assert r["mrr"] == pytest.approx(0.5)
    assert r["ndcg"] == pytest.approx(_ndcg_ref([0.0, 2.0], [2.0, 3.0, 1.0], 2))


def test_ranking_metrics_perfect_run_is_all_ones(spark):
    from scida_spark.functions.metrics import ranking_metrics

    run = spark.createDataFrame(
        [(0, 1, 1), (0, 2, 2)], "query_id long, doc_id long, rank int"
    )
    qrels = spark.createDataFrame(
        [(0, 1, 1.0), (0, 2, 1.0)], "query_id long, doc_id long, rel double"
    )
    [r] = ranking_metrics(run, qrels, k=2).collect()
    assert (r["recall"], r["mrr"], r["ndcg"], r["ap"]) == (1.0, 1.0, 1.0, 1.0)


def test_auc_bucketed_prefix_matches_single_window(spark):
    """score_bucket_width (r15) reruns the ungrouped rank cumulative
    as the two-phase bucketed prefix — bit-identical AUC on a
    tie-heavy randomized corpus (integer sums reassociate exactly),
    and the per-score window in the plan partitions by bucket (no
    whole-vocabulary single-task sort)."""
    import random

    from scida_spark.functions.metrics import auc_exact

    rng = random.Random(77)
    rows = [
        (i, round(rng.random(), 2), rng.random() < 0.4)  # heavy ties
        for i in range(3000)
    ]
    df = spark.createDataFrame(rows, "id long, s double, y boolean")
    [base] = auc_exact(df, "s", "y").collect()
    two = auc_exact(df, "s", "y", score_bucket_width=0.13)
    [got] = two.collect()
    assert (got["auc"], got["n_pos"], got["n_neg"]) == (
        base["auc"], base["n_pos"], base["n_neg"],
    )
    plan = two._jdf.queryExecution().executedPlan().toString()
    assert "hashpartitioning(__bkt" in plan, plan
