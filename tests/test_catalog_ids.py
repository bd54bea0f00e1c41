"""Golden catalog-ID fixture — the reference's canonical correctness test
(tests/integration/test_catalog_ids.py:11-124, restated in FIXTURES.md §4):

100 particles, 3 halos of [40, 30, 20] particles (10 unbound tail),
4 subhalos of [20, 20, 30, 20], SubhaloGrNr=[0,0,1,2],
GroupFirstSub=[0,2,3], GroupNsubs=[2,1,1].

Expected:  uid 0-19   → Group 0, Subhalo 0, Local 0
           uid 20-39  → Group 0, Subhalo 1, Local 1
           uid 40-69  → Group 1, Subhalo 2, Local 0
           uid 70-89  → Group 2, Subhalo 3, Local 0
           uid 90-99  → sentinel everywhere

Must hold regardless of partitioning (the Spark analog of the
reference's chunk-size invariance assertion, test_catalog_ids.py:97-124).
"""

import pytest
from pyspark.sql import functions as F

from scida_spark.operators import catalog as C

SENT = C.SENTINEL


def _fixture(spark, npartitions):
    particles = spark.range(100).withColumnRenamed("id", "uid").repartition(npartitions)
    groups = spark.createDataFrame(
        [(0, 40, 0, 2), (1, 30, 2, 1), (2, 20, 3, 1)],
        "GroupID long, GroupLen long, GroupFirstSub long, GroupNsubs long",
    )
    subs = spark.createDataFrame(
        [(0, 20, 0), (1, 20, 0), (2, 30, 1), (3, 20, 2)],
        "SubhaloID long, SubhaloLen long, SubhaloGrNr long",
    )
    return particles, groups, subs


def _expected_gid(uid):
    if uid < 40:
        return 0
    if uid < 70:
        return 1
    if uid < 90:
        return 2
    return SENT


def _expected_sid(uid):
    if uid < 20:
        return 0
    if uid < 40:
        return 1
    if uid < 70:
        return 2
    if uid < 90:
        return 3
    return SENT


def _expected_local(uid):
    if uid < 20:
        return 0
    if uid < 40:
        return 1
    if uid < 90:
        return 0
    return SENT


# Both ID strategies: the default limit takes the broadcast-searchsorted
# kernel, 0 forces the bucketed range join.
_LIMITS = pytest.mark.parametrize(
    "limit", [50_000_000, 0], ids=["broadcast", "rangejoin"]
)


@pytest.mark.parametrize("npartitions", [1, 3, 7])
def test_group_ids_golden(spark, npartitions):
    particles, groups, _ = _fixture(spark, npartitions)
    out = C.add_group_ids_auto(particles, groups).orderBy("uid").collect()
    assert len(out) == 100
    for row in out:
        assert row["GroupID"] == _expected_gid(row["uid"]), row


@pytest.mark.parametrize("npartitions", [1, 4])
def test_group_ids_rangejoin_golden(spark, npartitions):
    particles, groups, _ = _fixture(spark, npartitions)
    out = (
        C.add_group_ids_auto(particles, groups, broadcast_limit=0)
        .orderBy("uid")
        .collect()
    )
    assert len(out) == 100
    for row in out:
        assert row["GroupID"] == _expected_gid(row["uid"]), row


def test_group_ids_rangejoin_degrades_past_broadcast_limit(
    spark, monkeypatch
):
    """The 100 TB degradation path (r16, closes r15 VERDICT next #8 +
    the ADVICE hardcoded-broadcast item): with the interval count past
    `_BROADCAST_ROW_LIMIT` (forced to 0 here) and auto-broadcast
    disabled, the bucketed range join must plan WITHOUT any broadcast
    of the catalog — a shuffled hash / sort-merge join on the bucket
    key — and stay row-identical to the broadcast-hinted plan."""
    particles, groups, _ = _fixture(spark, 4)
    monkeypatch.setattr(C, "_BROADCAST_ROW_LIMIT", 0)
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        out_df = C.add_group_ids_auto(particles, groups, broadcast_limit=0)
        plan = out_df._sc._jvm.PythonSQLUtils.explainString(
            out_df._jdf.queryExecution(), "formatted"
        )
        assert "BroadcastHashJoin" not in plan, plan
        assert "BroadcastNestedLoopJoin" not in plan, plan
        assert ("ShuffledHashJoin" in plan) or ("SortMergeJoin" in plan)
        for row in out_df.orderBy("uid").collect():
            assert row["GroupID"] == _expected_gid(row["uid"]), row
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def _subhalo_rows(particles, groups, subs, limit):
    return (
        C.add_subhalo_ids_auto(particles, groups, subs, broadcast_limit=limit)
        .orderBy("uid")
        .collect()
    )


@_LIMITS
@pytest.mark.parametrize("npartitions", [1, 3, 7])
def test_subhalo_ids_golden(spark, npartitions, limit):
    particles, groups, subs = _fixture(spark, npartitions)
    out = _subhalo_rows(particles, groups, subs, limit)
    assert len(out) == 100
    for row in out:
        assert row["SubhaloID"] == _expected_sid(row["uid"]), row
        assert row["LocalSubhaloID"] == _expected_local(row["uid"]), row


@_LIMITS
def test_subhalo_inner_fuzz(spark, limit):
    """Particles beyond a halo's subhalo span but inside the halo get the
    sentinel (reference 'inner fuzz' semantics)."""
    particles = spark.range(50).withColumnRenamed("id", "uid")
    groups = spark.createDataFrame(
        [(0, 40, 0, 1)], "GroupID long, GroupLen long, GroupFirstSub long, GroupNsubs long"
    )
    subs = spark.createDataFrame(
        [(0, 25, 0)], "SubhaloID long, SubhaloLen long, SubhaloGrNr long"
    )
    for row in _subhalo_rows(particles, groups, subs, limit):
        uid = row["uid"]
        if uid < 25:
            assert row["SubhaloID"] == 0 and row["LocalSubhaloID"] == 0
        else:  # fuzz (25-39) and unbound (40-49)
            assert row["SubhaloID"] == SENT and row["LocalSubhaloID"] == SENT


@_LIMITS
def test_subhalo_ids_trailing_halos_without_subhalos(spark, limit):
    """Halos with GroupNsubs=0 after the last subhalo-bearing halo: their
    particles are inner fuzz, and the catalog must not be indexed past
    its end (the broadcast kernel raised IndexError here)."""
    particles = spark.range(110).withColumnRenamed("id", "uid").repartition(3)
    groups = spark.createDataFrame(
        [(0, 40, 0, 2), (1, 30, 2, 1), (2, 20, 3, 1), (3, 5, -1, 0), (4, 5, -1, 0)],
        "GroupID long, GroupLen long, GroupFirstSub long, GroupNsubs long",
    )
    _, _, subs = _fixture(spark, 1)
    out = _subhalo_rows(particles, groups, subs, limit)
    assert len(out) == 110
    for row in out:
        uid = row["uid"]
        want_sid = _expected_sid(uid) if uid < 90 else SENT
        want_local = _expected_local(uid) if uid < 90 else SENT
        assert (row["SubhaloID"], row["LocalSubhaloID"]) == (want_sid, want_local), row


def test_subhalo_ids_clip_overflowing_subhalo(spark):
    """A SubhaloLen past its halo's end is clipped to the halo span: one
    row per particle (the range join used to duplicate the overlap) and
    the same IDs from both strategies."""
    particles, groups, _ = _fixture(spark, 3)
    subs = spark.createDataFrame(
        [(0, 20, 0), (1, 25, 0), (2, 30, 1), (3, 20, 2)],
        "SubhaloID long, SubhaloLen long, SubhaloGrNr long",
    )
    got = {lim: _subhalo_rows(particles, groups, subs, lim) for lim in (50_000_000, 0)}
    assert got[50_000_000] == got[0]
    assert [r["uid"] for r in got[0]] == list(range(100))
    for row in got[0]:
        assert row["SubhaloID"] == _expected_sid(row["uid"]), row
        assert row["LocalSubhaloID"] == _expected_local(row["uid"]), row


@_LIMITS
@pytest.mark.parametrize(
    "nsubs", [[2, 1, 0], [2, 1, 2], [2, 2, 1]], ids=["unclaimed", "missing", "twice"]
)
def test_subhalo_ids_reject_disagreeing_catalogs(spark, limit, nsubs):
    """The group and subhalo catalogs must agree: every subhalo claimed
    by exactly one halo's [GroupFirstSub, GroupFirstSub+GroupNsubs)
    range, and every claim present in the subhalo catalog."""
    particles, _, subs = _fixture(spark, 2)
    groups = spark.createDataFrame(
        [(0, 40, 0, nsubs[0]), (1, 30, 2, nsubs[1]), (2, 20, 3, nsubs[2])],
        "GroupID long, GroupLen long, GroupFirstSub long, GroupNsubs long",
    )
    with pytest.raises(ValueError, match="catalogs disagree"):
        _subhalo_rows(particles, groups, subs, limit)


def test_subhalo_ids_auto_dispatch(spark):
    """The auto dispatcher picks broadcast below the bound and the
    distributed range join above it; results identical either way."""
    particles, groups, subs = _fixture(spark, 3)
    lo = C.add_subhalo_ids_auto(particles, groups, subs).orderBy("uid").collect()
    hi = (
        C.add_subhalo_ids_auto(particles, groups, subs, broadcast_limit=0)
        .orderBy("uid")
        .collect()
    )
    assert lo == hi
    for row in lo:
        assert row["SubhaloID"] == _expected_sid(row["uid"]), row
        assert row["LocalSubhaloID"] == _expected_local(row["uid"]), row


def test_offsets(spark):
    groups = spark.createDataFrame(
        [(0, 40), (1, 30), (2, 20)], "GroupID long, GroupLen long"
    )
    out = {r["GroupID"]: r["offset"] for r in C.group_offsets(groups, "GroupLen", "GroupID").collect()}
    assert out == {0: 0, 1: 40, 2: 70}


def test_offsets_two_phase_matches_window(spark, monkeypatch):
    """Forcing the catalog over GROUP_OFFSETS_WINDOW_LIMIT routes group_offsets
    through the two-phase bucketed prefix (r15 auto-switch): values
    identical to the single-window form on irregular lengths, sparse /
    non-contiguous ids, and a zero-length group; the big-side window
    in the plan is PARTITIONED by bucket (no whole-catalog single-task
    sort), which is the scale property the switch buys."""
    import random

    random.seed(5)
    rows = []
    gid = 0
    for _ in range(500):
        # sparse, non-contiguous ids spread over ~250 offset buckets
        gid += random.randint(1, 97) * 10_007
        rows.append((gid, random.choice([0, 1, 3, 17, 1000])))
    groups = spark.createDataFrame(rows, "GroupID long, GroupLen long")
    base = {
        r["GroupID"]: r["offset"]
        for r in C.group_offsets(groups, "GroupLen", "GroupID").collect()
    }
    monkeypatch.setattr(C, "GROUP_OFFSETS_WINDOW_LIMIT", 1)
    two = C.group_offsets(groups, "GroupLen", "GroupID")
    got = {r["GroupID"]: r["offset"] for r in two.collect()}
    assert got == base
    # schema contract: same columns as the window form
    assert set(two.columns) == {"GroupID", "GroupLen", "offset"}
    # plan pin: the per-row window partitions by the bucket key — the
    # whole catalog never serializes through one unpartitioned sort
    plan = two._jdf.queryExecution().executedPlan().toString()
    assert "hashpartitioning(__bkt" in plan, plan


def test_selectors(spark):
    particles, groups, subs = _fixture(spark, 3)
    df = C.add_subhalo_ids_auto(
        C.add_group_ids_auto(particles, groups), groups, subs
    )
    assert C.select_halo(df, 1).count() == 30
    assert C.select_subhalo(df, 2, "SubhaloID").count() == 30
    assert C.select_local_subhalo(df, 0, 1).count() == 20
    assert C.select_unbound(df).count() == 10
    unbound_uids = [r["uid"] for r in C.select_unbound(df).orderBy("uid").collect()]
    assert unbound_uids == list(range(90, 100))


def test_grouped_builtin(spark):
    particles, groups, _ = _fixture(spark, 2)
    df = C.add_group_ids_auto(particles, groups).withColumn("m", F.col("uid").cast("double"))
    res = {
        r["GroupID"]: (r["sum_m"], r["max_m"])
        for r in C.grouped(df, ["m"]).sum().max().evaluate().collect()
    }
    assert res[0] == (sum(range(40)), 39.0)
    assert res[1] == (sum(range(40, 70)), 69.0)
    assert res[2] == (sum(range(70, 90)), 89.0)
    assert res[SENT] == (sum(range(90, 100)), 99.0)


def test_grouped_nmax_idxlist(spark):
    particles, groups, _ = _fixture(spark, 2)
    df = C.add_group_ids_auto(particles, groups).withColumn("m", F.lit(1.0))
    res = C.grouped(df, ["m"]).count().evaluate(nmax=2).collect()
    assert {r["GroupID"] for r in res} == {0, 1}
    res = C.grouped(df, ["m"]).count().evaluate(idxlist=[0, 2]).collect()
    assert {r["GroupID"] for r in res} == {0, 2}


def test_grouped_apply(spark):
    import pandas as pd

    particles, groups, _ = _fixture(spark, 2)
    df = C.add_group_ids_auto(particles, groups).withColumn("m", F.col("uid").cast("double"))

    def spread(pdf: pd.DataFrame) -> pd.DataFrame:
        return pd.DataFrame(
            {"GroupID": [pdf["GroupID"].iloc[0]], "spread": [pdf["m"].max() - pdf["m"].min()]}
        )

    res = {
        r["GroupID"]: r["spread"]
        for r in C.grouped(df, ["m"]).apply(spread, "GroupID long, spread double").evaluate().collect()
    }
    assert res[0] == 39.0 and res[1] == 29.0 and res[2] == 19.0


def test_add_group_quantity(spark):
    particles, groups, _ = _fixture(spark, 2)
    df = C.add_group_ids_auto(particles, groups)
    cat = groups.withColumn("GroupMass", F.col("GroupLen") * 2.5)
    out = C.add_group_quantity(df, cat, ["GroupMass"])
    rows = out.filter(F.col("uid").isin([0, 45, 75, 95])).orderBy("uid").collect()
    assert rows[0]["GroupMass"] == 100.0
    assert rows[1]["GroupMass"] == 75.0
    assert rows[2]["GroupMass"] == 50.0
    assert rows[3]["GroupMass"] is None  # unbound → no halo attribute


def test_segmented_apply_stitches_groups_across_arrow_batches(spark):
    """A group split across Arrow batches inside a partition must be
    reassembled before func sees it — force 7-row batches to exercise
    the stitching path."""
    import pandas as pd
    from pyspark.sql import functions as F
    from scida_spark.operators.catalog import segmented_apply

    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "7")
    try:
        df = spark.range(0, 200).select(
            (F.col("id") % 13).alias("k"), F.col("id").alias("v")
        )

        def agg(pdf: pd.DataFrame) -> pd.DataFrame:
            return pd.DataFrame(
                {"k": [pdf["k"].iloc[0]], "n": [len(pdf)], "s": [int(pdf["v"].sum())]}
            )

        got = {
            r.k: (r.n, r.s)
            for r in segmented_apply(df, "k", agg, "k long, n long, s long").collect()
        }
        expect = {
            r.k: (r.n, r.s)
            for r in df.groupBy("k")
            .agg(F.count("*").alias("n"), F.sum("v").alias("s"))
            .collect()
        }
        assert got == expect
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)


def test_add_group_ids_auto_both_paths(spark):
    from pyspark.sql import functions as F
    from scida_spark.operators.catalog import SENTINEL, add_group_ids_auto

    parts = spark.range(0, 100).select(F.col("id").alias("uid"))
    cat = spark.createDataFrame(
        [(0, 40), (1, 30), (2, 20)], "GroupID long, GroupLen long"
    )
    expect = [0] * 40 + [1] * 30 + [2] * 20 + [SENTINEL] * 10
    fast = add_group_ids_auto(parts, cat)
    assert [r.GroupID for r in fast.orderBy("uid").collect()] == expect
    # Force the range-join fallback with a tiny broadcast limit.
    slow = add_group_ids_auto(parts, cat, broadcast_limit=1)
    assert [r.GroupID for r in slow.orderBy("uid").collect()] == expect
