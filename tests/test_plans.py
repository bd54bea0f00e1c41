"""Physical-plan shape assertions — the scale contract, enforced.

Each headline query's docstring promises a plan property (filter
pushdown, column pruning, broadcast joins, no cartesian products).
These tests pin those properties so a regression that silently
de-optimizes a plan (e.g. a lost broadcast hint turning into a
sort-merge join of a dim table) fails CI rather than surfacing as a
10x slowdown at cluster scale.
"""

from __future__ import annotations

import pytest


def _plan(spark, df) -> str:
    je = df._jdf.queryExecution()
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    return je.explainString(mode)


@pytest.fixture(scope="module")
def reg():
    import __spark_entry__ as E

    return E.queries()


def test_q1_pushdown_and_pruning(spark, sf_dir, reg):
    p = _plan(spark, reg["q1_pricing_summary"](spark, sf_dir))
    assert "PushedFilters" in p and "l_shipdate" in p.split("PushedFilters", 1)[1][:200]
    # Column pruning: the scan must not read unused lineitem columns.
    read_schema = p.split("ReadSchema", 1)[1].splitlines()[0]
    assert "l_orderkey" not in read_schema and "l_comment" not in read_schema
    # Partial + final aggregation around exactly one shuffle.
    assert p.count("HashAggregate") >= 2


def test_q3_q5_broadcast_dims_no_smj_of_dims(spark, sf_dir, reg):
    for name in ("q3_shipping_priority", "q5_region_revenue"):
        p = _plan(spark, reg[name](spark, sf_dir))
        assert "BroadcastHashJoin" in p, name
        assert "CartesianProduct" not in p, name
        assert "BroadcastNestedLoopJoin" not in p, name


def test_top3_single_window_shuffle(spark, sf_dir, reg):
    # The per-group half of the merged q_topn registry slot.
    from scida_spark.queries import q_top3_per_order

    p = _plan(spark, q_top3_per_order(spark, sf_dir))
    assert "Window" in p
    assert "CartesianProduct" not in p
    # The rank filter must run *inside* the window stage, not after a
    # second shuffle: no Exchange after the Window operator.
    after_window = p.split("(1) Scan", 1)[0]
    assert after_window.index("Window") < after_window.index("Exchange")


def test_groupid_searchsorted_no_particle_shuffle_for_join(spark, sf_dir, reg):
    """The catalog-ID kernel maps particles over a broadcast array —
    the plan must contain the Arrow-evaluated Python stage and no
    sort-merge join of the particle side. (The searchsorted half of the
    merged scida_groupid_assign registry slot — the rangejoin half
    legitimately plans a broadcast non-equi join, so the pin targets
    the half, not the union.)"""
    from scida_spark.queries_scida import scida_groupid_searchsorted

    p = _plan(spark, scida_groupid_searchsorted(spark, sf_dir))
    assert "ArrowEvalPython" in p
    assert "SortMergeJoin" not in p


def test_zoom_selector_prunes_with_uid_predicates(spark, sf_dir, reg):
    p = _plan(spark, reg["scida_zoom_selector"](spark, sf_dir))
    # The uid-range predicates survive into the plan as filters.
    assert "uid" in p and "Filter" in p


def test_sum_masses_is_scan_plus_agg_only(spark, sf_dir, reg):
    p = _plan(spark, reg["scida_sum_masses"](spark, sf_dir))
    assert "Join" not in p
    assert p.count("Exchange") <= 2  # single-partition final agg exchange


def test_global_topn_is_take_ordered(spark, sf_dir, reg):
    """orderBy+limit must plan as TakeOrderedAndProject (per-partition
    heaps + driver merge of N rows), never a full global sort. (The
    global half of the merged q_topn registry slot; also pinned on the
    union plan itself.)"""
    from scida_spark.queries import q_global_topn

    p = _plan(spark, q_global_topn(spark, sf_dir))
    assert "TakeOrderedAndProject" in p
    assert "Sort " not in p.split("TakeOrderedAndProject")[0]
    merged = _plan(spark, reg["q_topn"](spark, sf_dir))
    assert "TakeOrderedAndProject" in merged
    assert "CartesianProduct" not in merged


def test_neardup_pairs_no_cartesian(spark, sf_dir, reg):
    """The near-dup primary is tile-blocked: two keyed shuffles into a
    cogrouped Pandas stage — never a CartesianProduct / BNLJ."""
    p = _plan(spark, reg["sim_neardup_pairs"](spark, sf_dir))
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "FlatMapCoGroupsInPandas" in p


def test_signature_dedup_no_cartesian(spark, sf_dir, reg):
    """Both signature-dedup halves are bucketed equi-joins: the plan may
    never contain a CartesianProduct or BroadcastNestedLoopJoin (the r2
    registration's degenerate 7-bit pigeonhole keys were an all-pairs
    join in disguise — candidates, not the plan shape, were the problem;
    this pins the plan shape while tests/test_dedup_blocking.py pins the
    candidate count)."""
    p = _plan(spark, reg["dedup_signature_pairs"](spark, sf_dir))
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_cc_clusters_df_capped_join_no_cartesian(spark, sf_dir, reg):
    """The exact n-gram-Jaccard candidate join is an equi-join on the
    df-capped shingle inverted index — no cartesian anywhere in the
    pairs+CC composition."""
    p = _plan(spark, reg["dedup_cc_clusters"](spark, sf_dir))
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_train_eval_split_stratum_shuffles_shared(spark, sf_dir, reg):
    """Hash-split + domain-mix assignment are pure projections (md5
    bucket + CASE, no rand()) computed MAP-SIDE; each ranked section
    pays exactly ONE shuffle on its stratum and shares it between its
    two window functions (row_number + stratum count ride the same
    partitioning): hashpartitioning(lang) for in_strat,
    hashpartitioning(source) for the r9 DSIR quota, one partitioning
    on the md5 cluster key for cluster_split. No cartesian anywhere
    (the DSIR totals come from an unpartitioned window over the ≤V-row
    bucket table, NOT a 1-row cross join)."""
    p = _plan(spark, reg["text_train_eval_split"](spark, sf_dir))
    assert p.count("hashpartitioning(lang") == 1, p
    # TWO independent source-partitioned exchanges since r9 in_domcap:
    # the DSIR quota branch and the domain-cap selection window are
    # separate join subtrees (the cap's WindowGroupLimit-pruned input
    # cannot reuse the DSIR branch's exchange).
    assert p.count("hashpartitioning(source") == 2, p
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert p.count("Window") >= 4  # (rank+count) × (in_strat, in_dsir)
    # split/in_mix are computed in a map-side Project (no rand(),
    # nothing upstream of them shuffles on doc_id)
    assert "AS split" in p and "AS in_mix" in p


def test_repetition_filter_no_shuffle(spark, sf_dir, reg):
    """Per-document repetition stats never shuffle: JVM array ops + one
    Arrow-batched pandas stage over the scan partitioning."""
    p = _plan(spark, reg["text_repetition_filter"](spark, sf_dir))
    assert "Exchange" not in p


def test_contamination_broadcasts_bench_side(spark, sf_dir, reg):
    """Decontamination joins the corpus against a BROADCAST benchmark
    shingle index — no shuffle of the corpus for candidate generation,
    no cartesian."""
    p = _plan(spark, reg["dedup_contamination"](spark, sf_dir))
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p


def test_q18_aggregates_lineitem_once(spark, sf_dir, reg):
    """Q18 is ONE lineitem aggregation joined to orders — the classic
    rejoin-and-reaggregate formulation scans + shuffles lineitem twice
    (measured 9.6x wall at 3x data, SCALE.md). Pin: a single lineitem
    scan, and orders never feeds an aggregate."""
    p = _plan(spark, reg["q18_large_orders"](spark, sf_dir))
    tree = p.split("\n\n")[0]
    assert p.count("lineitem.parquet") == 1, p
    assert tree.count("HashAggregate") == 2  # partial + final of the one agg
    assert "BroadcastHashJoin" in tree


def test_sq8_encode_is_map_only(spark, sf_dir):
    """SQ8 encoding promises map-only zip_with over literal bound
    arrays: no Exchange, no Python UDF (BatchEvalPython/ArrowEval) in
    the plan — the codes are produced inside codegen."""
    from scida_spark.functions.similarity import sq8_bounds, sq8_encode
    from scida_spark.tables import table

    emb = table(spark, sf_dir, "embeddings")
    lo, hi = sq8_bounds(emb, 64)
    p = _plan(spark, sq8_encode(emb, lo, hi))
    assert "Exchange" not in p, p
    assert "EvalPython" not in p and "FlatMapsInPandas" not in p


def test_tfidf_topk_is_window_group_limited(spark, sf_dir):
    """The per-doc top-k rank filter must plan as WindowGroupLimit
    (Partial below the Exchange — the r9 grouped-topn rule), and the
    df-value idf table must broadcast."""
    from scida_spark.functions.retrieval import tfidf_keywords
    from scida_spark.tables import table

    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    p = _plan(spark, tfidf_keywords(docs, k=3))
    assert "WindowGroupLimit" in p, p
    assert "BroadcastHashJoin" in p


def test_scd2_single_id_exchange(spark):
    """SCD2 shuffles once on the id for the version window; the
    latest-version lookup is a broadcast, never a second shuffle of
    the snapshot stack."""
    from scida_spark.functions.diff import scd2_history

    rows = [(i % 20, v, f"t{i % 7}") for i in range(100) for v in range(3)]
    df = spark.createDataFrame(rows, "id long, version long, text string")
    p = _plan(spark, scd2_history(df, "id", ["text"]))
    assert "BroadcastNestedLoopJoin" in p or "BroadcastExchange" in p
    # exactly one hashpartitioning exchange of the stack: the (id)
    # window's — the (id, run) groupBy rides it (superset-key reuse),
    # and the only other exchange is the 1-row vmax SinglePartition.
    assert p.count("hashpartitioning") == 1, p


def test_h5_read_plans_over_range_without_shuffle(spark, tmp_path):
    """The HDF5 read kernel runs over ``spark.range(0, n, 1, n)``: one
    task per split and no round-robin Exchange of a parallelized split
    table in front of the mapInArrow."""
    import numpy as np

    from scida_spark.sources.hdf5 import load_hdf5_dataset

    pt0 = tmp_path / "snap" / "PartType0"
    pt0.mkdir(parents=True)
    masses = np.arange(100, dtype=np.float64)
    np.save(pt0 / "Masses.npy", masses)
    ds = load_hdf5_dataset(str(tmp_path / "snap"), spark, rows_per_split=16,
                           backend="scida_spark.sources.h5_shim")
    df = ds["PartType0"].df
    p = _plan(spark, df)
    assert "MapInArrow" in p, p
    assert "RoundRobinPartitioning" not in p, p
    assert "Exchange" not in p, p
    assert df.rdd.getNumPartitions() == 7
    rows = df.orderBy("uid").select("uid", "Masses").collect()
    assert [r.uid for r in rows] == list(range(100))
    assert [r.Masses for r in rows] == masses.tolist()
