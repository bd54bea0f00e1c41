"""Two-phase global prefix sum: equality with the naive global window
and partition-count invariance."""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from scida_spark.operators.prefix_sum import global_running_sum


def _data(spark, nparts):
    df = spark.range(0, 5000).select(
        (F.col("id") % 97).alias("k"),
        F.col("id").alias("i"),
        ((F.col("id") * 7919) % 1000 / 10.0).alias("v"),
    )
    return df.repartition(nparts)


def test_matches_naive_global_window(spark):
    df = _data(spark, 8)
    got = global_running_sum(df, "v", "k", "i")
    w = W.orderBy("k", "i").rowsBetween(W.unboundedPreceding, W.currentRow)
    expect = df.withColumn(
        "running", F.sum(F.col("v").cast("decimal(38,6)")).over(w)
    )
    diff = (
        got.select("k", "i", "running")
        .exceptAll(expect.select("k", "i", "running"))
        .count()
    )
    assert diff == 0
    assert got.count() == 5000


def test_partition_invariance(spark):
    a = global_running_sum(_data(spark, 2), "v", "k", "i").select("k", "i", "running")
    b = global_running_sum(_data(spark, 17), "v", "k", "i").select("k", "i", "running")
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def test_no_single_task_window_over_data(spark):
    """The only unpartitioned window in the plan runs over the per-key
    aggregate (|keys| rows), never the raw data: the Window operator
    directly over the scan must be partitioned."""
    df = _data(spark, 8)
    plan = global_running_sum(df, "v", "k", "i")._jdf.queryExecution().executedPlan().toString()
    # The window over the data rows is keyed (windowspecdefinition(k#..,
    # i#.. ASC ...)): its spec names the partition column first.
    assert "windowspecdefinition(k#" in plan
    # The unpartitioned offsets window consumes the aggregated side: it
    # sits above a HashAggregate, which appears in the plan.
    assert "HashAggregate" in plan


def test_bucketed_phase1_identical_values(spark):
    """key_bucket_width buckets phase 1 (floor(key/width)) without
    changing a single output value — the recursion promised by the
    module docstring for >1e7 key cardinalities, pinned at every width
    regime (many tiny buckets, a few big ones, one bucket)."""
    df = _data(spark, 8)
    base = global_running_sum(df, "v", "k", "i").select("k", "i", "running")
    for width in (1, 7, 64, 10_000):
        got = global_running_sum(
            df, "v", "k", "i", key_bucket_width=width
        ).select("k", "i", "running")
        assert base.exceptAll(got).count() == 0
        assert got.exceptAll(base).count() == 0


def test_bucketed_uid_identical(spark):
    """with_uid_by_order(key_bucket_width=...) assigns the exact same
    uids as the single-window phase 1, including negative keys (floor
    division, not truncation) and NULL keys in the prefix table."""
    from scida_spark.operators.uid import with_uid_by_order

    df = spark.range(0, 3000).select(
        ((F.col("id") % 53) - 26).alias("k"), F.col("id").alias("s")
    )
    base = {
        (r["k"], r["s"]): r["uid"]
        for r in with_uid_by_order(df, "k", "s").collect()
    }
    for width in (5, 512):
        got = {
            (r["k"], r["s"]): r["uid"]
            for r in with_uid_by_order(
                df, "k", "s", key_bucket_width=width
            ).collect()
        }
        assert got == base


def test_grouped_median_element_exact_and_layout_free(spark):
    from scida_spark.operators.prefix_sum import grouped_median_element_cells

    import statistics

    rows = []
    for g, vals in [("a", [5.0, 1.0, 3.0, 3.0, 9.0]),        # odd n -> 3.0
                    ("b", [2.0, 4.0, 4.0, 8.0]),              # even n, rank 2 -> 4.0
                    ("c", [7.0])]:
        rows += [(g, v) for v in vals]
    df = spark.createDataFrame(rows, "g string, v double")
    for parts in (1, 7):
        got = {
            r["g"]: (r["med"], r["n"])
            for r in grouped_median_element_cells(
                df.repartition(parts).groupBy("g", "v").agg(F.count("*").alias("c")),
                "g", "v", "c",
            ).collect()
        }
        assert got == {"a": (3.0, 5), "b": (4.0, 4), "c": (7.0, 1)}
    # element-pick rank ceil(n/2) == statistics.median_low for these
    assert got["a"][0] == statistics.median_low([5.0, 1.0, 3.0, 3.0, 9.0])


def test_grouped_median_element_cells_matches_raw_rows(spark):
    """The weighted-cells pick equals the rank-ceil(n/2) element of the
    raw rows (``statistics.median_low``) on a randomized corpus with
    heavy ties, and the derived MAD/outlier identities (deviation cells
    with summed counts) match a per-row computation."""
    import random
    import statistics

    from scida_spark.operators.prefix_sum import grouped_median_element_cells

    rng = random.Random(150)
    rows = [
        (f"g{i % 4}", float(rng.choice([1, 2, 2, 3, 5, 5, 5, 8, 13])))
        for i in range(500)
    ]
    df = spark.createDataFrame(rows, "g string, v double")
    cells = df.groupBy("g", "v").agg(F.count("*").alias("c"))
    raw_by_g: dict[str, list[float]] = {}
    for g, v in rows:
        raw_by_g.setdefault(g, []).append(v)
    raw = {
        (g, statistics.median_low(vs), len(vs)) for g, vs in raw_by_g.items()
    }
    via_cells = {
        (r["g"], r["med"], r["n"])
        for r in grouped_median_element_cells(cells, "g", "v", "c").collect()
    }
    assert raw == via_cells
    med = {g: m for g, m, _ in raw}
    # deviation cells (counts summed on collision) reproduce the
    # per-row MAD and 3-MAD outlier count exactly
    by_g: dict[str, list[float]] = {}
    for g, v in rows:
        by_g.setdefault(g, []).append(abs(v - med[g]))
    want_mad = {g: statistics.median_low(sorted(ds)) for g, ds in by_g.items()}
    dev_rows = [(g, d) for g, ds in by_g.items() for d in ds]
    ddf = spark.createDataFrame(dev_rows, "g string, d double")
    dcells = ddf.groupBy("g", "d").agg(F.count("*").alias("c"))
    got_mad = {
        r["g"]: r["med"]
        for r in grouped_median_element_cells(dcells, "g", "d", "c").collect()
    }
    assert got_mad == want_mad
    got_outl = {
        r["g"]: r["n_outliers"]
        for r in dcells.join(
            spark.createDataFrame(
                [(g, m) for g, m in got_mad.items()], "g string, mad double"
            ),
            "g",
        )
        .groupBy("g")
        .agg(
            F.sum(
                F.when(F.col("d") > 3 * F.col("mad"), F.col("c")).otherwise(
                    F.lit(0)
                )
            ).alias("n_outliers")
        )
        .collect()
    }
    want_outl = {
        g: sum(1 for d in ds if d > 3 * want_mad[g]) for g, ds in by_g.items()
    }
    assert got_outl == want_outl


def test_grouped_robust_stats_cells_matches_branch_form(spark):
    """The one-pipeline med/MAD/outlier operator (r16) reproduces the
    r15 branch form (grouped_median_element_cells picks + deviation
    re-aggregate + conditional outlier sum) bit-for-bit on randomized
    heavy-ties data, and its plan contains no join."""
    import random

    from scida_spark.operators.prefix_sum import (
        grouped_median_element_cells,
        grouped_robust_stats_cells,
    )

    rng = random.Random(16)
    rows = [
        (f"g{i % 5}", float(rng.choice([1, 2, 2, 3.5, 5, 5, 5, 8, 13, 21])))
        for i in range(700)
    ] + [("solo", 4.0)]
    df = spark.createDataFrame(rows, "g string, v double")
    cells = df.groupBy("g", "v").agg(F.count("*").alias("c"))
    got = {
        r["g"]: (r["med"], r["mad"], r["n_outliers"])
        for r in grouped_robust_stats_cells(cells, "g", "v", "c").collect()
    }
    med = grouped_median_element_cells(cells, "g", "v", "c").select(
        "g", F.col("med").alias("m")
    )
    devc = (
        cells.join(med, "g")
        .groupBy("g", F.abs(F.col("v") - F.col("m")).alias("d"))
        .agg(F.sum("c").alias("c"))
    )
    mad = grouped_median_element_cells(devc, "g", "d", "c").select(
        "g", F.col("med").alias("mad")
    )
    outl = (
        devc.join(mad, "g")
        .groupBy("g")
        .agg(
            F.sum(
                F.when(F.col("d") > 3 * F.col("mad"), F.col("c")).otherwise(
                    F.lit(0)
                )
            ).alias("n_outliers")
        )
    )
    want = {
        r["g"]: (r["m"], r["mad"], r["n_outliers"])
        for r in med.join(mad, "g").join(outl, "g").collect()
    }
    assert got == want
    plan = grouped_robust_stats_cells(cells, "g", "v", "c")._sc._jvm.PythonSQLUtils.explainString(
        grouped_robust_stats_cells(cells, "g", "v", "c")._jdf.queryExecution(),
        "formatted",
    )
    assert "Join" not in plan


# --------------------------------------------------------------------------
# grouped_topn — native rank-filtered window (WindowGroupLimit contract)
# --------------------------------------------------------------------------


def test_grouped_topn_matches_reference_ranks(spark):
    """Selected rows == ROW_NUMBER() <= n computed independently, on a
    skewed corpus with duplicate sort values and NULL groups."""
    from pyspark.sql import functions as F

    from scida_spark.operators.prefix_sum import grouped_topn

    rows = [(i, "hot", float(i % 17)) for i in range(1000)]
    rows += [(10_000 + i, None if i % 7 == 0 else f"g{i % 5}", float(i % 3)) for i in range(40)]
    df = spark.createDataFrame(rows, "id long, g string, score double")
    order = [F.col("score").desc(), F.col("id").asc()]
    for n in (1, 3, 25):
        got = sorted(
            ((r["g"], r["id"], r["rn"])
             for r in grouped_topn(df, n, "g", order).collect()),
            key=str,
        )
        want = sorted(
            ((g, i, rk)
             for g in {r[1] for r in rows}
             for rk, (i, _) in enumerate(
                 sorted(
                     ((i, s) for i, gg, s in rows if gg == g),
                     key=lambda t: (-t[1], t[0]),
                 )[:n],
                 start=1,
             )),
            key=str,
        )
        assert got == want, f"n={n}"


def test_grouped_topn_plans_partial_window_group_limit(spark):
    """The scale contract: Catalyst must plan the map-side Partial
    WindowGroupLimit BEFORE the exchange (each map task forwards at
    most n rows per group), plus the Final prune after — the built-in
    two-phase form that made a hand-rolled salted rewrite redundant
    (A/B'd and deleted; see the operator docstring)."""
    from pyspark.sql import functions as F

    from scida_spark.operators.prefix_sum import grouped_topn

    df = spark.range(1000).select(
        (F.col("id") % 7).alias("g"), "id", (F.col("id") % 97).cast("double").alias("s")
    )
    plan = grouped_topn(
        df, 5, "g", [F.col("s").desc(), F.col("id").asc()]
    )._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in plan
    assert "Partial" in plan and "Final" in plan
    # and the Partial prune sits below the exchange
    assert plan.index("Final") < plan.index("Exchange") < plan.rindex("Partial")


def test_grouped_ntile_stats_matches_per_row_aggregate(spark):
    """grouped_ntile_stats_from_cells (closed-form cell-overlap, r15)
    reproduces the per-(group, tile) count / bucket-min / bucket-max of
    the native per-row NTILE window bit-for-bit on randomized data with
    heavy ties, for several k including n < k and NULL keys."""
    import random

    from scida_spark.operators.prefix_sum import grouped_ntile_stats_from_cells

    rng = random.Random(7)
    rows = [
        (i, rng.choice(["a", "b", None]), rng.choice([1, 2, 3, 4, 5, None]))
        for i in range(499)
    ] + [(1000, "solo", 9)]  # 1-row group: n < k
    df = spark.createDataFrame(rows, "id long, g string, v int")
    cells = df.groupBy("g", "v").agg(F.count("*").alias("__cnt"))
    w = W.partitionBy("g").orderBy("v", "id")
    for k in (2, 4, 7):
        per_row = (
            df.withColumn("t", F.ntile(k).over(w))
            .groupBy("g", "t")
            .agg(
                F.count("*").alias("n_rows"),
                F.min("v").alias("bucket_min"),
                F.max("v").alias("bucket_max"),
            )
        )
        base = {
            (r["g"], r["t"]): (r["n_rows"], r["bucket_min"], r["bucket_max"])
            for r in per_row.collect()
        }
        got = {
            (r["g"], r["t"]): (r["n_rows"], r["bucket_min"], r["bucket_max"])
            for r in grouped_ntile_stats_from_cells(
                cells, k, "g", "v", out_col="t"
            ).collect()
        }
        assert got == base, k


def test_grouped_ntile_stats_percentiles_match_builtin(spark):
    """The fused closed-form percentiles (r16) reproduce Spark's
    percentile(v, p, cnt) aggregate BIT-FOR-BIT on randomized data
    with heavy ties, NULL values, 1-row groups, and double values
    (including fractional ones so the interpolation path runs)."""
    import random

    from scida_spark.operators.prefix_sum import (
        grouped_ntile_stats_from_cells,
    )

    rng = random.Random(16)
    rows = [
        (
            rng.choice(["a", "b", "c", None]),
            rng.choice([1.0, 2.5, 2.5, 3.25, 7.0, 11.5, None]),
        )
        for _ in range(601)
    ] + [("solo", 9.0), ("allnull", None)]
    df = spark.createDataFrame(rows, "g string, v double")
    cells = df.groupBy("g", "v").agg(F.count("*").alias("__cnt"))
    ps = [("p10", 0.10), ("p25", 0.25), ("p50", 0.50), ("p777", 0.777)]
    got_rows = grouped_ntile_stats_from_cells(
        cells, 3, "g", "v", percentiles=ps
    ).collect()
    got = {}
    for r in got_rows:
        vals = tuple(r[name] for name, _ in ps)
        # constant per group — every tile row must carry the same vals
        assert got.setdefault(r["g"], vals) == vals
    exp = {
        r["g"]: (r["p10"], r["p25"], r["p50"], r["p777"])
        for r in cells.groupBy("g")
        .agg(
            *[
                F.expr(f"percentile(v, {p!r}, __cnt)").alias(name)
                for name, p in ps
            ]
        )
        .collect()
    }
    assert set(got) == set(exp)
    for g in exp:
        assert got[g] == exp[g], (g, got[g], exp[g])


def test_grouped_ntile_stats_no_raw_row_shuffle(spark):
    """Plan contract: the stats plan contains no window or sort over
    raw rows — the only window inputs are the aggregated cells (no
    row_number at all; the raw table is touched once by the cell
    groupBy)."""
    from scida_spark.operators.prefix_sum import grouped_ntile_stats_from_cells

    df = spark.createDataFrame([(1, "a", 2)], "id long, g string, v int")
    out = grouped_ntile_stats_from_cells(
        df.groupBy("g", "v").agg(F.count("*").alias("__cnt")), 4, "g", "v"
    )
    p = out._sc._jvm.PythonSQLUtils.explainString(
        out._jdf.queryExecution(), "formatted"
    )
    assert "row_number" not in p
