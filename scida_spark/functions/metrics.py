"""Exact ranking-quality metrics for scored corpora — the evaluation
tail of the train/score pipeline (quality classifiers, DSIR weights,
FS linkage scores): did the score actually order positives above
negatives?

AUC is computed EXACTLY via the Mann-Whitney rank-sum identity
AUC = (sum of positive midranks - n_pos(n_pos+1)/2) / (n_pos * n_neg),
with tie handling by MIDRANKS (ties between a positive and a negative
count 1/2, the standard correction). The scale shape is the
grouped_median_element_cells lesson: aggregate to one row per DISTINCT score
value first (counts + positive counts), then run the rank window over
THAT table — a billion-row corpus with a bounded score vocabulary
costs its distinct-value count, and no task ever sorts raw rows.
Midranks derive from integer cumulative counts ((2*cum - n + 1)/2 —
halves are exact in binary), so the result is bit-identical across
engines and partitionings.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W
from scida_spark.session import local_df


def auc_exact(
    df: DataFrame,
    score_col: str,
    label_col: str,
    group_cols=(),
    score_bucket_width: float | None = None,
) -> DataFrame:
    """Exact tie-corrected AUC of ``score_col`` for boolean
    ``label_col``, optionally per group. Returns (``group_cols``...,
    auc double, n_pos long, n_neg long); groups with no positives or
    no negatives emit NULL auc (undefined, surfaced not hidden).

    ``score_col`` must be non-NULL (engines disagree where NULLs
    sort — the grouped_median_element_cells precondition); filter upstream.

    The rank window runs over the DISTINCT-score count table. For the
    ungrouped case with an unbounded score vocabulary (raw continuous
    scores at corpus scale), pass ``score_bucket_width`` to rerun that
    cumulative count as the two-phase bucketed prefix
    (``prefix_sum.exclusive_key_prefix`` — the r15 group_offsets
    pattern): no task ever sorts the whole vocabulary, and the result
    is value-identical because the cumulative counts are exact integer
    sums either way.
    """
    group_cols = list(group_cols)
    cnt = df.groupBy(*group_cols, score_col).agg(
        F.count("*").alias("__n"),
        F.sum(F.when(F.col(label_col), 1).otherwise(0)).alias("__np"),
    )
    if group_cols or score_bucket_width is None:
        w_cum = (
            W.partitionBy(*group_cols).orderBy(score_col)
            if group_cols
            else W.orderBy(score_col)
        )
        cum = cnt.select(
            *group_cols,
            "__n",
            "__np",
            F.sum("__n").over(w_cum).alias("__cum"),
        )
    else:
        from scida_spark.operators.prefix_sum import exclusive_key_prefix

        cum = exclusive_key_prefix(
            cnt, score_col, "__n", bucket_width=score_bucket_width
        ).select(
            "__n", "__np", (F.col("__off") + F.col("__n")).alias("__cum")
        )
    # DOUBLED midrank of every row sharing this score value:
    # 2 * (min_rank + max_rank)/2 = 2*cum - n + 1 — an INTEGER, so the
    # rank sum stays exact integer arithmetic (DECIMAL against 100 TB
    # overflow) and is order-independent across partitions; the ONLY
    # float operation is the final single division — bit-identical on
    # any engine/partitioning (a double rank-sum would accumulate in
    # partial-aggregation order).
    mid2 = (2 * F.col("__cum") - F.col("__n") + 1).cast("decimal(38,0)")
    agg = cum.groupBy(*group_cols).agg(
        F.sum(F.col("__np").cast("decimal(38,0)") * mid2).alias("__rsum2"),
        F.sum("__np").alias("n_pos"),
        (F.sum("__n") - F.sum("__np")).alias("n_neg"),
    )
    # AUC = (rsum2 - n_pos*(n_pos+1)) / (2*n_pos*n_neg), rsum2 doubled
    auc = F.when(
        (F.col("n_pos") > 0) & (F.col("n_neg") > 0),
        (
            F.col("__rsum2")
            - F.col("n_pos").cast("decimal(38,0)") * (F.col("n_pos") + 1)
        ).cast("double")
        / (2 * F.col("n_pos") * F.col("n_neg")).cast("double"),
    )
    return agg.select(
        *group_cols, auc.alias("auc"), "n_pos", "n_neg"
    )


def isotonic_calibration(
    df: DataFrame, score_col: str, label_col: str
) -> DataFrame:
    """Isotonic (PAV) calibration of a score against a boolean label —
    the standard post-classifier step turning raw scores
    (``quality_classifier.py`` margins, DSIR weights, linkage
    log-ratios) into monotone empirical probabilities.

    Scale is the ``auc_exact`` shape: ONE groupBy aggregates the corpus
    to a row per DISTINCT score value (count + positive count, O(score
    vocabulary)); pool-adjacent-violators then merges that bounded list
    driver-side in O(V) — a billion-row corpus costs its distinct-score
    count, and no executor ever holds more than its aggregation
    partials. Join the result back (broadcast — it is vocabulary-sized)
    to calibrate at row grain.

    Exactness contract (the pr_rep conventions): pools carry INTEGER
    (sum_pos, count) and violator comparisons cross-multiply integers —
    no float compares anywhere — with ONE IEEE division per pool at the
    end. Because integer/integer division rounds the exact rational,
    and PAV's solution equals the min-max formula
    ``g(i) = max_{j<=i} min_{k>=i} avg(y[j..k])`` (Barlow et al. 1972)
    whose inner averages are the same integer ratios, any engine can
    replay the calibrated values BIT-FOR-BIT from the per-score count
    table (rounding to nearest is weakly monotone, so max/min commute
    with it). Returns (``score_col``, n long, n_pos long, calibrated
    double), monotone nondecreasing in ``score_col``.

    ``score_col`` must be non-NULL (the ``auc_exact`` precondition);
    NULL labels count as 0 (not positive). The driver-side pass is
    O(score vocabulary), so CONTINUOUS scores must be bucketed first
    (e.g. ``F.floor(F.col(s) * 64)`` — the driver section's shape):
    an unbucketed double score makes V = corpus size and the
    ``collect`` below is no longer metadata-sized.
    """
    ac = (
        df.groupBy(score_col)
        .agg(
            F.count("*").alias("n"),
            F.coalesce(
                F.sum(F.col(label_col).cast("int")), F.lit(0)
            ).alias("n_pos"),
        )
        .orderBy(score_col)
        .collect()
    )
    # PAV over the sorted vocabulary: each stack entry is one pool
    # [sum_pos, count, n_buckets]; merge while the previous pool's mean
    # is >= the new one's (exact integer cross-multiplication).
    stack: list[list[int]] = []
    for r in ac:
        cur = [int(r["n_pos"]), int(r["n"]), 1]
        while stack and stack[-1][0] * cur[1] >= cur[0] * stack[-1][1]:
            top = stack.pop()
            cur = [top[0] + cur[0], top[1] + cur[1], top[2] + cur[2]]
        stack.append(cur)
    rows = []
    idx = 0
    for np_, n_, k in stack:
        cal = np_ / n_  # ONE IEEE division of exact integers
        for _ in range(k):
            r = ac[idx]
            rows.append((r[score_col], int(r["n"]), int(r["n_pos"]), cal))
            idx += 1
    spark = df.sparkSession
    out_schema = (
        df.select(score_col).schema.add("n", "long").add("n_pos", "long")
    ).add("calibrated", "double")
    return local_df(spark, rows, out_schema)


def ranking_metrics(
    run: DataFrame,
    qrels: DataFrame,
    k: int = 10,
    query_col: str = "query_id",
    doc_col: str = "doc_id",
    rank_col: str = "rank",
    rel_col: str = "rel",
) -> DataFrame:
    """TREC-style retrieval evaluation of a ranked ``run`` against
    graded judgments ``qrels`` — the metrics every retrieval /
    RAG-quality loop reports:

    * ``recall`` @k  = |top-k hits| / R_q  (R_q = judged-relevant count)
    * ``mrr``    @k  = 1 / rank of the first hit (0 if none in top-k)
    * ``ndcg``   @k  = DCG@k / IDCG@k with linear gain and the
      ``1/log2(rank+1)`` discount
    * ``ap``     @k  = sum over hit positions i of (hits<=i / i), / R_q
      (the trec_eval convention)

    One row per query in the run: (query, n_rel, n_hit, recall, mrr,
    ndcg, ap). Queries with no judged-relevant documents report 0.0.

    Cross-engine bit-stability: the discount table ``ln(2)/ln(i+1)``
    for i = 1..k is built ON THE DRIVER with ``math.log`` (libm — the
    bits DuckDB's ``ln`` produces; the BM25-idf convention) and joined
    as a literal; DCG/IDCG/AP fold in ascending-position order
    (sorted-struct aggregate == ordered ``list_reduce``); every
    division is a single double divide of exactly-reproducible
    numerators/denominators; ties in the ideal ranking break on
    ascending doc id.

    Scale: the run is queries x k by construction — every fold is over
    bounded arrays. The qrels side is judgment-sized (eval sets are
    bounded by construction); its only heavy ops are one groupBy for
    R_q and one per-query window for the ideal ranking, both
    judgment-sized, never corpus-sized.

    Input contract: qrels carries ONE row per (query, doc) — a
    duplicate judgment would fan out the run join and double-count
    gains; the run carries one row per (query, rank)."""
    import math

    spark = run.sparkSession
    disc = F.broadcast(
        local_df(spark, 
            [(i, math.log(2.0) / math.log(i + 1.0)) for i in range(1, k + 1)],
            "pos int, disc double",
        )
    )
    topk = run.filter(F.col(rank_col) <= k).select(
        F.col(query_col).alias("_q"),
        F.col(doc_col).alias("_d"),
        F.col(rank_col).cast("int").alias("_r"),
    )
    # Ranks are 1-based by contract; a 0-based run would silently
    # lose its first result through the discount-table inner join
    # below. Fail loudly instead — IN the plan (raise_error), so the
    # guard costs no construction-time job and no extra pass: any
    # rank < 1 aborts the query with a clear message at execution.
    topk = topk.withColumn(
        "_r",
        F.when(F.col("_r") >= 1, F.col("_r")).otherwise(
            F.raise_error(
                F.concat(
                    F.lit(
                        f"ranking_metrics: rank < 1 in '{rank_col}' "
                        "(ranks are 1-based; a 0-based run would "
                        "silently drop its top result): got "
                    ),
                    F.col("_r").cast("string"),
                )
            ).cast("int")
        ),
    )
    qr = qrels.select(
        F.col(query_col).alias("_q"),
        F.col(doc_col).alias("_d"),
        F.col(rel_col).cast("double").alias("_rel"),
    )
    j = (
        topk.join(qr, ["_q", "_d"], "left")
        .na.fill({"_rel": 0.0})
        .join(disc, F.col("_r") == F.col("pos"))
        .select("_q", "_d", "_r", "_rel", (F.col("_rel") * F.col("disc")).alias("_g"))
    )
    hits = j.filter(F.col("_rel") > 0)
    # AP contributions: i-th hit (by rank) at rank r contributes i/r
    w_hit = W.partitionBy("_q").orderBy(F.asc("_r"))
    ap_c = hits.withColumn("_h", F.row_number().over(w_hit)).select(
        "_q", "_r", (F.col("_h").cast("double") / F.col("_r")).alias("_apc")
    )
    dcg = j.groupBy("_q").agg(
        F.aggregate(
            F.array_sort(F.collect_list(F.struct("_r", "_g"))),
            F.lit(0.0),
            lambda a, x: a + x["_g"],
        ).alias("_dcg"),
        F.sum((F.col("_rel") > 0).cast("long")).alias("_nhit"),
        F.min(F.when(F.col("_rel") > 0, F.col("_r"))).alias("_fr"),
    )
    apn = ap_c.groupBy("_q").agg(
        F.aggregate(
            F.array_sort(F.collect_list(F.struct("_r", "_apc"))),
            F.lit(0.0),
            lambda a, x: a + x["_apc"],
        ).alias("_apn")
    )
    relq = qr.filter(F.col("_rel") > 0)
    nrel = relq.groupBy("_q").agg(F.count("*").alias("_nrel"))
    w_ideal = W.partitionBy("_q").orderBy(F.desc("_rel"), F.asc("_d"))
    idcg = (
        relq.withColumn("_p", F.row_number().over(w_ideal))
        .filter(F.col("_p") <= k)
        .join(disc, F.col("_p") == F.col("pos"))
        .select("_q", "_p", (F.col("_rel") * F.col("disc")).alias("_ig"))
        .groupBy("_q")
        .agg(
            F.aggregate(
                F.array_sort(F.collect_list(F.struct("_p", "_ig"))),
                F.lit(0.0),
                lambda a, x: a + x["_ig"],
            ).alias("_idcg")
        )
    )
    out = (
        dcg.join(apn, "_q", "left")
        .join(nrel, "_q", "left")
        .join(idcg, "_q", "left")
        .select(
            F.col("_q").alias(query_col),
            F.coalesce("_nrel", F.lit(0)).cast("long").alias("n_rel"),
            F.col("_nhit").cast("long").alias("n_hit"),
            F.when(
                F.coalesce("_nrel", F.lit(0)) > 0,
                F.col("_nhit").cast("double") / F.col("_nrel"),
            )
            .otherwise(F.lit(0.0))
            .alias("recall"),
            F.when(F.col("_fr").isNotNull(), F.lit(1.0) / F.col("_fr"))
            .otherwise(F.lit(0.0))
            .alias("mrr"),
            F.when(
                F.coalesce("_idcg", F.lit(0.0)) > 0,
                F.col("_dcg") / F.col("_idcg"),
            )
            .otherwise(F.lit(0.0))
            .alias("ndcg"),
            F.when(
                F.coalesce("_nrel", F.lit(0)) > 0,
                F.coalesce("_apn", F.lit(0.0)) / F.col("_nrel"),
            )
            .otherwise(F.lit(0.0))
            .alias("ap"),
        )
    )
    return out
