"""Deterministic content-hash sampling and splits.

Training pipelines need REPRODUCIBLE train/eval/test assignment and
subsampling: independent of row order, partitioning, engine version,
and re-runs — which rules out ``rand()``. The standard trick is a
cryptographic hash of the record id + salt mapped to a bucket in
[0, 2^32): assignment is a pure function of (id, salt), so any engine
(and the DuckDB oracle) reproduces it bit-for-bit, late-arriving data
lands consistently, and changing the salt re-rolls every split at
once. All JVM-side (md5/conv/substring — whole-stage codegen).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

BUCKET_SPACE = 1 << 32


def hash_bucket(id_col: Column, salt: str = "") -> Column:
    """Deterministic bucket in [0, 2^32): first 8 md5 hex chars of
    ``id || salt``. DuckDB equivalent (oracle-portable):
    ``CAST('0x' || substr(md5(id || salt), 1, 8) AS UBIGINT)``."""
    return F.conv(
        F.substring(F.md5(F.concat(id_col.cast("string"), F.lit(salt))), 1, 8),
        16,
        10,
    ).cast("long")


def split_thresholds(weights: dict[str, float]) -> list[int]:
    """Exact cumulative bucket thresholds for ``hash_split``: one per
    non-final split, computed with EXACT rational accumulation
    (``Fraction``, not float ``+=``): float accumulation can round
    ``int(cum * 2^32)`` one bucket away from an independently-computed
    sum, silently mis-assigning the boundary id. Any oracle comparing
    against ``hash_split`` must embed THESE integers (call this
    function), not recompute thresholds from its own literals —
    ``int(0.9 * 2^32)`` and ``int((0.8 + 0.1) * 2^32)`` are not
    guaranteed equal."""
    from fractions import Fraction

    names = list(weights)
    cum = Fraction(0)
    out = []
    for name in names[:-1]:
        cum += Fraction(weights[name])
        out.append(int(cum * BUCKET_SPACE))
    return out


def hash_split(
    df: DataFrame,
    id_col: str,
    weights: dict[str, float] | None = None,
    salt: str = "",
    out_col: str = "split",
) -> DataFrame:
    """Assign each row a split label by cumulative weight thresholds
    over the hash-bucket space (``split_thresholds`` — exact rational
    accumulation). Weights must sum to ≤ 1 (any remainder falls into
    the LAST split)."""
    weights = weights or {"train": 0.8, "eval": 0.1, "test": 0.1}
    b = hash_bucket(F.col(id_col), salt)
    names = list(weights)
    expr = None
    for name, thresh in zip(names[:-1], split_thresholds(weights)):
        cond = b < F.lit(thresh)
        expr = F.when(cond, F.lit(name)) if expr is None else expr.when(cond, F.lit(name))
    expr = F.lit(names[-1]) if expr is None else expr.otherwise(F.lit(names[-1]))
    return df.withColumn(out_col, expr)


def hash_sample(df: DataFrame, id_col: str, fraction: float, salt: str = "") -> DataFrame:
    """Deterministic ~``fraction`` subsample: keep rows whose bucket
    falls below ``fraction`` of the space. Consistent across runs,
    engines, and partitionings; nested samples compose (a 1 % sample
    is a subset of the 10 % sample at the same salt)."""
    return df.filter(hash_bucket(F.col(id_col), salt) < int(fraction * BUCKET_SPACE))


# --------------------------------------------------------------------------
# Domain mixing (corpus composition control)
# --------------------------------------------------------------------------


def mix_thresholds(counts: dict[str, int], weights: dict[str, int]) -> dict[str, int]:
    """Integer-exact per-domain keep thresholds realizing a target
    mixture ``weights`` (integer proportions, e.g. en:4, de:2, zh:1)
    by DOWNSAMPLING only: the output is scaled so the most constrained
    domain (argmin of count/weight, ties by name) keeps 100 % of its
    rows and every other domain is thinned to match the target shares.

    thr_d = floor(w_d * c_m * 2^32 / (w_m * c_d)) with m the
    constraining domain — pure integer arithmetic, so ANY engine
    (including a SQL oracle with 64-bit integer division) reproduces
    the exact same thresholds; no float accumulation anywhere
    (the ``split_thresholds`` lesson)."""
    from fractions import Fraction

    missing = sorted(set(counts) - set(weights))
    if missing:
        raise ValueError(f"domains without a mix weight: {missing}")
    m = min(counts, key=lambda d: (Fraction(counts[d], weights[d]), d))
    return {
        d: (weights[d] * counts[m] * BUCKET_SPACE) // (weights[m] * counts[d])
        for d in counts
    }


def temperature_weights(
    counts: dict[str, int], alpha: float = 0.5, fixed_point: int = 1 << 20
) -> dict[str, int]:
    """Integer mix weights realizing TEMPERATURE sampling — w_d ∝
    c_d^alpha, the multilingual/multi-domain composition rule (alpha<1
    flattens the corpus distribution toward the tail domains; alpha=1
    keeps natural proportions, alpha=0 equalizes). Feed the result to
    :func:`mix_thresholds`, which then downsamples every domain to the
    c^alpha shares with the most-constrained domain kept whole (for
    temperature weights that is the SMALLEST domain — argmin c/c^alpha
    = argmin c^(1-alpha)).

    Engine-portable by construction: each weight is the libm ``pow``
    double (bit-identical to SQL POWER on the same integer-valued
    input), scaled by an exact power-of-two and TRUNCATED to int —
    an oracle rebuilds the same integers with
    ``GREATEST(1, CAST(POWER(c, alpha) * fixed_point AS BIGINT))``;
    all later threshold arithmetic is exact integer math."""
    return {
        d: max(1, int((float(c) ** alpha) * fixed_point))
        for d, c in counts.items()
    }


def in_mix_column(
    id_col: Column, strata_col: Column, thresholds: dict[str, int], salt: str = ""
) -> Column:
    """Boolean membership column for a stratified hash sample with
    per-stratum bucket ``thresholds`` (see ``mix_thresholds``).
    Unlisted strata get threshold 0 (excluded). Pure JVM expressions."""
    b = hash_bucket(id_col, salt)
    thr = None
    for stratum, t in thresholds.items():
        cond = strata_col == stratum
        thr = F.when(cond, F.lit(t)) if thr is None else thr.when(cond, F.lit(t))
    thr = F.lit(0) if thr is None else thr.otherwise(F.lit(0))
    return b < thr


def stratified_exact_sample(
    df: DataFrame,
    id_col: str,
    stratum_col: str,
    num: int,
    den: int,
    salt: str = "",
    out_col: str = "in_strat",
) -> DataFrame:
    """EXACT per-stratum quotas: flag the first ceil(count * num/den)
    rows of every stratum under the deterministic (hash-bucket, id)
    total order.

    ``hash_sample``/``in_mix_column`` are map-only but only
    *approximate* the target fraction (binomial spread around it);
    evaluation sets and per-domain budget caps often need the quota
    hit exactly. rank-within-stratum buys that with one shuffle by
    ``stratum_col``:

    * ``row_number`` and ``count`` share the SAME window partition key
      → Catalyst plans ONE exchange + sort, the second aggregate rides
      along.
    * The quota ``ceil(c*num/den) = (c*num + den - 1) DIV den`` is
      64-bit integer arithmetic — any SQL engine reproduces it exactly
      (no float thresholds; the ``split_thresholds`` lesson).
    * Selection order is (bucket, id) — a stable pseudo-random order
      that is a pure function of (id, salt), so re-runs and engines
      agree row-for-row, and quota changes are PREFIX-monotone: the
      10 % sample is a subset of the 20 % sample at the same salt.

    Scale: one shuffle on the stratum key; a skewed giant stratum
    streams through row_number (no per-group materialization). If a
    single stratum outgrows a task's streaming window, pre-thin it
    with ``hash_sample`` at a safely-larger fraction first, then rank
    the survivors (composes because selection is prefix-monotone in
    the bucket order).
    """
    from pyspark.sql.window import Window as W

    b = hash_bucket(F.col(id_col), salt)
    w_rank = W.partitionBy(stratum_col).orderBy(b.asc(), F.col(id_col).asc())
    w_all = W.partitionBy(stratum_col)
    return (
        df.withColumn("_sx_rn", F.row_number().over(w_rank).cast("long"))
        .withColumn("_sx_cnt", F.count("*").over(w_all))
        # 64-bit integer ceil-division — no double quotient anywhere.
        .withColumn(
            out_col,
            F.expr(f"_sx_rn <= ((_sx_cnt * {int(num)} + {int(den) - 1}) DIV {int(den)})"),
        )
        .drop("_sx_rn", "_sx_cnt")
    )


def cluster_hash_split(
    df: DataFrame,
    id_col: str,
    content_col: str,
    weights: dict[str, float] | None = None,
    salt: str = "",
    out_col: str = "cluster_split",
) -> DataFrame:
    """LEAKAGE-SAFE split assignment: rows with identical content must
    land in the SAME split, or held-out evaluation sets silently leak
    into training (the classic dedup-then-split ordering bug). Every
    row inherits the split of its duplicate-cluster REPRESENTATIVE
    (the min id among rows sharing ``md5(content)``), assigned by the
    same exact-threshold bucket arithmetic as ``hash_split`` — so the
    assignment stays a pure function of (cluster, salt): reproducible
    across runs, engines, partitionings, and late data.

    Scale: ONE shuffle on the 16-byte content digest (never the raw
    content) to find the representative; the split itself is map-side
    Column math. Near-duplicate (not byte-identical) leakage control
    composes the same way: feed a canonical key (e.g. a MinHash
    cluster rep from functions/dedup.py) as ``content_col``."""
    from pyspark.sql.window import Window as W

    rep = F.min(F.col(id_col)).over(
        W.partitionBy(F.md5(F.col(content_col).cast("string")))
    )
    out = hash_split(
        df.withColumn("_cluster_rep", rep), "_cluster_rep", weights, salt, out_col
    )
    return out.drop("_cluster_rep")


def weighted_sample_flag(
    df: DataFrame,
    id_col: str,
    weight_col: Column,
    stratum_col: str,
    num: int,
    den: int,
    salt: str = "",
    out_col: str = "in_wsample",
) -> DataFrame:
    """Efraimidis-Spirakis weighted sampling WITHOUT replacement, made
    deterministic: flag the top ceil(count·num/den) rows per stratum
    by the ES key ``u^(1/w)`` (u = the row's md5 hash-uniform, w > 0
    its weight) — inclusion probability rises with weight, membership
    is exactly-quota'd and a pure function of (id, salt, weights), so
    re-runs/engines/partitionings reproduce it row-for-row (the
    ``pareto_keep`` precedent shows ``pow`` on the half-open bucket
    uniform matches libm across engines bit-for-bit).

    The importance-weighted complement of ``stratified_exact_sample``
    (uniform) and the DSIR quota (rank by model score): sample
    PROPORTIONAL to a quality/importance weight while still hitting an
    exact per-stratum count. Per-stratum windows bound the task by the
    stratum."""
    from pyspark.sql.window import Window as W

    u = (hash_bucket(F.col(id_col), salt) + 0.5) / F.lit(float(BUCKET_SPACE))
    key = F.pow(u, 1.0 / weight_col)
    w_rank = W.partitionBy(stratum_col).orderBy(
        key.desc(), F.col(id_col).asc()
    )
    w_all = W.partitionBy(stratum_col)
    return (
        df.withColumn("_es_rn", F.row_number().over(w_rank).cast("long"))
        .withColumn("_es_n", F.count("*").over(w_all))
        .withColumn(
            out_col,
            F.expr(
                f"_es_rn <= ((_es_n * {int(num)} + {int(den) - 1}) DIV {int(den)})"
            ),
        )
        .drop("_es_rn", "_es_n")
    )

def domain_cap_flag(
    df: DataFrame,
    id_col: str,
    domain_col: str,
    order_cols,
    cap: int,
    out_col: str = "in_domcap",
) -> DataFrame:
    """Per-domain diversity cap (the RefinedWeb / C4 composition rule:
    no single domain may dominate the corpus): flag at most ``cap``
    rows per ``domain_col``, best-first under the ``order_cols`` TOTAL
    order (pass quality desc + id asc). Deterministic — membership is
    a pure function of the data, no rand() — so re-runs, engines, and
    partitionings reproduce it row-for-row, and the oracle's
    ``ROW_NUMBER() OVER (PARTITION BY domain ORDER BY ...) <= cap``
    replays it exactly.

    Scale: selection runs through :func:`grouped_topn`
    (operators/prefix_sum.py) — the native rank-filtered window, which
    Catalyst plans with a map-side Partial WindowGroupLimit, so a hot
    domain with billions of documents ships at most cap rows per map
    task through the shuffle and never sorts on one task (plan-pinned
    in tests/test_plans.py). Selection-then-flag rather than a flag
    window over all rows is the point: flagging in place would forbid
    the map-side prune (every row would need its rank). The kept set
    is <= cap * n_domains rows, which re-joins to the corpus as a
    broadcast; every other row flags False map-side."""
    from scida_spark.operators.prefix_sum import grouped_topn

    sel = (
        grouped_topn(df, cap, domain_col, order_cols)
        .select(F.col(id_col).alias("__capkid"))
        .withColumn(out_col, F.lit(True))
    )
    return (
        df.join(F.broadcast(sel), F.col(id_col) == F.col("__capkid"), "left")
        .withColumn(out_col, F.coalesce(F.col(out_col), F.lit(False)))
        .drop("__capkid")
    )
