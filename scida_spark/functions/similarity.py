"""Similarity search over embedding columns (array<float>).

* :func:`cosine_topk_bruteforce` — exact baseline: broadcast the query
  set, cross-join, rank. Correct at any scale where the *query* side is
  small (the candidate side streams; no shuffle of the big side until
  the final per-query top-k aggregation, which is O(queries × k)).
* :func:`lsh_topk` — scale path: random-hyperplane LSH buckets shrink
  the candidate set; recall traded for a bucket-local search. At 100 TB
  this replaces the cross-join with an equi-join on bucket signatures.

Dot products are computed with ``zip_with`` + a sequential ``aggregate``
fold — JVM-side, deterministic evaluation order (so cross-engine
comparison with an identical fold is bitwise-stable before rounding).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W
from scida_spark.session import local_df


def _fold_sum(arr: Column) -> Column:
    return F.aggregate(arr, F.lit(0.0), lambda acc, x: acc + x)


def dot(a: Column, b: Column) -> Column:
    return _fold_sum(F.zip_with(a, b, lambda x, y: x * y))


def norm(a: Column) -> Column:
    return F.sqrt(_fold_sum(F.transform(a, lambda x: x * x)))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def _cosine_batch_fn(a: pd.Series, b: pd.Series) -> pd.Series:
    if len(a) == 0:
        return pd.Series([], dtype=float)
    A = np.stack(a.to_numpy())
    B = np.stack(b.to_numpy())
    n = len(A)
    acc = np.zeros(n)
    na = np.zeros(n)
    nb = np.zeros(n)
    for i in range(A.shape[1]):  # sequential over dims = left-fold order
        acc += A[:, i] * B[:, i]
        na += A[:, i] * A[:, i]
        nb += B[:, i] * B[:, i]
    return pd.Series(acc / (np.sqrt(na) * np.sqrt(nb)))


def cosine_batch(a: Column, b: Column) -> Column:
    """Vectorized cosine, bitwise-identical to :func:`cosine`.

    Spark's ``aggregate``/``zip_with`` higher-order functions execute
    interpreted (outside whole-stage codegen) — measured ~12 µs/pair,
    which dominates any pairwise similarity join. This folds
    **sequentially across dimensions but vectorized across the Arrow
    batch**: ``acc += a_i * b_i`` in element order is the exact
    left-fold evaluation order of the Column form and of DuckDB's
    ``list_reduce``, so doubles match bit-for-bit while the loop is
    64 numpy ops per batch instead of per-pair interpretation
    (measured ~2.5x end-to-end on the near-dup join, ~20x on the
    scoring stage alone).

    The ``pandas_udf`` wrapper is built per call: decorating at module
    import time would require an active SparkSession before this module
    can even be imported.
    """
    return F.pandas_udf(_cosine_batch_fn, "double")(a, b)


def cosine_topk_bruteforce(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k cosine neighbors per query vector.

    Queries are broadcast; candidates never shuffle until the rank
    window keyed by query_id (O(queries×candidates) compute, O(q×k)
    shuffle output with AQE coalescing).
    """
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).cast("array<double>").alias("qv")
    )
    c = embeddings.select(
        F.col(id_col).alias("cand_id"), F.col(vec_col).cast("array<double>").alias("cv")
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("cand_id") != F.col("query_id"))
        .withColumn("sim", cosine_batch(F.col("qv"), F.col("cv")))
    )
    w = W.partitionBy("query_id").orderBy(F.col("sim").desc(), "cand_id")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "cand_id", "sim", F.col("rank").cast("int").alias("rank"))
    )


def hyperplane_signatures(
    embeddings: DataFrame,
    nbits: int = 16,
    dim: int = 64,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Random-hyperplane LSH signature (int bucket of ``nbits`` sign bits)."""
    rng = np.random.RandomState(seed)
    planes = rng.standard_normal((nbits, dim))
    bcast = embeddings.sparkSession.sparkContext.broadcast(planes)

    @F.pandas_udf("long")
    def _sig(vecs: pd.Series) -> pd.Series:
        p = bcast.value
        mat = np.stack(vecs.to_numpy())  # (batch, dim)
        proj = mat @ p.T  # (batch, nbits)
        bits = (proj > 0).astype(np.uint64)
        weights = (np.uint64(1) << np.arange(p.shape[0], dtype=np.uint64))[None, :]
        return pd.Series((bits * weights).sum(axis=1).astype(np.int64))

    return embeddings.select(
        F.col(id_col), F.col(vec_col), _sig(F.col(vec_col).cast("array<double>")).alias("bucket")
    )


def auto_nbits(n_vectors: int, target_bucket: int = 32) -> int:
    """Signature width sized to the corpus: ``2^nbits`` buckets holding
    ~``target_bucket`` vectors each. A fixed nbits is a scale bug in
    both directions — too many bits on a small corpus leaves buckets
    near-empty (multi-probe then surfaces almost no candidates; measured
    3 candidates for a top-10 request at 1k vectors with nbits=12), too
    few bits at 1e9 vectors makes every bucket a mini cross-join."""
    import math

    if n_vectors <= target_bucket:
        return 4
    return max(4, min(24, int(math.log2(n_vectors / target_bucket))))


def lsh_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 10,
    nbits: int | None = 12,
    dim: int = 64,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_vectors: int | None = None,
) -> DataFrame:
    """Approximate top-k: candidates restricted to the query's LSH bucket.

    Equi-join on bucket replaces the cross-join — the 100 TB plan. Multi-
    probe (flip one bit) improves recall for near-boundary vectors.
    ``nbits=None`` sizes the signature from the corpus via ``auto_nbits``:
    pass ``n_vectors`` (known table size — e.g. parquet footer metadata,
    catalog stats) to avoid the fallback count job, mirroring
    ``n_catalog`` in ``operators/catalog.add_subhalo_ids_auto``.
    """
    if nbits is None:
        nbits = auto_nbits(n_vectors if n_vectors is not None else embeddings.count())
    sig_c = hyperplane_signatures(embeddings, nbits, dim, seed, id_col, vec_col).select(
        F.col(id_col).alias("cand_id"),
        F.col(vec_col).cast("array<double>").alias("cv"),
        "bucket",
    )
    sig_q = hyperplane_signatures(queries, nbits, dim, seed, id_col, vec_col)
    # Multi-probe: original bucket + each 1-bit flip.
    probes = F.array(
        F.col("bucket"), *[F.col("bucket").bitwiseXOR(F.lit(1 << b)) for b in range(nbits)]
    )
    q = sig_q.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).cast("array<double>").alias("qv"),
        F.explode(probes).alias("bucket"),
    )
    scored = (
        sig_c.join(F.broadcast(q), "bucket")
        .filter(F.col("cand_id") != F.col("query_id"))
        .withColumn("sim", cosine_batch(F.col("qv"), F.col("cv")))
        .select("query_id", "cand_id", "sim")
        .distinct()
    )
    w = W.partitionBy("query_id").orderBy(F.col("sim").desc(), "cand_id")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "cand_id", "sim", F.col("rank").cast("int").alias("rank"))
    )


def _kmeans_centroids(sample: np.ndarray, nlist: int, seed: int, iters: int = 10) -> np.ndarray:
    """Deterministic mini k-means on a driver-side sample (spherical:
    cosine assignment via normalized vectors).

    Zero-norm rows are dropped before normalization (a 0-vector has no
    direction; dividing by its norm would propagate NaN into every
    centroid it touches), and ``nlist`` is clamped to the surviving
    sample size so degenerate/small tables can't fail the
    without-replacement draw.
    """
    norms = np.linalg.norm(sample, axis=1, keepdims=True)
    sample = sample[norms[:, 0] > 0]
    if len(sample) == 0:
        raise ValueError("k-means sample contains no non-zero vectors")
    nlist = min(nlist, len(sample))
    rng = np.random.RandomState(seed)
    x = sample / np.linalg.norm(sample, axis=1, keepdims=True)
    cent = x[rng.choice(len(x), size=nlist, replace=False)]
    for _ in range(iters):
        sims = x @ cent.T
        assign = sims.argmax(axis=1)
        for j in range(nlist):
            members = x[assign == j]
            if len(members):
                c = members.sum(axis=0)
                n = np.linalg.norm(c)
                if n > 0:
                    cent[j] = c / n
    return cent


def ivf_assign(
    embeddings: DataFrame,
    centroids: np.ndarray,
    nprobe: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    out_id: str = "vec_id",
) -> DataFrame:
    """Assign each vector to its ``nprobe`` nearest centroid lists
    (cosine). One narrow Pandas-UDF pass over a broadcast centroid
    matrix — no shuffle."""
    bcast = embeddings.sparkSession.sparkContext.broadcast(centroids)

    @F.pandas_udf("array<int>")
    def _lists(vecs: pd.Series) -> pd.Series:
        c = bcast.value  # (nlist, dim), unit-norm
        mat = np.stack(vecs.to_numpy())
        mat = mat / np.linalg.norm(mat, axis=1, keepdims=True)
        sims = mat @ c.T
        top = np.argsort(-sims, axis=1)[:, :nprobe].astype(np.int32)
        return pd.Series(list(top))

    return embeddings.select(
        F.col(id_col).alias(out_id),
        F.col(vec_col).cast("array<double>").alias("v"),
        _lists(F.col(vec_col).cast("array<double>")).alias("lists"),
    )


def build_ivf_index(
    embeddings: DataFrame,
    nlist: int | None = None,
    seed: int = 42,
    sample_stride: int = 7,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_vectors: int | None = None,
) -> np.ndarray:
    """Train the IVF coarse quantizer once and return the unit-norm
    centroid matrix — the persistable index artifact. At 100 TB the
    k-means training (driver-side, bounded sample) and the full-corpus
    list assignment are paid at INGEST; query batches then call
    :func:`ivf_topk` with ``centroids=`` and skip retraining entirely.
    Persist with :func:`save_ivf_index` / :func:`load_ivf_index`
    (plain parquet — any executor count can broadcast it back)."""
    if nlist is None:
        nlist = auto_nlist(n_vectors if n_vectors is not None else embeddings.count())
    cap = max(nlist * 64, 1024)
    vecs = embeddings.select(F.col(vec_col).cast("array<double>").alias("v"))
    rows = (
        vecs.filter(F.col(id_col) % sample_stride == 0).limit(cap).collect()
    )
    if not rows:
        # an id keyspace with no multiples of the stride (small or
        # oddly-keyed corpora) must not crash training — fall back to
        # the full (capped) corpus as the sample. Ordered by id so the
        # sample (hence the centroids) is reproducible across runs and
        # partitionings; orderBy+limit plans as TakeOrderedAndProject,
        # not a full sort.
        rows = (
            embeddings.orderBy(id_col)
            .limit(cap)
            .select(F.col(vec_col).cast("array<double>").alias("v"))
            .collect()
        )
    if not rows:
        raise ValueError(
            "build_ivf_index: no vectors to train the quantizer on "
            "(empty corpus)"
        )
    sample = np.stack([np.asarray(r["v"], dtype=np.float64) for r in rows])
    return _kmeans_centroids(sample, nlist, seed)


def save_ivf_index(spark, centroids: np.ndarray, path: str) -> None:
    """Centroids → parquet (list_id, centroid array<double>)."""
    rows = [(int(i), [float(x) for x in c]) for i, c in enumerate(centroids)]
    local_df(spark, rows, "list_id int, centroid array<double>").coalesce(
        1
    ).write.mode("overwrite").parquet(path)


def load_ivf_index(spark, path: str) -> np.ndarray:
    rows = spark.read.parquet(path).orderBy("list_id").collect()
    return np.stack([np.asarray(r["centroid"], dtype=np.float64) for r in rows])


def auto_nprobe(nlist: int, floor: int = 4) -> int:
    """Probe count coupled to the list count: ceil(nlist/3), floored.
    A FIXED nprobe with a growing ``auto_nlist`` silently degrades
    recall as the corpus scales (measured here: nlist 7→31 at constant
    nprobe=4 dropped recall@10 from 0.84 to 0.38 — the same
    fixed-parameter scale bug auto_nlist exists to avoid). Probing a
    constant FRACTION of lists keeps the scanned share of the corpus
    (and so the recall level) stable; lower the fraction for strongly
    clustered embeddings, where the nearest lists capture most
    neighbors."""
    return max(floor, -(-nlist // 3))


def auto_nlist(n_vectors: int, target_list: int = 64) -> int:
    """Inverted-list count sized to the corpus: ~``sqrt(N)`` capped so
    lists hold ≥``target_list`` vectors (the FAISS guideline shape —
    nlist ~ sqrt(N) — floored for tiny corpora). A fixed nlist is the
    same scale bug as a fixed LSH width: at 1e9 vectors, 16 lists make
    every probe a 60M-row scan; at 1k vectors, 4096 lists are empty."""
    import math

    if n_vectors <= target_list:
        return 1
    return max(1, min(int(math.sqrt(n_vectors)), n_vectors // target_list))


def ivf_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 10,
    nlist: int | None = 16,
    nprobe: int | None = 4,
    seed: int = 42,
    sample_stride: int = 7,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_vectors: int | None = None,
    centroids: "np.ndarray | None" = None,
) -> DataFrame:
    """IVF approximate top-k: coarse-quantize candidates into ``nlist``
    inverted lists (k-means centroids from a deterministic driver-side
    sample), probe the query's ``nprobe`` nearest lists only.
    ``nlist=None`` sizes the index from the corpus via ``auto_nlist``
    (and ``nprobe=None`` couples the probe count to it via
    ``auto_nprobe`` — fixed nprobe under a growing nlist silently
    degrades recall):
    pass ``n_vectors`` (parquet footer / catalog stats) to avoid the
    fallback count job, as with ``lsh_topk``. Pass ``centroids=`` (a
    :func:`build_ivf_index` / :func:`load_ivf_index` result) to reuse a
    persisted index and skip training — the steady-state query path.

    The scale path complementing :func:`lsh_topk`: candidate vectors
    get ONE list id (narrow map, no shuffle), queries explode to
    nprobe probes, and the search is an equi-join on list id — the
    cross-join never happens. Centroid training reads a ~1e4-row
    deterministic sample (``id % stride == 0``), so the index build is
    O(sample) on the driver and O(N) distributed assignment.
    """
    if centroids is not None:
        cent = centroids
    else:
        cent = build_ivf_index(
            embeddings, nlist=nlist, seed=seed, sample_stride=sample_stride,
            id_col=id_col, vec_col=vec_col, n_vectors=n_vectors,
        )
    if nprobe is None:
        nprobe = auto_nprobe(len(cent))
    cands = ivf_assign(embeddings, cent, 1, id_col, vec_col, out_id="cand_id").select(
        "cand_id", F.col("v").alias("cv"), F.element_at("lists", 1).alias("list_id")
    )
    q = ivf_assign(queries, cent, nprobe, id_col, vec_col, out_id="query_id").select(
        "query_id", F.col("v").alias("qv"), F.explode("lists").alias("list_id")
    )
    scored = (
        cands.join(F.broadcast(q), "list_id")
        .filter(F.col("cand_id") != F.col("query_id"))
        .withColumn("sim", cosine_batch(F.col("qv"), F.col("cv")))
        .select("query_id", "cand_id", "sim")
    )
    w = W.partitionBy("query_id").orderBy(F.col("sim").desc(), "cand_id")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "cand_id", "sim", F.col("rank").cast("int").alias("rank"))
    )


def embedding_exact_clique_map(
    embeddings: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(doc, rep) — every vector id mapped to the min-id vector with
    bit-identical content (its exact replica-clique representative);
    the embedding twin of :func:`dedup.exact_clique_map`. The clique
    key is the double array's canonical string form (shortest-roundtrip
    doubles: distinct values never collide). Zero-norm vectors are
    EXCLUDED — cosine is undefined for them (NaN in both engines), so
    they can never pair and must never be collapsed into a drop.

    One md5 groupBy with map-side combine; only (id, digest) rows
    shuffle — the collapse that makes exact semantic dedup answer-bound
    on duplicate-heavy corpora."""
    keyed = embeddings.select(
        F.col(id_col).alias("doc"),
        F.md5(F.col(vec_col).cast("array<double>").cast("string")).alias("_h"),
    ).join(
        embeddings.filter(
            _fold_sum(
                F.transform(F.col(vec_col).cast("array<double>"), lambda x: x * x)
            )
            > 0
        ).select(F.col(id_col).alias("doc")),
        "doc",
        "left_semi",
    )
    reps = keyed.groupBy("_h").agg(F.min("doc").alias("rep"))
    return keyed.join(reps, "_h").select("doc", "rep")


def embedding_neardup_pairs_blocked(
    embeddings: DataFrame,
    threshold: float = 0.95,
    ncells: int = 16,
    seed: int = 42,
    sample_stride: int = 7,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    collapse_exact: bool = True,
) -> DataFrame:
    """All pairs with cosine ≥ threshold — EXACT, without a cartesian
    product.

    Spherical-cell blocking with a recall *guarantee* (vs the
    probabilistic recall of hyperplane LSH):

    1. Train ``ncells`` spherical k-means centroids on a deterministic
       driver-side sample; assign every vector to its nearest centroid
       (one narrow Pandas-UDF map, no shuffle).
    2. Aggregate each cell's TRUE angular radius
       ``r_c = max over members of angle(v, centroid_c)`` (one tiny agg).
    3. On the driver (ncells × ncells, trivially small), keep exactly
       the unordered cell pairs that *can* contain a qualifying pair:
       by the spherical triangle inequality, ``angle(a,b) >=
       angle(c_a,c_b) - r_a - r_b``, so cells with ``angle(c1,c2) >
       theta_t + r1 + r2`` are provably pair-free and dropped.
    4. Cogroup the two cell memberships per surviving cell pair and
       score each tile as ONE vectorized matrix op in ``applyInPandas``
       — each vector ships once per adjacent cell instead of once per
       candidate pair, pair rows with vector payloads are never
       materialized, and the plan is two keyed shuffles, never a
       ``CartesianProduct``.

    Same answer as the all-pairs cross-join for every pair above
    threshold (the per-tile score is the exact cosine, accumulated
    sequentially over dimensions = the left-fold evaluation order of
    the Column/``list_reduce`` form, so doubles match bit-for-bit;
    blocking only prunes provably-disqualified pairs). Pruning power
    follows the data's clustering and the threshold: tight thresholds /
    near-dup corpora collapse into few surviving cell pairs; a loose
    threshold on near-orthogonal high-dim data honestly degrades to all
    cell pairs — still tiled (replication = ncells, BLAS-speed scoring,
    per-tile parallelism), since exactness has an O(N^2)-comparison
    lower bound on unstructured data. Use :func:`lsh_topk` / minhash
    when probabilistic recall is acceptable.

    Zero-norm vectors are excluded up front: cosine is undefined for
    them (NaN in both engines) so they can never clear the threshold.

    ``collapse_exact`` (default on) first collapses bit-identical
    vectors to their min-id representative (``embedding_exact_clique_
    map``), runs the blocked kernel over REPRESENTATIVES only, and
    expands the rep-level pairs back to all original ids — cross-clique
    pairs carry the rep pair's cosine (identical vectors score
    identically), within-clique pairs carry the kernel's own self-fold
    value ``f / (sqrt(f)·sqrt(f))`` so doubles still match the naive
    all-pairs oracle bit-for-bit. Same answer row-for-row; on a
    duplicate-heavy corpus the quadratic kernel cost drops from
    O(N²·d) to O(U²·d) for U unique vectors, and everything past the
    one md5 groupBy is bounded by the answer itself (the same
    collapse-first rule as ``dedup.expand_rep_pairs``).
    """
    spark = embeddings.sparkSession
    base = embeddings.select(
        F.col(id_col).alias("_id"), F.col(vec_col).cast("array<double>").alias("_v")
    ).filter(_fold_sum(F.transform(F.col("_v"), lambda x: x * x)) > 0)
    if not collapse_exact:
        return _neardup_pairs_kernel(spark, base, threshold, ncells, seed, sample_stride)

    keyed = base.withColumn("_h", F.md5(F.col("_v").cast("string")))
    cliq = keyed.groupBy("_h").agg(F.min("_id").alias("_rep"))
    cmap = keyed.join(cliq, "_h").select("_id", "_rep")
    reps = base.join(
        cmap.filter(F.col("_id") == F.col("_rep")).select("_id"), "_id", "left_semi"
    )
    rep_pairs = _neardup_pairs_kernel(
        spark, reps, threshold, ncells, seed, sample_stride
    )
    # Cross-clique expansion: driven by the (answer-sized) rep-pair
    # relation; each original id joins through its clique membership.
    ma = cmap.select(F.col("_rep").alias("id_a"), F.col("_id").alias("_da"))
    mb = cmap.select(F.col("_rep").alias("id_b"), F.col("_id").alias("_db"))
    cross = (
        rep_pairs.join(ma, "id_a")
        .join(mb, "id_b")
        .select(
            F.least("_da", "_db").alias("id_a"),
            F.greatest("_da", "_db").alias("id_b"),
            "sim",
        )
    )
    # Within-clique pairs score as the kernel would score (v, v): the
    # same sequential-over-dims fold for both the dot and the norms, so
    # sim = f / (sqrt(f)·sqrt(f)) — bitwise what the all-pairs oracle
    # computes for two identical vectors (f may differ from 1.0 by a
    # final-division ulp, hence computed, not F.lit(1.0)).
    _f = _fold_sum(F.transform(F.col("_v"), lambda x: x * x))
    selfs = reps.select(
        F.col("_id").alias("_rep"), (_f / (F.sqrt(_f) * F.sqrt(_f))).alias("sim")
    ).filter(F.col("sim") >= threshold)
    within = (
        cmap.join(selfs, "_rep")
        .select("_rep", F.col("_id").alias("_d1"), "sim")
        .join(cmap.select("_rep", F.col("_id").alias("_d2")), "_rep")
        .filter(F.col("_d1") < F.col("_d2"))
        .select(F.col("_d1").alias("id_a"), F.col("_d2").alias("id_b"), "sim")
    )
    return cross.unionAll(within)


def _neardup_pairs_kernel(
    spark, base: DataFrame, threshold: float, ncells: int, seed: int, sample_stride: int
) -> DataFrame:
    """The spherical-cell blocked exact-pair kernel over ``base``
    ((_id, _v), zero-norms pre-filtered) — see
    :func:`embedding_neardup_pairs_blocked` for the algorithm."""
    sample_rows = (
        base.filter(F.col("_id") % sample_stride == 0)
        .limit(max(ncells * 64, 1024))
        .collect()
    )
    if not sample_rows:
        # Stride missed every id (tiny/sparse id space). Ordered by id
        # so the cell centroids stay reproducible across partitionings
        # (TakeOrderedAndProject — no full sort).
        sample_rows = base.orderBy("_id").limit(max(ncells * 64, 1024)).collect()
    if not sample_rows:
        return local_df(spark, [], "id_a long, id_b long, sim double")
    sample = np.stack([np.asarray(r["_v"], dtype=np.float64) for r in sample_rows])
    # Size cells to ~64+ members (est. from the deterministic sample):
    # tiles below that are task-overhead-bound, not GEMM-bound. Callers
    # pick ``ncells`` ≈ N / desired-tile-rows for big corpora; this only
    # clamps down for small ones.
    n_est = len(sample) * sample_stride
    ncells = max(1, min(ncells, n_est // 64))
    cent = _kmeans_centroids(sample, ncells, seed)
    ncells = len(cent)  # clamped for tiny tables
    bcast = spark.sparkContext.broadcast(cent)

    @F.pandas_udf("struct<cell:int, selfcos:double>")
    def _assign(vecs: pd.Series) -> pd.DataFrame:
        c = bcast.value  # (ncells, dim), unit-norm
        mat = np.stack(vecs.to_numpy())
        mat = mat / np.linalg.norm(mat, axis=1, keepdims=True)
        sims = mat @ c.T
        cell = sims.argmax(axis=1).astype(np.int32)
        return pd.DataFrame({"cell": cell, "selfcos": sims[np.arange(len(cell)), cell]})

    assigned = base.select("_id", "_v", _assign(F.col("_v")).alias("a")).select(
        "_id", "_v", F.col("a.cell").alias("cell"), F.col("a.selfcos").alias("selfcos")
    )
    assigned = assigned.localCheckpoint(eager=True)  # assign once, reuse on both join sides

    # True per-cell angular radius (tiny: ncells rows to the driver).
    radii = {
        int(r["cell"]): float(np.arccos(np.clip(r["mincos"], -1.0, 1.0)))
        for r in assigned.groupBy("cell").agg(F.min("selfcos").alias("mincos")).collect()
    }
    theta_t = float(np.arccos(np.clip(threshold, -1.0, 1.0)))
    cent_ang = np.arccos(np.clip(cent @ cent.T, -1.0, 1.0))
    eps = 1e-9  # absorb float round-off in the angle arithmetic
    cell_pairs = [
        (i, j)
        for i in radii
        for j in radii
        if i <= j and cent_ang[i, j] <= theta_t + radii[i] + radii[j] + eps
    ]
    pairs_df = local_df(spark, cell_pairs, "c1 int, c2 int")

    # Tile sides: each cell's members, repeated once per adjacent cell
    # (NOT per candidate pair) — replication factor = avg adjacency.
    left = (
        assigned.alias("la")
        .join(F.broadcast(pairs_df.alias("lp")), F.col("la.cell") == F.col("lp.c1"))
        .select(
            F.col("lp.c1").alias("c1"), F.col("lp.c2").alias("c2"),
            F.col("la._id").alias("_id"), F.col("la._v").alias("_v"),
        )
    )
    right = (
        assigned.alias("ra")
        .join(F.broadcast(pairs_df.alias("rp")), F.col("ra.cell") == F.col("rp.c2"))
        .select(
            F.col("rp.c1").alias("c1"), F.col("rp.c2").alias("c2"),
            F.col("ra._id").alias("_id"), F.col("ra._v").alias("_v"),
        )
    )

    def score_tile(lpdf: pd.DataFrame, rpdf: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame({"id_a": pd.Series([], dtype="int64"),
                              "id_b": pd.Series([], dtype="int64"),
                              "sim": pd.Series([], dtype=float)})
        if len(lpdf) == 0 or len(rpdf) == 0:
            return empty
        A = np.stack(lpdf["_v"].to_numpy())
        B = np.stack(rpdf["_v"].to_numpy())
        # Two-phase exact scoring (the ×100 lesson — a per-dim Python
        # loop building the full |A|×|B| accumulator was the tile cost,
        # not the arithmetic):
        #   1. CANDIDATES via one BLAS GEMM (reassociated doubles), with
        #      a margin far above the reassociation error bound
        #      (n·ulp ≈ 1e-14 for unit-scale dims) so no qualifying pair
        #      can be missed;
        #   2. the REPORTED value is the sequential-over-dims left fold
        #      (= the Column/list_reduce evaluation order, bit-for-bit
        #      vs the all-pairs oracle), recomputed only for candidates
        #      — answer-bound, not tile-bound — and re-filtered at the
        #      true threshold.
        nsq_a = np.einsum("ij,ij->i", A, A)
        nsq_b = np.einsum("ij,ij->i", B, B)
        fast = (A @ B.T) / (np.sqrt(nsq_a)[:, None] * np.sqrt(nsq_b)[None, :])
        ia, ib = np.where(fast >= threshold - 1e-9)
        Av, Bv = A[ia], B[ib]
        acc = np.zeros(len(ia))
        na = np.zeros(len(ia))
        nb = np.zeros(len(ia))
        for d in range(A.shape[1]):  # sequential over dims = left-fold order
            acc += Av[:, d] * Bv[:, d]
            na += Av[:, d] * Av[:, d]
            nb += Bv[:, d] * Bv[:, d]
        vals = acc / (np.sqrt(na) * np.sqrt(nb))
        keep = vals >= threshold
        ia, ib, vals = ia[keep], ib[keep], vals[keep]
        ids_a = lpdf["_id"].to_numpy()
        ids_b = rpdf["_id"].to_numpy()
        pa, pb = ids_a[ia], ids_b[ib]
        if lpdf["c1"].iloc[0] == lpdf["c2"].iloc[0]:
            # Same-cell tile: each unordered pair scored twice — keep the
            # (id_a < id_b) orientation once.
            keep = pa < pb
            pa, pb, vals = pa[keep], pb[keep], vals[keep]
        else:
            # Cross-cell tile: pair scored once, id order arbitrary —
            # emit as (min, max). Cosine is bitwise symmetric
            # (elementwise products commute exactly), so no value drift.
            pa, pb = np.minimum(pa, pb), np.maximum(pa, pb)
        return pd.DataFrame({"id_a": pa, "id_b": pb, "sim": vals})

    return (
        left.groupBy("c1", "c2")
        .cogroup(right.groupBy("c1", "c2"))
        .applyInPandas(score_tile, "id_a long, id_b long, sim double")
    )


def embedding_neardup_pairs(
    embeddings: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """All pairs with cosine ≥ threshold via a cross-join — TEST ORACLE
    ONLY; :func:`embedding_neardup_pairs_blocked` is the primary
    (identical answer, no cartesian product)."""
    a = embeddings.select(
        F.col(id_col).alias("id_a"), F.col(vec_col).cast("array<double>").alias("va")
    )
    b = embeddings.select(
        F.col(id_col).alias("id_b"), F.col(vec_col).cast("array<double>").alias("vb")
    )
    return (
        a.crossJoin(b)
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("sim", cosine_batch(F.col("va"), F.col("vb")))
        .filter(F.col("sim") >= threshold)
        .select("id_a", "id_b", "sim")
    )


# --------------------------------------------------------------------------
# Product quantization (PQ): compressed ANN with asymmetric-distance scan
# --------------------------------------------------------------------------
# The storage-scale path (Jegou+ 2011 "Product Quantization for Nearest
# Neighbor Search"): vectors are unit-normalized, chopped into m
# subspaces, and each subvector replaced by the id of its nearest
# per-subspace centroid — m*nbits bits per vector (64 dims of float32 →
# 8 bytes at m=8, nbits=4: 32x). Queries never decompress the corpus:
# an (m × 2^nbits) look-up table of subspace inner products turns each
# approximate similarity into m table reads (ADC). The ADC scan emits a
# per-partition shortlist, only the shortlist shuffles, and an exact
# re-rank against the TRUE vectors of shortlist members restores
# precision — the standard IVF-PQ serving shape.


def _kmeans_l2(sample: np.ndarray, k: int, seed: int, iters: int = 15) -> np.ndarray:
    """Plain-L2 mini k-means for PQ subquantizers (deterministic)."""
    k = min(k, len(sample))
    rng = np.random.RandomState(seed)
    cent = sample[rng.choice(len(sample), size=k, replace=False)].copy()
    for _ in range(iters):
        d2 = ((sample[:, None, :] - cent[None, :, :]) ** 2).sum(axis=2)
        assign = d2.argmin(axis=1)
        for j in range(k):
            members = sample[assign == j]
            if len(members):
                cent[j] = members.mean(axis=0)
    return cent


def train_pq_codebooks(
    sample: np.ndarray, m: int = 8, nbits: int = 4, seed: int = 42
) -> np.ndarray:
    """(m, 2^nbits, d/m) codebooks from a driver-side sample (trained
    once at ingest, persisted like the IVF centroids). Vectors are
    unit-normalized first so PQ inner products approximate cosine."""
    n, d = sample.shape
    if d % m:
        raise ValueError(f"dim {d} not divisible by m={m}")
    dsub = d // m
    norms = np.linalg.norm(sample, axis=1, keepdims=True)
    s = sample[norms[:, 0] > 0] / norms[norms[:, 0] > 0]
    if len(s) == 0:
        raise ValueError("PQ training sample contains no non-zero vectors")
    return np.stack(
        [
            _kmeans_l2(
                np.ascontiguousarray(s[:, i * dsub : (i + 1) * dsub]), 1 << nbits,
                seed + i,
            )
            for i in range(m)
        ]
    )


def pq_encode(
    embeddings: DataFrame,
    codebooks: np.ndarray,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(vec_id, code binary) — each vector compressed to m bytes (one
    subquantizer id per byte; nbits ≤ 8). One narrow Pandas-UDF pass
    over broadcast codebooks; no shuffle."""
    m, ksub, dsub = codebooks.shape
    bcast = embeddings.sparkSession.sparkContext.broadcast(codebooks)

    @F.pandas_udf("binary")
    def _enc(vecs: pd.Series) -> pd.Series:
        cb = bcast.value
        mat = np.stack(vecs.to_numpy()).astype(np.float64)
        norms = np.linalg.norm(mat, axis=1, keepdims=True)
        norms[norms == 0] = 1.0
        mat = mat / norms
        n = len(mat)
        codes = np.empty((n, m), dtype=np.uint8)
        for i in range(m):
            sub = mat[:, i * dsub : (i + 1) * dsub]
            # ||x-c||^2 = ||x||^2 - 2 x.c + ||c||^2 → argmin over c
            d2 = (
                -2.0 * (sub @ cb[i].T)
                + (cb[i] ** 2).sum(axis=1)[None, :]
            )
            codes[:, i] = d2.argmin(axis=1).astype(np.uint8)
        return pd.Series([c.tobytes() for c in codes])

    return embeddings.select(
        F.col(id_col).alias("vec_id"),
        _enc(F.col(vec_col).cast("array<double>")).alias("code"),
    )


def pq_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 10,
    m: int = 8,
    nbits: int = 4,
    refine: int = 4,
    seed: int = 42,
    sample_stride: int = 7,
    codebooks: np.ndarray | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Top-k by PQ ADC scan + exact re-rank.

    The compressed corpus is scanned with a per-query LUT; each
    partition emits only its local top ``k*refine`` per query (the
    shuffle carries partitions × queries × k·refine rows, never the
    corpus), the global shortlist is cut with a window over that small
    set, and shortlist members are re-ranked by exact cosine against
    their true vectors (a semi-join pulls just those rows). Returns
    (query_id, cand_id, sim, rank) with EXACT sims for the final k.
    """
    from pyspark.sql import Window

    spark = embeddings.sparkSession
    if codebooks is None:
        sample = np.stack(
            [
                np.asarray(r["v"], dtype=np.float64)
                for r in embeddings.select(
                    F.col(vec_col).cast("array<double>").alias("v")
                )
                .filter(F.col(id_col) % sample_stride == 0)
                .limit(max((1 << nbits) * 64, 1024))
                .collect()
            ]
        )
        codebooks = train_pq_codebooks(sample, m=m, nbits=nbits, seed=seed)
    encoded = pq_encode(embeddings, codebooks, id_col=id_col, vec_col=vec_col)
    return pq_topk_from_encoded(
        encoded, embeddings, codebooks, queries, k=k, refine=refine,
        id_col=id_col, vec_col=vec_col,
    )


def pq_topk_from_encoded(
    encoded: DataFrame,
    embeddings: DataFrame,
    codebooks: np.ndarray,
    queries: DataFrame,
    k: int = 10,
    refine: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """ADC scan + exact re-rank over an ALREADY-ENCODED corpus — the
    steady-state query path when codes are built once at ingest and
    persisted: encoding cost is never re-paid per query batch. ``encoded`` is a
    (vec_id, code binary) table matching ``pq_encode``'s output;
    ``embeddings`` supplies true vectors for the shortlist re-rank
    (only shortlist members are read — semi-join)."""
    from pyspark.sql import Window

    spark = encoded.sparkSession
    mq, ksub, dsub = codebooks.shape
    qrows = queries.select(
        F.col(id_col).alias("qid"), F.col(vec_col).cast("array<double>").alias("v")
    ).collect()
    qids = np.array([r["qid"] for r in qrows], dtype=np.int64)
    qmat = np.stack([np.asarray(r["v"], dtype=np.float64) for r in qrows])
    qn = np.linalg.norm(qmat, axis=1, keepdims=True)
    qn[qn == 0] = 1.0
    qmat = qmat / qn
    # LUT[q, i, c] = <q_sub_i, codebook[i, c]> ; approx sim = sum_i LUT[q, i, code_i]
    lut = np.einsum(
        "qid,icd->qic", qmat.reshape(len(qmat), mq, dsub), codebooks
    )
    b_lut = spark.sparkContext.broadcast((qids, lut))
    shortlist_n = k * refine

    def _scan(batches):
        qids_l, lut_l = b_lut.value
        nq = len(qids_l)
        for pdf in batches:
            if len(pdf) == 0:
                continue
            codes = np.frombuffer(
                b"".join(pdf["code"].to_numpy()), dtype=np.uint8
            ).reshape(len(pdf), mq)
            # asim[n, q] = sum over subspaces of LUT[q, i, codes[n, i]]
            asim = np.zeros((len(pdf), nq))
            for i in range(mq):
                asim += lut_l[:, i, codes[:, i]].T
            ids = pdf["vec_id"].to_numpy()
            top = min(len(pdf), shortlist_n)
            out_q, out_c, out_s = [], [], []
            for qi in range(nq):
                # deterministic under ADC ties (asim desc, id asc — the
                # same order as the global shortlist window): the global
                # shortlist becomes a pure function of the candidate
                # SET, independent of partitioning
                part = np.lexsort((ids, -asim[:, qi]))[:top]
                out_q.extend([qids_l[qi]] * top)
                out_c.extend(ids[part])
                out_s.extend(asim[part, qi])
            yield pd.DataFrame(
                {"query_id": out_q, "cand_id": out_c, "asim": out_s}
            )

    local_top = encoded.mapInPandas(
        _scan, schema="query_id long, cand_id long, asim double"
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("asim"), F.asc("cand_id"))
    shortlist = (
        local_top.withColumn("r", F.row_number().over(w))
        .filter(F.col("r") <= shortlist_n)
        .select("query_id", "cand_id")
    )
    # Exact re-rank: pull only shortlist members' true vectors.
    cand_vecs = embeddings.join(
        shortlist.select(F.col("cand_id").alias(id_col)).distinct(), id_col, "left_semi"
    ).select(F.col(id_col).alias("cand_id"), F.col(vec_col).cast("array<double>").alias("cv"))
    qdf = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).cast("array<double>").alias("qv")
    )
    rer = (
        shortlist.join(F.broadcast(qdf), "query_id")
        .join(cand_vecs, "cand_id")
        .withColumn("sim", cosine_batch(F.col("qv"), F.col("cv")))
    )
    w2 = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("cand_id"))
    return (
        rer.withColumn("rank", F.row_number().over(w2))
        .filter(F.col("rank") <= k)
        .select("query_id", "cand_id", "sim", "rank")
    )


def ivfpq_query_tables(
    qrows, centroids: np.ndarray, codebooks: np.ndarray, nprobe: int
):
    """Driver-side query tables for an IVF-PQ serve: (qids, probes,
    probe_union, LUT). ``qrows`` are collected Rows with (qid, v)."""
    mq, ksub, dsub = codebooks.shape
    qids = np.array([r["qid"] for r in qrows], dtype=np.int64)
    qmat = np.stack([np.asarray(r["v"], dtype=np.float64) for r in qrows])
    qn = np.linalg.norm(qmat, axis=1, keepdims=True)
    qn[qn == 0] = 1.0
    qmat = qmat / qn
    probes = np.argsort(-(qmat @ centroids.T), axis=1)[:, :nprobe]
    probe_union = sorted({int(x) for row in probes for x in row})
    lut = np.einsum(
        "qid,icd->qic", qmat.reshape(len(qmat), mq, dsub), codebooks
    )
    return qids, probes, probe_union, lut


def ivfpq_scan_kernel(bcast, mq: int, shortlist_n: int):
    """The probed-list-masked ADC scan as a ``mapInPandas`` generator
    over (vec_id, code, list_id) batches — shared by
    :func:`ivfpq_topk` and ``streaming/vecindex.py``'s store serve, so
    the two paths' shortlists are identical by construction.
    ``bcast`` carries (qids, lut, probe_sets). The per-partition cut
    is DETERMINISTIC under ADC ties (asim desc, id asc — the global
    shortlist window's order), so the global shortlist is a pure
    function of the candidate set, independent of partitioning."""

    def _scan(batches):
        qids_l, lut_l, probe_sets = bcast.value
        nq = len(qids_l)
        for pdf in batches:
            if len(pdf) == 0:
                continue
            codes = np.frombuffer(
                b"".join(pdf["code"].to_numpy()), dtype=np.uint8
            ).reshape(len(pdf), mq)
            lists = pdf["list_id"].to_numpy()
            asim = np.zeros((len(pdf), nq))
            for i in range(mq):
                asim += lut_l[:, i, codes[:, i]].T
            ids = pdf["vec_id"].to_numpy()
            out_q, out_c, out_s = [], [], []
            for qi in range(nq):
                # a candidate scores for query qi only if ITS list was
                # probed by qi — the per-query IVF restriction
                mask = np.fromiter(
                    (int(x) in probe_sets[qi] for x in lists),
                    dtype=bool,
                    count=len(lists),
                )
                idx = np.nonzero(mask)[0]
                if len(idx) == 0:
                    continue
                top = min(len(idx), shortlist_n)
                part = idx[np.lexsort((ids[idx], -asim[idx, qi]))[:top]]
                out_q.extend([qids_l[qi]] * top)
                out_c.extend(ids[part])
                out_s.extend(asim[part, qi])
            yield pd.DataFrame(
                {"query_id": out_q, "cand_id": out_c, "asim": out_s}
            )

    return _scan


def ivfpq_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 10,
    nlist: int | None = None,
    nprobe: int | None = None,
    m: int = 8,
    nbits: int = 4,
    refine: int = 4,
    seed: int = 42,
    sample_stride: int = 7,
    centroids: "np.ndarray | None" = None,
    codebooks: "np.ndarray | None" = None,
    n_vectors: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF-PQ — the composed FAISS serving shape and the true 100 TB
    path: candidates are coarse-quantized into ``nlist`` inverted
    lists AND compressed to m-byte PQ codes; per query, the ADC scan
    touches ONLY the ``nprobe`` probed lists' codes (IVF prunes WHICH
    rows are scanned; PQ shrinks WHAT is read per row — independent
    multiplicative savings: nprobe/nlist of the corpus × 32× smaller
    at m=8, nbits=4), each partition emits a local shortlist, and an
    exact cosine re-rank of shortlist members restores precision.

    Both index artifacts are trained once (deterministic driver-side
    samples); pass ``centroids=``/``codebooks=`` for the steady-state
    query path. Accuracy is certified the ANN way: a
    recall floor vs the exact top-k (pytest + the sim_topk cert row) —
    the ids are the approximation, by design.
    """
    spark = embeddings.sparkSession
    if centroids is None:
        centroids = build_ivf_index(
            embeddings, nlist=nlist, seed=seed, sample_stride=sample_stride,
            id_col=id_col, vec_col=vec_col, n_vectors=n_vectors,
        )
    if nprobe is None:
        nprobe = auto_nprobe(len(centroids))
    if codebooks is None:
        sample = np.stack(
            [
                np.asarray(r["v"], dtype=np.float64)
                for r in embeddings.select(
                    F.col(vec_col).cast("array<double>").alias("v")
                )
                .filter(F.col(id_col) % sample_stride == 0)
                .limit(max((1 << nbits) * 64, 1024))
                .collect()
            ]
        )
        codebooks = train_pq_codebooks(sample, m=m, nbits=nbits, seed=seed)
    mq, ksub, dsub = codebooks.shape

    # query side: probes + LUT, both driver-side (queries are a
    # bounded serving request)
    qrows = queries.select(
        F.col(id_col).alias("qid"),
        F.col(vec_col).cast("array<double>").alias("v"),
    ).collect()
    if not qrows:
        return local_df(spark, 
            [], "query_id long, cand_id long, sim double, rank int"
        )
    qids, probes, probe_union, lut = ivfpq_query_tables(
        qrows, centroids, codebooks, nprobe
    )

    # candidate side: ONE narrow pass computes list id + PQ code; only
    # rows in the probed-list union survive (at a persisted store this
    # filter is partition pruning — streaming/vecindex layout)
    cands = ivf_assign(
        embeddings, centroids, 1, id_col, vec_col, out_id="vec_id"
    ).select(
        "vec_id", "v", F.element_at("lists", 1).alias("list_id")
    )
    encoded = (
        pq_encode(
            cands.select("vec_id", F.col("v").alias(vec_col)).withColumnRenamed(
                "vec_id", id_col
            ),
            codebooks,
            id_col=id_col,
            vec_col=vec_col,
        )
        .join(cands.select("vec_id", "list_id"), "vec_id")
        .filter(F.col("list_id").isin(probe_union))
    )

    b = spark.sparkContext.broadcast(
        (qids, lut, [set(int(x) for x in row) for row in probes])
    )
    shortlist_n = k * refine
    local_top = encoded.select("vec_id", "code", "list_id").mapInPandas(
        ivfpq_scan_kernel(b, mq, shortlist_n),
        schema="query_id long, cand_id long, asim double",
    )
    w = W.partitionBy("query_id").orderBy(F.desc("asim"), F.asc("cand_id"))
    shortlist = (
        local_top.withColumn("r", F.row_number().over(w))
        .filter(F.col("r") <= shortlist_n)
        .select("query_id", "cand_id")
    )
    cand_vecs = embeddings.join(
        shortlist.select(F.col("cand_id").alias(id_col)).distinct(),
        id_col,
        "left_semi",
    ).select(
        F.col(id_col).alias("cand_id"),
        F.col(vec_col).cast("array<double>").alias("cv"),
    )
    qdf = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).cast("array<double>").alias("qv"),
    )
    rer = (
        shortlist.join(F.broadcast(qdf), "query_id")
        .filter(F.col("cand_id") != F.col("query_id"))
        .join(cand_vecs, "cand_id")
        .withColumn("sim", cosine_batch(F.col("qv"), F.col("cv")))
    )
    w2 = W.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("cand_id"))
    return (
        rer.withColumn("rank", F.row_number().over(w2))
        .filter(F.col("rank") <= k)
        .select(
            "query_id", "cand_id", "sim", F.col("rank").cast("int").alias("rank")
        )
    )


def _dedup_cell_kernel(
    ids: np.ndarray, mat: np.ndarray, threshold: float, tile_rows: int
) -> np.ndarray:
    """Exact within-cell connected components of the cosine >=
    ``threshold`` graph; returns ``keep`` (True for each component's
    min-id member). ``ids`` must be sorted ascending and ``mat``
    row-normalized in the same order.

    Two memory/compute guards make this safe on a SKEWED cell:

    * **Exact-collapse first** (the repo's collapse-first rule applied
      to vectors): bit-identical rows are merged before any GEMM —
      cos(identical) == 1 >= any threshold <= 1, so they are provably
      one clique. A duplicate-heavy cell of n members with r distinct
      vectors costs O(r^2 d), not O(n^2 d).
    * **Tiled GEMM**: the similarity matrix is computed in
      ``tile_rows``-square blocks and reduced to union-find edges per
      block, so peak memory is O(r*d + tile^2), never the O(r^2)
      full-sims matrix.
    """
    n = len(ids)
    if threshold <= 1.0:
        uniq, inverse = np.unique(mat, axis=0, return_inverse=True)
        inverse = inverse.reshape(-1)
    else:  # degenerate threshold: nothing can ever connect
        uniq, inverse = mat, np.arange(n)
    r = len(uniq)
    # min member index per distinct vector (ids sorted asc -> min
    # index == min id); identical members are one clique by definition
    min_member = np.full(r, n, dtype=np.int64)
    np.minimum.at(min_member, inverse, np.arange(n))

    parent = np.arange(r)

    def find(i):
        while parent[i] != i:
            parent[i] = parent[parent[i]]
            i = parent[i]
        return i

    B = max(int(tile_rows), 64)
    for bi in range(0, r, B):
        left = uniq[bi : bi + B]
        for bj in range(bi, r, B):
            sims = left @ uniq[bj : bj + B].T  # (<=B, <=B) block only
            if bi == bj:
                ii, jj = np.where(np.triu(sims >= threshold, k=1))
            else:
                ii, jj = np.where(sims >= threshold)
            for i, j in zip(ii + bi, jj + bj):
                ri, rj = find(i), find(j)
                if ri != rj:
                    parent[max(ri, rj)] = min(ri, rj)
    # component -> global min member index; keep exactly that member
    comp_min = np.full(r, n, dtype=np.int64)
    roots = np.fromiter((find(u) for u in range(r)), dtype=np.int64, count=r)
    np.minimum.at(comp_min, roots, min_member)
    return np.arange(n) == comp_min[roots[inverse]]


def semantic_dedup_clustered(
    embeddings: DataFrame,
    threshold: float,
    nlist: int | None = None,
    seed: int = 42,
    sample_stride: int = 7,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_vectors: int | None = None,
    max_cell_rows: int = 8192,
    max_split_depth: int = 3,
    tile_rows: int = 2048,
) -> DataFrame:
    """SemDeDup as published (Abbas et al. 2023, arXiv:2303.09540):
    k-means-partition the embedding space, then dedup EXACTLY *within*
    each cluster — per cluster, connected components of the
    cosine >= ``threshold`` graph keep only their min-id member.
    Returns (``id_col``, cell, keep) for every non-zero vector.

    This is the 100 TB semantic-dedup path. The exact all-pairs kernel
    (:func:`embedding_neardup_pairs_blocked`) is the certification
    harness: its triangle-inequality pruning honestly degrades to all
    cell pairs on unstructured data at loose thresholds (its
    docstring's contract), which is O(N^2 d) — measured infeasible at
    the x100 stress scale (200k vectors never finished a 580 s cap).
    SemDeDup's published trade accepts missing CROSS-cluster pairs to
    bound the work at sum over cells of |cell|^2 * d ~= N^2 d / nlist,
    embarrassingly parallel per cell; duplicates land in the same cell
    in practice because near-identical vectors share a nearest
    centroid (exceptions sit on cell boundaries).

    **Skew guard** (k-means does NOT balance cells; real web-embedding
    distributions have hot regions): any cell larger than
    ``max_cell_rows`` is recursively re-clustered — its own stride
    sample, its own mini k-means, new sub-cell ids — up to
    ``max_split_depth`` levels, so no single task ever owns an
    unbounded O(|cell|^2 d) GEMM. Splitting a hot cell accepts more
    missed cross-(sub)cell pairs, the same trade SemDeDup already
    makes at the top level. Within a cell the kernel collapses
    bit-identical vectors first and tiles the GEMM
    (:func:`_dedup_cell_kernel`), so the residual worst case — a hot
    cell of near-identical-but-distinct vectors that k-means cannot
    separate and exact-collapse cannot shrink — is bounded by
    ``max_cell_rows^2 * d`` compute and ``tile_rows^2`` + data memory
    per task. The size probe per split level is a cell->count
    aggregation (metadata-sized: one row per cell), not a data scan.

    Sizing reads stats, not data: pass ``n_vectors`` (parquet footer /
    catalog stats) to size ``nlist`` without a count job; the count()
    fallback only runs when neither ``nlist`` nor ``n_vectors`` is
    given.

    Determinism: centroid samples are the smallest-N stride-surviving
    ids (``orderBy(_id).limit`` — layout-independent, unlike a bare
    ``limit``), assignment is argmax cosine, sub-cell splits derive
    from per-cell counts and the same deterministic sampling, and
    within-cell clustering is exact — so ``keep`` is reproducible
    run-to-run and layout-independent.
    """
    spark = embeddings.sparkSession
    base = embeddings.select(
        F.col(id_col).alias("_id"), F.col(vec_col).cast("array<double>").alias("_v")
    ).filter(_fold_sum(F.transform(F.col("_v"), lambda x: x * x)) > 0)
    if nlist is None:
        # target ~512-row cells: GEMM-sized tiles, quadratic term tamed
        nlist = auto_nlist(
            n_vectors if n_vectors is not None else base.count(), target_list=512
        )

    def _sample_vectors(df, stride: int, limit: int) -> np.ndarray | None:
        rows = (
            df.filter(F.col("_id") % stride == 0)
            .orderBy("_id")
            .limit(limit)
            .select("_v")
            .collect()
        )
        if not rows:  # stride missed every id: fall back to smallest-N
            rows = df.orderBy("_id").limit(limit).select("_v").collect()
        if not rows:
            return None
        return np.stack([np.asarray(r["_v"], dtype=np.float64) for r in rows])

    sample = _sample_vectors(base, sample_stride, max(nlist * 8, 1024))
    if sample is None:  # no non-zero vectors at all
        return local_df(spark, 
            [], f"{id_col} long, cell int, keep boolean"
        )
    cent = _kmeans_centroids(sample, nlist, seed)
    bcast = spark.sparkContext.broadcast(cent)

    @F.pandas_udf("int")
    def _cell(vecs: pd.Series) -> pd.Series:
        c = bcast.value
        mat = np.stack(vecs.to_numpy())
        mat = mat / np.linalg.norm(mat, axis=1, keepdims=True)
        return pd.Series((mat @ c.T).argmax(axis=1).astype(np.int32))

    assigned = base.select("_id", "_v", _cell(F.col("_v")).alias("cell"))

    # ---- recursive split of oversized cells (depth-bounded) ----
    next_id = int(nlist)
    for _depth in range(max_split_depth):
        sizes = assigned.groupBy("cell").agg(F.count("*").alias("__n")).collect()
        hot = sorted(
            (r["cell"], r["__n"]) for r in sizes if r["__n"] > max_cell_rows
        )
        if not hot:
            break
        # one bounded job collects a per-hot-cell sample: per-cell
        # stride thins each cell to ~2x the target sample BEFORE the
        # row_number window, so the shuffle is O(n_hot_cells * sample)
        per_cell = 256
        stride_map = {
            c: max(1, n // (per_cell * 2)) for c, n in hot
        }
        stride_expr = F.create_map(
            *[F.lit(x) for kv in stride_map.items() for x in kv]
        )
        w = W.partitionBy("cell").orderBy("_id")
        samp_rows = (
            assigned.filter(F.col("cell").isin(list(stride_map)))
            .filter(F.col("_id") % stride_expr[F.col("cell")] == 0)
            .withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") <= per_cell)
            .select("cell", "_v")
            .collect()
        )
        by_cell: dict[int, list] = {}
        for r in samp_rows:
            by_cell.setdefault(r["cell"], []).append(
                np.asarray(r["_v"], dtype=np.float64)
            )
        split_plan = {}
        for c, n_rows in hot:
            vecs = by_cell.get(c)
            if vecs is None or len(vecs) < 2:
                continue  # unsplittable (degenerate sample); keep as-is
            subk = min(64, max(2, -(-n_rows // (max_cell_rows // 2))))
            sub_cent = _kmeans_centroids(np.stack(vecs), subk, seed + next_id)
            split_plan[c] = (next_id, sub_cent)
            next_id += len(sub_cent)
        if not split_plan:
            break
        plan_bcast = spark.sparkContext.broadcast(split_plan)

        # Factory binds THIS level's broadcast: the refine UDFs chain
        # lazily across split levels, so a plain closure over the loop
        # variable would make every level read the last broadcast.
        def _make_refine(pb):
            @F.pandas_udf("int")
            def _refine(cells: pd.Series, vecs: pd.Series) -> pd.Series:
                plan = pb.value
                cvals = cells.to_numpy()
                out = cvals.copy()
                for c, (base_id, cmat) in plan.items():
                    m = cvals == c
                    if not m.any():
                        continue
                    mat = np.stack(vecs[m].to_numpy())
                    mat = mat / np.linalg.norm(mat, axis=1, keepdims=True)
                    out[m] = base_id + (mat @ cmat.T).argmax(axis=1)
                return pd.Series(out.astype(np.int32))

            return _refine

        assigned = assigned.withColumn(
            "cell", _make_refine(plan_bcast)(F.col("cell"), F.col("_v"))
        )

    def _dedup_cell(pdf: pd.DataFrame) -> pd.DataFrame:
        ids = pdf["_id"].to_numpy()
        order = np.argsort(ids)
        ids = ids[order]
        mat = np.stack(pdf["_v"].to_numpy())[order]
        mat = mat / np.linalg.norm(mat, axis=1, keepdims=True)
        keep = _dedup_cell_kernel(ids, mat, threshold, tile_rows)
        return pd.DataFrame(
            {
                "vec_id": ids,
                "cell": pdf["cell"].iloc[0],
                "keep": keep,
            }
        )

    return (
        assigned.groupBy("cell")
        .applyInPandas(_dedup_cell, schema="vec_id long, cell int, keep boolean")
        .withColumnRenamed("vec_id", id_col)
    )


def knn_vote(
    pairs: DataFrame,
    labels: DataFrame,
    query_col: str = "query_id",
    cand_col: str = "cand_id",
    label_col: str = "label",
) -> DataFrame:
    """k-NN majority-vote classification from ANY neighbor-pair source
    (exact ``cosine_topk_bruteforce`` or the ANN scale paths —
    ``ivf_topk``/``lsh_topk``/``pq_topk`` emit the same pair shape).
    Returns ``(query, pred_label, votes, total, frac)`` with a
    DETERMINISTIC tie-break: higher vote count, then smaller label —
    reproducible across engines and partitionings.

    The weak-supervision / label-propagation primitive: predicted
    label for an unlabeled item = mode of its neighbors' labels.

    Scale: the pair set is queries × k (small — it broadcasts); the
    label table STREAMS through the join, and the vote groupBy keys
    on (query, label) — bounded by queries × classes, never by corpus
    size."""
    lab = labels.select(
        F.col(cand_col).alias("_cid"), F.col(label_col).alias("_lab")
    )
    votes = (
        lab.join(
            F.broadcast(
                pairs.select(
                    F.col(query_col).alias("_qid"), F.col(cand_col).alias("_cid")
                )
            ),
            "_cid",
        )
        .groupBy("_qid", "_lab")
        .agg(F.count("*").alias("votes"))
    )
    return (
        votes.select(
            "_qid",
            "_lab",
            "votes",
            F.row_number()
            .over(W.partitionBy("_qid").orderBy(F.desc("votes"), F.asc("_lab")))
            .alias("_rn"),
            F.sum("votes").over(W.partitionBy("_qid")).alias("total"),
        )
        .filter(F.col("_rn") == 1)
        .select(
            F.col("_qid").alias(query_col),
            F.col("_lab").alias("pred_label"),
            "votes",
            "total",
            (F.col("votes") / F.col("total")).alias("frac"),
        )
    )


def hard_negatives(
    pairs: DataFrame,
    labels: DataFrame,
    query_col: str = "query_id",
    cand_col: str = "cand_id",
    id_col: str = "vec_id",
    label_col: str = "label",
    rank_col: str = "rank",
) -> DataFrame:
    """Hard-negative mining for contrastive training data: per query,
    the highest-ranked (closest) neighbor whose label DIFFERS from the
    query's — the "looks similar, is not" example that makes metric
    learning work. Takes the same neighbor-pair shape as
    :func:`knn_vote` (exact or any ANN source); queries whose top-k
    contains no differing-label neighbor emit nothing.

    Scale: the queries×k pair set broadcasts; the label table STREAMS
    through two lookups (candidate side, then query side); the final
    min-rank pick windows over the tiny pair set only."""
    clab = labels.select(
        F.col(id_col).alias("_cid"), F.col(label_col).alias("_cl")
    )
    qlab = labels.select(
        F.col(id_col).alias("_qid"), F.col(label_col).alias("_ql")
    )
    p = pairs.withColumnRenamed(query_col, "_qid").withColumnRenamed(
        cand_col, "_cid"
    )
    step1 = clab.join(F.broadcast(p), "_cid")
    step2 = qlab.join(F.broadcast(step1), "_qid").filter(
        F.col("_cl") != F.col("_ql")
    )
    return (
        step2.withColumn(
            "_hrn",
            F.row_number().over(
                W.partitionBy("_qid").orderBy(F.asc(rank_col))
            ),
        )
        .filter(F.col("_hrn") == 1)
        .drop("_hrn", "_cl", "_ql")
        .withColumnRenamed("_qid", query_col)
        .withColumnRenamed("_cid", cand_col)
    )


def mmr_rerank(
    cands: DataFrame,
    k: int = 5,
    lam: float = 0.7,
    query_col: str = "query_id",
    cand_col: str = "cand_id",
    rel_col: str = "rel",
    vec_col: str = "cvec",
) -> DataFrame:
    """Maximal-marginal-relevance diversified re-rank (Carbonell &
    Goldstein 1998): greedily select ``k`` results, each step picking
    the candidate maximizing ``lam * rel - (1 - lam) * max_{s in
    selected} cos(c, s)`` — the standard diversification pass a RAG /
    retrieval pipeline runs over a first-stage top-N so near-duplicate
    hits don't crowd out distinct answers.

    Input: the BOUNDED per-query candidate set (``query_col``,
    ``cand_col``, ``rel_col`` = first-stage relevance, ``vec_col`` =
    candidate embedding) — top-N of any ranker here (exact cosine,
    IVF/PQ serve, BM25 joined to vectors). Output: (query, cand,
    ``score`` = the MMR objective at selection time, ``step`` =
    selection order 1..k). Fewer than ``k`` candidates → fewer rows.

    Deterministic and ORACLE-EXACT: pairwise sims use the shared
    ``cosine_batch`` fold (bit-identical to DuckDB ``list_reduce``),
    the objective is two multiplies and a subtract on those doubles
    (step 1's penalty term is literally ``(1-lam) * 0.0``, so both
    engines agree on the reported score), max-over-selected is IEEE
    max, and ties break on ascending candidate id — so a SQL replay
    that unrolls the k greedy steps (the kmeans-oracle convention)
    matches every (score, step) bit-for-bit.

    Scale: nothing here ever touches the corpus — the candidate sets
    are queries x N rows by construction. The pairwise-sim self-join
    is an equi-join on the query key (N^2 per query, N bounded), the
    greedy is ONE ``aggregate`` fold over k steps per query row with
    all HOFs over bounded arrays (the documented bounded-array-HOF
    rule; nothing interpreted scales with the corpus), and the only
    shuffles are the two per-query groupBys on the tiny candidate set.

    Input contract: one row per (query, candidate) — duplicates fail
    loudly at the sim-map build (duplicate map keys). Candidate ids
    must be integral (they key the pair map).
    """
    if k < 1:
        # F.sequence(1, 0) would generate a DESCENDING [1, 0] sequence
        # and run two bogus greedy steps — refuse instead
        raise ValueError(f"mmr_rerank: k must be >= 1, got {k}")
    onemlam = 1.0 - lam
    base = cands.select(
        F.col(query_col).alias("_q"),
        F.col(cand_col).cast("long").alias("_c"),
        F.col(rel_col).cast("double").alias("_r"),
        F.col(vec_col).cast("array<double>").alias("_v"),
    )
    a = base.select("_q", F.col("_c").alias("_ci"), F.col("_v").alias("_vi"))
    b = base.select("_q", F.col("_c").alias("_cj"), F.col("_v").alias("_vj"))
    pairs = (
        a.join(b, "_q")
        .filter(F.col("_ci") != F.col("_cj"))
        .withColumn("_s", cosine_batch(F.col("_vi"), F.col("_vj")))
        .select("_q", "_ci", "_cj", "_s")
    )
    simmap = pairs.groupBy("_q").agg(
        F.map_from_entries(
            F.collect_list(
                F.struct(
                    F.concat_ws(":", F.col("_ci"), F.col("_cj")).alias("mk"),
                    F.col("_s").alias("mv"),
                )
            )
        ).alias("_m")
    )
    carr = base.groupBy("_q").agg(
        F.array_sort(
            F.collect_list(F.struct(F.col("_c").alias("c"), F.col("_r").alias("r")))
        ).alias("_cs")
    )
    # left join: a single-candidate query has no pairs (and never
    # needs a lookup — its one greedy step has an empty selected set)
    g = carr.join(simmap, "_q", "left")

    def _step(acc, t):
        rem = F.filter(
            F.col("_cs"), lambda c: ~F.array_contains(acc["sel"], c["c"])
        )
        scored = F.transform(
            rem,
            lambda c: F.struct(
                (
                    -(
                        F.lit(lam) * c["r"]
                        - F.lit(onemlam)
                        * F.coalesce(
                            F.array_max(
                                F.transform(
                                    acc["sel"],
                                    lambda s: F.element_at(
                                        F.col("_m"),
                                        F.concat_ws(":", s, c["c"]),
                                    ),
                                )
                            ),
                            F.lit(0.0),
                        )
                    )
                ).alias("ns"),
                c["c"].alias("c"),
            ),
        )
        pick = F.array_min(scored)
        grown = F.struct(
            F.concat(acc["sel"], F.array(pick["c"])).alias("sel"),
            F.concat(
                acc["out"],
                F.array(
                    F.struct(
                        pick["c"].alias("c"),
                        (-pick["ns"]).alias("score"),
                        t.cast("int").alias("step"),
                    )
                ),
            ).alias("out"),
        )
        return F.when(F.size(rem) > 0, grown).otherwise(acc)

    acc_init = F.struct(
        F.array().cast("array<long>").alias("sel"),
        F.array().cast("array<struct<c:bigint,score:double,step:int>>").alias(
            "out"
        ),
    )
    res = g.select(
        "_q",
        F.aggregate(
            F.sequence(F.lit(1), F.lit(int(k))), acc_init, _step
        ).alias("_acc"),
    )
    return (
        res.select(F.col("_q"), F.explode("_acc.out").alias("_o"))
        .select(
            F.col("_q").alias(query_col),
            F.col("_o.c").alias(cand_col),
            F.col("_o.score").alias("score"),
            F.col("_o.step").alias("step"),
        )
    )


# --------------------------------------------------------------------------
# Signed random projection (SRP) — oracle-exact hyperplane LSH
# --------------------------------------------------------------------------


def srp_signs(n_bits: int, dim: int, salt: str = "srp") -> list[list[float]]:
    """The +-1 sign matrix for signed-random-projection hashing,
    derived from md5("salt:j:i") parity instead of a seeded RNG — so
    the ENTIRE hash family is a pure function of (salt, j, i) that any
    engine reproduces bit-for-bit (the hash_bucket portability rule
    applied to LSH: DuckDB recomputes the identical matrix from the
    same md5 strings, which makes SRP signatures VALUE-checkable in
    the oracle, not just recall-floor-checkable like the seeded-numpy
    hyperplane/IVF/PQ builders). Charikar 2002 needs signs that are
    symmetric and pairwise-independent-ish across (i, j) — md5 parity
    on distinct strings serves exactly as well as a Gaussian sign."""
    import hashlib

    out = []
    for j in range(n_bits):
        row = []
        for i in range(dim):
            h = hashlib.md5(f"{salt}:{j}:{i}".encode()).hexdigest()[:8]
            row.append(1.0 if int(h, 16) % 2 == 0 else -1.0)
        out.append(row)
    return out


def srp_project(
    df: DataFrame,
    n_bits: int,
    dim: int,
    salt: str = "srp",
    vec_col: str = "embedding",
    out_prefix: str = "proj",
) -> DataFrame:
    """Project ``vec_col`` (length ``dim``) onto the ``n_bits`` md5
    sign rows: ``proj<j> = sum_i v[i] * sign[j][i]`` as a SEQUENTIAL
    left fold (zip_with + aggregate — the dsir sorted-fold rule), so
    the doubles are bit-identical across engines and partitionings.
    Map-only, zero shuffle, no UDF: the sign matrix is a Column
    literal, the fold is whole-stage-codegen JVM arithmetic. This is
    also the Johnson-Lindenstrauss primitive: for distance-preserving
    dimensionality reduction keep the raw projections; for LSH take
    their signs (:func:`srp_signature`)."""
    signs = srp_signs(n_bits, dim, salt)
    # The whole sign matrix ships as ONE SQL array-of-arrays literal
    # (r12): the previous per-bit loop built n_bits x dim separate
    # F.lit columns — ~2400 py4j gateway round-trips, 2.8 s of pure
    # client-side plan construction at (32, 64). One expr + one
    # transform is ~30 calls for identical per-row arithmetic: each
    # projection is still the SAME sequential zip_with+fold over the
    # same sign row, so the doubles stay bit-identical to the oracle.
    mat = F.expr(
        "array("
        + ",".join(
            "array(" + ",".join(f"{s!r}D" for s in row) + ")" for row in signs
        )
        + ")"
    )
    v = F.col(vec_col).cast("array<double>")
    projs = F.transform(
        mat, lambda row: _fold_sum(F.zip_with(v, row, lambda x, s: x * s))
    )
    # two projections: __projs materializes once per row (CollapseProject
    # keeps non-cheap aliases referenced >1x in their own project), the
    # second fans it out into the scalar proj<j> columns
    tmp = df.withColumn("__srp_projs", projs)
    return tmp.select(
        "*",
        *[
            F.col("__srp_projs")[j].alias(f"{out_prefix}{j}")
            for j in range(n_bits)
        ],
    ).drop("__srp_projs")


def srp_signature(
    df: DataFrame,
    n_bits: int,
    dim: int,
    salt: str = "srp",
    vec_col: str = "embedding",
    out_col: str = "srp_sig",
    keep_proj: int = 0,
) -> DataFrame:
    """SRP LSH signature: bit j = (proj_j >= 0), packed little-endian
    into a non-negative long (``n_bits <= 62``). sign(cos angle
    preserved per Charikar: P[bit differs] = angle/pi) — signatures
    feed the SAME generalized-pigeonhole Hamming blocking as
    simhash/phash/afp (functions/dedup.py), completing the family:
    text shingles, images, audio, and now raw embedding vectors all
    dedup through one blocking kernel. ``keep_proj`` retains the first
    k raw projections (JL-reduced coordinates) alongside the bits."""
    if not 0 < n_bits <= 62:
        raise ValueError("n_bits must be in (0, 62] to fit a signed long")
    pro = srp_project(df, n_bits, dim, salt, vec_col=vec_col, out_prefix="__p")
    sig = None
    for j in range(n_bits):
        term = F.when(F.col(f"__p{j}") >= 0.0, F.lit(1).cast("long") * (1 << j)).otherwise(
            F.lit(0).cast("long")
        )
        sig = term if sig is None else sig + term
    out = pro.withColumn(out_col, sig)
    for j in range(keep_proj):
        out = out.withColumn(f"proj{j}", F.col(f"__p{j}"))
    return out.drop(*[f"__p{j}" for j in range(n_bits)])


# --------------------------------------------------------------------------
# SQ8 — per-dimension 8-bit scalar quantization (oracle-exact codes)
# --------------------------------------------------------------------------


def sq8_bounds(
    embeddings: DataFrame,
    dim: int,
    vec_col: str = "embedding",
) -> tuple[list[float], list[float]]:
    """Per-dimension (lo, hi) training bounds for SQ8 in ONE map-side-
    combined aggregate — 2*dim min/max expressions over element_at, no
    explode (an explode would shuffle dim x corpus rows), no second
    pass. The bounds are exact corpus statistics, so any engine
    recomputes them identically."""
    v = F.col(vec_col).cast("array<double>")
    aggs = []
    for i in range(dim):
        aggs.append(F.min(F.element_at(v, i + 1)).alias(f"lo{i}"))
        aggs.append(F.max(F.element_at(v, i + 1)).alias(f"hi{i}"))
    r = embeddings.agg(*aggs).first()
    lo = [float(r[f"lo{i}"]) for i in range(dim)]
    hi = [float(r[f"hi{i}"]) for i in range(dim)]
    return lo, hi


def _ilit_matrix(rows) -> Column:
    """A list of integer lists as ONE SQL array-of-arrays literal
    (the ``_dlit_array`` py4j-chatter rule, bigint flavor)."""
    return F.expr(
        "array("
        + ",".join(
            "array(" + ",".join(f"{int(v)}L" for v in row) + ")"
            for row in rows
        )
        + ")"
    )


def _truncdiv(s: int, n: int) -> int:
    """Truncate-toward-zero integer division — the semantics Spark's
    ``DIV``, Java ``/``, and DuckDB ``//`` share (Python ``//`` floors,
    which DIFFERS on negative sums; centroid sums go negative whenever
    coordinates do)."""
    q = abs(s) // n
    return q if s >= 0 else -q


def kmeans_train(
    embeddings: DataFrame,
    k: int = 4,
    iters: int = 2,
    scale: int = 10**6,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[list[int]]:
    """The training half of :func:`kmeans_assign` — returns the
    integer centroid matrix after ``iters`` Lloyd rounds, the
    persistable INGEST-TIME artifact (the ``build_ivf_index``
    convention: train once per corpus, serve assignments forever).
    Each round is one distributed scan: a map-only assignment over the
    literal centroid matrix feeding one map-side-combined aggregate of
    k x (dim sums + count) — no explode, no row blow-up (the
    ``sq8_bounds`` 2*dim-expression shape; a posexplode update paid a
    rows x dim shuffle and was 25x slower at 200k x 64, SCALE.md)."""
    xi, cents, dim = _kmeans_setup(embeddings, k, scale, id_col, vec_col)
    if cents is None:
        return []
    for _ in range(int(iters)):
        aggs = [F.count("*").alias("__n")] + [
            F.sum(F.element_at("xi", d + 1)).alias(f"__s{d}")
            for d in range(dim)
        ]
        sums = (
            _kmeans_assigned(xi, cents, id_col)
            .groupBy("cluster")
            .agg(*aggs)
            .collect()
        )
        new_cents = [list(c) for c in cents]
        for r in sums:
            cl, n = r["cluster"], int(r["__n"])
            new_cents[cl] = [
                _truncdiv(int(r[f"__s{d}"]), n) for d in range(dim)
            ]
        cents = new_cents
    return cents


def _kmeans_setup(embeddings, k, scale, id_col, vec_col):
    xi = embeddings.select(
        F.col(id_col),
        F.transform(
            F.col(vec_col).cast("array<double>"),
            lambda x: F.round(x * float(scale), 0).cast("long"),
        ).alias("xi"),
    )
    init = xi.orderBy(id_col).limit(k).collect()
    if not init:
        return xi, None, 0
    cents = [list(r["xi"]) for r in init]
    return xi, cents, len(cents[0])


# Above this many k x dim literal terms the centroid matrix stops
# shipping as a plan literal (janino/plan-size territory — the urldom
# lesson) and assignment switches to the Arrow-batched kernel below.
# At the IVF convention (k <= ~4096, dim <= ~1024) the literal path
# always wins: it stays inside whole-stage codegen with zero Python.
KMEANS_LITERAL_MAX_TERMS = 65536


def _kmeans_assigned(xi, cent_rows, id_col, lit_max: int | None = None):
    """(id, xi, cluster, dist2) for one assignment pass. Two physical
    strategies with IDENTICAL integer semantics (argmin of exact int64
    squared L2, first-index tie-break = smallest cluster id):

    * k x dim <= ``lit_max``: the centroid matrix ships as ONE
      array-of-arrays literal — map-only, no join, no Python, the
      whole pass in whole-stage codegen;
    * larger: an Arrow-batched pandas kernel closes over the numpy
      int64 centroid matrix (serialized with the task — the broadcast
      path for state too big for a plan literal). Exact int64
      x²+c²-2xc expansion; numpy argmin's first-min matches
      array_position's tie-break bit-for-bit (pinned in
      tests/test_similarity_ops.py)."""
    if lit_max is None:
        lit_max = KMEANS_LITERAL_MAX_TERMS
    k = len(cent_rows)
    dim = len(cent_rows[0]) if k else 0
    if k * dim <= lit_max:
        mat = _ilit_matrix(cent_rows)
        d2s = F.transform(
            mat,
            lambda c: F.aggregate(
                F.zip_with(F.col("xi"), c, lambda a, b: (a - b) * (a - b)),
                F.lit(0).cast("long"),
                lambda acc, x: acc + x,
            ),
        )
        return xi.select(F.col(id_col), "xi", d2s.alias("_d2s")).select(
            F.col(id_col),
            "xi",
            # array_position returns the FIRST index of the min — exactly
            # the smallest-cluster-id tie-break
            (F.array_position("_d2s", F.array_min("_d2s")) - 1)
            .cast("int")
            .alias("cluster"),
            F.array_min("_d2s").alias("dist2"),
        )

    cent = np.asarray([[int(v) for v in c] for c in cent_rows], dtype=np.int64)
    c2 = (cent * cent).sum(axis=1)  # (k,)

    @F.pandas_udf("cluster int, dist2 bigint")
    def _assign(xs: pd.Series) -> pd.DataFrame:
        if len(xs) == 0:
            return pd.DataFrame(
                {"cluster": np.empty(0, np.int32),
                 "dist2": np.empty(0, np.int64)}
            )
        X = np.stack([np.asarray(v, dtype=np.int64) for v in xs])
        # exact: all terms int64, far under overflow at the 1e6 scale
        # convention (|term| <= dim * scale^2 * 4)
        d2 = (X * X).sum(axis=1)[:, None] + c2[None, :] - 2 * (X @ cent.T)
        cl = d2.argmin(axis=1)  # first min == smallest cluster id
        return pd.DataFrame(
            {"cluster": cl.astype(np.int32),
             "dist2": d2[np.arange(len(cl)), cl]}
        )

    return xi.select(F.col(id_col), "xi", _assign("xi").alias("_a")).select(
        F.col(id_col),
        "xi",
        F.col("_a.cluster").alias("cluster"),
        F.col("_a.dist2").alias("dist2"),
    )


def kmeans_assign(
    embeddings: DataFrame,
    k: int = 4,
    iters: int = 2,
    scale: int = 10**6,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: list[list[int]] | None = None,
) -> DataFrame:
    """First-class deterministic k-means (r12, carried from the r10
    verdict): ``(id, cluster, dist2)`` after ``iters`` synchronous
    Lloyd rounds — the clustering primitive SemDeDup / IVF use
    internally, exposed with REPLAYABLE semantics so any engine
    reproduces every assignment and every centroid bit-for-bit (the
    ``pagerank_fixed_point`` fixed-point-integer convention; the
    seeded-numpy ``_kmeans_centroids`` remains the recall-floor
    training path):

    * coordinates quantize to integers ``xi_d = round(v_d * scale)``
      (HALF_UP — Spark round == DuckDB round on doubles);
    * init: the ``k`` vectors with the SMALLEST ids, cluster id =
      ascending id order (closed-form, no RNG);
    * assignment: argmin of the integer squared L2 distance, ties to
      the smallest cluster id;
    * update: per-dimension integer sums with truncate-toward-zero
      division by the member count (sums of integers commute — no
      float-order nondeterminism); empty clusters keep their previous
      centroid;
    * ``dist2`` is the final-round distance to the final centroids.

    Scale: per round, the assignment is a MAP-ONLY pass (the centroid
    matrix ships as one ``array<array<bigint>>`` literal — no join, no
    shuffle — up to ``KMEANS_LITERAL_MAX_TERMS`` k x dim terms;
    beyond that plan-size ceiling it auto-switches to the
    Arrow-batched int64 kernel in ``_kmeans_assigned``, still map-only
    and bit-identical) and the update is one map-side-combined
    k x (dim sums + count) aggregate, collected driver-side (the
    isotonic-PAV / IVF-build precedent: train on bounded state, scan
    distributed).
    ``iters`` fixed => exactly ``iters`` scans + one final assignment
    scan. Pass ``centroids`` (from :func:`kmeans_train`, persisted at
    ingest) to skip training entirely — assignment is then ONE lazy
    map-only pass."""
    if centroids is None:
        centroids = kmeans_train(
            embeddings, k, iters, scale, id_col=id_col, vec_col=vec_col
        )
    if not centroids:
        return local_df(embeddings.sparkSession, 
            [], f"{id_col} long, cluster int, dist2 long"
        )
    xi = embeddings.select(
        F.col(id_col),
        F.transform(
            F.col(vec_col).cast("array<double>"),
            lambda x: F.round(x * float(scale), 0).cast("long"),
        ).alias("xi"),
    )
    return _kmeans_assigned(xi, centroids, id_col).drop("xi")


def _dlit_array(xs) -> Column:
    """A list of doubles as ONE SQL array literal (r12): building
    ``F.array(*[F.lit(x) ...])`` costs a py4j round-trip per element —
    ~10 ms each, so a 64-dim bound array is ~0.7 s of pure client-side
    chatter. ``CAST('<repr>' AS DOUBLE)`` is value-exact: Python repr
    is the shortest decimal that round-trips, and the JVM's correctly-
    rounded parser returns the identical IEEE double."""
    return F.expr(
        "array("
        + ",".join(f"CAST('{float(x)!r}' AS DOUBLE)" for x in xs)
        + ")"
    )


def sq8_encode(
    embeddings: DataFrame,
    lo: list[float],
    hi: list[float],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, codes array<int>) — 8-bit scalar quantization, 4x smaller
    than float32 at rest (1 byte/dim):

        code_i = clamp(floor(((v_i - lo_i) * 255) / (hi_i - lo_i)), 0, 255)

    Map-only zip_with over literal bound arrays — zero shuffle, no
    UDF, whole-stage codegen. Unlike the seeded-numpy PQ codebooks the
    codes are a CLOSED-FORM function of (v, lo, hi): floor/least/
    greatest and IEEE double arithmetic reproduce bit-identically in
    any engine, so the codes themselves are oracle-checkable (the
    srp_signature property) — SQ8 is the second ANN family here whose
    index contents are value-certified, not just recall-floored."""
    v = F.col(vec_col).cast("array<double>")
    lo_arr = _dlit_array(lo)
    rng_arr = _dlit_array([float(h) - float(l) for l, h in zip(lo, hi)])
    shifted = F.zip_with(v, lo_arr, lambda x, l: x - l)
    codes = F.zip_with(
        shifted,
        rng_arr,
        lambda s, r: F.when(
            r > 0,
            F.least(
                F.lit(255.0),
                F.greatest(F.lit(0.0), F.floor(s * 255.0 / r).cast("double")),
            ),
        )
        .otherwise(F.lit(0.0))
        .cast("int"),
    )
    return embeddings.select(F.col(id_col), codes.alias("codes"))


def sq8_dequantize(codes_col: Column, lo: list[float], hi: list[float]) -> Column:
    """Midpoint dequantization: dq_i = lo_i + (code_i + 0.5) * step_i
    with step_i = (hi_i - lo_i) / 255 — the reconstruction the ADC
    scan scores against. Same closed-form/IEEE contract as the
    encoder."""
    lo_arr = _dlit_array(lo)
    step_arr = _dlit_array([(float(h) - float(l)) / 255.0 for l, h in zip(lo, hi)])
    scaled = F.zip_with(
        codes_col.cast("array<double>"), step_arr, lambda c, s: (c + 0.5) * s
    )
    return F.zip_with(scaled, lo_arr, lambda x, l: x + l)


def sq8_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 10,
    refine: int = 4,
    bounds: tuple[list[float], list[float]] | None = None,
    dim: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Top-k by SQ8 ADC scan + exact re-rank — the scalar-quantization
    sibling of ``pq_topk`` (1/4 the bytes at rest vs PQ's 1/32, but a
    pure JVM Column scan: the approx cosine is a zip_with fold inside
    whole-stage codegen, no Python worker, no LUT broadcast).

    Two-phase: approx-score the encoded corpus against broadcast
    queries, keep k*refine per query — Spark 4 plans the rank filter
    as WindowGroupLimit with a Partial below the Exchange, so each map
    task prunes to its local top before anything shuffles (the
    measured r9 rule: the native window IS the two-phase plan) — then
    re-rank only the shortlist by exact cosine (semi-join pulls just
    those vectors). Returns (query_id, cand_id, sim, rank), exact sims
    for the final k."""
    if bounds is None:
        if dim is None:
            # Infer from the data rather than silently defaulting: a
            # wrong dim would train bounds on a prefix and the missing
            # dimensions would never be scored.
            first = embeddings.select(
                F.size(F.col(vec_col)).alias("__d")
            ).first()
            if first is None:
                raise ValueError("sq8_topk: empty embeddings; pass bounds/dim")
            dim = int(first["__d"])
        bounds = sq8_bounds(embeddings, dim, vec_col=vec_col)
    lo, hi = bounds
    encoded = sq8_encode(embeddings, lo, hi, id_col=id_col, vec_col=vec_col)
    dq = sq8_dequantize(F.col("codes"), lo, hi)
    qdf = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).cast("array<double>").alias("qv"),
    )
    scored = (
        encoded.withColumn("dqv", dq)
        .crossJoin(F.broadcast(qdf))
        .filter(F.col(id_col) != F.col("query_id"))  # the brute-force rule
        .withColumn("asim", cosine(F.col("qv"), F.col("dqv")))
    )
    w = W.partitionBy("query_id").orderBy(F.desc("asim"), F.asc(id_col))
    shortlist = (
        scored.withColumn("r", F.row_number().over(w))
        .filter(F.col("r") <= k * refine)
        .select("query_id", F.col(id_col).alias("cand_id"))
    )
    cand_vecs = embeddings.join(
        shortlist.select(F.col("cand_id").alias(id_col)).distinct(),
        id_col,
        "left_semi",
    ).select(
        F.col(id_col).alias("cand_id"),
        F.col(vec_col).cast("array<double>").alias("cv"),
    )
    rer = (
        shortlist.join(F.broadcast(qdf), "query_id")
        .join(cand_vecs, "cand_id")
        .withColumn("sim", cosine_batch(F.col("qv"), F.col("cv")))
    )
    w2 = W.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("cand_id"))
    return (
        rer.withColumn("rank", F.row_number().over(w2))
        .filter(F.col("rank") <= k)
        .select("query_id", "cand_id", "sim", F.col("rank").cast("int").alias("rank"))
    )
