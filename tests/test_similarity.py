"""Similarity search vs numpy ground truth; LSH recall sanity."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from scida_spark.functions import similarity as S

DIM = 16
N = 60


@pytest.fixture(scope="module")
def emb_df(spark):
    rng = np.random.RandomState(7)
    vecs = rng.standard_normal((N, DIM)).astype(np.float32)
    rows = [(i, [float(x) for x in vecs[i]]) for i in range(N)]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>"), vecs


def _cosine_np(a, b):
    return float(np.dot(a, b) / (np.linalg.norm(a) * np.linalg.norm(b)))


def test_bruteforce_topk_matches_numpy(spark, emb_df):
    df, vecs = emb_df
    q = df.filter(F.col("vec_id") < 3)
    got = S.cosine_topk_bruteforce(df, q, k=5).collect()
    by_query = {}
    for r in got:
        by_query.setdefault(r["query_id"], []).append((r["rank"], r["cand_id"], r["sim"]))
    v64 = vecs.astype(np.float64)
    for qid in range(3):
        sims = [(_cosine_np(v64[qid], v64[c]), c) for c in range(N) if c != qid]
        expect = sorted(sims, key=lambda t: (-t[0], t[1]))[:5]
        mine = sorted(by_query[qid])
        assert [c for _, c, _ in mine] == [c for _, c in expect]
        for (_, _, sim), (es, _) in zip(mine, expect):
            assert sim == pytest.approx(es, abs=1e-9)


def test_neardup_pairs_threshold(spark, emb_df):
    df, vecs = emb_df
    got = {(r["id_a"], r["id_b"]) for r in S.embedding_neardup_pairs(df, threshold=0.5).collect()}
    v64 = vecs.astype(np.float64)
    expect = {
        (a, b)
        for a in range(N)
        for b in range(a + 1, N)
        if _cosine_np(v64[a], v64[b]) >= 0.5
    }
    assert got == expect


def test_lsh_topk_recall(spark):
    # Clustered corpus (the regime ANN is for): 10 tight clusters — true
    # neighbors share a cluster, so hyperplane buckets must co-locate them.
    rng = np.random.RandomState(42)
    centers = rng.standard_normal((10, DIM)) * 5
    vecs = np.vstack([c + rng.standard_normal((6, DIM)) * 0.1 for c in centers])
    df = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(len(vecs))],
        "vec_id long, embedding array<float>",
    )
    q = df.filter(F.col("vec_id") < 5)
    exact = {
        (r["query_id"], r["cand_id"])
        for r in S.cosine_topk_bruteforce(df, q, k=3).collect()
    }
    approx = {
        (r["query_id"], r["cand_id"])
        for r in S.lsh_topk(df, q, k=3, nbits=8, dim=DIM).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.8


def test_auto_nbits_sizing():
    # ~32 vectors per bucket across scales, clamped to [4, 24]
    assert S.auto_nbits(10) == 4
    assert S.auto_nbits(1_000) == 4  # 2^4=16 buckets of ~62
    assert S.auto_nbits(10_000) == 8
    assert S.auto_nbits(1_000_000) == 14
    assert S.auto_nbits(10**9) == 24
    # the r2 failure mode: nbits=12 at 1k vectors = 0.24 vectors/bucket
    assert S.auto_nbits(1_000) < 12


def test_lsh_auto_nbits_surfaces_candidates(spark, sf_dir):
    """nbits=None must surface a healthy candidate pool where the fixed
    nbits=12 registration returned 3 rows for a 5-query top-10 ask."""
    from scida_spark.tables import table

    emb = table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 5)
    n_auto = S.lsh_topk(emb, q, k=10, nbits=None).count()
    assert n_auto >= 25  # ≥5 hits per query on average


def test_lsh_n_vectors_skips_count_job(spark, sf_dir):
    """Passing n_vectors (catalog/footer stats) must size the signature
    WITHOUT triggering the fallback embeddings.count() job — the same
    contract as n_catalog in add_subhalo_ids_auto."""
    from scida_spark.queries_pipeline import _parquet_rows
    from scida_spark.tables import table

    emb = table(spark, sf_dir, "embeddings")
    n = _parquet_rows(sf_dir)
    assert n == emb.count()
    emb.count = lambda *a, **k: (_ for _ in ()).throw(
        AssertionError("count() job must not run when n_vectors is given")
    )
    q = emb.filter(F.col("vec_id") < 5)
    res = S.lsh_topk(emb, q, k=10, nbits=None, n_vectors=n)
    assert res.where(F.col("rank") <= 10).count() >= 25


def test_ivf_topk_recall(spark):
    rng = np.random.RandomState(11)
    centers = rng.standard_normal((10, DIM)) * 5
    vecs = np.vstack([c + rng.standard_normal((8, DIM)) * 0.1 for c in centers])
    df = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(len(vecs))],
        "vec_id long, embedding array<float>",
    )
    q = df.filter(F.col("vec_id") < 5)
    exact = {
        (r["query_id"], r["cand_id"])
        for r in S.cosine_topk_bruteforce(df, q, k=3).collect()
    }
    approx = {
        (r["query_id"], r["cand_id"])
        for r in S.ivf_topk(df, q, k=3, nlist=8, nprobe=3, sample_stride=1).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.8


def test_ivf_deterministic(spark):
    rng = np.random.RandomState(3)
    vecs = rng.standard_normal((40, DIM))
    df = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(len(vecs))],
        "vec_id long, embedding array<float>",
    )
    q = df.filter(F.col("vec_id") < 3)
    a = sorted(map(tuple, S.ivf_topk(df, q, k=5, nlist=4, nprobe=2, sample_stride=1)
                   .select("query_id", "cand_id", "rank").collect()))
    b = sorted(map(tuple, S.ivf_topk(df, q, k=5, nlist=4, nprobe=2, sample_stride=1)
                   .select("query_id", "cand_id", "rank").collect()))
    assert a == b


def test_neardup_blocked_matches_crossjoin_exactly(spark, emb_df):
    """The tiled/cell-blocked primary must return bitwise-identical
    pairs to the all-pairs cross-join oracle (exact-recall contract)."""
    df, _ = emb_df
    exact = {
        (r["id_a"], r["id_b"]): r["sim"]
        for r in S.embedding_neardup_pairs(df, threshold=0.3).collect()
    }
    blocked = {
        (r["id_a"], r["id_b"]): r["sim"]
        for r in S.embedding_neardup_pairs_blocked(
            df, threshold=0.3, ncells=8, sample_stride=1
        ).collect()
    }
    assert blocked == exact  # keys AND double values bitwise equal


def test_neardup_collapse_first_matches_crossjoin_on_clique_corpus(spark, emb_df):
    """Duplicate-heavy corpus (every vector replicated 3×): collapse-
    first (rep-level kernel + answer-only expansion) must still equal
    the naive all-pairs oracle bitwise — cross-clique pairs carry the
    rep cosine, within-clique pairs the kernel's self-fold value."""
    df, _ = emb_df
    rep = df
    for k in (1, 2):
        rep = rep.unionAll(
            df.select((F.col("vec_id") + 1000 * k).alias("vec_id"), "embedding")
        )
    exact = {
        (r["id_a"], r["id_b"]): r["sim"]
        for r in S.embedding_neardup_pairs(rep, threshold=0.3).collect()
    }
    collapsed = {
        (r["id_a"], r["id_b"]): r["sim"]
        for r in S.embedding_neardup_pairs_blocked(
            rep, threshold=0.3, ncells=8, sample_stride=1
        ).collect()
    }
    assert collapsed == exact  # keys AND double values bitwise equal
    # And the collapse must be a pure plan rewrite vs the uncollapsed kernel.
    direct = {
        (r["id_a"], r["id_b"]): r["sim"]
        for r in S.embedding_neardup_pairs_blocked(
            rep, threshold=0.3, ncells=8, sample_stride=1, collapse_exact=False
        ).collect()
    }
    assert collapsed == direct


def test_neardup_blocked_all_zero_corpus_is_empty(spark):
    df = spark.createDataFrame(
        [(i, [0.0] * DIM) for i in range(5)], "vec_id long, embedding array<float>"
    )
    assert S.embedding_neardup_pairs_blocked(df, threshold=0.5).count() == 0


def test_embedding_exact_clique_map(spark):
    rows = [
        (0, [1.0, 2.0]),
        (1, [1.0, 2.0]),
        (5, [3.0, 4.0]),
        (7, [0.0, 0.0]),  # zero-norm: excluded entirely
        (9, [0.0, 0.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = {(r["doc"], r["rep"]) for r in S.embedding_exact_clique_map(df).collect()}
    assert got == {(0, 0), (1, 0), (5, 5)}


def test_neardup_blocked_handles_zero_vectors(spark):
    rows = [(0, [0.0] * DIM), (1, [1.0] + [0.0] * (DIM - 1)), (2, [1.0] + [0.0] * (DIM - 1))]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = S.embedding_neardup_pairs_blocked(df, threshold=0.9, ncells=4, sample_stride=1).collect()
    assert [(r["id_a"], r["id_b"]) for r in got] == [(1, 2)]


def test_kmeans_guards_zero_rows_and_small_samples():
    """Zero-norm rows are dropped (no NaN centroids) and nlist clamps to
    the surviving sample size instead of raising in rng.choice."""
    sample = np.vstack([np.zeros(4), np.eye(4)[:3] * 2.0])
    cent = S._kmeans_centroids(sample, nlist=10, seed=0)
    assert len(cent) == 3
    assert np.isfinite(cent).all()


def test_auto_nlist_sizing():
    assert S.auto_nlist(10) == 1
    assert S.auto_nlist(1_000) == 15          # capped by >=64 vectors/list
    assert S.auto_nlist(1_000_000) == 1000    # sqrt regime
    assert S.auto_nlist(10**9) < 10**9 // 64  # never exceeds the floor cap


def test_ivf_auto_nlist_recall(spark, sf_dir):
    """nlist=None (auto-sized from footer stats, no count job) must
    keep recall: every query still surfaces k candidates and the top-1
    neighbor matches brute force for most queries."""
    from scida_spark.queries_pipeline import _parquet_rows
    from scida_spark.tables import table

    emb = table(spark, sf_dir, "embeddings")
    n = _parquet_rows(sf_dir)
    emb.count = lambda *a, **k: (_ for _ in ()).throw(
        AssertionError("count() must not run when n_vectors is given")
    )
    q = emb.filter(F.col("vec_id") < 5)
    got = S.ivf_topk(emb, q, k=10, nlist=None, nprobe=4, n_vectors=n)
    per_q = {r["query_id"]: r["cand_id"] for r in got.filter(F.col("rank") == 1).collect()}
    assert len(per_q) == 5
    brute = {
        r["query_id"]: r["cand_id"]
        for r in S.cosine_topk_bruteforce(emb, q, k=1).filter(F.col("rank") == 1).collect()
    }
    hits = sum(1 for k_ in per_q if per_q[k_] == brute.get(k_))
    assert hits >= 3  # nprobe=4 of ~15 lists: most top-1s exact


def test_ivf_index_persistence_roundtrip(spark, sf_dir, tmp_path):
    """Build the IVF index once, persist it, reload it, and get
    IDENTICAL results to the train-inline path — the ingest-time
    amortization contract for the 100 TB query path."""
    import numpy as np
    from scida_spark.queries_pipeline import _parquet_rows
    from scida_spark.tables import table

    emb = table(spark, sf_dir, "embeddings")
    n = _parquet_rows(sf_dir)
    cent = S.build_ivf_index(emb, nlist=None, n_vectors=n)
    path = str(tmp_path / "ivf_index")
    S.save_ivf_index(spark, cent, path)
    loaded = S.load_ivf_index(spark, path)
    assert np.allclose(cent, loaded)
    q = emb.filter(F.col("vec_id") < 5)
    inline = sorted(map(tuple, S.ivf_topk(emb, q, k=10, nlist=None, n_vectors=n)
                        .select("query_id", "cand_id", "rank").collect()))
    reused = sorted(map(tuple, S.ivf_topk(emb, q, k=10, centroids=loaded)
                        .select("query_id", "cand_id", "rank").collect()))
    assert inline == reused and len(reused) > 0


# --------------------------------------------------------------------------
# Product quantization
# --------------------------------------------------------------------------


def test_pq_encode_compression_and_range(spark, sf_dir):
    import numpy as np

    from scida_spark.functions.similarity import pq_encode, train_pq_codebooks
    from scida_spark.tables import table

    emb = table(spark, sf_dir, "embeddings")
    sample = np.stack(
        [np.asarray(r["v"]) for r in emb.selectExpr(
            "cast(embedding as array<double>) as v").limit(256).collect()]
    )
    cb = train_pq_codebooks(sample, m=8, nbits=6)
    assert cb.shape == (8, 64, 8)
    enc = pq_encode(emb, cb).collect()
    # m bytes per vector (vs 64 floats): the 32x compression claim.
    assert all(len(r["code"]) == 8 for r in enc)
    assert all(b < 64 for r in enc for b in r["code"])


def test_pq_topk_recall_and_determinism(spark, sf_dir):
    from pyspark.sql import functions as F

    from scida_spark.functions.similarity import cosine_topk_bruteforce, pq_topk
    from scida_spark.tables import table

    emb = table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 5)
    exact = {
        (r["query_id"], r["cand_id"])
        for r in cosine_topk_bruteforce(emb, q, k=10).collect()
    }
    a = pq_topk(emb, q, k=10, nbits=6, refine=8)
    got = {(r["query_id"], r["cand_id"]) for r in a.collect()}
    assert len(got & exact) / len(exact) >= 0.6
    b = {(r["query_id"], r["cand_id"]) for r in
         pq_topk(emb, q, k=10, nbits=6, refine=8).collect()}
    assert got == b
    # Final sims are EXACT (re-ranked): every returned (q,c) sim must
    # equal the brute-force cosine for that pair.
    bf = {
        (r["query_id"], r["cand_id"]): r["sim"]
        for r in cosine_topk_bruteforce(emb, q, k=10_000).collect()
    }
    for r in a.collect():
        key = (r["query_id"], r["cand_id"])
        if key in bf:
            assert abs(r["sim"] - bf[key]) < 1e-9


def test_semantic_dedup_clustered_matches_exact_on_clustered_data(spark):
    """On well-separated clusters (every near-dup group lives in one
    cell), SemDeDup's within-cell dedup equals the exact kernel's
    global answer: same kept set."""
    import numpy as np

    from scida_spark.functions.similarity import (
        embedding_neardup_pairs_blocked,
        semantic_dedup_clustered,
    )
    from scida_spark.functions.dedup import connected_components

    rng = np.random.RandomState(3)
    rows = []
    vid = 0
    for g in range(6):                      # 6 well-separated directions
        basev = rng.randn(16)
        basev /= np.linalg.norm(basev)
        for r in range(4):                  # 4 near-dups each
            v = basev + 0.03 * rng.randn(16)
            rows.append((vid, [float(x) for x in v]))
            vid += 1
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    exact_pairs = embedding_neardup_pairs_blocked(emb, threshold=0.95, ncells=4)
    cc = connected_components(
        exact_pairs.select(
            F.col("id_a").alias("doc_a"), F.col("id_b").alias("doc_b")
        )
    )
    exact_drop = {
        r["node"] for r in cc.filter(F.col("node") != F.col("cluster_id")).collect()
    }
    sd = semantic_dedup_clustered(emb, threshold=0.95, nlist=6, sample_stride=1)
    got_drop = {r["vec_id"] for r in sd.filter(~F.col("keep")).collect()}
    # Guarantee: a SemDeDup drop always has a smaller kept near-dup in
    # its cell, so it is never the exact component min — drops are a
    # SUBSET of the exact kernel's. Coverage is high but not pinned to
    # 100%: k-means may split a group across cells (the published
    # algorithm's accepted miss).
    assert got_drop <= exact_drop
    assert len(got_drop) >= 0.8 * len(exact_drop) and len(exact_drop) == 18


def test_semantic_dedup_clustered_within_cell_exact(spark):
    """Soundness on ARBITRARY data: every dropped vector has a kept
    near-dup (cos >= threshold) in its own cell; every kept pair in a
    cell is below threshold OR transitively represented."""
    import numpy as np

    from scida_spark.functions.similarity import semantic_dedup_clustered

    rng = np.random.RandomState(11)
    rows = [
        (i, [float(x) for x in rng.randn(8)]) for i in range(120)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    sd = semantic_dedup_clustered(emb, threshold=0.6, nlist=5).collect()
    vecs = {i: np.array(v) / np.linalg.norm(v) for i, v in rows}
    by_cell = {}
    for r in sd:
        by_cell.setdefault(r["cell"], []).append(r)
    for cell, members in by_cell.items():
        kept = [r["vec_id"] for r in members if r["keep"]]
        for r in members:
            if not r["keep"]:
                # reachable from some kept vector via the threshold
                # graph within the cell (union-find guarantees the
                # component root is kept)
                comp = {r["vec_id"]}
                frontier = {r["vec_id"]}
                ids = [m["vec_id"] for m in members]
                while frontier:
                    nxt = set()
                    for a in frontier:
                        for b in ids:
                            if b not in comp and float(vecs[a] @ vecs[b]) >= 0.6:
                                nxt.add(b)
                    comp |= nxt
                    frontier = nxt
                assert any(k in comp for k in kept)


def test_semantic_dedup_forced_skew_splits_hot_cell(spark):
    """All vectors in ONE hot region (every row lands in the same
    k-means cell): the recursive split must cap per-task cell size and
    the dedup answer must keep exactly the soundness contract — every
    drop has a kept near-dup in its (sub)cell, and near-identical
    replicas of the same base vector still collapse to one keeper."""
    import numpy as np

    from scida_spark.functions.similarity import semantic_dedup_clustered

    rng = np.random.RandomState(7)
    hot = rng.randn(24)
    hot /= np.linalg.norm(hot)
    rows = []
    vid = 0
    # 40 near-dup families, 16 replicas each, ALL inside one tight
    # region (cos between any two rows >= ~0.99 to the hot direction)
    for fam in range(40):
        basev = hot + 0.02 * rng.randn(24)
        for _rep in range(16):
            v = basev + 0.0001 * rng.randn(24)
            rows.append((vid, [float(x) for x in v]))
            vid += 1
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    sd = semantic_dedup_clustered(
        emb, threshold=0.999995, nlist=4, sample_stride=1,
        max_cell_rows=100, max_split_depth=4,
    )
    out = sd.collect()
    assert len(out) == 640
    # the skew guard actually split: no output cell exceeds the bound
    from collections import Counter

    cell_sizes = Counter(r["cell"] for r in out)
    assert max(cell_sizes.values()) <= 100
    assert len(cell_sizes) > 4  # sub-cells were allocated
    # soundness: every dropped vector has a kept cos>=t neighbor in its cell
    vecs = {i: np.array(v) / np.linalg.norm(v) for i, v in rows}
    kept_by_cell = {}
    for r in out:
        if r["keep"]:
            kept_by_cell.setdefault(r["cell"], []).append(r["vec_id"])
    for r in out:
        if not r["keep"]:
            # transitively: some kept member of the same cell is in the
            # drop's threshold-component; with one tight family per
            # component a direct >= t neighbor exists (tolerate fp slop)
            assert any(
                float(vecs[r["vec_id"]] @ vecs[k]) >= 0.999995 - 1e-9
                for k in kept_by_cell.get(r["cell"], [])
            )
    # replicas of a family are >= threshold-similar; a real dedup
    # happened (most replicas dropped)
    n_keep = sum(1 for r in out if r["keep"])
    assert n_keep < 640 * 0.5


def test_semantic_dedup_tiling_and_collapse_are_invisible(spark):
    """Tiny tiles and big tiles give the SAME keep set, and a
    duplicate-heavy input (bit-identical replicas) keeps exactly one
    member per exact clique — the collapse-first path is semantics-
    preserving."""
    import numpy as np

    from scida_spark.functions.similarity import semantic_dedup_clustered

    rng = np.random.RandomState(5)
    rows = []
    vid = 0
    for g in range(8):
        basev = rng.randn(12)
        basev = [float(x) for x in basev]
        for _rep in range(10):      # bit-identical replicas
            rows.append((vid, basev))
            vid += 1
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    a = {
        (r["vec_id"], r["keep"])
        for r in semantic_dedup_clustered(
            emb, threshold=0.9, nlist=3, sample_stride=1, tile_rows=64
        ).collect()
    }
    b = {
        (r["vec_id"], r["keep"])
        for r in semantic_dedup_clustered(
            emb, threshold=0.9, nlist=3, sample_stride=1, tile_rows=100000
        ).collect()
    }
    assert a == b
    keeps = {v for v, k in a if k}
    # exactly one keeper per exact clique (cliques may merge via the
    # threshold graph but never split): at most 8 keepers, each a
    # family-min id
    assert len(keeps) <= 8
    assert all(v % 10 == 0 for v in keeps)


def test_semantic_dedup_n_vectors_skips_count_job(spark, sf_dir):
    """nlist sizing must read the caller's stats (n_vectors), not run
    a count() job in the query path."""
    from scida_spark.functions.similarity import semantic_dedup_clustered
    from scida_spark.queries_pipeline import _parquet_rows
    from scida_spark.tables import table

    emb = table(spark, sf_dir, "embeddings")
    n = _parquet_rows(sf_dir)
    assert n is not None
    emb.count = lambda *a, **k: (_ for _ in ()).throw(
        AssertionError("count() job must not run when n_vectors is given")
    )
    sd = semantic_dedup_clustered(emb, threshold=0.99, n_vectors=n)
    assert sd.limit(1).count() >= 0


def test_semantic_dedup_layout_independent(spark):
    """Same input under different partition layouts -> identical
    (vec_id, cell, keep) — pins the deterministic smallest-N centroid
    sample (ADVICE r8: bare .limit() was layout-dependent)."""
    import numpy as np

    from scida_spark.functions.similarity import semantic_dedup_clustered

    rng = np.random.RandomState(13)
    rows = [(i, [float(x) for x in rng.randn(10)]) for i in range(300)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    a = sorted(
        tuple(r)
        for r in semantic_dedup_clustered(
            emb.repartition(7), threshold=0.7, nlist=4
        ).collect()
    )
    b = sorted(
        tuple(r)
        for r in semantic_dedup_clustered(
            emb.repartition(31, "vec_id").sortWithinPartitions(
                F.col("vec_id").desc()
            ),
            threshold=0.7,
            nlist=4,
        ).collect()
    )
    assert a == b


# ---------------------------------------------------------------------------
# knn_vote (r9): k-NN majority-vote classification
# ---------------------------------------------------------------------------


def test_knn_vote_majority_and_tiebreak(spark):
    from scida_spark.functions.similarity import knn_vote

    pairs = spark.createDataFrame(
        # q1: labels 2,2,2,5,5 -> 2 wins 3/5
        # q2: labels 4,4,7,7 -> tie, smaller label 4 wins 2/4
        [(1, 10), (1, 11), (1, 12), (1, 13), (1, 14),
         (2, 20), (2, 21), (2, 22), (2, 23)],
        "query_id long, cand_id long",
    )
    labels = spark.createDataFrame(
        [(10, 2), (11, 2), (12, 2), (13, 5), (14, 5),
         (20, 4), (21, 4), (22, 7), (23, 7)],
        "cand_id long, label int",
    )
    out = {r["query_id"]: r for r in knn_vote(pairs, labels).collect()}
    assert out[1]["pred_label"] == 2 and out[1]["votes"] == 3
    assert abs(out[1]["frac"] - 0.6) < 1e-12 and out[1]["total"] == 5
    assert out[2]["pred_label"] == 4 and out[2]["votes"] == 2
    assert out[2]["total"] == 4


def test_knn_vote_composes_with_ann_pairs(spark, sf_dir):
    # the scale path: IVF candidates instead of exact pairs must feed
    # the same vote (pair-shape compatibility contract)
    from scida_spark.functions import similarity as SIM
    from scida_spark.tables import table

    emb = table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 3)
    n = emb.count()
    ann = SIM.ivf_topk(emb, q, k=10, nlist=None, nprobe=None, n_vectors=n)
    labels = emb.select(F.col("vec_id").alias("cand_id"), "label")
    out = SIM.knn_vote(ann.select("query_id", "cand_id"), labels)
    rows = out.collect()
    assert len(rows) == 3
    for r in rows:
        assert r["votes"] <= r["total"] <= 10
        assert 0 < r["frac"] <= 1.0


def test_hard_negatives_picks_closest_differing_label(spark):
    from scida_spark.functions.similarity import hard_negatives

    # q1: rank1 neighbor shares the label -> hardneg must be rank 2;
    # q2: all neighbors share the label -> no row
    pairs = spark.createDataFrame(
        [(1, 10, 0.99, 1), (1, 11, 0.95, 2), (1, 12, 0.90, 3),
         (2, 20, 0.88, 1), (2, 21, 0.80, 2)],
        "query_id long, cand_id long, sim_r double, rank int",
    )
    labels = spark.createDataFrame(
        [(1, 7), (2, 4), (10, 7), (11, 3), (12, 3), (20, 4), (21, 4)],
        "vec_id long, label int",
    )
    rows = hard_negatives(pairs, labels).collect()
    assert len(rows) == 1
    r = rows[0]
    assert r["query_id"] == 1 and r["cand_id"] == 11 and r["rank"] == 2


# --------------------------------------------------------------------------
# SRP — md5-sign random projection (oracle-exact LSH / JL primitive)
# --------------------------------------------------------------------------


def _np_srp(vecs, n_bits, dim, salt="srp"):
    """Independent reference: same md5 parities, sequential fold."""
    import hashlib

    sigs, projs = [], []
    signs = [
        [
            1.0 if int(hashlib.md5(f"{salt}:{j}:{i}".encode()).hexdigest()[:8], 16) % 2 == 0
            else -1.0
            for i in range(dim)
        ]
        for j in range(n_bits)
    ]
    for v in vecs:
        sig = 0
        pj = []
        for j in range(n_bits):
            acc = 0.0
            for i in range(dim):
                acc = acc + v[i] * signs[j][i]
            pj.append(acc)
            if acc >= 0.0:
                sig |= 1 << j
        sigs.append(sig)
        projs.append(pj)
    return sigs, projs


def test_srp_signature_matches_reference_and_layout(spark):
    from pyspark.sql import functions as F

    from scida_spark.functions.similarity import srp_signature

    dim, nb = 8, 16
    vecs = [
        [float((i * 7 + k * 3) % 11 - 5) for i in range(dim)] for k in range(30)
    ]
    df = spark.createDataFrame(
        [(k, v) for k, v in enumerate(vecs)], "vec_id long, embedding array<double>"
    )
    want_sigs, want_projs = _np_srp(vecs, nb, dim)
    for layout in (df, df.repartition(7)):
        got = {
            r["vec_id"]: (r["srp_sig"], r["proj0"])
            for r in srp_signature(
                layout, nb, dim, keep_proj=1
            ).collect()
        }
        for k in range(30):
            assert got[k][0] == want_sigs[k], f"sig mismatch at {k}"
            assert got[k][1] == want_projs[k][0], f"proj mismatch at {k}"


def test_srp_angle_monotonicity(spark):
    """Charikar property with the FIXED salt: a tiny perturbation of a
    vector flips far fewer bits than an unrelated vector (deterministic
    given the salt — this is a regression pin, not a statistical
    test)."""
    from scida_spark.functions.similarity import srp_signature

    dim, nb = 16, 62
    base = [float(i % 5 + 1) for i in range(dim)]
    near = list(base)
    near[0] += 0.01
    far = [float((7 - i) % 9 - 4) for i in range(dim)]
    df = spark.createDataFrame(
        [(0, base), (1, near), (2, far)], "vec_id long, embedding array<double>"
    )
    sigs = {
        r["vec_id"]: r["srp_sig"]
        for r in srp_signature(df, nb, dim).collect()
    }
    d_near = bin(sigs[0] ^ sigs[1]).count("1")
    d_far = bin(sigs[0] ^ sigs[2]).count("1")
    assert d_near <= 2
    assert d_far >= 10


def test_sq8_codes_match_reference(spark):
    """SQ8 codes are the closed form clamp(floor(((v-lo)*255)/(hi-lo)))
    over per-dim corpus min/max — recompute in numpy-free Python and
    require exact equality; bounds rows must hit 0 and 255."""
    from scida_spark.functions.similarity import sq8_bounds, sq8_encode

    import random

    rng = random.Random(42)
    dim = 8
    rows = [
        (i, [rng.uniform(-2, 2) for _ in range(dim)]) for i in range(50)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    lo, hi = sq8_bounds(df, dim)
    got = {
        r["vec_id"]: list(r["codes"])
        for r in sq8_encode(df, lo, hi).collect()
    }
    import math

    for vid, vec in rows:
        want = []
        for i in range(dim):
            r = hi[i] - lo[i]
            c = 0.0 if r <= 0 else min(
                255.0, max(0.0, math.floor((vec[i] - lo[i]) * 255.0 / r))
            )
            want.append(int(c))
        assert got[vid] == want, vid
    # per-dim extremes: the min vector codes 0, the max codes 255
    allc = [c for cs in got.values() for c in cs]
    assert 0 in allc and 255 in allc


def test_sq8_constant_dimension_codes_zero(spark):
    from scida_spark.functions.similarity import sq8_bounds, sq8_encode

    df = spark.createDataFrame(
        [(0, [1.0, 5.0]), (1, [1.0, 7.0])], "vec_id long, embedding array<double>"
    )
    lo, hi = sq8_bounds(df, 2)
    got = {r["vec_id"]: list(r["codes"]) for r in sq8_encode(df, lo, hi).collect()}
    assert got[0][0] == 0 and got[1][0] == 0  # hi == lo -> code 0


def test_sq8_topk_recall_and_layout(spark, sf_dir):
    """Pinned recall@10 vs brute force on the real embeddings table
    (measured 1.0 at sf0.001/0.1; floor 0.8 = the driver cert), and
    identical results under a different input partitioning."""
    from pyspark.sql import functions as F

    from scida_spark.functions.similarity import (
        cosine_topk_bruteforce,
        sq8_topk,
    )
    from scida_spark.tables import table

    emb = table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 5)
    ex = {
        (r["query_id"], r["cand_id"])
        for r in cosine_topk_bruteforce(emb, q, k=10).collect()
    }
    got = sq8_topk(emb, q, k=10, refine=8)
    g1 = {(r["query_id"], r["cand_id"], r["rank"]) for r in got.collect()}
    assert len(ex & {(a, b) for a, b, _ in g1}) / len(ex) >= 0.8
    g2 = {
        (r["query_id"], r["cand_id"], r["rank"])
        for r in sq8_topk(emb.repartition(13), q, k=10, refine=8).collect()
    }
    assert g1 == g2


def test_kmeans_assign_deterministic_and_layout_independent(spark):
    """kmeans_assign (r12): the fixed-point integer Lloyd contract —
    identical output regardless of partitioning, planted clusters
    recovered, distances consistent with the returned assignment."""
    import numpy as np

    from scida_spark.functions.similarity import kmeans_assign

    rng = np.random.RandomState(7)
    centers = np.array([[1.0] + [0.0] * 7, [0.0] * 7 + [1.0]])
    rows = []
    for i in range(120):
        c = i % 2
        v = centers[c] + rng.normal(0, 0.05, 8)
        rows.append((i, [float(x) for x in v]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    a = kmeans_assign(df, k=2, iters=3).collect()
    b = kmeans_assign(df.repartition(17), k=2, iters=3).collect()
    key = lambda r: r["vec_id"]  # noqa: E731
    assert sorted(a, key=key) == sorted(b, key=key)  # bit-identical

    # planted structure recovered: each parity class lands in ONE
    # cluster and the two classes land in DIFFERENT clusters
    by_parity = {0: set(), 1: set()}
    for r in a:
        by_parity[r["vec_id"] % 2].add(r["cluster"])
    assert len(by_parity[0]) == 1 and len(by_parity[1]) == 1
    assert by_parity[0] != by_parity[1]
    assert all(r["dist2"] >= 0 for r in a)


def test_kmeans_assign_empty_and_truncdiv():
    """Empty input returns an empty typed frame; the centroid-update
    division truncates toward zero (DuckDB // == Spark DIV), which
    DIFFERS from Python floor division on negative sums."""
    from scida_spark.functions.similarity import _truncdiv

    assert _truncdiv(7, 2) == 3 and _truncdiv(-7, 2) == -3
    assert (-7) // 2 == -4  # the Python-floor trap the helper avoids
    assert _truncdiv(-8, 2) == -4 and _truncdiv(0, 5) == 0


def test_kmeans_assign_arrow_fallback_matches_literal(spark, monkeypatch):
    """r13 (r12 VERDICT #3): above KMEANS_LITERAL_MAX_TERMS the
    centroid matrix stops shipping as a plan literal and assignment
    runs through the Arrow-batched int64 kernel — bit-identical
    output (same argmin, same first-min tie-break, same dist2) on a
    frame with planted exact ties."""
    import numpy as np

    from scida_spark.functions import similarity as S

    rng = np.random.RandomState(11)
    rows = [(i, [float(x) for x in rng.normal(0, 1, 8)]) for i in range(80)]
    # planted exact tie: equidistant from the two init vectors
    rows.append((1000, [0.5] * 8))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    lit = sorted(
        (r["vec_id"], r["cluster"], r["dist2"])
        for r in S.kmeans_assign(df, k=3, iters=2).collect()
    )
    monkeypatch.setattr(S, "KMEANS_LITERAL_MAX_TERMS", 0)
    arrow = sorted(
        (r["vec_id"], r["cluster"], r["dist2"])
        for r in S.kmeans_assign(df, k=3, iters=2).collect()
    )
    assert lit == arrow


def test_ivfpq_topk_recall_and_layout_independence(spark):
    """IVF-PQ (r13): the composed probe-pruned ADC path must hit a
    recall floor vs brute force, return EXACT sims for its final k
    (re-rank contract), and be layout-independent."""
    import numpy as np

    from scida_spark.functions import similarity as S

    rng = np.random.RandomState(5)
    rows = [
        (i, [float(x) for x in rng.normal(0, 1, 16)]) for i in range(400)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = emb.filter(F.col("vec_id") < 3)

    exact = {
        (r["query_id"], r["cand_id"])
        for r in S.cosine_topk_bruteforce(emb, q, k=10).collect()
    }
    # train both artifacts once (the persisted-index steady state);
    # auto-training samples in scan order, so layout independence is a
    # property of the QUERY path under FIXED artifacts
    cent = S.build_ivf_index(emb, nlist=8)
    sample = np.stack(
        [np.asarray(r["embedding"]) for r in emb.orderBy("vec_id").collect()]
    )
    cbs = S.train_pq_codebooks(sample, m=8, nbits=4)
    got_rows = S.ivfpq_topk(
        emb, q, k=10, nprobe=4, refine=8, centroids=cent, codebooks=cbs
    ).collect()
    got = {(r["query_id"], r["cand_id"]) for r in got_rows}
    recall = len(got & exact) / len(exact)
    assert recall >= 0.5, recall
    # exact-sim contract: every returned sim equals the true cosine
    vecs = {r["vec_id"]: np.asarray(r["embedding"]) for r in emb.collect()}
    for r in got_rows:
        a, b = vecs[r["query_id"]], vecs[r["cand_id"]]
        want = float(a @ b / (np.linalg.norm(a) * np.linalg.norm(b)))
        assert abs(r["sim"] - want) < 1e-12
    # layout independence
    g2 = {
        (r["query_id"], r["cand_id"], r["rank"])
        for r in S.ivfpq_topk(
            emb.repartition(13), q, k=10, nprobe=4, refine=8,
            centroids=cent, codebooks=cbs,
        ).collect()
    }
    g1 = {(r["query_id"], r["cand_id"], r["rank"]) for r in got_rows}
    assert g1 == g2


# --------------------------------------------------------------------------
# MMR diversified re-rank
# --------------------------------------------------------------------------


def _mmr_greedy_np(cands, k, lam):
    """Reference greedy: cands = {cid: (rel, vec)}; returns
    [(cid, score, step)] with ties on ascending cid."""
    sel, out = [], []
    remaining = dict(cands)
    for step in range(1, k + 1):
        if not remaining:
            break
        best = None
        for cid in sorted(remaining):
            rel, v = remaining[cid]
            if sel:
                pen = max(
                    _cosine_np(np.asarray(v), np.asarray(cands[s][1]))
                    for s in sel
                )
            else:
                pen = 0.0
            score = lam * rel - (1.0 - lam) * pen
            if best is None or score > best[1]:
                best = (cid, score)
        sel.append(best[0])
        out.append((best[0], best[1], step))
        del remaining[best[0]]
    return out


def test_mmr_rerank_matches_reference_greedy(spark, emb_df):
    df, vecs = emb_df
    v64 = vecs.astype(np.float64)
    q = df.filter(F.col("vec_id") < 3)
    topk = S.cosine_topk_bruteforce(df, q, k=8)
    cands = topk.join(
        df.select(
            F.col("vec_id").alias("cand_id"),
            F.col("embedding").cast("array<double>").alias("cvec"),
        ),
        "cand_id",
    ).select("query_id", "cand_id", F.col("sim").alias("rel"), "cvec")
    got = S.mmr_rerank(cands, k=5, lam=0.7).collect()
    by_q = {}
    for r in got:
        by_q.setdefault(r["query_id"], []).append(
            (r["step"], r["cand_id"], r["score"])
        )
    for qid in range(3):
        pool = {
            r["cand_id"]: (r["rel"], list(v64[r["cand_id"]]))
            for r in cands.filter(F.col("query_id") == qid).collect()
        }
        want = _mmr_greedy_np(pool, 5, 0.7)
        mine = sorted(by_q[qid])
        assert [c for _, c, _ in mine] == [c for c, _, _ in want]
        for (_, _, score), (_, ws, _) in zip(mine, want):
            assert score == pytest.approx(ws, abs=1e-9)
        # step 1 is the pure-relevance argmax
        assert mine[0][1] == max(pool, key=lambda c: (pool[c][0], -c))


def test_mmr_lam_one_is_pure_relevance_order(spark, emb_df):
    df, _ = emb_df
    q = df.filter(F.col("vec_id") == 0)
    topk = S.cosine_topk_bruteforce(df, q, k=6)
    cands = topk.join(
        df.select(
            F.col("vec_id").alias("cand_id"),
            F.col("embedding").cast("array<double>").alias("cvec"),
        ),
        "cand_id",
    ).select("query_id", "cand_id", F.col("sim").alias("rel"), "cvec")
    got = sorted(
        (r["step"], r["cand_id"])
        for r in S.mmr_rerank(cands, k=6, lam=1.0).collect()
    )
    by_rel = [
        r["cand_id"]
        for r in topk.orderBy(F.desc("sim"), F.asc("cand_id")).collect()
    ]
    assert [c for _, c in got] == by_rel


def test_mmr_fewer_candidates_than_k_and_duplicate_vectors(spark):
    # two candidates sharing one vector: after the first is picked, the
    # clone's penalty is cos=1.0, so a distinct third vector wins step 2
    rows = [
        (0, 10, 0.9, [1.0, 0.0]),
        (0, 11, 0.89, [1.0, 0.0]),
        (0, 12, 0.5, [0.0, 1.0]),
    ]
    cands = spark.createDataFrame(
        rows, "query_id long, cand_id long, rel double, cvec array<double>"
    )
    got = sorted(
        (r["step"], r["cand_id"])
        for r in S.mmr_rerank(cands, k=5, lam=0.5).collect()
    )
    # k=5 but only 3 candidates -> 3 rows, diversity kicks 12 to step 2
    assert got == [(1, 10), (2, 12), (3, 11)]
