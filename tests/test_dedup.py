"""Dedup operators vs exact ground truth computed in plain Python."""

import hashlib

import pandas as pd
import pytest
from pyspark.sql import functions as F

from scida_spark.functions import dedup as D

DOCS = [
    (0, "the quick brown fox jumps over the lazy dog near the river bank today"),
    (1, "the quick brown fox jumps over the lazy dog near the river bank today"),  # exact dup of 0
    (2, "the quick brown fox jumps over the lazy dog near the river bank tonight"),  # near dup
    (3, "a completely different document about spark and distributed computing engines"),
    (4, "a completely different document about spark and distributed computing engines"),  # dup of 3
    (5, "spark engines process distributed data with partitions and shuffles at scale"),
    (6, "short text"),
]


def _shingles(text, n=3):
    toks = text.split()
    return {" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)}


def _jaccard(a, b):
    sa, sb = _shingles(a), _shingles(b)
    if not sa or not sb:
        return 0.0
    return len(sa & sb) / len(sa | sb)


def _py_simhash(text):
    """Majority-bit fold over blake2b-64 token hashes, as a signed int64."""
    toks = text.strip().split(" ")
    counts = [0] * 64
    for t in toks:
        h = int.from_bytes(hashlib.blake2b(t.encode(), digest_size=8).digest(), "big")
        for b in range(64):
            counts[b] += (h >> b) & 1
    v = sum(1 << b for b in range(64) if 2 * counts[b] > len(toks))
    return v - (1 << 64) if v >= 1 << 63 else v


def _sh_table(df, n=3):
    """The materialized (doc, sh) shingle table the pair operators take."""
    return D.shingle_hash_table(df, "doc_id", "text", n).localCheckpoint(eager=True)


def _simhashes(df):
    return D.signature_table(df, "doc_id", "text").select("doc", "simhash")


@pytest.fixture(scope="module")
def docs_df(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string")


def test_exact_dedup(spark, docs_df):
    kept = sorted(r["doc_id"] for r in D.exact_dedup(docs_df, "doc_id", "text").collect())
    assert kept == [0, 2, 3, 5, 6]
    clusters = {r["canonical_id"]: r["n"] for r in D.exact_dedup_clusters(docs_df, "doc_id", "text").collect()}
    assert clusters == {0: 2, 2: 1, 3: 2, 5: 1, 6: 1}


def test_ngram_jaccard_exact(spark, docs_df):
    got = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in D.ngram_jaccard_pairs_from_shingles(_sh_table(docs_df), threshold=0.3).collect()
    }
    expected = {}
    for i, (ia, ta) in enumerate(DOCS):
        for ib, tb in DOCS[i + 1 :]:
            j = _jaccard(ta, tb)
            if j >= 0.3:
                expected[(ia, ib)] = j
    assert set(got) == set(expected)
    for k, v in expected.items():
        assert got[k] == pytest.approx(v, abs=1e-12)


def test_minhash_lsh_finds_near_dups(spark, docs_df):
    pairs = {
        (r["doc_a"], r["doc_b"])
        for r in D.minhash_dedup_pairs_from_shingles(
            _sh_table(docs_df), num_perm=64, bands=16, threshold=0.3
        ).collect()
    }
    # exact dups must always be found (identical signatures); verified
    # jaccard filter guarantees precision = 1 vs exact ground truth
    assert (0, 1) in pairs and (3, 4) in pairs
    exact = {
        (ia, ib)
        for i, (ia, ta) in enumerate(DOCS)
        for ib, tb in DOCS[i + 1 :]
        if _jaccard(ta, tb) >= 0.3
    }
    assert pairs <= exact  # no false positives survive verification
    assert len(pairs) >= len(exact) - 0  # high recall on this tiny set


def test_simhash_identical_and_near(spark, docs_df):
    sigs = {r["doc"]: r["simhash"] for r in _simhashes(docs_df).collect()}
    assert sigs[0] == sigs[1]  # identical text → identical signature
    assert sigs[3] == sigs[4]
    pairs = {
        (r["doc_a"], r["doc_b"]): r["hamming"]
        for r in D.simhash_near_pairs(
            _simhashes(docs_df), max_hamming=10
        ).collect()
    }
    assert pairs[(0, 1)] == 0
    assert (0, 2) in pairs  # near dup within 10 bits


def test_signature_table_matches_standalone_kernels(spark, docs_df):
    """The combined one-scan kernel must agree with the standalone
    definitions: simhash values EXACTLY (a plain-Python majority-bit
    fold over the same token hashes), and shingle sets up to the hash
    family — set SIZES and all pairwise intersection sizes (hence
    Jaccard values) identical to shingle_hash_table's."""
    combined = {
        r["doc"]: (set(r["sh"]), r["simhash"])
        for r in D.signature_table(docs_df, "doc_id", "text", n=3).collect()
    }
    simhash = {d: _py_simhash(t) for d, t in DOCS}
    assert {d: s for d, (_, s) in combined.items()} == simhash
    legacy = {
        r["doc"]: set(r["sh"])
        for r in D.shingle_hash_table(docs_df, "doc_id", "text", 3).collect()
    }
    for d, (sh, _) in combined.items():
        assert len(sh) == len(legacy[d]), d
    ids = sorted(combined)
    for i in ids:
        for j in ids:
            if i < j:
                got = len(combined[i][0] & combined[j][0])
                want = len(legacy[i] & legacy[j])
                assert got == want, (i, j)


def test_minhash_from_signature_table_same_pairs(spark, docs_df):
    """MinHash over the shared-scan signature table reports the same
    verified pairs with the same exact-Jaccard scores as over
    shingle_hash_table's string-hashed shingles."""
    sig = D.signature_table(docs_df, "doc_id", "text", n=3).localCheckpoint(eager=True)
    got = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in D.minhash_dedup_pairs_from_shingles(
            sig.select("doc", "sh"), num_perm=64, bands=16, threshold=0.3
        ).collect()
    }
    want = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in D.minhash_dedup_pairs_from_shingles(
            _sh_table(docs_df), num_perm=64, bands=16, threshold=0.3
        ).collect()
    }
    # LSH candidate sets may differ between hash families; the VERIFIED
    # exact-dup and near-dup pairs on this corpus must not.
    assert set(got) == set(want)
    for k in got:
        assert got[k] == pytest.approx(want[k], abs=1e-12)


def test_portable_md5_simhash_matches_python_reference(spark, docs_df):
    """The portable simhash path (signature_table(simhash_hash='md5'),
    driver-oracled in dedup_signature_pairs) must agree bit-for-bit
    with an independent pure-Python recomputation of the md5-prefix
    token hash → majority-bit fold — the same computation the DuckDB
    oracle SQL performs — and its blocked near-pairs must equal
    brute-force Hamming pairs (completeness on the portable family
    too, not just blake2b)."""
    import hashlib

    got = {
        r["doc"]: r["simhash"]
        for r in D.signature_table(
            docs_df, "doc_id", "text", n=3, simhash_hash="md5"
        ).collect()
    }

    def ref_simhash(text: str) -> int:
        toks = text.strip().split(" ")
        counts = [0] * 64
        for t in toks:
            h = int.from_bytes(hashlib.md5(t.encode()).digest()[:8], "big")
            for b in range(64):
                counts[b] += (h >> b) & 1
        sig = 0
        for b in range(64):
            if 2 * counts[b] > len(toks):
                sig |= 1 << b
        return sig - (1 << 64) if sig >= (1 << 63) else sig

    for doc_id, text in DOCS:
        assert got[doc_id] == ref_simhash(text), doc_id

    sig = D.signature_table(
        docs_df, "doc_id", "text", n=3, simhash_hash="md5"
    ).select("doc", "simhash")
    blocked = {
        (r["doc_a"], r["doc_b"]): r["hamming"]
        for r in D.simhash_near_pairs(sig, max_hamming=3).collect()
    }
    ids = sorted(got)
    brute = {
        (a, b): bin((got[a] ^ got[b]) & ((1 << 64) - 1)).count("1")
        for i, a in enumerate(ids)
        for b in ids[i + 1 :]
        if bin((got[a] ^ got[b]) & ((1 << 64) - 1)).count("1") <= 3
    }
    assert blocked == brute


def test_simhash_exact_match_blocking_d0(spark, docs_df):
    """max_hamming=0 (exact-signature simhash match) — one full-width
    chunk, no mask literal overflow (round-3 ADVICE)."""
    pairs = {
        (r["doc_a"], r["doc_b"]): r["hamming"]
        for r in D.simhash_near_pairs(
            _simhashes(docs_df), max_hamming=0
        ).collect()
    }
    assert pairs == {(0, 1): 0, (3, 4): 0}


def test_ngram_hot_shingle_cap_warns(spark):
    """When the df cap actually excludes shingles, the divergence from
    the exact baseline is signalled (round-3 ADVICE)."""
    docs = spark.createDataFrame(
        [(i, "common boiler plate phrase here") for i in range(6)]
        + [(100, "a unique document that shares nothing at all")],
        "doc_id long, text string",
    )
    with pytest.warns(UserWarning, match="hot shingles"):
        D.ngram_jaccard_pairs_from_shingles(
            _sh_table(docs), threshold=0.1, max_df=3
        ).collect()


def test_minhash_signature_deterministic(spark, docs_df):
    def sigs():
        sh = D.shingle_hash_table(docs_df, "doc_id", "text", 3)
        return D.minhash_signatures_from_shingles(sh).orderBy("doc").collect()

    s1 = sigs()
    s2 = sigs()
    assert [r["signature"] for r in s1] == [r["signature"] for r in s2]


def test_connected_components_vs_union_find(spark):
    from scida_spark.functions.dedup import connected_components

    edges = [(1, 2), (2, 3), (10, 11), (20, 21), (21, 22), (22, 23), (3, 10)]
    df = spark.createDataFrame(edges, "doc_a long, doc_b long")
    got = {
        (r.node, r.cluster_id) for r in connected_components(df).collect()
    }
    # union-find ground truth
    parent = {}
    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x
    def union(a, b):
        parent[find(a)] = find(b)
    for a, b in edges:
        union(a, b)
    nodes = {n for e in edges for n in e}
    roots = {}
    for n in nodes:
        roots.setdefault(find(n), []).append(n)
    expect = {(n, min(members)) for members in roots.values() for n in members}
    assert got == expect


def test_connected_components_long_chain(spark):
    from scida_spark.functions.dedup import connected_components

    # diameter-30 chain — exercises multi-round convergence
    edges = [(i, i + 1) for i in range(30)]
    df = spark.createDataFrame(edges, "doc_a long, doc_b long")
    got = {r.node: r.cluster_id for r in connected_components(df).collect()}
    assert set(got.values()) == {0}
    assert set(got.keys()) == set(range(31))


def test_ngram_overlap_pairs_decontamination(spark):
    """Contamination primitive: known overlaps, broadcast-join plan."""
    from scida_spark.functions.dedup import ngram_overlap_pairs, shingle_hash_table

    rows = [
        (0, "alpha beta gamma delta epsilon"),       # bench
        (1, "alpha beta gamma zeta eta"),            # shares 1 3-gram w/ 0
        (2, "alpha beta gamma delta epsilon theta"), # shares 3 3-grams w/ 0
        (3, "iota kappa lambda mu nu"),              # disjoint
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    sh = shingle_hash_table(df, "doc_id", "text", n=3)
    bench = sh.filter(F.col("doc") == 0)
    corpus = sh.filter(F.col("doc") != 0)
    pairs = ngram_overlap_pairs(corpus, bench)
    got = {(r["bench_doc"], r["corpus_doc"]): r["n_shared"] for r in pairs.collect()}
    assert got == {(0, 1): 1, (0, 2): 3}
    plan = pairs._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "CartesianProduct" not in plan


def test_connected_components_disjoint_union_of_graphs(spark):
    """The dedup_cleaned_corpus slot merges the text and semantic pair
    graphs into ONE CC run over a disjoint id space (2*id / 2*id+1).
    Pin that the merged run reproduces both separate runs exactly."""
    from pyspark.sql import functions as F

    from scida_spark.functions.dedup import connected_components

    text_pairs = [(0, 1), (1, 2), (5, 6)]
    sem_pairs = [(0, 3), (3, 7), (2, 1)]
    tdf = spark.createDataFrame(text_pairs, "doc_a long, doc_b long")
    sdf = spark.createDataFrame(sem_pairs, "id_a long, id_b long")

    sep_t = {(r.node, r.cluster_id) for r in connected_components(tdf).collect()}
    sep_s = {
        (r.node, r.cluster_id)
        for r in connected_components(sdf, a_col="id_a", b_col="id_b").collect()
    }

    merged = connected_components(
        tdf.select((F.col("doc_a") * 2).alias("a"), (F.col("doc_b") * 2).alias("b"))
        .unionAll(
            sdf.select(
                (F.col("id_a") * 2 + 1).alias("a"), (F.col("id_b") * 2 + 1).alias("b")
            )
        ),
        a_col="a",
        b_col="b",
    ).collect()
    got_t = {(r.node // 2, r.cluster_id // 2) for r in merged if r.node % 2 == 0}
    got_s = {(r.node // 2, r.cluster_id // 2) for r in merged if r.node % 2 == 1}
    assert got_t == sep_t
    assert got_s == sep_s


def test_collapse_expand_equals_direct_simhash_pairs(spark):
    """Rep-level pair computation + clique expansion is row-for-row the
    direct all-docs computation on a replica-heavy corpus (the x100
    regime): signatures are pure text functions, so members relate
    exactly as their representative does."""
    from scida_spark.functions.dedup import (
        exact_clique_map,
        expand_rep_pairs,
        signature_table,
        simhash_near_pairs,
    )

    base = [
        "the quick brown fox jumps over the lazy dog today",
        "the quick brown fox jumps over the lazy cat today",
        "completely different words about spark execution plans",
        "another unrelated document mentioning parquet row groups",
    ]
    rows = []
    did = 0
    for b in base:
        for _ in range(5):  # 5-clique per base text, interleaved ids
            rows.append((did, b))
            did += 7
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    direct = simhash_near_pairs(
        signature_table(docs, "doc_id", "text").select("doc", "simhash"),
        max_hamming=6,
    )
    clique = exact_clique_map(docs, "doc_id", "text")
    reps = docs.join(
        clique.filter(F.col("doc") == F.col("rep")).select(
            F.col("doc").alias("doc_id")
        ),
        "doc_id",
        "left_semi",
    )
    rep_pairs = simhash_near_pairs(
        signature_table(reps, "doc_id", "text").select("doc", "simhash"),
        max_hamming=6,
    )
    expanded = expand_rep_pairs(rep_pairs, clique, "hamming", self_score=0)
    a = sorted(map(tuple, direct.collect()))
    b = sorted(map(tuple, expanded.collect()))
    assert a == b and len(a) > 0


def test_ngram_jaccard_collapse_exact_equals_direct(spark):
    """Jaccard pairs over one representative per distinct text, expanded
    through the replica-clique map, equal the direct pair set on a
    replica-heavy corpus (incl. the within-clique 1.0 pairs and the
    shingle-less-clique exclusion)."""
    rows = []
    did = 0
    for txt in [
        "alpha beta gamma delta epsilon zeta",
        "alpha beta gamma delta epsilon eta",
        "one two three four five six",
        "xy",                      # < n tokens: never pairs
    ]:
        for _ in range(4):
            rows.append((did, txt))
            did += 3
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    direct = sorted(
        map(tuple, D.ngram_jaccard_pairs_from_shingles(_sh_table(docs), 0.2).collect())
    )
    clique = D.exact_clique_map(docs, "doc_id", "text").localCheckpoint(eager=True)
    reps = docs.join(
        clique.filter(F.col("doc") == F.col("rep")).select(F.col("doc").alias("doc_id")),
        "doc_id",
        "left_semi",
    )
    shr = _sh_table(reps)
    collapsed = sorted(
        map(
            tuple,
            D.expand_rep_pairs(
                D.ngram_jaccard_pairs_from_shingles(shr, 0.2),
                clique,
                "jaccard",
                self_score=1.0,
                self_reps=shr.filter(F.size("sh") > 0).select("doc"),
            ).collect(),
        )
    )
    assert direct == collapsed and len(direct) > 0
    # shingle-less clique ('xy' x4) contributed nothing
    short_ids = {r[0] for r in rows if r[1] == "xy"}
    assert all(a not in short_ids and b not in short_ids for a, b, _ in direct)


# ---------------------------------------------------------------------------
# pagerank_fixed_point (r9)
# ---------------------------------------------------------------------------


def test_pagerank_fixed_point_hand_check_and_centrality(spark):
    from scida_spark.functions.dedup import pagerank_fixed_point

    # star graph: center 0 connected to 1,2,3 (symmetrized)
    und = [(0, 1), (0, 2), (0, 3)]
    edges = spark.createDataFrame(
        und + [(b, a) for a, b in und], "src long, dst long"
    )
    out = {r["node"]: r["r"] for r in pagerank_fixed_point(edges, iters=5).collect()}
    # center strictly most central; leaves identical by symmetry
    assert out[0] > out[1] and out[1] == out[2] == out[3]
    # exact replay of the integer recurrence in pure Python
    scale, n = 10**12, 4
    base = (15 * scale // 100) // n
    r = {v: scale // n for v in range(4)}
    od = {0: 3, 1: 1, 2: 1, 3: 1}
    adj_in = {0: [1, 2, 3], 1: [0], 2: [0], 3: [0]}
    for _ in range(5):
        r = {
            v: base + sum((85 * r[u]) // (100 * od[u]) for u in adj_in[v])
            for v in range(4)
        }
    assert out == r


def test_pagerank_deterministic_across_partitionings(spark):
    import random

    from scida_spark.functions.dedup import pagerank_fixed_point

    rng = random.Random(3)
    und = {(rng.randint(0, 30), rng.randint(0, 30)) for _ in range(80)}
    und = [(a, b) for a, b in und if a != b]
    rows = und + [(b, a) for a, b in und]
    e1 = spark.createDataFrame(rows, "src long, dst long").repartition(1)
    e7 = spark.createDataFrame(rows, "src long, dst long").repartition(17)
    a = {r["node"]: r["r"] for r in pagerank_fixed_point(e1, iters=4).collect()}
    b = {r["node"]: r["r"] for r in pagerank_fixed_point(e7, iters=4).collect()}
    assert a == b


# --------------------------------------------------------------------------
# Prefix-filtered complete Jaccard join (All-Pairs / PPJoin family)
# --------------------------------------------------------------------------


def _brute_jaccard(docs, n, t):
    """All-pairs reference over word n-gram shingle SETS."""
    def sset(s):
        w = s.split()
        return {tuple(w[i : i + n]) for i in range(len(w) - n + 1)}

    out = {}
    items = [(d, sset(s)) for d, s in docs]
    for i in range(len(items)):
        for j in range(i + 1, len(items)):
            (da, sa), (db, sb) = items[i], items[j]
            if not sa or not sb:
                continue
            jac = len(sa & sb) / len(sa | sb)
            if jac >= t:
                a, b = min(da, db), max(da, db)
                out[(a, b)] = jac
    return out


def test_jaccard_prefix_complete_vs_brute(spark):
    """Randomized completeness + exactness: the prefix join reports
    EXACTLY the brute-force qualifying pairs with identical ratios, at
    two thresholds."""
    import random

    rng = random.Random(11)
    vocab = [f"w{k}" for k in range(30)]
    docs = []
    for d in range(60):
        base = rng.sample(vocab, 8)
        docs.append((d, " ".join(base * 2)))
        if d % 3 == 0:  # planted near-dup: one-word edit
            mut = list(base)
            mut[0] = rng.choice(vocab)
            docs.append((1000 + d, " ".join(mut * 2)))
    df = spark.createDataFrame(docs, "doc_id long, text string")
    for t in (0.4, 0.7):
        got = {
            (r["doc_a"], r["doc_b"]): r["jaccard"]
            for r in D.jaccard_pairs_prefix_from_shingles(
                _sh_table(df), threshold=t
            ).collect()
        }
        want = _brute_jaccard(docs, 3, t)
        assert set(got) == set(want), f"t={t}"
        for k in want:
            assert abs(got[k] - want[k]) < 1e-12


def test_jaccard_prefix_finds_hot_only_pairs(spark):
    """The pair whose every shared shingle is HOT — the documented
    blind spot of the df-capped inverted index — is found by the
    prefix join (its completeness needs no df carve-out)."""
    hot = "alpha beta gamma delta epsilon zeta eta theta "  # shared by everyone
    docs = [(k, hot + f"uniq{k} pad{k}") for k in range(12)]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    t = 0.45  # shared = 6 all-hot shingles, |set| = 8 -> J = 6/10 = 0.6
    import warnings

    with warnings.catch_warnings():
        warnings.simplefilter("ignore")
        capped = {
            (r["doc_a"], r["doc_b"])
            for r in D.ngram_jaccard_pairs_from_shingles(
                _sh_table(df), threshold=t, max_df=4
            ).collect()
        }
    prefix = {
        (r["doc_a"], r["doc_b"])
        for r in D.jaccard_pairs_prefix_from_shingles(_sh_table(df), threshold=t).collect()
    }
    want = set(_brute_jaccard(docs, 3, t))
    assert prefix == want
    assert capped < want  # the cap really does miss hot-only pairs here


def test_jaccard_prefix_no_cartesian_plan(spark):
    df = spark.createDataFrame(
        [(k, f"a b c d e f g h{k}") for k in range(10)], "doc_id long, text string"
    )
    plan = D.jaccard_pairs_prefix_from_shingles(_sh_table(df))._jdf.queryExecution(
    ).executedPlan().toString()
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


# --------------------------------------------------------------------------
# Incremental connected components (label-store merge)
# --------------------------------------------------------------------------


def _full_cc(edges, nodes):
    """Reference: labels = min reachable id, pure Python union-find."""
    parent = {n: n for n in nodes}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in nodes}


def test_merge_cc_labels_n_batches_equal_full_cc(spark):
    """Feeding edges in batches through merge_cc_labels (keep-latest
    store) converges to exactly the labels of one CC over everything —
    including the hard case where a later batch BRIDGES two existing
    clusters."""
    from scida_spark.functions.dedup import merge_cc_labels

    batches = [
        # batch 0: two separate clusters {1,2} {5,6} + singleton 9
        ([(1, 2), (5, 6)], [1, 2, 5, 6, 9]),
        # batch 1: extends {5,6} with 7; new pair {10,11}
        ([(6, 7), (10, 11)], [7, 10, 11]),
        # batch 2: BRIDGES {1,2} and {5,6,7} through new doc 20; joins 9
        ([(20, 2), (20, 7), (9, 21)], [20, 21]),
    ]
    store = {}  # doc -> label (keep-latest semantics)
    for edges, nodes in batches:
        labels_df = spark.createDataFrame(
            list(store.items()) or [(None, None)], "doc long, label long"
        ).filter("doc IS NOT NULL")
        out = merge_cc_labels(
            labels_df,
            spark.createDataFrame(edges, "doc_a long, doc_b long"),
            spark.createDataFrame([(n,) for n in nodes], "doc long"),
        )
        for r in out.collect():
            store[r["doc"]] = r["label"]
    all_edges = [e for es, _ in batches for e in es]
    all_nodes = [n for _, ns in batches for n in ns]
    assert store == _full_cc(all_edges, all_nodes)


def test_merge_cc_labels_randomized_vs_full(spark):
    """Randomized: arbitrary edge arrival order across 4 batches ==
    batch CC of the union, across seeds."""
    import random

    from scida_spark.functions.dedup import merge_cc_labels

    for seed in (5, 23):
        rng = random.Random(seed)
        nodes = list(range(60))
        edges = [
            (rng.randrange(60), rng.randrange(60)) for _ in range(50)
        ]
        edges = [(a, b) for a, b in edges if a != b]
        rng.shuffle(nodes)
        store = {}
        # nodes arrive over 4 batches; an edge goes with the batch in
        # which its LATER endpoint arrives (realistic ingest order)
        arrival = {n: i * 4 // len(nodes) for i, n in enumerate(nodes)}
        for k in range(4):
            ns = [n for n in nodes if arrival[n] == k]
            es = [
                (a, b)
                for a, b in edges
                if max(arrival[a], arrival[b]) == k
            ]
            labels_df = spark.createDataFrame(
                list(store.items()) or [(None, None)], "doc long, label long"
            ).filter("doc IS NOT NULL")
            out = merge_cc_labels(
                labels_df,
                spark.createDataFrame(es or [(None, None)], "doc_a long, doc_b long").filter(
                    "doc_a IS NOT NULL"
                ),
                spark.createDataFrame([(n,) for n in ns], "doc long"),
            )
            for r in out.collect():
                store[r["doc"]] = r["label"]
        assert store == _full_cc(edges, list(range(60))), seed


def test_jaccard_prefix_exact_threshold_boundary(spark):
    """ADVICE regression: thresholds where t*|s| is mathematically an
    integer but the double product rounds a hair HIGH (t=0.55, |A|=100
    -> 55.000000000000007) made the naive ceil produce a one-short
    prefix, dropping pairs with Jaccard EXACTLY at the threshold.

    Fixture forces the miss deterministically: A has 100 shingles, B is
    a 55-subset of A (Jaccard = 55/100 = 0.55 exactly). Rare-first
    canonical order puts A's 45 unique (df=1) shingles ahead of the 55
    shared (df=2) ones, so A's naive 45-prefix is exactly the unique
    shingles — disjoint from B's prefix — and the pair vanished. The
    robust ceil extends A's prefix to 46, reaching the first shared
    shingle."""
    from scida_spark.functions.dedup import jaccard_pairs_prefix_from_shingles

    shared = [1000 + i for i in range(55)]
    only_a = [i for i in range(45)]
    sh = spark.createDataFrame(
        [(1, only_a + shared), (2, shared)],
        "doc long, sh array<long>",
    ).localCheckpoint(eager=True)
    got = jaccard_pairs_prefix_from_shingles(sh, threshold=0.55).collect()
    assert len(got) == 1
    assert (got[0]["doc_a"], got[0]["doc_b"]) == (1, 2)
    assert abs(got[0]["jaccard"] - 0.55) < 1e-12


def test_jaccard_prefix_positional_filter_boundary(spark):
    """r15 positional-filter regression: the candidate pruning bound
    I <= cp + min(sza - i2, szb - j2) must KEEP pairs whose Jaccard is
    EXACTLY the threshold (the bound is tight for a pair whose common
    shingles are a suffix run, so any off-by-one or slack in the wrong
    direction drops a qualifying pair), and the pruned answer must
    equal the unpruned one on a corpus where most candidates fail
    verification (the case the filter exists for)."""
    import itertools
    import random

    from scida_spark.functions.dedup import jaccard_pairs_prefix_from_shingles

    # Exact-boundary pair: |A|=|B|=4, I=3 -> J = 3/5 = 0.6 at t=0.6.
    sh = spark.createDataFrame(
        [(1, [10, 11, 12, 1]), (2, [10, 11, 12, 2])],
        "doc long, sh array<long>",
    ).localCheckpoint(eager=True)
    got = jaccard_pairs_prefix_from_shingles(sh, threshold=0.6).collect()
    assert len(got) == 1 and abs(got[0]["jaccard"] - 0.6) < 1e-12

    # Random corpus with heavy non-qualifying overlap: pruned == brute.
    rng = random.Random(7)
    docs = [
        (d, sorted(rng.sample(range(40), rng.randint(6, 14))))
        for d in range(50)
    ]
    sh2 = spark.createDataFrame(
        [(d, [int(x) for x in s]) for d, s in docs], "doc long, sh array<long>"
    ).localCheckpoint(eager=True)
    t = 0.4
    got2 = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in jaccard_pairs_prefix_from_shingles(sh2, threshold=t).collect()
    }
    want = {}
    for (da, sa), (db, sb) in itertools.combinations(docs, 2):
        i = len(set(sa) & set(sb))
        j = i / (len(set(sa)) + len(set(sb)) - i)
        if j >= t:
            want[(min(da, db), max(da, db))] = j
    assert set(got2) == set(want)
    for k, v in want.items():
        assert abs(got2[k] - v) < 1e-12


def _lp_edges(spark, pairs):
    rows = [(a, b) for a, b in pairs] + [(b, a) for a, b in pairs]
    return spark.createDataFrame(rows, "src long, dst long")


def test_label_propagation_hand_computed(spark):
    """Path 1-2-3-4-5 with seeds 1->10, 5->20 exercises every rule:
    synchronous update (3 is unreached in round 1), clamping (1, 5
    never change), tie-break to the SMALLEST label (3 sees 10 and 20
    once each), and re-voting of already-labeled non-seeds (4 takes 20
    in round 1, then flips to 10 in round 3 when neighbor 3's 10 ties
    neighbor 5's 20). Plus a star 6,7,8 -> 9 where true majority
    (30:2 vs 40:1) must beat the tie-break."""
    from scida_spark.functions.dedup import label_propagation

    edges = _lp_edges(
        spark, [(1, 2), (2, 3), (3, 4), (4, 5), (6, 9), (7, 9), (8, 9)]
    )
    seeds = spark.createDataFrame(
        [(1, 10), (5, 20), (6, 30), (7, 30), (8, 40)], "node long, label long"
    )
    got = {
        r["node"]: r["label"]
        for r in label_propagation(edges, seeds, iters=3).collect()
    }
    assert got == {1: 10, 2: 10, 3: 10, 4: 10, 5: 20, 6: 30, 7: 30, 8: 40, 9: 30}
    # after 1 round, 3 must still be unlabeled and 4 must hold 20
    r1 = {
        r["node"]: r["label"]
        for r in label_propagation(edges, seeds, iters=1).collect()
    }
    assert 3 not in r1 and r1[4] == 20 and r1[2] == 10


def test_label_propagation_partitioning_deterministic(spark):
    """Same labels regardless of input partitioning (integer votes +
    total-order tie-break leave nothing for shuffle order to vary)."""
    from scida_spark.functions.dedup import label_propagation

    pairs = [(i, i + 1) for i in range(60)] + [(i, i + 7) for i in range(50)]
    edges = _lp_edges(spark, pairs)
    seeds = spark.createDataFrame(
        [(0, 3), (19, 1), (44, 2)], "node long, label long"
    )
    a = {
        (r["node"], r["label"])
        for r in label_propagation(edges, seeds, iters=4).collect()
    }
    b = {
        (r["node"], r["label"])
        for r in label_propagation(
            edges.repartition(17, "dst"), seeds.repartition(3), iters=4
        ).collect()
    }
    assert a == b and len(a) > 3


def test_label_propagation_randomized_vs_simulation(spark):
    """Randomized graphs vs a pure-Python synchronous simulation —
    the operator's exact semantics (clamped seeds, majority with
    smallest-label ties, frontier growth) on shapes a fixture can't
    enumerate."""
    import random
    from collections import defaultdict

    from scida_spark.functions.dedup import label_propagation

    rng = random.Random(808)
    for trial in range(4):
        n = rng.randint(6, 24)
        pairs = {
            (a, b)
            for _ in range(rng.randint(n, 3 * n))
            for a, b in [sorted(rng.sample(range(n), 2))]
        }
        seeds = {
            u: rng.randint(0, 2)
            for u in rng.sample(range(n), rng.randint(1, max(1, n // 3)))
        }
        iters = rng.randint(1, 4)
        adj = defaultdict(set)
        for a, b in pairs:
            adj[a].add(b)
            adj[b].add(a)
        lab = dict(seeds)
        for _ in range(iters):
            new = dict(seeds)
            for u in range(n):
                if u in seeds:
                    continue
                votes = defaultdict(int)
                for v in adj[u]:
                    if v in lab:
                        votes[lab[v]] += 1
                if votes:
                    new[u] = min(votes, key=lambda L: (-votes[L], L))
                elif u in lab:
                    new[u] = lab[u]
            lab = new
        edges = spark.createDataFrame(
            [(a, b) for a, b in pairs] + [(b, a) for a, b in pairs],
            "src long, dst long",
        )
        sdf = spark.createDataFrame(
            list(seeds.items()), "node long, label long"
        )
        got = {
            r["node"]: r["label"]
            for r in label_propagation(edges, sdf, iters=iters).collect()
        }
        assert got == lab, (trial, got, lab)


def test_containment_pairs_quote_detection(spark):
    """ngram_containment_pairs_from_shingles (r12): a short excerpt inside a long doc
    scores containment ~1 while its Jaccard stays below any dedup
    threshold (the asymmetry the operator exists for); values match a
    brute-force shingle-set recomputation; both directions reported
    independently; layout-independent."""
    long_words = [f"w{i}" for i in range(60)]
    quote = long_words[20:26]  # 6 words -> 4 3-gram shingles, all in long
    rows = [
        (0, " ".join(long_words)),
        (1, " ".join(quote)),
        (2, "totally different content with other words entirely here"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    got = {
        (r["src_doc"], r["dst_doc"]): r["containment"]
        for r in D.ngram_containment_pairs_from_shingles(_sh_table(df), threshold=0.9).collect()
    }
    # every shingle of doc 1 appears in doc 0 -> containment exactly 1.0
    assert got == {(1, 0): 1.0}
    # the reverse direction is tiny (4/58) and correctly NOT reported
    lo = {
        (r["src_doc"], r["dst_doc"]): r["containment"]
        for r in D.ngram_containment_pairs_from_shingles(_sh_table(df), threshold=0.01).collect()
    }
    assert lo[(1, 0)] == 1.0 and abs(lo[(0, 1)] - 4 / 58) < 1e-12
    # Jaccard is blind to the same pair at any realistic threshold
    j = D.ngram_jaccard_pairs_from_shingles(_sh_table(df), threshold=0.2)
    assert j.count() == 0
    # layout independence
    again = {
        (r["src_doc"], r["dst_doc"]): r["containment"]
        for r in D.ngram_containment_pairs_from_shingles(
            _sh_table(df.repartition(5)), threshold=0.01
        ).collect()
    }
    assert again == lo


def test_containment_pairs_hot_shingle_verify_path(spark):
    """With a df cap that excludes hot shingles, the verify path still
    reports exact containment for pairs reachable through a cold
    shingle, and warns about the carve-out."""
    import warnings

    # 10 docs share the hot phrase; docs 0/1 also share a cold tail
    hot = "aa bb cc dd"
    rows = [(i, hot) for i in range(2, 12)]
    rows += [(0, hot + " xx yy zz"), (1, hot + " xx yy zz qq")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        got = {
            (r["src_doc"], r["dst_doc"]): round(r["containment"], 6)
            for r in D.ngram_containment_pairs_from_shingles(
                _sh_table(df), threshold=0.99, max_df=3
            ).collect()
        }
        assert any("hot shingles" in str(x.message) for x in w)
    # doc 0's shingles ('aa bb cc','bb cc dd','cc dd xx','dd xx yy',
    # 'xx yy zz') are ALL in doc 1 -> containment 1.0 via the cold tail
    assert got[(0, 1)] == 1.0


# --------------------------------------------------------------------------
# Exact-substring dedup (r14): winnowing anchors + neighborhood verify
# --------------------------------------------------------------------------


def test_exact_substring_pairs_matches_lgram_join(spark):
    """exact_substring_pairs == the naive L-gram-join semantics (a
    pair shares a >=L-char verbatim substring iff it shares an
    L-gram): planted 80-char shares pair, sub-L shares don't, and the
    winnowing blocking loses nothing."""
    import random

    from scida_spark.functions.dedup import exact_substring_pairs

    random.seed(7)
    alph = "abcdefghij "

    def rnd(n):
        return "".join(random.choice(alph) for _ in range(n))

    base = [rnd(200) for _ in range(30)]
    rows = [(i, t) for i, t in enumerate(base)]
    for i in (0, 3, 6):  # 80-char verbatim share -> certain pair
        rows.append((100 + i, rnd(20) + base[i][50:130] + rnd(25)))
    rows.append((200, rnd(30) + base[1][10:69] + rnd(30)))  # 59 chars
    rows.append((300, ""))  # empty text: no grams, no crash
    rows.append((301, "short"))  # sub-k text
    # IDENTICAL docs shorter than L: no L-gram exists, so NOT a pair
    # (r14 regression: an unguarded sequence(1,0) ran descending and
    # emitted phantom truncated grams that false-paired these)
    sub_l = rnd(58)
    rows.append((400, sub_l))
    rows.append((401, sub_l))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r["doc_a"], r["doc_b"])
        for r in exact_substring_pairs(
            df, "doc_id", "text", min_len=60, k=16
        ).collect()
    }

    def grams(t, L=60):
        return {t[i : i + L] for i in range(len(t) - L + 1)}

    g = {i: grams(t) for i, t in rows}
    want = {(a, b) for a in g for b in g if a < b and g[a] & g[b]}
    assert got == want
    assert {(0, 100), (3, 103), (6, 106)} <= got


def test_exact_substring_pairs_partitioning_invariant(spark):
    from scida_spark.functions.dedup import exact_substring_pairs

    rows = [(i, ("xyz%d " % (i % 5)) * 40) for i in range(20)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    a = {
        (r["doc_a"], r["doc_b"])
        for r in exact_substring_pairs(df, "doc_id", "text", 60, 16).collect()
    }
    b = {
        (r["doc_a"], r["doc_b"])
        for r in exact_substring_pairs(
            df.repartition(13), "doc_id", "text", 60, 16
        ).collect()
    }
    assert a == b
    # docs with i%5 equal share their entire text -> all such pairs
    assert {(0, 5), (0, 10), (1, 6)} <= a
    assert (0, 1) not in a


def test_winnow_anchor_density_and_guarantee(spark):
    """Anchors are ~2/(w+1) of gram positions (winnowing theory) and
    any >= w+k-1 shared substring yields a shared anchor hash."""
    import random

    from scida_spark.functions.dedup import winnow_anchors

    random.seed(11)
    t = "".join(random.choice("abcdefghijklmnop") for _ in range(2000))
    df = spark.createDataFrame([(0, t)], "doc_id long, text string")
    anchors = winnow_anchors(df, "doc_id", "text", k=16, window=45).collect()
    n_grams = len(t) - 15
    density = len(anchors) / n_grams
    assert 0.01 < density < 0.12, density  # ~2/46 = 0.043 expected
    # shared-substring guarantee across two docs
    t2 = "Z" * 50 + t[500:700] + "Q" * 50
    df2 = spark.createDataFrame(
        [(0, t), (1, t2)], "doc_id long, text string"
    )
    by_doc = {}
    for r in winnow_anchors(df2, "doc_id", "text", k=16, window=45).collect():
        by_doc.setdefault(r["doc_id"], set()).add(r["h"])
    assert by_doc[0] & by_doc[1], "winnowing guarantee violated"


def test_winnow_arrow_matches_codegen(spark):
    """The linear monotonic-queue (Arrow) winnow is BIT-IDENTICAL to
    the codegen slice/array_min winnow — same (id, h, pos) set — on
    random text, tie-heavy repeated text (equal hashes in a window
    exercise the smallest-pos tie-break), short/empty/sub-k docs
    (suffix windows + degenerate cases), and non-ASCII text (code-
    point slicing + UTF-8 md5)."""
    import random

    from scida_spark.functions.dedup import winnow_anchors

    random.seed(23)
    rows = [
        (0, "".join(random.choice("abcdefgh") for _ in range(3000))),
        (1, "abcab" * 400),  # heavy hash ties within every window
        (2, "x" * 200),  # ALL grams identical: pure tie-break test
        (3, ""),
        (4, "tiny"),
        (5, "ürlaub-füß" * 120),  # multi-byte UTF-8
        (6, "".join(random.choice("abcdefgh") for _ in range(60))),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    for k, w in ((16, 45), (8, 12), (4, 1)):
        cg = {
            (r["doc_id"], r["h"], r["pos"])
            for r in winnow_anchors(
                df, "doc_id", "text", k=k, window=w, engine="codegen"
            ).collect()
        }
        ar = {
            (r["doc_id"], r["h"], r["pos"])
            for r in winnow_anchors(
                df, "doc_id", "text", k=k, window=w, engine="arrow"
            ).collect()
        }
        assert cg == ar, (k, w, cg ^ ar)
        # auto (split at arrow_min_len=100: docs 0,1,2,5 go Arrow,
        # the rest codegen) agrees with both
        auto = {
            (r["doc_id"], r["h"], r["pos"])
            for r in winnow_anchors(
                df, "doc_id", "text", k=k, window=w, arrow_min_len=100
            ).collect()
        }
        assert auto == cg


def test_exact_substring_pairs_long_doc_arrow_path(spark):
    """exact_substring_pairs stays correct when documents are long
    enough to cross WINNOW_ARROW_MIN_LEN (the auto split routes them
    through the linear kernel): a planted 80-char excerpt from a
    20 KB book is found, an unrelated 20 KB book is not paired."""
    import random

    from scida_spark.functions.dedup import exact_substring_pairs

    random.seed(31)

    def rnd(n):
        return "".join(random.choice("abcdefghij ") for _ in range(n))

    book_a, book_b = rnd(20000), rnd(20000)
    rows = [
        (0, book_a),
        (1, book_b),
        (2, rnd(50) + book_a[7000:7080] + rnd(50)),  # short doc, long match
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r["doc_a"], r["doc_b"])
        for r in exact_substring_pairs(
            df, "doc_id", "text", min_len=60, k=16
        ).collect()
    }
    assert got == {(0, 2)}
