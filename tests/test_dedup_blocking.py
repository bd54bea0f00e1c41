"""Blocking-quality guarantees for the signature dedup operators.

Three contracts pinned here (r2 verdict findings #1/#2/#3):
  * SimHash pigeonhole blocking is COMPLETE (candidates ⊇ all pairs
    within the requested Hamming distance) for several distances,
    including the auto level=2 composite-key regime — protects against
    silent recall loss when the chunking scheme changes.
  * SimHash blocking is NON-DEGENERATE at scale: on real sf0.001/0.01
    documents the distinct candidate count is a small fraction of
    N(N-1)/2 (the r2 single-chunk split at max_hamming=8 produced 85 %
    of all pairs — an all-pairs join in disguise).
  * MinHash banding is matched to its threshold: recall ≥ 0.9 on a
    corpus with known Jaccard pairs in the [0.2, 0.4] band at the
    registered b=64/r=2 parameters.
  * The hot-shingle df cap bounds inverted-index candidates on a
    boilerplate-heavy corpus without changing results on a normal one.
"""

import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from scida_spark.functions import dedup as D


def _sh_table(df):
    """The materialized (doc, sh) 3-gram shingle table the pair operators take."""
    return D.shingle_hash_table(df, "doc_id", "text", 3).localCheckpoint(eager=True)


# --------------------------------------------------------------------------
# SimHash completeness (property-style, seeded)
# --------------------------------------------------------------------------


def _brute_pairs(sigs: dict[int, int], d: int) -> set[tuple[int, int]]:
    ids = sorted(sigs)
    out = set()
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            if bin((sigs[a] ^ sigs[b]) & ((1 << 64) - 1)).count("1") <= d:
                out.add((a, b))
    return out


def _flip_bits(sig: int, bits) -> int:
    """XOR signed-64 sig with the given bit positions, in pure Python
    (wraps back to signed)."""
    v = (sig & ((1 << 64) - 1)) ^ sum(1 << int(b) for b in set(bits))
    return v - (1 << 64) if v >= (1 << 63) else v


@pytest.mark.parametrize("d", [1, 3, 8, 12])
def test_simhash_blocking_complete_at_distance(spark, d):
    rng = np.random.RandomState(1234 + d)
    # 120 random signatures + planted near pairs at distances 0..d+2
    # (the +1/+2 plants verify the hamming filter excludes them).
    base = rng.randint(-(2**63), 2**63, size=120, dtype=np.int64)
    sigs = {i: int(v) for i, v in enumerate(base)}
    nid = 1000
    for dist in range(0, d + 3):
        src = int(base[rng.randint(0, 120)])
        sigs[nid] = _flip_bits(src, rng.choice(64, size=dist, replace=False))
        nid += 1
    df = spark.createDataFrame(
        [(k, v) for k, v in sigs.items()], "doc long, simhash long"
    )
    got = {
        (r["doc_a"], r["doc_b"])
        for r in D.simhash_near_pairs(df, max_hamming=d).collect()
    }
    expect = _brute_pairs(sigs, d)
    assert got == expect  # complete AND exact (no pair beyond d survives)


def test_simhash_blocking_complete_both_levels(spark):
    # level=1 and level=2 must produce identical results for the same d.
    rng = np.random.RandomState(7)
    base = rng.randint(-(2**63), 2**63, size=60, dtype=np.int64)
    sigs = {i: int(v) for i, v in enumerate(base)}
    for k in range(20):
        src = int(base[k])
        sigs[500 + k] = _flip_bits(src, rng.choice(64, size=rng.randint(0, 7), replace=False))
    df = spark.createDataFrame(
        [(k, v) for k, v in sigs.items()], "doc long, simhash long"
    )
    r1 = {
        (r["doc_a"], r["doc_b"], r["hamming"])
        for r in D.simhash_near_pairs(df, max_hamming=6, level=1).collect()
    }
    r2 = {
        (r["doc_a"], r["doc_b"], r["hamming"])
        for r in D.simhash_near_pairs(df, max_hamming=6, level=2).collect()
    }
    assert r1 == r2 == {
        (a, b, h)
        for (a, b) in _brute_pairs(sigs, 6)
        for h in [bin((sigs[a] ^ sigs[b]) & ((1 << 64) - 1)).count("1")]
    }


def test_simhash_blocking_nondegenerate_on_real_docs(spark):
    """The r2 regression: the registered query's blocking emitted 85 %
    of all pairs as candidates. At the registered max_hamming=3 (16-bit
    chunk keys) distinct candidates must stay a small fraction of
    N(N-1)/2 on the driver's real document corpus (measured ~2 % at
    sf0.001; the corpus's median pairwise SimHash distance is only ~18
    bits, which is WHY a d=8 registration can never block well here —
    any complete scheme must emit the pair mass at distance 10-20)."""
    sf = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
    docs = spark.read.parquet(f"{sf}/documents.parquet")
    n = docs.count()
    sigs = D.signature_table(docs, "doc_id", "text").select("doc", "simhash")
    cands = (
        D.simhash_candidate_pairs(sigs, max_hamming=3)
        .select("doc_a", "doc_b")
        .distinct()
        .count()
    )
    allpairs = n * (n - 1) / 2
    assert cands < allpairs / 10, (cands, allpairs)


# --------------------------------------------------------------------------
# MinHash banding ↔ threshold contract
# --------------------------------------------------------------------------


def _mk_banded_corpus(seed=42, nbase=60, ntok=40):
    """Doc pairs with controlled shingle overlap: partner docs share a
    prefix of varying length, tails drawn from a huge vocab so
    cross-pair similarity is ~0. Returns (rows, truth) where truth maps
    qualifying (a, b) → exact 3-gram Jaccard."""
    rng = np.random.RandomState(seed)

    def tok():
        return f"w{rng.randint(0, 10**9)}"

    rows, texts = [], {}
    for i in range(nbase):
        a_toks = [tok() for _ in range(ntok)]
        keep = int(rng.randint(10, ntok))  # shared prefix length
        b_toks = a_toks[:keep] + [tok() for _ in range(ntok - keep)]
        texts[2 * i] = a_toks
        texts[2 * i + 1] = b_toks
        rows.append((2 * i, " ".join(a_toks)))
        rows.append((2 * i + 1, " ".join(b_toks)))
    truth = {}
    for i in range(nbase):
        a, b = texts[2 * i], texts[2 * i + 1]
        sa = {" ".join(a[j : j + 3]) for j in range(len(a) - 2)}
        sb = {" ".join(b[j : j + 3]) for j in range(len(b) - 2)}
        jac = len(sa & sb) / len(sa | sb)
        if jac >= 0.2:
            truth[(2 * i, 2 * i + 1)] = jac
    return rows, truth


def test_minhash_recall_at_threshold_band(spark):
    rows, truth = _mk_banded_corpus()
    band = {k for k, v in truth.items() if 0.2 <= v <= 0.4}
    assert len(band) >= 15  # the corpus genuinely exercises the band
    df = spark.createDataFrame(rows, "doc_id long, text string")
    found = {
        (r["doc_a"], r["doc_b"])
        for r in D.minhash_dedup_pairs_from_shingles(
            _sh_table(df), num_perm=128, bands=64, threshold=0.2
        ).collect()
    }
    # precision: the exact-Jaccard verify step guarantees no pair below
    # threshold survives
    assert found <= set(truth)
    recall_band = len(found & band) / len(band)
    assert recall_band >= 0.9, (recall_band, len(band))
    # overall recall across the whole ≥0.2 truth set
    assert len(found) / len(truth) >= 0.9


# --------------------------------------------------------------------------
# Hot-shingle df cap
# --------------------------------------------------------------------------


def test_ngram_df_cap_bounds_candidates_on_boilerplate(spark):
    """300 docs sharing a 6-token boilerplate prefix (hot shingles with
    df=300) + unique tails. The cap drops the hot shingles while pair
    RESULTS are unchanged (the boilerplate-only overlap is far below
    threshold either way)."""
    rng = np.random.RandomState(99)
    boiler = "terms of service apply to all"
    rows = [
        (i, boiler + " " + " ".join(f"u{rng.randint(0, 10**9)}" for _ in range(20)))
        for i in range(300)
    ]
    sh = _sh_table(spark.createDataFrame(rows, "doc_id long, text string"))
    # the reported pairs agree (none qualify at 0.5 here); the cap
    # WARNS about the excluded hot shingles — assert it, don't leak it
    with pytest.warns(UserWarning, match="hot shingles"):
        assert (
            D.ngram_jaccard_pairs_from_shingles(sh, 0.5, max_df=16).count() == 0
        )
    assert D.ngram_jaccard_pairs_from_shingles(sh, 0.5, max_df=None).count() == 0


def test_ngram_df_cap_preserves_results(spark):
    """Capped vs uncapped results identical on a normal near-dup corpus
    (every qualifying pair shares at least one cool shingle)."""
    rows, truth = _mk_banded_corpus(seed=7, nbase=30)
    sh = _sh_table(spark.createDataFrame(rows, "doc_id long, text string"))
    capped = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in D.ngram_jaccard_pairs_from_shingles(sh, 0.2, max_df=256).collect()
    }
    uncapped = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in D.ngram_jaccard_pairs_from_shingles(sh, 0.2, max_df=None).collect()
    }
    assert capped == uncapped
    assert set(capped) == set(truth)
    for k, v in truth.items():
        assert capped[k] == pytest.approx(v, abs=1e-12)
