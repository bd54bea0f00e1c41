"""Deduplication operators: exact, n-gram Jaccard, MinHash+LSH, SimHash,
embedding-cosine near-dup.

Scale design (100 TB):
  * exact dedup — hash-groupBy: one shuffle on the digest, map-side
    combine; never materializes text twice.
  * n-gram Jaccard — pairwise via shingle inverted index (explode →
    df-capped self-join on shingle → exact verify over full shingle
    sets). Hot shingles (df > cap) are excluded from candidate
    generation, bounding the join at O(cap · rows); at 100 TB use
    MinHash LSH below to generate candidates and verify only those.
  * MinHash LSH — shingle → 64-bit hash → K permutations → minima →
    B bands; identical band hash ⇒ candidate pair. All shuffles are on
    band keys; candidates then verified with exact Jaccard. This is the
    scale path: cost is O(docs × K) + O(candidates).
  * SimHash — 64-bit signature; near-dups = small Hamming distance.
  * embedding cosine — see functions/similarity.py.

The pair operators take an already-materialized (doc, sh) shingle
table (``shingle_hash_table`` / ``signature_table``), so one corpus
scan feeds every family.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

def _spread_small_input(df: DataFrame, probe: bool = True) -> DataFrame:
    """Spread a tiny input across the cluster before an Arrow-batched
    kernel scan: a sub-128 MB parquet arrives as one split, which would
    pin the Pandas-UDF scan to one core. Strictly a no-op when the
    input already has enough splits — the 100 TB case never pays an
    extra shuffle here; only the degenerate small-file case does (and
    its shuffle is by definition tiny).

    The split-count probe (``df.rdd.getNumPartitions()``) forces
    physical planning of the upstream plan; callers that already know
    the input is well-partitioned (or materialized) pass
    ``probe=False`` to skip both the probe and the repartition."""
    if not probe:
        return df
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism
    if df.rdd.getNumPartitions() < max(2, target // 2):
        return df.repartition(target)
    return df


def jaccard_accept(n_inter, n_union, threshold: float):
    """THE acceptance predicate for near-dup verify joins:
    ``n_inter / n_union >= threshold`` in this exact IEEE form
    (cast-to-double division FIRST, then compare). Every verify site —
    batch (the Jaccard, minhash and prefix verifies) and
    streaming (``streaming/ingest.py``, ``streaming/cc.py``) — must go
    through this helper: the algebraically-equal multiplied form
    ``n_inter >= threshold * n_union`` can disagree at exact-threshold
    rounding boundaries, which would break the pinned "N-batch ingest
    == one-batch CC" invariant for a boundary pair."""
    return (n_inter.cast("double") / n_union.cast("double")) >= F.lit(
        float(threshold)
    )


# --------------------------------------------------------------------------
# Exact dedup
# --------------------------------------------------------------------------


def exact_dedup_clusters(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Group identical texts by md5; canonical id = min id per cluster."""
    return (
        df.select(F.col(id_col), F.md5(F.col(text_col)).alias("digest"))
        .groupBy("digest")
        .agg(F.count("*").alias("n"), F.min(id_col).alias("canonical_id"))
    )


def exact_dedup(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Keep one row per distinct text (the min-id row). Two shuffles:
    digest-agg + semi-join back; both on the digest key."""
    keep = exact_dedup_clusters(df, id_col, text_col).select(
        F.col("canonical_id").alias(id_col)
    )
    return df.join(keep, id_col, "left_semi")


# --------------------------------------------------------------------------
# Shingles + exact n-gram Jaccard
# --------------------------------------------------------------------------


def shingle_hash_table(df: DataFrame, id_col: str, text_col: str, n: int = 3) -> DataFrame:
    """(doc, sh: array<long>) — distinct word-n-gram shingles as 64-bit
    blake2b hashes, computed in one Arrow-batched Pandas UDF.

    This is the hot-path form: Spark's higher-order functions
    (transform/array_distinct) execute *interpreted*, outside
    whole-stage codegen, so JVM-side shingle-string construction costs
    ~2 ms/doc; the vectorized Python kernel is ~30x faster and the
    shingle strings never cross into the JVM at all — only the 8-byte
    hashes. Downstream set ops (intersection/union/minhash) are
    hash-based, exact modulo 64-bit collisions (~(k/2^32)^2 per corpus
    shard — negligible and deterministic).
    """
    import hashlib

    @F.pandas_udf("array<long>")
    def _sh(texts: pd.Series) -> pd.Series:
        out = []
        # Batch-local memo: shingles are a pure function of the text,
        # so exact-duplicate replicas (the regime dedup exists for)
        # hash once per batch instead of once per copy.
        cache: dict = {}
        for t in texts:
            got = cache.get(t)
            if got is not None:
                out.append(got)
                continue
            toks = (t or "").strip().split(" ")
            if len(toks) < n:
                arr = np.empty(0, dtype=np.int64)
            else:
                seen = {
                    int.from_bytes(
                        hashlib.blake2b(
                            " ".join(toks[i : i + n]).encode(), digest_size=8
                        ).digest(),
                        "big",
                        signed=True,
                    )
                    for i in range(len(toks) - n + 1)
                }
                arr = np.fromiter(seen, dtype=np.int64, count=len(seen))
            cache[t] = arr
            out.append(arr)
        return pd.Series(out)

    return _spread_small_input(df).select(
        F.col(id_col).alias("doc"), _sh(F.col(text_col)).alias("sh")
    )


def _jaccard_pairs_counted(sh: DataFrame, ex: DataFrame, threshold: float) -> DataFrame:
    """Jaccard pairs where n_inter comes from COUNTING shared shingles
    in the inverted-index join (one groupBy on the pair key) instead of
    an array_intersect verify join — exact whenever ``ex`` contains
    EVERY shingle occurrence (no df-cap exclusions). Set sizes ride a
    broadcast (one small int per doc), so the whole computation is one
    equi-join + one aggregation: the plan a SQL engine would pick."""
    a = ex.select(F.col("doc").alias("doc_a"), "g")
    b = ex.select(F.col("doc").alias("doc_b"), "g")
    ji = (
        a.join(b, "g")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("n_inter"))
    )
    sizes = sh.select("doc", F.size("sh").alias("_sz"))
    return (
        ji.join(
            F.broadcast(sizes.select(F.col("doc").alias("doc_a"), F.col("_sz").alias("_sa"))),
            "doc_a",
        )
        .join(
            F.broadcast(sizes.select(F.col("doc").alias("doc_b"), F.col("_sz").alias("_sb"))),
            "doc_b",
        )
        .withColumn(
            "jaccard",
            F.col("n_inter").cast("double")
            / (F.col("_sa") + F.col("_sb") - F.col("n_inter")).cast("double"),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def ngram_jaccard_pairs_from_shingles(
    sh: DataFrame, threshold: float = 0.5, max_df: int | None = 256
) -> DataFrame:
    """Exact pairwise Jaccard over word n-gram shingle sets from an
    ALREADY-MATERIALIZED (doc, sh) shingle table (``shingle_hash_table``
    / ``signature_table``), with a hot-shingle document-frequency cap on
    candidate generation. A pipeline that computed the corpus scan once
    reuses it for the exact baseline too (e.g. the minhash recall
    certification in queries_pipeline). The caller must have
    localCheckpointed ``sh``.

    Candidates come from an inverted-index self-join over shingles with
    document frequency ≤ ``max_df`` only — a stop-phrase shingle shared
    by df docs would otherwise contribute O(df²) join rows, the classic
    quadratic hot-key blow-up. Every candidate is then verified with
    the EXACT intersection/union over the full (uncapped) shingle sets,
    so reported jaccard values are exact ratios of integers.

    Completeness contract: a qualifying pair is reported iff it shares
    at least one shingle with df ≤ max_df. A pair ALL of whose common
    shingles are hot is missed — that requires ≥ max_df near-copies of
    the pair's entire shared text, i.e. an identical-replica cluster
    larger than max_df (handle those with ``exact_dedup`` first, which
    is exact and linear) or a corpus-wide boilerplate phrase (which is
    precisely the non-signal the cap exists to drop). ``max_df=None``
    disables the cap and restores the full exact join.

    Physical strategy is picked from the measured shingle-df profile:
    when the df cap excludes NOTHING (n_hot == 0, the common case on a
    pre-exact-deduped corpus), n_inter is counted directly in the
    inverted-index join — one groupBy instead of two array-verify
    joins, measured ~3x cheaper at sf0.1. Only when hot shingles are
    actually dropped does the array_intersect verify path run (counted
    intersections would undercount pairs sharing hot shingles)."""
    ex = sh.select("doc", F.explode("sh").alias("g"))
    if max_df is None:
        return _jaccard_pairs_counted(sh, ex, threshold)
    dfs = (
        ex.groupBy("g").agg(F.count("*").alias("_df")).localCheckpoint(eager=True)
    )
    n_hot = dfs.filter(F.col("_df") > max_df).count()
    if n_hot == 0:
        return _jaccard_pairs_counted(sh, ex, threshold)
    import warnings

    warnings.warn(
        f"ngram_jaccard_pairs_from_shingles: {n_hot} hot shingles "
        f"(df > {max_df}) "
        "excluded from candidate generation; pairs whose every shared "
        "shingle is hot will be missed (run exact_dedup first for "
        "replica clusters, or pass max_df=None for the exact quadratic "
        "join)",
        UserWarning,
    )
    kept = dfs.filter(F.col("_df") <= max_df).select("g")
    exk = ex.join(kept, "g")
    a = exk.select(F.col("doc").alias("doc_a"), "g")
    b = exk.select(F.col("doc").alias("doc_b"), "g")
    cand = (
        a.join(b, "g")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )
    sha = sh.select(F.col("doc").alias("doc_a"), F.col("sh").alias("sh_a"))
    shb = sh.select(F.col("doc").alias("doc_b"), F.col("sh").alias("sh_b"))
    return (
        cand.join(sha, "doc_a")
        .join(shb, "doc_b")
        .withColumn("n_inter", F.size(F.array_intersect("sh_a", "sh_b")))
        .withColumn(
            "jaccard",
            F.col("n_inter").cast("double")
            / (F.size("sh_a") + F.size("sh_b") - F.col("n_inter")).cast("double"),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def ngram_containment_pairs_from_shingles(
    sh: DataFrame, threshold: float = 0.8, max_df: int | None = 256
) -> DataFrame:
    """DIRECTED containment pairs from an ALREADY-MATERIALIZED (doc, sh)
    shingle table: C(A→B) = |sh(A) ∩ sh(B)| / |sh(A)| — one row
    (src_doc, dst_doc, containment) per direction clearing
    ``threshold``. The asymmetric complement of
    :func:`ngram_jaccard_pairs_from_shingles`: a short quote/excerpt
    inside a long document has containment ≈ 1 while its Jaccard ≈
    |A|/|B| ≈ 0, so threshold-Jaccard dedup is structurally blind to
    exactly the subset relationships (quotes, boilerplate inclusion,
    chunk-of-document leaks) containment exists to catch. The caller
    must have localCheckpointed ``sh``.

    Same candidate-generation contract as the Jaccard family (shared
    shingle with df ≤ ``max_df``; for a contained A every shingle of A
    is shared, so only an all-hot A is missable), and the same
    measured physical split: when the cap excludes nothing, n_inter is
    COUNTED in the inverted-index join (one groupBy, sizes broadcast);
    otherwise the array_intersect verify path runs on the capped
    candidates. Both directions derive from ONE undirected
    intersection count — no second join. Values are exact integer
    ratios (one IEEE division), oracle-replayable."""
    ex = sh.select("doc", F.explode("sh").alias("g"))
    sizes = sh.select("doc", F.size("sh").alias("_sz"))

    def _directed(base):
        fwd = base.select(
            F.col("doc_a").alias("src_doc"),
            F.col("doc_b").alias("dst_doc"),
            (F.col("n_inter").cast("double") / F.col("_sa").cast("double")).alias(
                "containment"
            ),
        )
        bwd = base.select(
            F.col("doc_b").alias("src_doc"),
            F.col("doc_a").alias("dst_doc"),
            (F.col("n_inter").cast("double") / F.col("_sb").cast("double")).alias(
                "containment"
            ),
        )
        return fwd.unionAll(bwd).filter(
            F.col("containment") >= F.lit(float(threshold))
        )

    def _with_sizes(pairs_ni):
        return pairs_ni.join(
            F.broadcast(
                sizes.select(F.col("doc").alias("doc_a"), F.col("_sz").alias("_sa"))
            ),
            "doc_a",
        ).join(
            F.broadcast(
                sizes.select(F.col("doc").alias("doc_b"), F.col("_sz").alias("_sb"))
            ),
            "doc_b",
        )

    if max_df is not None:
        dfs = (
            ex.groupBy("g")
            .agg(F.count("*").alias("_df"))
            .localCheckpoint(eager=True)
        )
        n_hot = dfs.filter(F.col("_df") > max_df).count()
    else:
        n_hot = 0
    if n_hot == 0:
        a = ex.select(F.col("doc").alias("doc_a"), "g")
        b = ex.select(F.col("doc").alias("doc_b"), "g")
        ni = (
            a.join(b, "g")
            .filter(F.col("doc_a") < F.col("doc_b"))
            .groupBy("doc_a", "doc_b")
            .agg(F.count("*").alias("n_inter"))
        )
        return _directed(_with_sizes(ni))
    import warnings

    warnings.warn(
        f"ngram_containment_pairs_from_shingles: {n_hot} hot shingles "
        f"(df > {max_df}) "
        "excluded from candidate generation; a contained doc whose EVERY "
        "shingle is hot will be missed (run exact_dedup first, or pass "
        "max_df=None)",
        UserWarning,
    )
    kept = dfs.filter(F.col("_df") <= max_df).select("g")
    exk = ex.join(kept, "g")
    cand = (
        exk.select(F.col("doc").alias("doc_a"), "g")
        .join(exk.select(F.col("doc").alias("doc_b"), "g"), "g")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )
    sha = sh.select(F.col("doc").alias("doc_a"), F.col("sh").alias("sh_a"))
    shb = sh.select(F.col("doc").alias("doc_b"), F.col("sh").alias("sh_b"))
    ni = (
        cand.join(sha, "doc_a")
        .join(shb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.size(F.array_intersect("sh_a", "sh_b")).alias("n_inter"),
        )
    )
    return _directed(_with_sizes(ni))


def jaccard_pairs_prefix_from_shingles(
    sh: DataFrame, threshold: float = 0.5
) -> DataFrame:
    """COMPLETE exact set-similarity self-join at Jaccard >=
    ``threshold`` from a materialized (doc, sh) table, via prefix
    filtering (All-Pairs / PPJoin family, Bayardo et al. 2007; the
    symmetric MapReduce form is Vernica et al., SIGMOD 2010) — the
    no-caveat complement of :func:`ngram_jaccard_pairs_from_shingles`'s
    df-capped inverted index. The caller must have localCheckpointed
    ``sh``.

    Order every document's shingles by a GLOBAL canonical order
    (document frequency asc, then hash — rare first) and index only
    each document's PREFIX: the first ``|s| - ceil(t*|s|) + 1``
    shingles. For any pair with Jaccard >= t the prefixes must share a
    shingle (if y misses all of x's prefix, the intersection fits in
    x's suffix of ceil(t*|x|) - 1 elements, below the t*|x| floor that
    J >= t forces), so the prefix equi-join is a complete candidate
    generator with NO document-frequency exclusions. Hot boilerplate
    shingles have maximal df, sort LAST, and fall out of most
    prefixes — the same pruning a df cap buys, but bought with proof
    instead of a completeness carve-out.

    Scale: one df groupBy, one broadcast of per-doc set sizes, one
    equi-join on prefix shingles (join volume ~ (1-t) of the full
    inverted index, skew-capped by the canonical order), exact
    array_intersect verify on candidates only. Like every exact
    pairwise operator here: collapse replica cliques first
    (``exact_clique_map`` / ``expand_rep_pairs``) on replica-heavy
    corpora — identical texts have identical prefixes and pay clique^2
    in ANY complete join."""
    from pyspark.sql.window import Window as _W

    ex = sh.select("doc", F.explode("sh").alias("g"))
    dfs = ex.groupBy("g").agg(F.count("*").alias("_df"))
    w = _W.partitionBy("doc").orderBy(F.col("_df").asc(), F.col("g").asc())
    ranked = ex.join(dfs, "g").select(
        "doc", "g", F.row_number().over(w).alias("_r")
    )
    sizes = sh.select("doc", F.size("sh").alias("_sz"))
    # ceil(t * sz) must round toward a LONGER prefix when the double
    # product lands epsilon above an exact integer (e.g. t=0.55,
    # sz=100 -> 55.000000000000007, naive ceil=56 -> prefix one short,
    # pairs with Jaccard exactly at the threshold missed). Subtracting
    # slack before the ceil makes boundary cases err long; a longer
    # prefix only adds candidates the exact verify step filters, so
    # completeness is preserved in BOTH directions. The slack is
    # absolute 1e-9 PLUS relative sz*1e-12: the rounding error of
    # t*sz scales with sz (ulp(t*sz) ~ sz*2^-52), so a purely absolute
    # slack stops covering it above ~1e7-element shingle sets, while
    # the relative term stays >= 4500 ulps at every size. Over-slack
    # only ever lengthens the prefix (never misses a pair).
    pre = ranked.join(F.broadcast(sizes), "doc").filter(
        F.col("_r")
        <= F.col("_sz")
        - F.ceil(
            F.lit(float(threshold)) * F.col("_sz")
            - F.lit(1e-9)
            - F.col("_sz") * F.lit(1e-12)
        )
        + 1
    )
    # Candidate generation with the PPJoin POSITIONAL filter (r15 —
    # guide §1.2 "the distributed algorithm" / §2.3 "shuffle fewer
    # bytes"): instead of `.distinct()` on matched (doc_a, doc_b),
    # aggregate the prefix matches per pair and keep only pairs whose
    # best-case intersection can still reach the threshold. Both
    # prefixes are ranked by the SAME global canonical order (df asc,
    # g asc), so the intersection of two shingle sets is itself sorted
    # by that order, and every common shingle ranked before the LAST
    # common prefix shingle (positions i2 = max ra, j2 = max rb — the
    # same shingle attains both maxima) lies inside BOTH prefixes and
    # is therefore counted by cp = COUNT(matched prefix shingles).
    # Common shingles after it number at most min(sza - i2, szb - j2).
    # Hence  I <= cp + min(sza - i2, szb - j2)  exactly, and
    # J >= t  <=>  I >= t/(1+t) * (sza + szb), so pairs whose bound
    # falls below that floor can NEVER verify — dropping them is
    # completeness-preserving (tests/test_dedup.py pins equality with
    # the naive all-pairs answer; the slack errs toward KEEPING
    # boundary pairs, and over-keeping only adds candidates the exact
    # verify step filters). Measured at sf0.1: 786k -> 477k
    # candidates, verify chain 2.97 s -> 2.13 s, identical 241 pairs.
    # The groupBy replaces the old `.distinct()` (same shuffle key,
    # same map-side partial aggregation), so the filter is free.
    matched = (
        pre.select(
            F.col("doc").alias("doc_a"),
            F.col("_r").alias("_ra"),
            F.col("_sz").alias("_sza"),
            "g",
        )
        .join(
            pre.select(
                F.col("doc").alias("doc_b"),
                F.col("_r").alias("_rb"),
                F.col("_sz").alias("_szb"),
                "g",
            ),
            "g",
        )
        .filter(F.col("doc_a") < F.col("doc_b"))
    )
    pair_stats = matched.groupBy("doc_a", "doc_b").agg(
        F.count("*").alias("_cp"),
        F.max("_ra").alias("_i2"),
        F.max("_rb").alias("_j2"),
        F.max("_sza").alias("_sza"),
        F.max("_szb").alias("_szb"),
    )
    inter_floor = (
        F.lit(float(threshold))
        / F.lit(1.0 + float(threshold))
        * (F.col("_sza") + F.col("_szb")).cast("double")
        - F.lit(1e-9)
        - (F.col("_sza") + F.col("_szb")).cast("double") * F.lit(1e-12)
    )
    inter_ubound = (
        F.col("_cp")
        + F.least(F.col("_sza") - F.col("_i2"), F.col("_szb") - F.col("_j2"))
    ).cast("double")
    cand = pair_stats.filter(inter_ubound >= inter_floor).select(
        "doc_a", "doc_b"
    )
    sha = sh.select(F.col("doc").alias("doc_a"), F.col("sh").alias("sh_a"))
    shb = sh.select(F.col("doc").alias("doc_b"), F.col("sh").alias("sh_b"))
    return (
        cand.join(sha, "doc_a")
        .join(shb, "doc_b")
        .withColumn("n_inter", F.size(F.array_intersect("sh_a", "sh_b")))
        .withColumn(
            "jaccard",
            F.col("n_inter").cast("double")
            / (F.size("sh_a") + F.size("sh_b") - F.col("n_inter")).cast("double"),
        )
        .filter(F.col("jaccard") >= float(threshold))
        .select("doc_a", "doc_b", "jaccard")
    )


# --------------------------------------------------------------------------
# MinHash + LSH
# --------------------------------------------------------------------------

def _perm_seeds(num_perm: int, seed: int = 42) -> np.ndarray:
    """Per-permutation xor-seeds for fmix64 minhash permutations.

    History of this hash family (both prior forms were MEASURABLY
    broken as minhash permutations):
      * r1 drew (a, b) from [1, 2^61) and computed (a*x+b) mod p in
        uint64 — silently wrapped mod 2^64, an ad-hoc family.
      * r2 "fixed" the overflow with a,b < 2^31 over 32-bit-reduced
        inputs so a*x+b < 2^63 is exact — but then a*x+b spans at most
        4 multiples of p = 2^61-1, so h(x) is piecewise MONOTONIC in x
        with ≤ 4 pieces: the argmin is determined by the raw shingle
        hash values, nearly the same argmin for every "permutation".
        Measured: per-component match fractions scattered 0.08-0.78
        for pairs with true Jaccard 0.23-0.43 (should be within ±4 %).
    The fix drops modular affine maps entirely: h_i(x) = fmix64(x ^
    seed_i) (murmur3 finalizer — xor-shifts and odd-constant products
    mod 2^64, each step invertible) is an exact BIJECTION of the
    64-bit universe with full avalanche, i.e. an effectively random
    permutation per seed; uint64 wraparound is part of the map, not an
    error. Match fractions then track Jaccard within binomial noise
    (pytest-pinned recall ≥ 0.9 at the banding threshold).
    """
    rng = np.random.RandomState(seed)
    return rng.randint(0, 1 << 63, size=num_perm, dtype=np.int64).astype(np.uint64)


def _fmix64(z: np.ndarray) -> np.ndarray:
    """murmur3 64-bit finalizer, vectorized over uint64 (modular)."""
    z = z.copy()
    z ^= z >> np.uint64(33)
    z *= np.uint64(0xFF51AFD7ED558CCD)
    z ^= z >> np.uint64(33)
    z *= np.uint64(0xC4CEB9FE1A85EC53)
    z ^= z >> np.uint64(33)
    return z


def _hash_vocab(uniq, hash_name: str = "blake2b") -> np.ndarray:
    """64-bit hash per unique token (Zipfian corpus ⇒ vocabulary ≪
    token instances — hashing the vocabulary once is the win).

    ``blake2b`` (default) is the production hash; ``md5`` takes the
    FIRST 8 big-endian bytes of the md5 digest, which a SQL oracle can
    reproduce exactly (DuckDB: ``CAST('0x' || substr(md5(tok), 1, 16)
    AS UBIGINT)`` — same bits, unsigned view), making every downstream
    signature SQL-checkable."""
    import hashlib

    fn = (
        (lambda u: hashlib.blake2b(u, digest_size=8).digest())
        if hash_name == "blake2b"
        else (lambda u: hashlib.md5(u).digest()[:8])
    )
    return np.fromiter(
        (int.from_bytes(fn(u.encode()), "big", signed=True) for u in uniq),
        dtype=np.int64,
        count=len(uniq),
    )


def _tokenize_batch(texts: pd.Series):
    """Vectorized batch tokenization + blake2b vocabulary hashing for the
    combined-signature kernel.

    Returns ``(lens, codes, uniq_hashes, doc_ids, uniq)``: per-doc
    token counts, per-token vocabulary codes over the flattened corpus,
    one 64-bit hash per UNIQUE token (``_hash_vocab``), the owning doc
    index per flat token, and the unique-token array itself (so callers
    can derive a second hash family without re-tokenizing). ``codes``
    is None when the batch has no tokens at all."""
    tok_lists = texts.fillna("").str.strip().str.split(" ")
    lens = np.array(
        [0 if (len(t) == 1 and t[0] == "") else len(t) for t in tok_lists],
        dtype=np.int64,
    )
    if lens.sum() == 0:
        return lens, None, None, None, None
    flat_toks = np.concatenate([t for t, l in zip(tok_lists, lens) if l > 0])
    codes, uniq = pd.factorize(flat_toks)
    uh = _hash_vocab(uniq)
    doc_ids = np.repeat(np.arange(len(texts)), lens)
    return lens, codes, uh, doc_ids, uniq


def _simhash_from_tokens(
    ntexts: int, lens: np.ndarray, codes: np.ndarray, uh: np.ndarray,
    doc_ids: np.ndarray,
) -> np.ndarray:
    """Per-doc 64-bit SimHash from a tokenized batch — the vectorized
    bit-matrix fold: per-doc bit sums WITHOUT ``np.add.reduceat``
    (measured 4 s on a 270 k-token batch — reduceat's segmented axis-0
    walk is pathologically slow). Small vocabulary → per-doc
    token-count matrix times the unique-token bit matrix (one BLAS
    matmul, 0.03 s on the same batch); large vocabulary → 64 bincount
    scatter-adds over doc ids (vocab-independent, 0.14 s).
    Little-endian byte view ⇒ bit column b == (hash >> b) & 1 on every
    platform Spark runs on."""
    ub = np.unpackbits(
        uh.view(np.uint8).reshape(-1, 8), axis=1, bitorder="little"
    ).astype(np.int32)
    if len(uh) <= 4096:
        counts = np.zeros((ntexts, len(uh)), dtype=np.int32)
        np.add.at(counts, (doc_ids, codes), 1)
        bitsum = counts @ ub
    else:
        bits = ub[codes]  # (n_tokens, 64) int32
        bitsum = np.stack(
            [
                np.bincount(doc_ids, weights=bits[:, k], minlength=ntexts)
                for k in range(64)
            ],
            axis=1,
        ).astype(np.int64)
    # Empty docs never appear in doc_ids → bitsum row 0 → sig 0.
    sig_bits = (2 * bitsum > lens[:, None]).astype(np.uint8)
    return np.packbits(sig_bits, axis=1, bitorder="little").view(np.int64).ravel()


def signature_table(
    df: DataFrame, id_col: str, text_col: str, n: int = 3,
    simhash_hash: str = "blake2b",
) -> DataFrame:
    """(doc, sh: array<long>, simhash: long) — BOTH dedup signatures in
    ONE Arrow-batched scan of the corpus.

    ``simhash_hash="md5"`` computes the simhash over md5-prefix token
    hashes instead of blake2b — bit-identical to what a SQL engine can
    recompute (see ``_hash_vocab``), so the ENTIRE simhash pipeline
    (token hash → majority-bit fold → Hamming blocking) becomes
    hash-checkable against a DuckDB oracle; the shingle hashes (minhash
    side) are unaffected. Same blocking/banding machinery either way —
    the hash family is the only difference.

    MinHash pairs and ``simhash_near_pairs`` each need a full-text
    kernel pass (shingle hashing resp. token hashing); run
    independently they tokenize the same corpus twice. This kernel
    tokenizes once, hashes the batch VOCABULARY once (blake2b-64 per
    unique token), and derives both signatures from the token-hash
    array:

    * word-n-gram shingle hashes = an order-sensitive fmix64 fold of
      the n consecutive token hashes (``fmix64(a ^ fmix64(b ^
      fmix64(c)))``), distinct per doc. Distinct n-grams map to
      distinct 64-bit values (modulo the same negligible collision
      rate as direct shingle-string hashing), so downstream
      intersection/union Jaccard values are IDENTICAL to
      ``shingle_hash_table``'s — only the hash ids differ.
    * simhash = the usual majority-bit fold over token hashes.

    This is also strictly faster than ``shingle_hash_table`` alone:
    that kernel blake2b-hashes every shingle STRING (join + encode per
    n-gram instance); here the only cryptographic hashing is the
    vocabulary, and shingle mixing is three vectorized fmix64 passes
    over the flat token-hash array.
    """

    @F.pandas_udf("sh array<long>, simhash long")
    def _sig2(all_texts: pd.Series) -> pd.DataFrame:
        if len(all_texts) == 0:
            return pd.DataFrame({"sh": [], "simhash": []})
        # Collapse exact-duplicate texts within the batch: signatures
        # are pure functions of the text, and duplicate-heavy corpora
        # (the regime dedup exists for) otherwise pay the full token
        # pipeline once PER REPLICA. factorize is O(batch); results
        # are gathered back by inverse index, so output is identical.
        inv, uniq_texts = pd.factorize(all_texts, use_na_sentinel=False)
        texts = pd.Series(uniq_texts)
        ntexts = len(texts)
        lens, codes, uh, doc_ids, uniq = _tokenize_batch(texts)
        if codes is None:
            return pd.DataFrame(
                {
                    "sh": [np.empty(0, dtype=np.int64)] * len(all_texts),
                    "simhash": np.zeros(len(all_texts), dtype=np.int64),
                }
            )
        sim_uh = uh if simhash_hash == "blake2b" else _hash_vocab(uniq, simhash_hash)
        simhash = _simhash_from_tokens(ntexts, lens, codes, sim_uh, doc_ids)
        # Flat shingle mix over the whole batch: position i combines
        # token hashes i..i+n-1; positions whose window crosses a doc
        # boundary are masked out, then each doc's slice is dedup'd.
        th = uh.astype(np.uint64)[codes]
        total = len(th)
        acc = _fmix64(th[n - 1:].copy())
        for k in range(n - 2, -1, -1):
            acc = _fmix64(th[k : total - (n - 1 - k)] ^ acc)
        # acc[i] is the shingle hash starting at flat position i.
        offsets = np.concatenate([[0], np.cumsum(lens)])
        shs = []
        for d in range(ntexts):
            lo, L = offsets[d], lens[d]
            if L < n:
                shs.append(np.empty(0, dtype=np.int64))
                continue
            shs.append(np.unique(acc[lo : lo + L - n + 1]).astype(np.int64))
        # gather unique-text results back to the original row order
        return pd.DataFrame(
            {"sh": [shs[i] for i in inv], "simhash": simhash[inv]}
        )

    return (
        _spread_small_input(df)
        .select(F.col(id_col).alias("doc"), _sig2(F.col(text_col)).alias("_s"))
        .select("doc", F.col("_s.sh").alias("sh"), F.col("_s.simhash").alias("simhash"))
    )


def minhash_signatures_from_shingles(
    sh: DataFrame, num_perm: int = 64, seed: int = 42
) -> DataFrame:
    """Signatures from an existing ``shingle_hash_table`` result —
    lets a pipeline compute the shingle scan ONCE and reuse it for both
    signature generation and exact-Jaccard verification (the two
    consumers in ``minhash_dedup_pairs_from_shingles``)."""
    seeds = _perm_seeds(num_perm, seed)
    sc = sh.sparkSession.sparkContext
    bcast = sc.broadcast(seeds)

    @F.pandas_udf("array<long>")
    def _sig(hashes: pd.Series) -> pd.Series:
        ss = bcast.value[:, None]  # (P, 1) uint64
        out = []
        for hs in hashes:
            h = np.asarray(hs, dtype=np.int64).astype(np.uint64)
            vals = _fmix64(h[None, :] ^ ss)  # (P, S)
            out.append(vals.min(axis=1).astype(np.int64))
        return pd.Series(out)

    # Docs with no shingles (shorter than the n-gram width) have no
    # signature at all: an empty set has Jaccard 0/undefined with
    # everything, and a shared sentinel signature would make ALL short
    # docs collide in every band — a quadratic candidate blow-up on
    # real corpora.
    return sh.filter(F.size("sh") > 0).select(
        "doc", _sig(F.col("sh")).alias("signature")
    )


def lsh_candidate_pairs(
    signatures: DataFrame, bands: int = 16, rows_per_band: int = 4
) -> DataFrame:
    """Band the signature; equal band-hash ⇒ candidate pair.

    Shuffles only on (band, band_hash) keys; the quadratic blow-up is
    confined to hash buckets (skew-safe via AQE).
    """
    sig = signatures
    band_cols = []
    for bi in range(bands):
        lo = bi * rows_per_band + 1  # element_at() is 1-based
        # Hash the band's signature components directly as longs —
        # multi-arg xxhash64 over element_at, NOT concat_ws(slice(...)):
        # the string form allocates/formats per band per row and
        # measured ~40 % of the whole LSH candidate step.
        band_cols.append(
            F.xxhash64(
                F.lit(bi), *[F.element_at("signature", lo + k) for k in range(rows_per_band)]
            ).alias(f"b{bi}")
        )
    banded = sig.select("doc", F.explode(F.array(*band_cols)).alias("bucket"))
    a = banded.alias("a")
    b = banded.alias("b")
    return (
        a.join(b, (F.col("a.bucket") == F.col("b.bucket")) & (F.col("a.doc") < F.col("b.doc")))
        .select(F.col("a.doc").alias("doc_a"), F.col("b.doc").alias("doc_b"))
        .distinct()
    )


def minhash_dedup_pairs_from_shingles(
    sh: DataFrame,
    *,
    num_perm: int = 64,
    bands: int = 16,
    threshold: float = 0.5,
    seed: int = 42,
) -> DataFrame:
    """MinHash-LSH pairs from an ALREADY-MATERIALIZED (doc, sh) shingle
    table — the entry point for pipelines that compute the corpus scan
    once and share it across signature families (``signature_table``).
    The caller must have localCheckpointed ``sh``; every consumer here
    (signature kernel + both verify sides) re-reads it."""
    rows_per_band = num_perm // bands
    sigs = minhash_signatures_from_shingles(sh, num_perm, seed).localCheckpoint(
        eager=True
    )
    cands = lsh_candidate_pairs(sigs, bands, rows_per_band).localCheckpoint(eager=True)
    a = sh.select(F.col("doc").alias("doc_a"), F.col("sh").alias("sh_a"))
    b = sh.select(F.col("doc").alias("doc_b"), F.col("sh").alias("sh_b"))
    # On a sparse-duplicate corpus LSH prunes ~all pairs → broadcast the
    # candidates so the shingle table streams through two broadcast
    # joins with no shuffle. But candidate count scales with the SQUARE
    # of near-dup cluster sizes (measured: 20x corpus of dense replicas
    # → 400x candidates), so past a size bound fall back to shuffle
    # joins rather than OOM the driver/executors on the broadcast.
    n_cands = cands.count()  # cheap: counts the checkpointed blocks
    cand_side = F.broadcast(cands) if n_cands <= 2_000_000 else cands
    # |A∪B| = |A|+|B|−|A∩B| (shingle arrays are distinct sets): one
    # array traversal per pair instead of two — array_union also
    # materializes the merged array only to take its size.
    verified = (
        cand_side.join(a, "doc_a")
        .join(b, "doc_b")
        .withColumn("n_inter", F.size(F.array_intersect("sh_a", "sh_b")))
        .withColumn(
            "n_union", F.size("sh_a") + F.size("sh_b") - F.col("n_inter")
        )
        .withColumn("jaccard", F.col("n_inter").cast("double") / F.col("n_union").cast("double"))
        .filter(F.col("jaccard") >= threshold)
    )
    return verified.select("doc_a", "doc_b", "jaccard")


# --------------------------------------------------------------------------
# Connected components (dedup clusters from near-dup pairs)
# --------------------------------------------------------------------------


def connected_components(
    pairs: DataFrame,
    a_col: str = "doc_a",
    b_col: str = "doc_b",
    max_iter: int = 25,
) -> DataFrame:
    """Cluster ids from an undirected near-dup pair list: each node gets
    the MIN node id reachable from it (the canonical representative).

    Per round: (1) every node takes min(own, neighbors') label —
    one-hop propagation; (2) pointer jumping — node's label becomes its
    label's label (path doubling), so convergence is O(log diameter)
    rounds, not O(diameter). Each round localCheckpoints (truncating
    lineage — the plan would otherwise grow a join per round). The loop
    is driver-side *plan* iteration only; data never leaves executors.
    Non-convergence inside the cap raises rather than returning wrong
    labels.
    """
    e = pairs.select(F.col(a_col).alias("src"), F.col(b_col).alias("dst"))
    edges = e.unionAll(e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))).distinct().cache()
    labels = (
        edges.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
        .localCheckpoint(eager=True)
    )
    try:
        for _ in range(max_iter):
            neighbor_min = (
                edges.join(labels, edges.src == labels.node)
                .groupBy(F.col("dst").alias("node2"))
                .agg(F.min("label").alias("nlabel"))
            )
            stepped = labels.join(
                neighbor_min, labels.node == F.col("node2"), "left"
            ).select(
                "node",
                F.col("label").alias("_prev"),
                F.least(
                    F.col("label"), F.coalesce(F.col("nlabel"), F.col("label"))
                ).alias("label"),
            )
            # Pointer jumping: label := label's label (path doubling).
            lb = stepped.select(
                F.col("node").alias("pnode"), F.col("label").alias("plabel")
            )
            # Carry the round-start label so convergence detection is a
            # filter+count over the checkpointed blocks — NOT another
            # join-with-old-labels job (one fewer shuffle per round).
            new_labels = (
                stepped.join(lb, stepped.label == F.col("pnode"), "left")
                .select(
                    "node",
                    "_prev",
                    F.least(
                        F.col("label"), F.coalesce(F.col("plabel"), F.col("label"))
                    ).alias("label"),
                )
                .localCheckpoint(eager=True)
            )
            changed = new_labels.filter(F.col("label") != F.col("_prev")).count()
            labels = new_labels.drop("_prev")
            if changed == 0:
                return labels.select("node", F.col("label").alias("cluster_id"))
        raise RuntimeError(f"connected_components did not converge in {max_iter} rounds")
    finally:
        edges.unpersist()


# --------------------------------------------------------------------------
# SimHash
# --------------------------------------------------------------------------


def simhash_candidate_pairs(
    signatures: DataFrame, max_hamming: int = 3, level: int | None = None
) -> DataFrame:
    """Raw blocked candidate pairs (doc_a, doc_b, sig_a, sig_b) BEFORE
    the Hamming filter/distinct — a pair appears once per shared bucket.
    Exposed so tests and capacity planning can assert the blocking is
    non-degenerate (distinct candidates ≪ N²/2); production use goes
    through ``simhash_near_pairs``. Blocking scheme documented there.
    """
    from itertools import combinations

    if max_hamming >= 63:
        raise ValueError("max_hamming must be < 63")
    if level is None:
        level = 1 if 64 // (max_hamming + 1) >= 16 else 2
    nchunks = max_hamming + level
    if nchunks > 64:
        raise ValueError("max_hamming + level must be <= 64")
    base = 64 // nchunks
    rem = 64 % nchunks
    widths = [base + (1 if i < rem else 0) for i in range(nchunks)]
    offs = [sum(widths[:i]) for i in range(nchunks)]
    # A full-width chunk (max_hamming=0, level=1 → one 64-bit chunk)
    # needs no mask — and (1 << 64) - 1 does not fit a LongType literal.
    chunk = [
        F.shiftrightunsigned(F.col("simhash"), offs[i])
        if widths[i] == 64
        else F.shiftrightunsigned(F.col("simhash"), offs[i]).bitwiseAND(
            F.lit((1 << widths[i]) - 1)
        )
        for i in range(nchunks)
    ]
    # One 64-bit bucket key per level-subset of chunks; the combo index
    # is hashed in so identical chunk values in different combos never
    # collide into one bucket by construction (a stray cross-combo hash
    # collision is harmless — candidates are Hamming-verified).
    keys = [
        F.xxhash64(F.lit(ci), *[chunk[i] for i in combo])
        for ci, combo in enumerate(combinations(range(nchunks), level))
    ]
    # Materialize the signature table once: both sides of the self-join
    # reference it, and the signature kernel (a Pandas UDF scan over the
    # full text) would otherwise run twice.
    sigs = signatures.localCheckpoint(eager=True)
    banded = sigs.select(
        "doc", "simhash", F.explode(F.array(*keys)).alias("bucket")
    )
    a = banded.select(
        F.col("doc").alias("doc_a"), F.col("simhash").alias("sig_a"), "bucket"
    )
    b = banded.select(
        F.col("doc").alias("doc_b"), F.col("simhash").alias("sig_b"), "bucket"
    )
    return (
        a.join(b, ["bucket"]).filter(F.col("doc_a") < F.col("doc_b")).drop("bucket")
    )


def simhash_near_pairs(
    signatures: DataFrame, max_hamming: int = 3, level: int | None = None
) -> DataFrame:
    """Near-dup pairs by Hamming distance over SimHash signatures.

    Generalized pigeonhole blocking: split the 64 bits into
    ``max_hamming + level`` chunks — distance ≤ d flips at most d
    chunks, so at least ``level`` chunks are untouched, and joining on
    the composite key of every ``level``-subset of chunks is complete
    (finds every pair within distance d) while never going all-pairs.

    ``level`` controls key width: level=1 is the classic d+1 chunking
    (64/(d+1)-bit keys — DEGENERATE for large d: at d=8 that is 7-bit
    keys = 128 buckets, measured 85 % of all pairs as candidates);
    level=2 joins on C(d+2, 2) two-chunk composite keys (~2·64/(d+2)
    bits, e.g. ~12.8 bits at d=8 — 4096× stronger). Auto: level=1 while
    single-chunk keys keep ≥ 16 bits (d ≤ 3), else level=2.

    Scale shape: ONE equi-join on (composite bucket) over an exploded
    key table — rows explode by C(d+level, level), candidates are
    confined to equal-bucket groups (AQE-skew-safe), and the Hamming
    filter runs BEFORE the distinct so the distinct only shuffles true
    near-pairs, not raw candidates.
    """
    cands = simhash_candidate_pairs(signatures, max_hamming, level)
    ham = F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b"))).cast("int")
    return (
        cands.withColumn("hamming", ham)
        .filter(F.col("hamming") <= max_hamming)
        .select("doc_a", "doc_b", "hamming")
        .distinct()
    )


def exact_clique_map(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(doc, rep) — every doc mapped to the min-id doc sharing its
    exact text (its replica-clique representative). One md5 groupBy
    with map-side combine; only (doc, 16-byte digest) rows shuffle."""
    keyed = df.select(
        F.col(id_col).alias("doc"), F.md5(F.col(text_col)).alias("_h")
    )
    reps = keyed.groupBy("_h").agg(F.min("doc").alias("rep"))
    return keyed.join(reps, "_h").select("doc", "rep")


def expand_rep_pairs(
    rep_pairs: DataFrame,
    clique: DataFrame,
    score_col: str,
    self_score=None,
    self_reps: DataFrame | None = None,
) -> DataFrame:
    """Expand a pair relation computed over clique REPRESENTATIVES back
    to all original doc ids — the dedup answer for a duplicate-heavy
    corpus at output-bound cost.

    Signature-derived relations (simhash Hamming, minhash/Jaccard) are
    pure functions of the text, so members of a clique relate to
    everything exactly as their representative does: pairs between two
    cliques expand to the members' cross product with the reps' score,
    and pairs WITHIN a clique (|members| >= 2) carry ``self_score``
    (e.g. Hamming 0 / Jaccard 1). The expansion joins are driven by the
    (small) rep-pair relation — nothing quadratic in corpus size is
    computed, only the answer itself is materialized.

    Input ``rep_pairs``: (doc_a, doc_b, <score_col>) over rep ids with
    doc_a < doc_b. ``clique``: (doc, rep) from ``exact_clique_map``.
    ``self_reps`` (doc/rep ids) restricts the within-clique expansion
    to eligible cliques — e.g. only shingled texts form Jaccard pairs,
    so a shingle-less replica clique must NOT self-pair even though
    its texts are identical. Output: (doc_a, doc_b, <score_col>) over
    original ids, doc_a < doc_b, distinct."""
    ma = clique.select(F.col("doc").alias("_da"), F.col("rep").alias("doc_a"))
    mb = clique.select(F.col("doc").alias("_db"), F.col("rep").alias("doc_b"))
    cross = (
        rep_pairs.join(ma, "doc_a")
        .join(mb, "doc_b")
        .select(
            F.least("_da", "_db").alias("doc_a"),
            F.greatest("_da", "_db").alias("doc_b"),
            F.col(score_col),
        )
    )
    if self_score is None:
        return cross
    cl = clique if self_reps is None else clique.join(
        self_reps.select(F.col(self_reps.columns[0]).alias("rep")), "rep", "left_semi"
    )
    within = (
        cl.select("rep", F.col("doc").alias("_d1"))
        .join(cl.select("rep", F.col("doc").alias("_d2")), "rep")
        .filter(F.col("_d1") < F.col("_d2"))
        .select(
            F.col("_d1").alias("doc_a"),
            F.col("_d2").alias("doc_b"),
            F.lit(self_score).alias(score_col),
        )
    )
    return cross.unionAll(within)


# --------------------------------------------------------------------------
# Benchmark decontamination (n-gram overlap vs a small reference set)
# --------------------------------------------------------------------------


def ngram_overlap_pairs(
    corpus_sh: DataFrame, bench_sh: DataFrame, min_shared: int = 1
) -> DataFrame:
    """(bench_doc, corpus_doc, n_shared) pairs sharing ≥``min_shared``
    distinct n-gram shingles — the test-set decontamination primitive
    every LLM training pipeline runs (drop training docs that overlap
    the eval benchmarks; the public n-gram protocol from the GPT-3 /
    PaLM appendices).

    Inputs are ``shingle_hash_table`` results (doc, sh array<long>).
    Scale: the benchmark side is SMALL by construction (eval suites,
    not corpora) — its exploded shingle index is broadcast, the corpus
    side streams through one narrow map + the broadcast hash join and
    aggregates per pair. No corpus self-join, no shuffle of corpus
    text; cost is O(corpus shingles) + O(matches).
    """
    bench = bench_sh.select(
        F.col("doc").alias("bench_doc"), F.explode("sh").alias("g")
    )
    corpus = corpus_sh.select(
        F.col("doc").alias("corpus_doc"), F.explode("sh").alias("g")
    )
    return (
        corpus.join(F.broadcast(bench), "g")
        .groupBy("bench_doc", "corpus_doc")
        .agg(F.count("*").alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )


# --------------------------------------------------------------------------
# Banded MinHash signatures for the persisted streaming indexes
# --------------------------------------------------------------------------


def _band_signatures(sig: DataFrame, bands: int, rows_per_band: int) -> DataFrame:
    """(doc, bucket) banded form of a signature table (shared by the
    streaming ingest and CC indexes, streaming/ingest.py and cc.py)."""
    band_cols = []
    for bi in range(bands):
        lo = bi * rows_per_band + 1
        band_cols.append(
            F.xxhash64(
                F.lit(bi), *[F.element_at("signature", lo + k) for k in range(rows_per_band)]
            ).alias(f"b{bi}")
        )
    return sig.select("doc", F.explode(F.array(*band_cols)).alias("bucket"))


def pagerank_fixed_point(
    edges: DataFrame,
    iters: int = 5,
    scale: int = 10**12,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Fixed-iteration PageRank in FIXED-POINT integer arithmetic over
    a SYMMETRIZED edge list (every node must appear as a source) —
    ``(node, r)`` with ranks in units of ``1/scale``:

        r_0(v)     = scale // N
        r_{k+1}(v) = (15·scale//100)//N
                     + Σ_{u→v} (85·r_k(u)) // (100·outdeg(u))

    Keeping every quantity a 64-bit integer makes the whole iteration
    EXACTLY reproducible on any engine (sums of integers commute;
    floor division is floor division) — float PageRank is not, because
    the per-node Σ order is nondeterministic under shuffles. The use
    here is dedup-cluster CANONICALIZATION: pick each near-dup
    cluster's most central member as its representative (pr_rep in
    dedup_cc_clusters) instead of the arbitrary min-id — centrality is
    the "most typical variant" heuristic.

    Scale: one equi-join on src + one groupBy(dst) per iteration —
    O(E) each, `iters` fixed; lineage truncated per round
    (localCheckpoint, the connected_components pattern). 85·r stays
    below 2^63 for scale ≤ 10^16."""
    e = edges.select(
        F.col(src_col).alias("src"), F.col(dst_col).alias("dst")
    ).localCheckpoint(eager=True)
    nodes = e.select(F.col("src").alias("node")).distinct()
    n = nodes.count()
    if n == 0:
        return nodes.withColumn("r", F.lit(0).cast("long"))
    outdeg = e.groupBy("src").agg(F.count("*").alias("od"))
    base = (15 * scale // 100) // n
    r = nodes.select(
        "node", F.lit(scale // n).cast("long").alias("r")
    ).localCheckpoint(eager=True)
    for _ in range(int(iters)):
        r = (
            e.join(r.withColumnRenamed("node", "src"), "src")
            .join(outdeg, "src")
            .select(
                F.col("dst").alias("node"),
                F.expr("(85 * r) DIV (100 * od)").alias("c"),
            )
            .groupBy("node")
            .agg((F.lit(base) + F.sum("c")).cast("long").alias("r"))
            .localCheckpoint(eager=True)
        )
    return r


def label_propagation(
    edges: DataFrame,
    seeds: DataFrame,
    iters: int = 3,
    src_col: str = "src",
    dst_col: str = "dst",
    node_col: str = "node",
    label_col: str = "label",
) -> DataFrame:
    """Fixed-iteration semi-supervised label propagation over a
    SYMMETRIZED edge list (the ``pagerank_fixed_point`` input
    contract): spread integer seed labels to their graph neighborhood
    by synchronous majority vote — the weak-supervision step over a
    near-dup / k-NN graph (label a few documents, inherit labels
    across the similarity structure; composes with ``knn_vote``'s
    pair output as the graph source).

    Semantics, chosen so ANY engine replays the result exactly (the
    ``pr_rep`` convention — unrolled iterations in plain SQL):

    * ``seeds`` (node, label: long) are CLAMPED — a seed never
      changes label.
    * Each round, every node with >= 1 labeled neighbor takes the
      label with the highest neighbor count, ties broken by SMALLEST
      label (integer counts + total order, so no float/order
      nondeterminism anywhere).
    * Updates are SYNCHRONOUS: round k votes read only round k-1
      labels. Nodes no labeled neighbor has reached stay unlabeled
      (absent from the result).

    Scale: per round, one equi-join (edges x current labels) + one
    groupBy(dst, label) count + a per-node argmax whose window holds
    at most |label vocabulary| rows — O(E) per round with map-side
    combine, ``iters`` fixed, lineage truncated per round
    (localCheckpoint, the ``connected_components`` pattern). Labeled
    frontier only ever grows, so cost is bounded by the final labeled
    subgraph, never all of history."""
    from pyspark.sql.window import Window as _W

    e = edges.select(
        F.col(src_col).alias("_s"), F.col(dst_col).alias("_d")
    ).localCheckpoint(eager=True)
    clamp = seeds.select(
        F.col(node_col).alias("node"), F.col(label_col).cast("long").alias("label")
    ).localCheckpoint(eager=True)
    labels = clamp
    w = _W.partitionBy("_d").orderBy(F.desc("_c"), F.asc("label"))
    for _ in range(int(iters)):
        votes = (
            e.join(labels.withColumnRenamed("node", "_s"), "_s")
            .groupBy("_d", "label")
            .agg(F.count("*").alias("_c"))
        )
        new = (
            votes.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .select(F.col("_d").alias("node"), "label")
        )
        labels = clamp.unionAll(
            new.join(clamp, "node", "left_anti")
        ).localCheckpoint(eager=True)
    return labels


def merge_cc_labels(
    labels: DataFrame,
    new_edges: DataFrame,
    new_nodes: DataFrame,
    a_col: str = "doc_a",
    b_col: str = "doc_b",
    max_iter: int = 25,
) -> DataFrame:
    """INCREMENTAL connected components: merge a batch of new nodes and
    edges into an existing (doc, label) store without re-running CC
    over history. Returns ONLY the rows that must be written — every
    new node's label plus every existing doc whose label changed
    (keep-latest store semantics: the caller appends these under a new
    batch partition and serves max-batch-per-doc).

    Works at the LABEL level: each existing cluster is represented by
    its label node (label == the cluster's min member id — the store
    invariant), so an edge touching an existing doc lifts to an edge
    touching its label, and connecting two labels connects their whole
    clusters. CC then runs over the lifted edge set only — cost is
    O(touched clusters + batch), never O(history):

      1. lift both endpoints through the store (left join: an unknown
         endpoint — a new doc — lifts to itself);
      2. :func:`connected_components` over the lifted edges (pointer
         jumping, O(log d) rounds);
      3. component minimum becomes the merged label. It equals the
         TRUE min member id of the merged cluster: every old label IS
         its cluster's min, and new ids participate directly — so the
         invariant is re-established, which is what makes the next
         batch's merge correct (induction).

    Changed-existing rows come from remapping the store through
    (old label -> new label) — one equi-join on the label column that
    touches only members of re-labeled clusters."""
    la = labels.select(F.col("doc").alias("__da"), F.col("label").alias("__la"))
    lb = labels.select(F.col("doc").alias("__db"), F.col("label").alias("__lb"))
    lifted = (
        new_edges.select(F.col(a_col).alias("__ea"), F.col(b_col).alias("__eb"))
        .join(la, F.col("__ea") == F.col("__da"), "left")
        .join(lb, F.col("__eb") == F.col("__db"), "left")
        .select(
            F.coalesce(F.col("__la"), F.col("__ea")).alias("doc_a"),
            F.coalesce(F.col("__lb"), F.col("__eb")).alias("doc_b"),
        )
        .filter(F.col("doc_a") != F.col("doc_b"))
    )
    comp = connected_components(lifted, "doc_a", "doc_b", max_iter=max_iter)
    # new nodes: resolve through the component map; isolated ones keep
    # their own id (left join misses them)
    nn = new_nodes.select(F.col("doc").alias("__nd"))
    new_rows = (
        nn.join(comp, F.col("__nd") == F.col("node"), "left")
        .select(
            F.col("__nd").alias("doc"),
            F.coalesce(F.col("cluster_id"), F.col("__nd")).alias("label"),
        )
    )
    # existing docs in re-labeled clusters: old label appears in comp
    # with a different cluster_id
    remap = comp.filter(F.col("cluster_id") != F.col("node")).select(
        F.col("node").alias("__old"), F.col("cluster_id").alias("__new")
    )
    changed = (
        labels.join(remap, F.col("label") == F.col("__old"))
        .select("doc", F.col("__new").alias("label"))
    )
    # a new doc may also be an old doc's new label source — dedupe on
    # doc with the smallest label winning (labels only ever decrease)
    return new_rows.unionAll(changed).groupBy("doc").agg(
        F.min("label").alias("label")
    )


# Docs at least this long route through the linear Arrow winnow in
# ``winnow_anchors(engine="auto")``. Below it, the O(n·window) codegen
# form wins on constants (JVM, zero Python); above it, the monotonic-
# queue kernel's O(n) beats the quadratic term (crossover measured in
# SCALE.md "Round 15 — long-document winnowing": ~8-16 KB at the
# k=16/window=45 defaults; the threshold sits above the crossover so
# the entire web-document regime stays on the zero-Python path).
WINNOW_ARROW_MIN_LEN = 16384


def winnow_anchors(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 16,
    window: int = 45,
    engine: str = "auto",
    arrow_min_len: int = WINNOW_ARROW_MIN_LEN,
) -> DataFrame:
    """Winnowing fingerprints (Schleimer, Wilkerson & Aiken, SIGMOD
    2003 — the MOSS algorithm): per document, hash every character
    ``k``-gram (md5 — oracle-portable) and, for every window of
    ``window`` consecutive grams, select the minimum (hash, pos) —
    ties break on the SMALLEST position, deterministic. The winnowing
    guarantee: any exact substring shared by two documents of length
    >= window + k - 1 selects AT LEAST ONE common anchor gram in both
    (the selection is content-defined, so it lands at corresponding
    offsets inside the shared region).

    Returns (id, h, pos): one row per distinct selected anchor
    occurrence; ``h`` is the md5 of the k-gram (the block key), pos is
    1-based.

    Two bit-identical execution paths, both MAP-ONLY (zero shuffle):

    * ``codegen`` — per-row column arrays (grams, hashes, window
      minima via transform/slice/array_min), whole-stage codegen, zero
      Python. O(n·window) struct compares per doc: the fast path for
      web-document sizes (a 100 KB doc is ~4.5M compares), a cliff for
      book-length texts (a 1 MB doc is ~45M).
    * ``arrow`` — the linear monotonic-queue winnow (the textbook
      sliding-window-minimum deque) as an Arrow-batched ``mapInPandas``
      kernel: O(n) per doc regardless of window. Python constants, JVM
      asymptotics — the sanctioned slow-path shape for long documents.

    ``engine="auto"`` (default) splits per document at
    ``arrow_min_len`` characters: short docs stay on codegen, long
    docs take the linear kernel, results union (both branches prune to
    the same two columns, so the source scans stay cheap). The split
    is content-defined per row, so partitioning never changes which
    path a doc takes. Anchor density is ~2/(window+1) of positions
    (winnowing theory), so downstream joins see ~4% of the text's
    grams at the defaults either way."""
    if engine == "codegen":
        return _winnow_anchors_codegen(df, id_col, text_col, k, window)
    if engine == "arrow":
        return _winnow_anchors_arrow(df, id_col, text_col, k, window)
    if engine != "auto":
        raise ValueError(f"winnow_anchors: unknown engine {engine!r}")
    pruned = df.select(id_col, text_col)
    is_long = F.length(F.col(text_col)) >= arrow_min_len
    return _winnow_anchors_codegen(
        pruned.filter(~is_long), id_col, text_col, k, window
    ).unionAll(
        _winnow_anchors_arrow(
            pruned.filter(is_long), id_col, text_col, k, window
        )
    )


def _winnow_anchors_codegen(
    df: DataFrame, id_col: str, text_col: str, k: int, window: int
) -> DataFrame:
    """The whole-stage-codegen winnow (see :func:`winnow_anchors`)."""
    n_grams = F.greatest(F.length(F.col(text_col)) - (k - 1), F.lit(0))
    structs = F.transform(
        F.sequence(F.lit(1), n_grams),
        lambda i: F.struct(
            F.md5(F.substr(F.col(text_col), i, F.lit(k))).alias("h"),
            i.alias("p"),
        ),
    )
    # STAGE the hashed-gram array in its own projection (the
    # with_url_columns rule): referencing the un-staged expression
    # inside every window's slice would re-evaluate ALL n md5 grams
    # per window — O(n^2) hashing per document (measured: the sf0.1
    # corpus went from minutes to seconds when staged). Materialized
    # once per row, each slice is then O(window) struct copies.
    staged = df.select(
        F.col(id_col),
        F.when(n_grams > 0, structs)
        .otherwise(F.array().cast("array<struct<h:string,p:int>>"))
        .alias("_g"),
    )
    mins = F.transform(
        F.sequence(F.lit(1), F.size("_g")),
        lambda i: F.array_min(F.slice(F.col("_g"), i, window)),
    )
    return (
        staged.select(
            F.col(id_col),
            F.explode(
                F.array_distinct(
                    F.when(F.size("_g") > 0, mins).otherwise(
                        F.array().cast("array<struct<h:string,p:int>>")
                    )
                )
            ).alias("_a"),
        )
        .select(F.col(id_col), F.col("_a.h").alias("h"), F.col("_a.p").alias("pos"))
    )


def _winnow_anchors_arrow(
    df: DataFrame, id_col: str, text_col: str, k: int, window: int
) -> DataFrame:
    """Linear monotonic-queue winnow (see :func:`winnow_anchors`):
    Arrow-batched ``mapInPandas`` kernel, O(n) per document.

    Replays the codegen semantics EXACTLY so the two paths are
    bit-identical (pinned by ``test_winnow_arrow_matches_codegen``):
    md5 hex of every character ``k``-gram (Python slices by code point
    and md5s the UTF-8 bytes — precisely what Spark's substr + md5 do
    on UTF8String), then for every 1-based window start ``i`` in
    ``1..n_grams`` the minimum (h, pos) over grams ``[i, min(i+window-1,
    n_grams)]`` — including the same trailing suffix windows the
    codegen form's saturating ``slice`` produces — ties to the
    smallest position, output distinct by first selection.

    The deque holds gram indices with strictly increasing hashes;
    a new gram evicts from the back only on STRICTLY greater hash, so
    an equal hash keeps the earlier (smaller-pos) occurrence — the
    ``array_min`` struct tie-break. Each index enters and leaves the
    deque once: O(n) total, independent of ``window``."""
    import hashlib
    from collections import deque

    from pyspark.sql import types as T

    id_field = df.schema[id_col]
    out_schema = T.StructType(
        [
            T.StructField(id_col, id_field.dataType, id_field.nullable),
            T.StructField("h", T.StringType(), False),
            T.StructField("pos", T.IntegerType(), False),
        ]
    )

    def _gen(batches):
        for pdf in batches:
            ids_out: list = []
            hs_out: list = []
            ps_out: list = []
            for _id, text in zip(pdf[id_col], pdf[text_col]):
                if text is None:
                    continue
                n = len(text) - (k - 1)
                if n <= 0:
                    continue
                md5 = hashlib.md5
                enc = text.encode("utf-8")
                ascii_only = len(enc) == len(text)
                if ascii_only:
                    # one encode, byte-sliced grams (== char slices)
                    hs = [
                        md5(enc[i : i + k]).hexdigest() for i in range(n)
                    ]
                else:
                    hs = [
                        md5(text[i : i + k].encode("utf-8")).hexdigest()
                        for i in range(n)
                    ]
                dq: deque = deque()
                seen: set = set()
                r = -1
                for i in range(n):
                    right = min(i + window - 1, n - 1)
                    while r < right:
                        r += 1
                        hr = hs[r]
                        while dq and hs[dq[-1]] > hr:
                            dq.pop()
                        dq.append(r)
                    while dq[0] < i:
                        dq.popleft()
                    j = dq[0]
                    if j not in seen:
                        seen.add(j)
                        ids_out.append(_id)
                        hs_out.append(hs[j])
                        ps_out.append(j + 1)
            yield pd.DataFrame({id_col: ids_out, "h": hs_out, "pos": ps_out})

    return df.select(id_col, text_col).mapInPandas(_gen, out_schema)


def exact_substring_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    min_len: int = 60,
    k: int = 16,
) -> DataFrame:
    """EXACT-substring dedup pairs (Lee et al. 2022, "Deduplicating
    Training Data Makes Language Models Better" — the suffix-array
    family, re-expressed for Spark): all document pairs sharing a
    verbatim substring of at least ``min_len`` characters. Exact set
    semantics — equivalent to joining every document's ``min_len``-
    grams (a pair shares a substring >= L iff it shares an L-gram),
    which is the oracle's replay — but never materializes the L-gram
    blowup:

    1. ANCHOR (map-only): :func:`winnow_anchors` with window =
       ``min_len - k + 1``, so any shared substring of length >=
       min_len selects a common anchor k-gram in both docs (the
       winnowing guarantee makes the blocking COMPLETE, not
       probabilistic — unlike MinHash banding).
    2. BLOCK: one equi-join of anchor occurrences on the anchor hash
       (id_a < id_b) — candidates are anchor-bounded: ~2/(window+1)
       of gram positions ever enter the join.
    3. VERIFY (map-only on candidates): around each candidate anchor
       occurrence pair, take the (2·min_len - k)-char neighborhoods —
       any qualifying shared substring through this anchor occurrence
       lies inside them — and test ``arrays_overlap`` of the two
       neighborhoods' L-gram arrays (<= window strings each). Exact:
       a verified pair genuinely shares an L-gram; complete: the
       guarantee in (1) places a common anchor inside the shared
       region, and a length-L sub-window of it containing that anchor
       starts within L - k chars before it.

    Returns distinct (doc_a, doc_b) with doc_a < doc_b.

    Scale: stages 1 and 3 are shuffle-free codegen; the only
    exchanges are the anchor-hash join and the final distinct. A
    corpus-hot anchor (boilerplate shared by many docs) fans out into
    the pair set it genuinely belongs to — output-sized cost, the
    same inherent bound as every pair operator here; cap it upstream
    (per-domain cap, exact-clique collapse) when the duplicate answer
    itself is quadratic."""
    if k >= min_len:
        raise ValueError(
            f"exact_substring_pairs: k={k} must be < min_len={min_len}"
        )
    window = min_len - k + 1
    # lazy checkpoint: the anchor table feeds BOTH sides of the block
    # self-join — without it the winnowing pass runs twice per
    # execution (measured ~18 s/side at 5.4k sf0.1 docs)
    anchors = winnow_anchors(
        df, id_col, text_col, k=k, window=window
    ).localCheckpoint(eager=False)
    a = anchors.select(
        F.col(id_col).alias("doc_a"), "h", F.col("pos").alias("pos_a")
    )
    b = anchors.select(
        F.col(id_col).alias("doc_b"), "h", F.col("pos").alias("pos_b")
    )
    cand = a.join(b, "h").filter(F.col("doc_a") < F.col("doc_b")).select(
        "doc_a", "doc_b", "pos_a", "pos_b"
    )
    texts = df.select(F.col(id_col), F.col(text_col).alias("_t"))
    nlen = 2 * min_len - k

    def _ngrams(t, pos):
        start = F.greatest(pos - (min_len - k), F.lit(1))
        hood = F.substr(t, start, F.lit(nlen))
        n = F.length(hood) - (min_len - 1)
        # guard the sequence: a neighborhood shorter than L (the doc
        # itself is shorter than L) has NO L-grams — and an unguarded
        # sequence(1, 0) silently runs DESCENDING ([1, 0]), emitting
        # two phantom truncated "grams" that false-pair sub-L
        # identical docs (caught by the sf0.1 oracle diff)
        return F.when(
            n >= 1,
            F.transform(
                F.sequence(F.lit(1), n),
                lambda i: F.substr(hood, i, F.lit(min_len)),
            ),
        ).otherwise(F.array().cast("array<string>"))

    verified = (
        cand.join(texts.withColumnRenamed(id_col, "doc_a"), "doc_a")
        .withColumnRenamed("_t", "_ta")
        .join(texts.withColumnRenamed(id_col, "doc_b"), "doc_b")
        .withColumnRenamed("_t", "_tb")
        .filter(
            F.arrays_overlap(
                _ngrams(F.col("_ta"), F.col("pos_a")),
                _ngrams(F.col("_tb"), F.col("pos_b")),
            )
        )
    )
    return verified.select("doc_a", "doc_b").distinct()
