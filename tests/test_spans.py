"""Repeated-span dedup (functions/spans.py): window table, hot-span
discovery, map-side masking — vs a naive Python oracle on a randomized
corpus, plus plan contracts (no UDF, no token-level corpus explode on
the mask path's exchange)."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from scida_spark.functions import spans as S


def _naive(corpus, k, min_docs):
    """Independent oracle: windows as token tuples (no hashing)."""
    wins = {}  # span -> set(doc)
    for doc_id, text in corpus:
        toks = text.strip().split(" ")
        seen = set()
        for i in range(len(toks) - k + 1):
            seen.add(tuple(toks[i : i + k]))
        for sp in seen:
            wins.setdefault(sp, set()).add(doc_id)
    hot = {sp for sp, d in wins.items() if len(d) >= min_docs}
    masked = {}
    for doc_id, text in corpus:
        toks = text.strip().split(" ")
        cov = set()
        for i in range(len(toks) - k + 1):
            if tuple(toks[i : i + k]) in hot:
                cov.update(range(i, i + k))
        kept = [t for j, t in enumerate(toks) if j not in cov]
        masked[doc_id] = (" ".join(kept), len(cov))
    return hot, masked


CORPUS = [
    (0, "a b c d e f g"),
    (1, "x y a b c d q"),          # shares 'a b c d' with doc 0
    (2, "one two three"),           # unique
    (3, "x y a b c d q"),           # exact duplicate of doc 1
    (4, "pad pad a b c d e f g z"),  # shares the long run with doc 0
    (5, "short"),                   # fewer than k tokens
]


@pytest.fixture()
def docs(spark):
    return spark.createDataFrame(CORPUS, "doc_id long, text string")


def test_hot_spans_and_mask_match_oracle(spark, docs):
    k, min_docs = 3, 2
    hot_ref, masked_ref = _naive(CORPUS, k, min_docs)
    hot = S.hot_spans(docs, "text", k, min_docs)
    assert hot.count() == len(hot_ref)
    got = {
        r["doc_id"]: (r["masked"], r["n_masked"])
        for r in S.mask_hot_spans(docs, hot, "doc_id", "text", k).collect()
    }
    assert got == masked_ref


def test_randomized_corpus_matches_oracle(spark):
    rng = random.Random(8)
    vocab = [f"w{i}" for i in range(12)]  # small vocab => real repeats
    corpus = [
        (i, " ".join(rng.choice(vocab) for _ in range(rng.randint(1, 30))))
        for i in range(60)
    ]
    k, min_docs = 4, 2
    hot_ref, masked_ref = _naive(corpus, k, min_docs)
    docs = spark.createDataFrame(corpus, "doc_id long, text string")
    hot = S.hot_spans(docs, "text", k, min_docs)
    assert hot.count() == len(hot_ref)
    got = {
        r["doc_id"]: (r["masked"], r["n_masked"])
        for r in S.mask_hot_spans(docs, hot, "doc_id", "text", k).collect()
    }
    assert got == masked_ref


def test_within_doc_repeat_not_hot(spark):
    """A span repeated many times inside ONE doc is not hot (distinct
    docs is the threshold), and the map-side array_distinct means it
    contributes one shuffle row."""
    docs = spark.createDataFrame(
        [(0, "p q r p q r p q r"), (1, "unrelated words here")],
        "doc_id long, text string",
    )
    assert S.hot_spans(docs, "text", 3, 2).count() == 0


def test_long_repeat_fully_covered(spark):
    """A shared run longer than k is covered window-by-window: every
    token of the 7-token run shared by docs 0 and 4 is masked."""
    docs = spark.createDataFrame(
        [r for r in CORPUS if r[0] in (0, 4)], "doc_id long, text string"
    )
    got = {
        r["doc_id"]: r["masked"]
        for r in S.mask_hot_spans(
            docs, S.hot_spans(docs, "text", 3, 2), "doc_id", "text", 3
        ).collect()
    }
    assert got[0] == ""                  # doc 0 is entirely the shared run
    assert got[4] == "pad pad z"


def test_mask_plan_no_udf_no_token_explode_projection(spark, docs):
    """Plan contract: masking is pure JVM (no ArrowEvalPython /
    BatchEvalPython) and the only exploded relation reaching an
    exchange is the WINDOW-HIT table, never a token-level corpus
    explode (generators appear, but the post-join rebuild is a single
    projection)."""
    hot = S.hot_spans(docs, "text", 3, 2)
    masked = S.mask_hot_spans(docs, hot, "doc_id", "text", 3)
    p = masked._sc._jvm.PythonSQLUtils.explainString(
        masked._jdf.queryExecution(), "formatted"
    )
    assert "EvalPython" not in p


# --------------------------------------------------------------------------
# Character-level exact-substring CUT (r14): Lee et al. removal
# --------------------------------------------------------------------------


def test_exact_substring_cut_matches_coverage_reference(spark):
    """cleaned == remove every char inside a >= L-char substring shared
    with ANOTHER doc (per-position coverage reference), incl. a full
    duplicate (everything cut), empty/short docs, and identical sub-L
    docs (nothing cut)."""
    import random

    from scida_spark.functions.spans import exact_substring_cut

    random.seed(7)
    alph = "abcdefghij "

    def rnd(n):
        return "".join(random.choice(alph) for _ in range(n))

    base = [rnd(200) for _ in range(20)]
    rows = [(i, t) for i, t in enumerate(base)]
    for i in (0, 3):
        rows.append((100 + i, rnd(20) + base[i][50:130] + rnd(25)))
    rows.append((200, base[5]))  # verbatim duplicate: fully removed
    rows.append((300, ""))
    rows.append((301, "short"))
    sub = rnd(58)
    rows.append((400, sub))
    rows.append((401, sub))  # identical but sub-L: untouched

    L = 60
    grams: dict = {}
    for d, t in rows:
        for i in range(len(t) - L + 1):
            grams.setdefault(t[i : i + L], set()).add(d)
    want = {}
    for d, t in rows:
        cov = set()
        for i in range(len(t) - L + 1):
            if len(grams[t[i : i + L]]) >= 2:
                cov.update(range(i, i + L))
        want[d] = (
            "".join(c for p, c in enumerate(t) if p not in cov),
            len(cov),
        )

    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: (r["cleaned"], r["n_removed"])
        for r in exact_substring_cut(df, "doc_id", "text", 60, 16).collect()
    }
    assert got == want
    assert got[200] == ("", 200)  # the duplicate vanished entirely
    assert got[400][1] == 0 and got[401][1] == 0


def test_exact_substring_cut_partitioning_invariant(spark):
    from scida_spark.functions.spans import exact_substring_cut

    rows = [(i, ("tok%d " % (i % 4)) * 30) for i in range(16)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    one = {
        (r["doc_id"], r["cleaned"], r["n_removed"])
        for r in exact_substring_cut(df.coalesce(1), "doc_id", "text", 60, 16).collect()
    }
    many = {
        (r["doc_id"], r["cleaned"], r["n_removed"])
        for r in exact_substring_cut(
            df.repartition(13), "doc_id", "text", 60, 16
        ).collect()
    }
    assert one == many
    # every doc has 3 verbatim twins -> fully covered
    assert all(c == "" for _, c, _ in one)


def test_exact_substring_cut_overlapping_long_matches(spark):
    """The r15 per-pair diagonal-skip kernel stays EXACT on the
    adversarial regime it was built for: long documents whose shared
    runs overlap heavily (near-copies of one long doc, multiple
    distinct runs per pair, runs on different diagonals, an internal
    edit splitting one diagonal into two runs). Reference = the same
    per-position coverage oracle."""
    import random

    from scida_spark.functions.spans import exact_substring_cut

    random.seed(13)
    alph = "abcdefgh "

    def rnd(n):
        return "".join(random.choice(alph) for _ in range(n))

    book = rnd(3000)
    rows = [(0, book)]
    # near-copy with one internal edit: same diagonal breaks into two
    # maximal runs
    edited = book[:1500] + "X" + book[1501:]
    rows.append((1, edited))
    # copy with an INSERTION: the two halves share on different
    # diagonals
    rows.append((2, book[:800] + rnd(50) + book[800:1600]))
    # two disjoint excerpts of the same book in one doc
    rows.append((3, rnd(30) + book[100:400] + rnd(40) + book[2000:2400]))
    # unrelated long doc
    rows.append((4, rnd(3000)))

    L = 60
    grams: dict = {}
    for d, t in rows:
        for i in range(len(t) - L + 1):
            grams.setdefault(t[i : i + L], set()).add(d)
    want = {}
    for d, t in rows:
        cov = set()
        for i in range(len(t) - L + 1):
            if len(grams[t[i : i + L]]) >= 2:
                cov.update(range(i, i + L))
        want[d] = (
            "".join(c for p, c in enumerate(t) if p not in cov),
            len(cov),
        )

    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: (r["cleaned"], r["n_removed"])
        for r in exact_substring_cut(df, "doc_id", "text", 60, 16).collect()
    }
    assert got == want
    assert got[4][1] == 0  # the unrelated doc is untouched
