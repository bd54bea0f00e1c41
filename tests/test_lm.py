"""Unigram-LM quality scoring (functions/lm.py): model training,
row-local scoring vs a naive Python oracle, perplexity filtering, and
the deterministic-sample training path."""

import math

import pytest
from pyspark.sql import functions as F

from scida_spark.functions import lm


DOCS = [
    (0, "the cat sat on the mat"),
    (1, "the dog ate the bone"),
    (2, "qqq zzz xxx vvv www"),  # all-OOV gibberish → worst score
    (3, "the the the the"),  # most-frequent token only → best score
    (4, "cat dog mat bone"),
]


@pytest.fixture(scope="module")
def docs_df(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string")


def _naive_model(vocab_size):
    counts = {}
    for _, text in DOCS:
        for t in text.strip().split(" "):
            counts[t] = counts.get(t, 0) + 1
    n_total = sum(counts.values())
    top = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))[:vocab_size]
    return dict(top), n_total


def _naive_nll(text, vocab, denom):
    toks = text.strip().split(" ")
    s, oov = 0.0, 0
    for t in toks:
        c = vocab.get(t)
        if c is None:
            oov += 1
        else:
            s += math.log(c + 1)
    return len(toks), oov, math.log(denom) - s / len(toks)


def test_train_matches_naive_counts(docs_df):
    model = lm.train_unigram_lm(docs_df, vocab_size=4)
    vocab, n_total = _naive_model(4)
    assert model.counts == vocab
    assert model.n_total == n_total
    assert model.denom == n_total + 4 + 1


def test_score_matches_naive_bitwise(docs_df):
    model = lm.train_unigram_lm(docs_df, vocab_size=4)
    rows = {
        r["doc_id"]: r for r in lm.score_nll(docs_df, model).collect()
    }
    for doc_id, text in DOCS:
        n, oov, nll = _naive_nll(text, model.counts, model.denom)
        r = rows[doc_id]
        assert r["n_tokens"] == n
        assert r["n_oov"] == oov
        assert r["nll"] == nll  # bit-exact: same fold order, same libm


def test_score_ordering_sanity(docs_df):
    """Gibberish scores worse than common-token text; the
    all-frequent-token doc scores best."""
    model = lm.train_unigram_lm(docs_df, vocab_size=4)
    nll = {r["doc_id"]: r["nll"] for r in lm.score_nll(docs_df, model).collect()}
    assert nll[2] == max(nll.values())  # all-OOV
    assert nll[3] == min(nll.values())  # 'the the the the'


def test_sampled_training_deterministic(docs_df):
    """sample_fraction uses the content-hash rule: same model on every
    call, and trained on a strict subset of the corpus tokens."""
    m1 = lm.train_unigram_lm(docs_df, vocab_size=4, sample_fraction=0.6)
    m2 = lm.train_unigram_lm(docs_df, vocab_size=4, sample_fraction=0.6)
    assert m1.counts == m2.counts and m1.n_total == m2.n_total
    full = lm.train_unigram_lm(docs_df, vocab_size=100)
    assert m1.n_total <= full.n_total
    # scoring with a sampled model still covers every row
    assert lm.score_nll(docs_df, m1).count() == len(DOCS)


def test_empty_token_edge(spark):
    """Empty text tokenizes to one '' token on both engines (split of
    trimmed empty string) — no division by zero, '' participates in
    the vocabulary like any token."""
    df = spark.createDataFrame([(0, ""), (1, "a a")], "doc_id long, text string")
    model = lm.train_unigram_lm(df, vocab_size=2)
    rows = {r["doc_id"]: r for r in lm.score_nll(df, model).collect()}
    assert rows[0]["n_tokens"] == 1
    assert rows[0]["n_oov"] == 0  # '' is in-vocab here
    assert math.isfinite(rows[0]["nll"])


# ---------------------------------------------------------------------------
# Bigram LM (r9)
# ---------------------------------------------------------------------------


def test_bigram_score_matches_hand_computation(spark):
    import math

    from scida_spark.functions.lm import score_nll2, train_bigram_lm

    docs = spark.createDataFrame(
        [(0, "a b a b"), (1, "b a"), (2, "a zz")],
        "doc_id long, text string",
    )
    # vocab_size 2 -> vocab {a, b} (counts a=4, b=3 > zz=1); zz -> OOV
    m = train_bigram_lm(docs, vocab_size=2)
    assert sorted(m.vocab) == ["a", "b"]
    # mapped pair stream: doc0 (a,b)(b,a)(a,b); doc1 (b,a); doc2 (a,OOV)
    assert m.pair_counts[("a", "b")] == 2
    assert m.pair_counts[("b", "a")] == 2
    assert m.ctx_counts["a"] == 3 and m.ctx_counts["b"] == 2
    got = {r["doc_id"]: r for r in score_nll2(docs, m).collect()}
    V1 = 3  # alphabet = vocab + OOV
    lg = math.log

    def addend(u, v):
        return lg(m.ctx_counts.get(u, 0) + V1) - lg(
            m.pair_counts.get((u, v), 0) + 1
        )

    want0 = (addend("a", "b") + addend("b", "a") + addend("a", "b")) / 3
    assert abs(got[0]["nll2"] - want0) < 1e-15
    assert got[0]["n_pairs"] == 3 and got[0]["n_oov_ctx"] == 0
    assert got[2]["n_pairs"] == 1 and got[2]["n_oov_ctx"] == 0
    want2 = addend("a", "\x01")
    assert abs(got[2]["nll2"] - want2) < 1e-15


def test_bigram_separates_word_order(spark):
    # same unigram content, scrambled order -> higher bigram NLL:
    # the signal the unigram filter is blind to
    from scida_spark.functions.lm import score_nll, score_nll2, train_bigram_lm, train_unigram_lm

    train = [(i, "the cat sat on the mat") for i in range(20)]
    probe = [(100, "the cat sat on the mat"), (101, "mat the on sat cat the")]
    docs = spark.createDataFrame(train + probe, "doc_id long, text string")
    m2 = train_bigram_lm(docs, vocab_size=6)
    s2 = {r["doc_id"]: r["nll2"] for r in score_nll2(docs, m2).collect()}
    assert s2[101] > s2[100] + 0.5
    m1 = train_unigram_lm(docs, vocab_size=6)
    s1 = {r["doc_id"]: r["nll"] for r in score_nll(docs, m1).collect()}
    assert abs(s1[101] - s1[100]) < 1e-12  # unigram cannot tell


def test_bigram_short_docs_dropped(spark):
    from scida_spark.functions.lm import score_nll2, train_bigram_lm

    docs = spark.createDataFrame(
        [(0, "a b"), (1, "solo")], "doc_id long, text string"
    )
    m = train_bigram_lm(docs, vocab_size=4)
    rows = score_nll2(docs, m).collect()
    assert [r["doc_id"] for r in rows] == [0]
