"""Text cleaning: corpus-wide frequency-based line dedup (hot_lines /
remove_hot_lines)."""

from __future__ import annotations

from scida_spark.functions import text as T


# --------------------------------------------------------------------------
# Corpus-wide frequency-based line dedup (hot_lines / remove_hot_lines)
# --------------------------------------------------------------------------

_CORPUS = [
    (1, "alpha one\ncookie banner\nunique to one"),
    (2, "beta two\n  cookie banner  \nanother line\ncookie banner"),
    (3, "cookie banner\nshared footer"),
    (4, "shared footer\ngamma four"),
    (5, "gamma five\n\n  \nsolo line"),
]


def _corpus(spark):
    return spark.createDataFrame(_CORPUS, "doc_id long, text string")


def test_hot_lines_counts_distinct_docs(spark):
    """A line repeated inside ONE doc counts once; matching trims
    spaces; blank lines are never hot."""
    hot = T.hot_lines(_corpus(spark), "text", min_docs=2)
    got = {r["line"]: r["n_docs"] for r in hot.collect()}
    # 'cookie banner' is in docs 1,2,3 (twice in 2 -> still 3);
    # 'shared footer' in 3,4; everything else unique; ''/'  ' excluded.
    assert got == {"cookie banner": 3, "shared footer": 2}


def test_remove_hot_lines_broadcast_path(spark):
    docs = _corpus(spark)
    hot = T.hot_lines(docs, "text", min_docs=2)
    out = {
        r["doc_id"]: (r["cleaned"], r["n_removed"])
        for r in T.remove_hot_lines(docs, hot, "doc_id", "text").collect()
    }
    assert out[1] == ("alpha one\nunique to one", 1)
    # trimmed match removes the padded variant; both in-doc repeats go
    assert out[2] == ("beta two\nanother line", 2)
    assert out[3] == ("", 2)  # every line hot -> empty doc
    assert out[4] == ("gamma four", 1)
    # blank lines preserved verbatim, nothing removed
    assert out[5] == ("gamma five\n\n  \nsolo line", 0)


def test_remove_hot_lines_join_path_agrees(spark):
    """max_broadcast=0 forces the join fallback; must agree
    row-for-row with the broadcast path."""
    docs = _corpus(spark)
    hot = T.hot_lines(docs, "text", min_docs=2)
    a = sorted(
        T.remove_hot_lines(docs, hot, "doc_id", "text").select(
            "doc_id", "cleaned", "n_removed"
        ).collect()
    )
    b = sorted(
        T.remove_hot_lines(
            docs, hot, "doc_id", "text", max_broadcast=0
        ).select("doc_id", "cleaned", "n_removed").collect()
    )
    assert a == b


def test_remove_hot_lines_broadcast_is_map_only(spark):
    """After the bounded hot-set collect, removal is one Arrow
    projection over the corpus: no Exchange in the cleaned plan."""
    docs = _corpus(spark)
    hot = T.hot_lines(docs, "text", min_docs=2)
    cleaned = T.remove_hot_lines(docs, hot, "doc_id", "text")
    plan = cleaned._sc._jvm.PythonSQLUtils.explainString(
        cleaned._jdf.queryExecution(), "formatted"
    )
    assert "Exchange" not in plan
    assert "ArrowEvalPython" in plan


def test_remove_hot_lines_matches_python_oracle_random_corpus(spark):
    """Randomized (seeded) corpus from a small line alphabet vs an
    independent quadratic Python oracle — both physical paths."""
    import random

    rng = random.Random(1234)
    alphabet = [f"line {i}" for i in range(12)] + ["", "  ", " padded "]
    corpus = [
        (i, "\n".join(rng.choice(alphabet) for _ in range(rng.randint(1, 8))))
        for i in range(60)
    ]
    min_docs = 4

    # independent oracle
    from collections import Counter

    per_doc = [{l.strip(" ") for l in t.split("\n") if l.strip(" ")} for _, t in corpus]
    counts = Counter(l for s in per_doc for l in s)
    hot = {l for l, c in counts.items() if c >= min_docs}
    expect = {}
    for doc_id, t in corpus:
        keep = [l for l in t.split("\n") if l.strip(" ") not in hot]
        expect[doc_id] = ("\n".join(keep), len(t.split("\n")) - len(keep))

    docs = spark.createDataFrame(corpus, "doc_id long, text string")
    hot_df = T.hot_lines(docs, "text", min_docs=min_docs)
    assert {r["line"] for r in hot_df.collect()} == hot
    for gate in (2_000_000, 0):  # broadcast path, then join fallback
        got = {
            r["doc_id"]: (r["cleaned"], r["n_removed"])
            for r in T.remove_hot_lines(
                docs, hot_df, "doc_id", "text", max_broadcast=gate
            ).collect()
        }
        assert got == expect, f"gate={gate}"
