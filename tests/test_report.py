"""Corpus facets: single grouping-sets facet pass, checked
value-for-value against independently computed expectations."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from scida_spark.functions.report import corpus_facets

ROWS = [
    # doc_id, text, lang, source
    (0, "one two three", "en", "web"),
    (1, "eins zwei", "de", "web"),
    (2, "one two three", "en", "books"),  # exact dup of doc 0
    (3, "uno", "es", "web"),
    (4, "four five six seven", "en", "books"),
]


@pytest.fixture()
def docs(spark):
    return spark.createDataFrame(ROWS, "doc_id long, text string, lang string, source string")


def test_facets_cover_all_lang_source(spark, docs):
    rows = {(r["facet"], r["key"]): r for r in corpus_facets(docs).collect()}
    assert set(rows) == {
        ("all", "all"),
        ("lang", "en"),
        ("lang", "de"),
        ("lang", "es"),
        ("source", "web"),
        ("source", "books"),
    }
    assert rows[("all", "all")]["n_docs"] == 5
    assert rows[("all", "all")]["n_tokens"] == 3 + 2 + 3 + 1 + 4
    assert rows[("lang", "en")]["n_docs"] == 3
    assert rows[("source", "web")]["n_tokens"] == 3 + 2 + 1
    # KLL at k=200 over 5 values is exact: p50 of en {3,3,4} is 3
    assert rows[("lang", "en")]["tok_quantiles"][0] == 3.0


def test_facet_pass_is_one_shuffle(spark, docs):
    """The grouping-sets expansion shares ONE Exchange — adding facets
    must not add scans or shuffles."""
    g = corpus_facets(docs)
    p = g._sc._jvm.PythonSQLUtils.explainString(g._jdf.queryExecution(), "formatted")
    tree = p.split("\n\n")[0]  # formatted mode: tree, then per-node details
    assert tree.count("Exchange") == 1
    assert tree.count("Scan") == 1  # one pass over the corpus
    assert tree.count("Expand") == 1  # grouping-sets expansion, not re-scans


def test_null_lang_bucketed_as_question_mark(spark):
    df = spark.createDataFrame(
        [(0, "a b", None, "web")], "doc_id long, text string, lang string, source string"
    )
    langs = {r["key"] for r in corpus_facets(df).collect() if r["facet"] == "lang"}
    assert langs == {"?"}
