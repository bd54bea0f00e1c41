"""Text analysis functions vs plain-Python ground truth."""

import pytest
from pyspark.sql import functions as F

from scida_spark.functions import text as TX


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, "the quick brown fox and the lazy dog"),
        (1, "der hund und die katze und das haus"),
        (2, "one two three"),
        (3, "a a a a b"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_token_count(spark, docs):
    got = {r["doc_id"]: r["n"] for r in docs.select("doc_id", TX.token_count(F.col("text")).alias("n")).collect()}
    assert got == {0: 8, 1: 8, 2: 3, 3: 5}


def test_stopword_hits_and_langid(spark, docs):
    toks = docs.select("doc_id", TX.tokens(F.col("text")).alias("_t"))
    scores = {
        lang: TX.stopword_hits_from_tokens(F.col("_t"), sw)
        for lang, sw in TX.LANG_STOPWORDS.items()
    }
    out = {
        r["doc_id"]: r["lang"]
        for r in toks.select("doc_id", TX.lang_id_from_scores(scores).alias("lang")).collect()
    }
    assert out[0] == "en"
    assert out[1] == "de"
    assert out[2] == "en"  # zero hits everywhere → tie-break picks en


def test_repetition_stats_kernel(spark):
    """Gopher-style repetition signals on crafted cases: stutter runs,
    dominant bigrams, and a clean document."""
    rows = [
        (0, "a b c d e f"),                # clean: all runs 1, all bigrams unique
        (1, "x x x y z w"),                # run of 3 x's
        (2, "p q p q p q p q"),            # "p q" bigram 4 of 7
        (3, "solo"),                       # single token: no bigrams
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r.asDict() for r in TX.repetition_stats(df, "doc_id", "text").collect()}
    assert got[0]["top_bigram_n"] == 1 and got[0]["max_run"] == 1
    assert got[0]["passes_repetition"] is True
    assert got[1]["max_run"] == 3 and got[1]["passes_repetition"] is False
    assert got[2]["top_bigram_n"] == 4 and got[2]["n_bigrams"] == 7
    assert got[2]["passes_repetition"] is False
    assert got[3]["n_tokens"] == 1 and got[3]["n_bigrams"] == 0
    assert got[3]["top_bigram_n"] == 0 and got[3]["max_run"] == 1


def test_hash_sampling_properties(spark):
    """Deterministic sampling: order/partitioning-invariant, nested
    fractions compose, split labels partition the id space."""
    from scida_spark.functions.sampling import hash_sample, hash_split

    df = spark.range(2000).withColumnRenamed("id", "doc_id")
    s10 = {r["doc_id"] for r in hash_sample(df, "doc_id", 0.10, salt="s").collect()}
    s01 = {r["doc_id"] for r in hash_sample(df, "doc_id", 0.01, salt="s").collect()}
    assert s01 <= s10                      # nested samples compose
    assert 120 <= len(s10) <= 280          # ~10% of 2000
    # repartitioned input → identical sample
    s10b = {
        r["doc_id"]
        for r in hash_sample(df.repartition(7), "doc_id", 0.10, salt="s").collect()
    }
    assert s10 == s10b
    # splits cover every row exactly once with roughly right masses
    sp = hash_split(df, "doc_id", {"train": 0.8, "eval": 0.1, "test": 0.1}, salt="s")
    counts = {r["split"]: r["count"] for r in sp.groupBy("split").count().collect()}
    assert sum(counts.values()) == 2000
    assert counts["train"] > counts["eval"] and counts["train"] > counts["test"]
    # different salt re-rolls the assignment
    sp2 = {r["doc_id"]: r["split"] for r in hash_split(df, "doc_id", salt="other").collect()}
    sp1 = {r["doc_id"]: r["split"] for r in sp.collect()}
    assert any(sp1[k] != sp2[k] for k in sp1)


def test_top_collocations_contract(spark):
    """top_collocations (r12): counts exact, PMI matches the pinned
    log-sum hand-derivation, rank order deterministic (c desc, w1, w2),
    partitioning never changes a value, short/empty docs are safe."""
    import math

    from scida_spark.functions.text import top_collocations

    df = spark.createDataFrame(
        [
            (0, "new york new york city"),
            (1, "new york is big"),
            (2, "x"),
            (3, ""),
        ],
        "doc_id long, text string",
    )
    rows = top_collocations(df, k=3).collect()
    # count-1 bigrams tie-break on (w1, w2) asc: (is,big) < (york,city)
    assert [(r["rank"], r["w1"], r["w2"], r["c_ab"]) for r in rows] == [
        (1, "new", "york", 3),
        (2, "is", "big", 1),
        (3, "york", "city", 1),
    ]
    # hand-derived PMI for the top pair: corpus unigrams over ALL docs
    # (nu counts every token incl. the '' token of doc 3), bigrams over
    # docs with >= 2 tokens
    nu = 5 + 4 + 1 + 1  # doc3's empty text still tokenizes to ['']
    nb = 4 + 3
    c_new, c_york, c_ab = 3, 3, 3
    want = (
        (((math.log(c_ab) + math.log(nu)) + math.log(nu)) - math.log(nb))
        - math.log(c_new)
    ) - math.log(c_york)
    assert rows[0]["pmi"] == want
    # layout independence: bit-identical under repartition
    a = top_collocations(df, k=3).collect()
    b = top_collocations(df.repartition(7), k=3).collect()
    assert a == b


# --------------------------------------------------------------------------
# Unicode normalization
# --------------------------------------------------------------------------


def test_unicode_normalization_ops(spark):
    import unicodedata as ud

    from scida_spark.functions.text import (
        match_key,
        nfc_normalize,
        strip_accents,
    )
    from pyspark.sql import functions as F

    decomposed = "café"  # e + combining acute
    rows = [
        (0, "café"),
        (1, decomposed),
        (2, "Mühleisen ÀÉÎÕÜ"),
        (3, "ASCII stays"),
        (4, "ß ﬁ Ĳ Ωmega"),  # no accents: pass-through for strip
        (5, None),
    ]
    df = spark.createDataFrame(rows, "i long, t string")
    out = {
        r["i"]: (r["nfc"], r["st"], r["mk"])
        for r in df.select(
            "i",
            nfc_normalize(F.col("t")).alias("nfc"),
            strip_accents(F.col("t")).alias("st"),
            match_key(F.col("t")).alias("mk"),
        ).collect()
    }
    # NFC folds decomposed and precomposed to the same bytes
    assert out[0][0] == out[1][0] == "café"
    assert len("café") == 4 and len(decomposed) == 5
    # accent strip removes marks, keeps base letters / non-Latin
    assert out[2][1] == "Muhleisen AEIOU"
    assert out[4][1] == "ß ﬁ Ĳ Ωmega"
    # match_key: decomposed ≡ precomposed ≡ case/accent variants
    assert out[0][2] == out[1][2] == "cafe"
    assert out[2][2] == "muhleisen aeiou"
    assert out[3] == ("ASCII stays", "ASCII stays", "ascii stays")
    assert out[5] == (None, None, None)
    # idempotence
    twice = df.select(
        match_key(match_key(F.col("t"))).alias("a"),
        match_key(F.col("t")).alias("b"),
    ).collect()
    assert all(r["a"] == r["b"] for r in twice)
    # strip_accents == the NFD-drop-Mn reference on arbitrary input
    s = "déjà vu – Ĳsselmeer's ñoño ÉÉ́"
    [r] = spark.createDataFrame([(s,)], "t string").select(
        strip_accents(F.col("t")).alias("x")
    ).collect()
    assert r["x"] == "".join(
        c for c in ud.normalize("NFD", s) if ud.category(c) != "Mn"
    )


def test_match_key_composes_with_exact_dedup(spark):
    """Composition: exact dedup over the normalized match key catches
    duplicates that differ only in composition form, case, or accents
    — invisible to raw md5 dedup."""
    from pyspark.sql import functions as F

    from scida_spark.functions.dedup import exact_dedup
    from scida_spark.functions.text import match_key

    rows = [
        (0, "Café Lait"),       # precomposed
        (1, "Café Lait"),      # decomposed twin
        (2, "CAFE LAIT"),            # case/accent twin
        (3, "something else"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    raw = exact_dedup(df, "doc_id", "text")
    assert raw.count() == 4  # md5 sees 4 distinct byte strings
    normed = df.withColumn("key", match_key(F.col("text")))
    got = sorted(
        r["doc_id"] for r in exact_dedup(normed, "doc_id", "key").collect()
    )
    assert got == [0, 3]  # min-id per normalized class
