"""Text analysis: tokenization, quality scoring, language ID,
repetition and Unicode normalization.

Hot-path logic is JVM-side Column expressions (split / filter /
transform / size) so it stays inside whole-stage codegen; only what
Columns cannot express (repetition stats, Unicode normalization) runs
as an Arrow-batched Pandas UDF.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from scida_spark.session import local_df

# Tiny per-language stopword sets for the n-gram/stopword heuristic.
# Deterministic and SQL-expressible (the oracle recomputes the same
# scores); tie-break order is fixed: en > de > es > fr > zh.
LANG_STOPWORDS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and"),
    "de": ("der", "die", "und", "das"),
    "es": ("el", "la", "los", "que"),
    "fr": ("le", "la", "les", "et"),
    "zh": ("de", "shi", "zai", "le"),
}


def tokens(text: Column) -> Column:
    """Whitespace tokenization (single-space corpus → simple split)."""
    return F.split(F.trim(text), " ")


def token_count(text: Column) -> Column:
    return F.size(tokens(text))


def mean_token_length(text: Column) -> Column:
    t = tokens(text)
    return F.aggregate(
        t, F.lit(0).cast("long"), lambda acc, x: acc + F.length(x)
    ).cast("double") / F.size(t)


def quality_score_from_stats(n: Column, nd: Column, mean_len: Column) -> Column:
    """Quality heuristic from pre-computed token stats (n tokens,
    distinct tokens, mean token length). Use this form in hot paths:
    compute the stats once as real columns (Catalyst does not CSE a
    repeated split inside one projection)."""
    nn = n.cast("double")
    return (
        F.least(F.log10(nn + 1) / 3.0, F.lit(1.0))
        + (nd.cast("double") / nn) * 0.5
        + F.when((mean_len >= 3) & (mean_len <= 8), 0.5).otherwise(0.0)
    )


def quality_score(text: Column) -> Column:
    """Deterministic quality heuristic in [0, ~2]: rewards length (log),
    lexical diversity, and a sane mean token length. Pure arithmetic —
    identical across engines."""
    return quality_score_from_stats(
        token_count(text),
        F.size(F.array_distinct(tokens(text))),
        mean_token_length(text),
    )


def lang_id_from_scores(s: dict[str, Column]) -> Column:
    """argmax over pre-computed per-language hit-count columns with fixed
    tie-break (en>de>es>fr>zh) — the CSE-friendly form."""
    expr = F.lit("zh")
    # Build reversed so earlier languages win ties.
    for lang in ["fr", "es", "de", "en"]:
        cond = F.lit(True)
        for other in LANG_STOPWORDS:
            if other != lang:
                # >= for langs later in tie-break order, > for earlier.
                order = list(LANG_STOPWORDS)
                if order.index(other) < order.index(lang):
                    cond = cond & (s[lang] > s[other])
                else:
                    cond = cond & (s[lang] >= s[other])
        expr = F.when(cond, F.lit(lang)).otherwise(expr)
    return expr


def stopword_hits_from_tokens(tok_col: Column, words: tuple[str, ...]) -> Column:
    """Count of tokens in a materialized token array that are stopwords."""
    wl = list(words)
    return F.size(F.filter(tok_col, lambda t: t.isin(wl)))


BPE_ISH_PATTERN = r"[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]"


def bpe_tokens(text: Column) -> Column:
    """BPE-ish regex tokenization: letter runs, single digits, single
    punctuation — the pre-tokenizer split GPT-style BPE applies before
    merges (each digit its own token, punctuation separated). Identical
    regex semantics in Spark and DuckDB (verified), so oracle-able."""
    return F.regexp_extract_all(text, F.lit(BPE_ISH_PATTERN), 0)


def repetition_kernel(texts) -> "tuple[np.ndarray, np.ndarray]":
    """Pure-Python core of :func:`repetition_stats` (exposed for
    property tests): per text, (count of the most frequent word bigram,
    longest same-word run)."""
    from collections import Counter

    top = np.zeros(len(texts), dtype=np.int64)
    run = np.zeros(len(texts), dtype=np.int64)
    for i, txt in enumerate(texts):
        t = (txt or "").strip().split(" ")
        if len(t) >= 2:
            top[i] = max(Counter(zip(t, t[1:])).values())
        best = cur = 1 if t and t[0] else 0
        for a, b in zip(t, t[1:]):
            cur = cur + 1 if a == b else 1
            best = max(best, cur)
        run[i] = best
    return top, run


def repetition_stats(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Gopher-style repetition signals per document (public LLM-corpus
    quality filters, Rae+ 2021 "Scaling Language Models" §A1.1: top
    n-gram fraction, duplicate-token fraction; Falcon/RefinedWeb use
    the same family):

    * ``n_tokens`` / ``n_distinct`` — duplicate-word mass (JVM array
      ops, whole-stage codegen)
    * ``n_bigrams`` / ``top_bigram_n`` — how much of the text the
      single most frequent word bigram covers
    * ``max_run`` — longest same-word run (stutter detection)
    * ``passes_repetition`` — the filter verdict (integer-exact
      thresholds so distributed + SQL oracles agree bit-for-bit)

    Scale: everything is per-document, so there is NO shuffle — token
    stats are Column expressions and the bigram mode / run length ride
    one Arrow-batched pandas UDF over the existing partitioning. The
    explode+groupBy(doc, bigram) formulation would shuffle the whole
    corpus; per-row Counters beat it at any scale.
    """

    @F.pandas_udf("struct<top_bigram_n: long, max_run: long>")
    def _rep(s: pd.Series) -> pd.DataFrame:
        top, run = repetition_kernel(s)
        return pd.DataFrame({"top_bigram_n": top, "max_run": run})

    t = tokens(F.col(text_col))
    return (
        df.select(
            F.col(id_col),
            F.size(t).cast("long").alias("n_tokens"),
            F.size(F.array_distinct(t)).cast("long").alias("n_distinct"),
            (F.size(t) - 1).cast("long").alias("n_bigrams"),
            _rep(F.col(text_col)).alias("_r"),
        )
        .select(
            id_col,
            "n_tokens",
            "n_distinct",
            "n_bigrams",
            F.col("_r.top_bigram_n").alias("top_bigram_n"),
            F.col("_r.max_run").alias("max_run"),
            ((F.col("_r.top_bigram_n") < 3) & (F.col("_r.max_run") < 3)).alias(
                "passes_repetition"
            ),
        )
    )


# --------------------------------------------------------------------------
# Corpus-wide line-level dedup (CCNet / RefinedWeb paragraph dedup)
# --------------------------------------------------------------------------
# The frequency-based pair below DISCOVERS boilerplate (no curated
# marker list): any line that
# occurs in >= min_docs distinct documents is removed from every
# document (nav bars, cookie banners, footers — CCNet, Wenzek+ 2019
# §4.1 dedups at the paragraph level against corpus-wide hashes).

_LINE_DELIM = "\n"


def hot_lines(
    docs: DataFrame,
    text_col: str,
    min_docs: int,
) -> DataFrame:
    """Lines occurring in >= ``min_docs`` documents → ``(line,
    n_docs)``. Each input ROW is one document (the map-side
    ``array_distinct`` below de-dups lines within a row; rows are
    assumed unique documents — pre-aggregate first if your ids
    repeat). Matching is on the space-trimmed line (Spark ``trim`` /
    SQL ``TRIM`` semantics: ASCII space only, so any SQL oracle
    reproduces it); empty-after-trim lines are never counted.

    Scale: the within-doc distinct is MAP-SIDE — ``array_distinct``
    over the split array before the explode — so a line repeated 1000×
    inside one doc costs nothing and, crucially, there is no
    (doc, line) DISTINCT shuffle of the whole corpus. The only
    exchange is the partial-agg count by line. The transform/
    array_distinct projection runs interpreted (higher-order
    functions leave codegen — SCALE.md), but that trade buys the
    elision of a full-corpus shuffle: strictly the right side of the
    trade at any scale.
    """
    # NB: the lambda must be single-arg — F.transform introspects the
    # callable's arity, and passing F.trim directly (optional 2nd param)
    # makes it call the two-parameter trim(x, index), silently trimming
    # index digits off every line.
    lines = docs.select(
        F.explode(
            F.array_distinct(
                F.transform(F.split(F.col(text_col), _LINE_DELIM), lambda c: F.trim(c))
            )
        ).alias("line")
    ).where(F.col("line") != "")
    return (
        lines.groupBy("line")
        .agg(F.count("*").alias("n_docs"))
        .where(F.col("n_docs") >= F.lit(int(min_docs)))
    )


def remove_hot_lines(
    docs: DataFrame,
    hot: DataFrame,
    id_col: str,
    text_col: str,
    out_col: str = "cleaned",
    max_broadcast: int = 2_000_000,
) -> DataFrame:
    """Rebuild every document without its hot lines → all input
    columns plus ``out_col`` (the reassembled text, original line
    order and spacing preserved) and ``n_removed``.

    Two physical strategies behind one semantics (the size-gated
    auto-switch pattern of operators/catalog.py):

    * **Broadcast (default)**: boilerplate sets are small by nature —
      a line must repeat across documents to qualify — so the hot set
      is collected (bounded by ``max_broadcast``, probed with
      limit+1), broadcast via ``SparkContext.broadcast``, and removal
      is ONE Arrow-batched pandas projection over the corpus's
      existing partitioning: zero shuffle of the 100 TB side.
      Matching uses ``l.strip(' ')`` — space-only, mirroring the
      ``trim`` used to build the hot set.
    * **Join fallback** (hot set above the gate): posexplode lines
      with ordinals, broadcast-or-shuffle left-anti join on the
      trimmed line (AQE decides), then one groupBy(doc) reassembly —
      ``array_sort`` over (pos, line) structs restores order. One
      corpus shuffle, still no cartesian and no driver materialization.

    Both paths agree row-for-row (pinned by test): empty lines are
    always kept (the hot set excludes them), a doc whose every line is
    hot rebuilds to ``''``.
    """
    spark = docs.sparkSession
    probe = hot.select("line").limit(max_broadcast + 1).collect()
    if len(probe) <= max_broadcast:
        hot_set = {r[0] for r in probe}
        bc = spark.sparkContext.broadcast(hot_set)

        @F.pandas_udf(f"struct<{out_col}: string, n_removed: long>")
        def _strip(s: pd.Series) -> pd.DataFrame:
            hs = bc.value
            cleaned, removed = [], []
            for txt in s:
                parts = (txt or "").split(_LINE_DELIM)
                keep = [l for l in parts if l.strip(" ") not in hs]
                cleaned.append(_LINE_DELIM.join(keep))
                removed.append(len(parts) - len(keep))
            return pd.DataFrame({out_col: cleaned, "n_removed": removed})

        r = docs.withColumn("_ld", _strip(F.col(text_col)))
        return r.select(
            *docs.columns,
            F.col(f"_ld.{out_col}").alias(out_col),
            F.col("_ld.n_removed").alias("n_removed"),
        )

    ex = docs.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), _LINE_DELIM)).alias("pos", "line"),
    )
    kept = ex.join(
        hot.select(F.col("line").alias("_hot_line")),
        F.trim(ex["line"]) == F.col("_hot_line"),
        "left_anti",
    )
    reb = kept.groupBy(id_col).agg(
        F.concat_ws(
            _LINE_DELIM,
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "line"))),
                lambda s: s["line"],
            ),
        ).alias(out_col),
        F.count("*").alias("_n_kept"),
    )
    n_lines = F.size(F.split(F.col(text_col), _LINE_DELIM)).cast("long")
    return (
        docs.withColumn("_n_lines", n_lines)
        .join(reb, on=id_col, how="left")
        .select(
            *docs.columns,
            F.coalesce(F.col(out_col), F.lit("")).alias(out_col),
            (F.col("_n_lines") - F.coalesce(F.col("_n_kept"), F.lit(0))).alias(
                "n_removed"
            ),
        )
    )


def top_collocations(
    docs: DataFrame,
    k: int = 10,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Top-k bigram collocations by corpus count, scored with pointwise
    mutual information (r12) — the corpus-card / phrase-discovery
    staple ("which word pairs co-occur far more than chance"):

        pmi(a,b) = ln( p(a,b) / (p(a) p(b)) )
                 = ((((ln(c_ab) + ln(Nu)) + ln(Nu)) - ln(Nb))
                    - ln(c_a)) - ln(c_b)

    with c_ab the bigram count, c_a/c_b unigram counts, Nb/Nu the
    total bigram/unigram token counts. The LOG-SUM form with the
    PINNED parenthesization is the replay contract (the bm25 idf
    rule): every ln argument is an exact integer, both engines call
    libm, and the addition order is fixed — so the doubles hash-match
    across engines, where the ratio form would overflow int64 products
    at corpus scale.

    Returns (rank, w1, w2, c_ab, pmi), rank 1..k ordered by
    (c_ab desc, w1, w2) — a deterministic total order.

    Scale: ONE tokenization pass feeds both count tables (bigrams via
    an adjacent-pair transform over the token array — no self-join);
    each count is a map-side-combined groupBy bounded by vocabulary;
    top-k is TakeOrdered over the aggregated side; the PMI fold runs
    driver-side over k + 2k collected integers (the isotonic-PAV
    shape)."""
    import math

    t = docs.select(tokens(F.col(text_col)).alias("_t"))
    # adjacent pairs via slice + arrays_zip — NATIVE array expressions
    # (a per-element lambda here is interpreted and was measured as a
    # x100 cliff in the phrase operator's first draft; SCALE.md)
    big = t.select(
        F.explode(
            F.arrays_zip(
                F.expr("slice(_t, 1, size(_t) - 1)").alias("w1"),
                F.expr("slice(_t, 2, size(_t) - 1)").alias("w2"),
            )
        ).alias("bg")
    )
    bcounts = (
        big.select(F.col("bg.w1").alias("w1"), F.col("bg.w2").alias("w2"))
        .groupBy("w1", "w2")
        .agg(F.count("*").alias("c_ab"))
    )
    ucounts = t.select(F.explode("_t").alias("w")).groupBy("w").agg(
        F.count("*").alias("c")
    )
    topk = bcounts.orderBy(
        F.desc("c_ab"), F.asc("w1"), F.asc("w2")
    ).limit(int(k)).collect()
    totals = t.select(
        F.coalesce(F.sum(F.size("_t")), F.lit(0)).alias("nu"),
        F.coalesce(
            F.sum(F.greatest(F.size("_t") - 1, F.lit(0))), F.lit(0)
        ).alias("nb"),
    ).first()
    nu, nb = int(totals["nu"]), int(totals["nb"])
    need = sorted({r["w1"] for r in topk} | {r["w2"] for r in topk})
    uc = {
        r["w"]: int(r["c"])
        for r in ucounts.filter(F.col("w").isin(need)).collect()
    }
    rows = []
    for rank, r in enumerate(topk, start=1):
        c_ab = int(r["c_ab"])
        pmi = (
            (
                ((math.log(c_ab) + math.log(nu)) + math.log(nu))
                - math.log(nb)
            )
            - math.log(uc[r["w1"]])
        ) - math.log(uc[r["w2"]])
        rows.append((rank, r["w1"], r["w2"], c_ab, pmi))
    return local_df(docs.sparkSession, 
        rows, "rank int, w1 string, w2 string, c_ab long, pmi double"
    )


# --------------------------------------------------------------------------
# Unicode normalization (r13) — the cleaning step multilingual corpora
# need BEFORE any hash/dedup/join: the same visible text can arrive
# precomposed (é = U+00E9) or decomposed (e + U+0301), and md5 /
# groupBy / equi-join keys treat them as different documents.
# --------------------------------------------------------------------------


def nfc_normalize(text: Column) -> Column:
    """Unicode canonical composition (NFC). Spark has no built-in
    normalizer, so this is one Arrow-batched pandas pass (the
    sanctioned UDF shape: map-only, zero shuffle — at 100 TB it rides
    whatever scan already touches the column). DuckDB's
    ``nfc_normalize`` produces byte-identical output (both implement
    UAX #15), so normalized columns stay oracle-checkable."""

    @F.pandas_udf("string")
    def _nfc(s: pd.Series) -> pd.Series:
        import unicodedata as ud

        return s.map(
            lambda x: ud.normalize("NFC", x) if x is not None else None
        )

    return _nfc(text)


def strip_accents(text: Column) -> Column:
    """Remove combining marks: NFD decomposition, drop category-Mn
    codepoints (é→e, ü→u, ñ→n; ß/ligatures/non-Latin letters pass
    through untouched — this strips ACCENTS, it does not transliterate).
    Byte-identical to DuckDB's ``strip_accents`` (verified across
    precomposed, decomposed, double-accented, ligature, and non-Latin
    inputs), so stripped columns stay oracle-checkable."""

    @F.pandas_udf("string")
    def _strip(s: pd.Series) -> pd.Series:
        import unicodedata as ud

        def one(x):
            if x is None:
                return None
            return "".join(
                c
                for c in ud.normalize("NFD", x)
                if ud.category(c) != "Mn"
            )

        return s.map(one)

    return _strip(text)


def match_key(text: Column) -> Column:
    """Accent- and case-insensitive join/dedup key:
    ``lower(strip_accents(nfc(text)))`` — the composition order is the
    contract (NFC first so decomposed input folds identically), and the
    whole chain is replayable in the oracle as
    ``lower(strip_accents(nfc_normalize(x)))``. Use for URL/title/name
    matching and as the groupBy key for cross-encoding dedup."""

    @F.pandas_udf("string")
    def _key(s: pd.Series) -> pd.Series:
        import unicodedata as ud

        def one(x):
            if x is None:
                return None
            return "".join(
                c
                for c in ud.normalize("NFD", ud.normalize("NFC", x))
                if ud.category(c) != "Mn"
            ).lower()

        return s.map(one)

    return _key(text)
