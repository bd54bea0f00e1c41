"""Repeated-span (substring-level) dedup: find and mask k-token spans
that recur across the corpus.

Document-level dedup (functions/dedup.py) misses the common failure
mode of web corpora: distinct documents sharing long verbatim passages
(licenses, templates, quoted boilerplate). Lee et al. 2021
("Deduplicating Training Data Makes Language Models Better") remove
exact substrings of >= k tokens that appear more than once; their
single-machine tool builds a suffix array, which does not distribute.
The Spark-first re-expression: every k-token WINDOW is keyed by a
64-bit content hash, windows are counted per distinct document, and
spans over the document threshold become the hot set — the same
inverted-index shape as hot_lines, one explode + one partial-agg
shuffle. Any repeated span of length >= k contains a repeated k-window
at its start, so k-window detection finds every long repeat (covering
it window-by-window).

Masking is MAP-SIDE: only the hot-window HITS (id, pos) are shuffled
(tiny next to the corpus), folded to a per-doc covered-index array,
and the rebuild is one JVM projection — ``F.filter`` with the
(value, index) lambda over the token array. No token-level explode of
the corpus ever reaches an exchange, and no UDF is involved anywhere.

Spans are keyed by the md5-prefix hash rather than their text, so
shuffled rows carry 16 chars instead of k tokens (the k-times corpus
blowup stays transient inside a projection). Both engines compute the
identical hash, so a DuckDB oracle reproduces results exactly even in
the (2^-64) collision case.

No reference counterpart (scida has no text surface); net-new like the
rest of the LLM-pipeline family.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from scida_spark.functions.text import tokens

_HEX = 16  # 64-bit span key


def _span_hashes(text: F.Column, k: int) -> F.Column:
    """array<string> of md5-prefix keys for every k-token window of
    ``text`` (position i covers tokens i..i+k-1, 1-based); empty when
    the document has fewer than k tokens."""
    t = tokens(text)
    n = F.size(t)
    return F.when(
        n >= k,
        F.transform(
            F.sequence(F.lit(1), n - k + 1),
            lambda i: F.substring(
                F.md5(F.array_join(F.slice(t, i, k), " ")), 1, _HEX
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))


def span_table(
    docs: DataFrame, id_col: str, text_col: str, k: int
) -> DataFrame:
    """(id, pos, span_h) — one row per k-token window. ``pos`` is the
    1-based index of the window's first token."""
    return docs.select(
        F.col(id_col).alias("id"),
        F.posexplode(_span_hashes(F.col(text_col), k)).alias("p0", "span_h"),
    ).select("id", (F.col("p0") + 1).alias("pos"), "span_h")


def hot_spans(
    docs: DataFrame, text_col: str, k: int, min_docs: int = 2
) -> DataFrame:
    """Span keys occurring in >= ``min_docs`` documents → (span_h,
    n_docs). The within-doc distinct is MAP-SIDE (``array_distinct``
    before the explode — a span repeated inside one doc counts once
    and costs no shuffle rows); each input row is one document."""
    return (
        docs.select(
            F.explode(
                F.array_distinct(_span_hashes(F.col(text_col), k))
            ).alias("span_h")
        )
        .groupBy("span_h")
        .agg(F.count("*").alias("n_docs"))
        .where(F.col("n_docs") >= F.lit(int(min_docs)))
    )


def mask_hot_spans(
    docs: DataFrame,
    hot: DataFrame,
    id_col: str,
    text_col: str,
    k: int,
    out_col: str = "masked",
) -> DataFrame:
    """Remove every token covered by a hot k-window occurrence →
    all input columns plus ``out_col`` (remaining tokens joined by
    one space, original order) and ``n_masked`` (tokens removed).
    Overlapping hot windows merge naturally: coverage is the UNION of
    their token index ranges.

    Scale: the join against ``hot`` runs on the window table (hash
    keys only); the per-doc covered set aggregates ONLY hot hits; the
    rebuild is a single (value, index) ``F.filter`` projection over
    the token array — the corpus itself is never exploded through an
    exchange."""
    hits = span_table(docs, id_col, text_col, k).join(
        hot.select("span_h"), "span_h", "left_semi"
    )
    cov = (
        hits.select(
            "id", F.explode(F.sequence("pos", F.col("pos") + k - 1)).alias("ci")
        )
        .groupBy("id")
        .agg(F.array_sort(F.collect_set("ci")).alias("_cov"))
    )
    joined = docs.join(
        cov.withColumnRenamed("id", id_col), id_col, "left"
    )
    t = tokens(F.col(text_col))
    kept = F.when(
        F.col("_cov").isNull(), t
    ).otherwise(
        F.filter(t, lambda x, i: ~F.array_contains(F.col("_cov"), i + 1))
    )
    return joined.select(
        *docs.columns,
        F.array_join(kept, " ").alias(out_col),
        (F.size(t) - F.size(kept)).cast("long").alias("n_masked"),
    )


def exact_substring_cut(
    df,
    id_col: str,
    text_col: str,
    min_len: int = 60,
    k: int = 16,
):
    """CHARACTER-level exact-substring removal — the full Lee et al.
    2022 regime (their suffix-array tool CUTS the duplicated bytes,
    not just flags the documents): every character position lying
    inside a verbatim substring of length >= ``min_len`` shared with a
    DIFFERENT document is removed; the survivors concatenate in order.
    (The token-window :func:`mask_hot_spans` above approximates this
    at k-token granularity; this operator is byte-exact.)

    Returns (id, cleaned, n_removed) for EVERY input document
    (untouched docs report their original text and 0).

    Semantics (both engines replay it exactly): position p of doc d is
    covered iff some L-gram of d containing p also occurs in another
    document. The engine never materializes the L-gram blowup:

    1. winnowing anchors + the anchor-hash block join of
       :func:`~scida_spark.functions.dedup.exact_substring_pairs`
       produce every cross-doc candidate anchor OCCURRENCE pair;
    2. an Arrow-batched pandas kernel extends candidate occurrence
       pairs to their MAXIMAL shared intervals, one call per (doc_a,
       doc_b) pair with the candidates collected into an array (texts
       ship ONCE per pair, not once per candidate) and anchors inside
       an already-extended interval on the same alignment diagonal
       skipped (their maximal extension is provably that interval) —
       O(shared length per diagonal + anchors) per pair, the only
       Python in the pipeline;
    3. intervals of length >= L are exactly the union of covered
       positions (any shared >= L substring contains a winnowing
       anchor, and its maximal extension contains it back), so a
       per-doc JVM fold — sort, merge overlaps, cut the gaps with
       substr concatenation — rebuilds the cleaned text without ever
       exploding characters through a shuffle.

    Scale: stages 1 and 3 are the exact_substring_pairs shapes (one
    anchor-hash exchange + one per-doc groupBy of interval structs —
    intervals are candidate-bounded, not text-bounded); stage 2 ships
    only candidate rows through Arrow. Within-document repeats are NOT
    removed (cross-doc only — the dedup-between-documents contract;
    compose with :func:`mask_hot_spans` for within-corpus hot spans).
    """
    from scida_spark.functions.dedup import winnow_anchors

    if k >= min_len:
        raise ValueError(
            f"exact_substring_cut: k={k} must be < min_len={min_len}"
        )
    window = min_len - k + 1
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
    # Candidates GROUP per (doc_a, doc_b) before the texts join (r15,
    # closes r14 VERDICT next #6): the earlier per-candidate form
    # shipped BOTH full texts once per candidate row — a pathological
    # corpus (long docs with heavy overlap → thousands of shared
    # anchors per pair) multiplied text bytes through the exchange by
    # the anchor count. One row per pair bounds the exchange at
    # |pairs| x |texts| + |candidates| positions.
    cand_g = cand.groupBy("doc_a", "doc_b").agg(
        F.collect_list(F.struct("pos_a", "pos_b")).alias("_ps")
    )
    paired = (
        cand_g.join(texts.withColumnRenamed(id_col, "doc_a"), "doc_a")
        .withColumnRenamed("_t", "_ta")
        .join(texts.withColumnRenamed(id_col, "doc_b"), "doc_b")
        .withColumnRenamed("_t", "_tb")
    )

    @F.pandas_udf("array<struct<sa:int,sb:int,ln:int>>")
    def _extend(
        ta: pd.Series, ps: pd.Series, tb: pd.Series
    ) -> pd.Series:
        out = []
        for xa, plist, xb in zip(ta.tolist(), ps.tolist(), tb.tolist()):
            # sort by alignment diagonal, then position: every anchor
            # inside an already-extended maximal interval on the SAME
            # diagonal extends to exactly that interval (maximality:
            # both stop at the same mismatch), so it is skipped — the
            # extension cost is O(shared length per diagonal), not
            # O(anchors x match length) (the r14 verdict's adversarial
            # regime: one long doc's near-copies, thousands of anchors
            # all inside one giant match).
            prs = sorted(
                ((int(p["pos_a"]), int(p["pos_b"])) for p in plist),
                key=lambda t: (t[0] - t[1], t[0]),
            )
            res = []
            last_diag = None
            last_end = -1  # 0-based exclusive end on the doc_a axis
            for ia, ib in prs:
                d = ia - ib
                i, j = ia - 1, ib - 1  # 0-based anchor starts
                if d == last_diag and i + k <= last_end:
                    continue
                lo = 0
                while (
                    i - lo - 1 >= 0
                    and j - lo - 1 >= 0
                    and xa[i - lo - 1] == xb[j - lo - 1]
                ):
                    lo += 1
                hi = 0
                while (
                    i + k + hi < len(xa)
                    and j + k + hi < len(xb)
                    and xa[i + k + hi] == xb[j + k + hi]
                ):
                    hi += 1
                res.append((ia - lo, ib - lo, lo + k + hi))
                last_diag = d
                last_end = (i - lo) + lo + k + hi
            out.append(res)
        return pd.Series(out)

    ext = paired.select(
        "doc_a",
        "doc_b",
        F.explode(
            _extend(F.col("_ta"), F.col("_ps"), F.col("_tb"))
        ).alias("_e"),
    ).filter(F.col("_e.ln") >= min_len)
    ivals = (
        ext.select(
            F.col("doc_a").alias(id_col),
            F.col("_e.sa").alias("s"),
            (F.col("_e.sa") + F.col("_e.ln") - 1).alias("e"),
        )
        .unionAll(
            ext.select(
                F.col("doc_b").alias(id_col),
                F.col("_e.sb").alias("s"),
                (F.col("_e.sb") + F.col("_e.ln") - 1).alias("e"),
            )
        )
        .groupBy(id_col)
        .agg(F.array_sort(F.collect_set(F.struct("s", "e"))).alias("_iv"))
    )
    empty_iv = F.array().cast("array<struct<s:int,e:int>>")
    merged = F.aggregate(
        F.coalesce(F.col("_iv"), empty_iv),
        empty_iv,
        lambda acc, x: F.when(F.size(acc) == 0, F.array(x)).otherwise(
            F.when(
                x["s"] <= F.element_at(acc, -1)["e"] + 1,
                F.concat(
                    F.slice(acc, 1, F.size(acc) - 1),
                    F.array(
                        F.struct(
                            F.element_at(acc, -1)["s"].alias("s"),
                            F.greatest(
                                F.element_at(acc, -1)["e"], x["e"]
                            ).alias("e"),
                        )
                    ),
                ),
            ).otherwise(F.concat(acc, F.array(x)))
        ),
    )
    t = F.col("_t")
    cut = F.aggregate(
        merged,
        F.struct(F.lit("").alias("acc"), F.lit(1).alias("cur")),
        lambda st, iv: F.struct(
            F.concat(
                st["acc"], F.substr(t, st["cur"], iv["s"] - st["cur"])
            ).alias("acc"),
            (iv["e"] + 1).alias("cur"),
        ),
        lambda st: F.concat(
            st["acc"], F.substr(t, st["cur"], F.length(t) - st["cur"] + 1)
        ),
    )
    return (
        texts.join(ivals, id_col, "left")
        .select(
            F.col(id_col),
            cut.alias("cleaned"),
            (F.length("_t") - F.length(cut)).alias("n_removed"),
        )
    )
