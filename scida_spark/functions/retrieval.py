"""BM25 full-text top-k retrieval.

The text-side counterpart of the embedding similarity search in
``functions/similarity.py``: score documents against a small query set
with Okapi BM25 and return the top-k per query. No reference
counterpart (scida has no text surface) — net-new engine capability
for training-data pipelines (e.g. quality-by-reference retrieval,
eval-set leakage inspection alongside n-gram decontamination).

Spark-first design, sized for 100 TB:

* The query set is TINY (a handful of strings). Its distinct terms are
  collected once on the driver; the corpus-side explode is filtered to
  those terms IMMEDIATELY (`isin` on a literal list — codegen'd), so
  the only shuffled rows are postings of query terms: O(matching
  tokens), not O(corpus tokens). Everything else (document length,
  score arithmetic) is row-local.
* Corpus statistics (N, avgdl) come from one tiny aggregate; per-term
  document frequencies come from the already-filtered postings. The
  idf table is computed ON THE DRIVER with ``math.log`` (libm — the
  same bits DuckDB's ``ln`` produces, see functions/lm.py) and joined
  back as a literal DataFrame: no transcendentals inside the JVM plan,
  which keeps the cross-engine oracle bit-stable (Java's ``Math.log``
  is allowed 1 ulp of error and is NOT guaranteed to match libm).
* The per-(query, doc) sum over matched terms folds in sorted-term
  order (``array_sort`` + ``aggregate``) — deterministic IEEE
  left-to-right addition an oracle reproduces with an ordered
  ``list_reduce``.

Scoring (Okapi BM25, Lucene-style non-negative idf)::

    idf(t)        = ln(1 + (N - df_t + 0.5) / (df_t + 0.5))
    score(q, d)   = sum_{t in q ∩ d} idf(t) * tf_td * (k1 + 1)
                    / (tf_td + k1 * (1 - b + b * dl_d / avgdl))

Ranking ties break on ascending doc id.
"""

from __future__ import annotations

import math

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from scida_spark.functions import text as TX
from scida_spark.session import local_df

__all__ = [
    "bm25_topk",
    "bm25_topk_from_index",
    "query_likelihood_topk",
    "ql_topk_from_index",
    "weighted_ql_topk_from_index",
    "rm3_expand_terms",
    "rm3_topk",
    "rrf_fuse",
    "phrase_occurrences",
]


def phrase_occurrences(
    docs: "DataFrame",
    phrases: list[tuple[str, str]],
    id_col: str = "doc_id",
    text_col: str = "text",
) -> "DataFrame":
    """Exact token-sequence phrase matching (r12): one row per
    (phrase, doc) with the OVERLAPPING sliding-window occurrence count
    (n_occ > 0 only) — the primitive bag-of-words rankers can't
    express ("new york" as a unit, benchmark-prompt decontamination by
    exact phrase, quote detection). ``phrases`` is a small literal
    list of (phrase_id, phrase_text).

    Spark-first shape: counting is ONE ``regexp_count`` per phrase
    with a ZERO-WIDTH LOOKAHEAD literal pattern over the
    space-padded text — pure JVM regex inside whole-stage codegen,
    stacked into rows in the same projection. ONE map-only corpus
    scan evaluates every phrase: no postings join, no shuffle, no
    higher-order functions (a first draft slid a nested lambda window
    over the token array; interpreted HOF evaluation made the scan a
    ×100 cliff — 500k docs x phrases x windows of per-element lambda
    calls, SCALE.md).

    WHY the string count equals the token-window count exactly: the
    house tokenization is a single-space split of the trimmed text,
    and split/join on one character are inverses — so
    ``' ' + trim(text) + ' '`` contains ``' w1 .. wk '`` at exactly
    the positions where the token window matches, boundaries included
    (multi-space gaps produce empty tokens on one side and a
    non-matching substring on the other — both reject). The
    ``(?=...)`` lookahead makes matches zero-width, so OVERLAPPING
    occurrences count ("the the the" contains "the the" twice),
    matching the sliding-window semantics the DuckDB oracle replays
    list-wise."""
    padded = F.concat(F.lit(" "), F.trim(F.col(text_col)), F.lit(" "))

    def _quote(s: str) -> str:
        # java.util.regex literal quoting (Pattern.quote)
        return "\\Q" + s.replace("\\E", "\\E\\\\E\\Q") + "\\E"

    entries = []
    for pid, ptext in phrases:
        norm = " ".join(ptext.split())
        pat = "(?=" + _quote(" " + norm + " ") + ")"
        entries += [
            F.lit(pid),
            F.lit(norm),
            F.regexp_count(padded, F.lit(pat)).cast("long"),
        ]
    return (
        docs.select(
            F.col(id_col),
            F.stack(
                F.lit(len(phrases)), *entries
            ).alias("phrase_id", "phrase", "n_occ"),
        )
        .filter(F.col("n_occ") > 0)
        .select("phrase_id", id_col, "phrase", "n_occ")
    )


def bm25_topk(
    docs: DataFrame,
    queries: list[tuple[int, str]],
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    text_col: str = "text",
    id_col: str = "doc_id",
    corpus_stats: tuple[int, int] | None = None,
) -> DataFrame:
    """Top-``k`` documents per query by BM25 score.

    ``queries`` is a list of ``(query_id, query_text)`` — the small
    side by construction (it is collected and its terms become a
    literal filter). Returns
    ``(query_id, doc_id, score, rank)`` with rank 1..k per query,
    ordered ties broken by ascending doc id. Documents matching no
    query term are absent (score 0 rows are not emitted).

    This is the scan-the-corpus wrapper around
    :func:`bm25_topk_from_index`; a pipeline that maintains a
    persisted postings/doclen/stats index (``streaming/postings.py``)
    calls the ``_from_index`` form directly and skips the corpus
    tokenization entirely — the two paths share every line of scoring
    code, so served results are bit-identical to a batch rebuild.
    """
    spark = docs.sparkSession
    all_terms = sorted(
        {t for _, qtext in queries for t in qtext.strip().split(" ")}
    )

    # Corpus stats: one aggregate over row-local token counts.
    dl = docs.select(
        F.col(id_col), TX.token_count(F.col(text_col)).alias("_dl")
    )
    # corpus_stats = (n_docs, total_tokens): shareable with
    # query_likelihood_topk (identical aggregate); eager by necessity
    # when absent — avgdl is a literal in the plan.
    if corpus_stats is None:
        stats = dl.agg(
            F.count("*").alias("n"), F.sum("_dl").alias("tot")
        ).collect()[0]
        corpus_stats = (int(stats["n"]), int(stats["tot"] or 0))

    # Postings of query terms only: explode → immediate literal-list
    # filter → per-(doc, term) tf. The groupBy shuffles only matching
    # postings.
    postings = (
        docs.select(
            F.col(id_col), F.explode(TX.tokens(F.col(text_col))).alias("tok")
        )
        .filter(F.col("tok").isin(all_terms))
        .groupBy(id_col, "tok")
        .agg(F.count("*").alias("tf"))
    )
    return bm25_topk_from_index(
        spark, postings, dl, corpus_stats, queries,
        k=k, k1=k1, b=b, id_col=id_col,
    )


def bm25_topk_from_index(
    spark,
    postings: DataFrame,
    dl: DataFrame,
    corpus_stats: tuple[int, int],
    queries: list[tuple[int, str]],
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    id_col: str = "doc_id",
) -> DataFrame:
    """BM25 top-k straight from index tables — ``postings`` is
    ``(id_col, tok, tf)`` (may contain non-query terms; they are
    filtered here), ``dl`` is ``(id_col, _dl)``, ``corpus_stats`` is
    ``(n_docs, total_tokens)``. This is the serve path of the
    incremental postings store (streaming/postings.py): given the
    same logical index content, results are bit-identical to
    :func:`bm25_topk` over the original corpus because this IS the
    same code."""
    qterm_rows = sorted(
        {(int(qid), t) for qid, qtext in queries for t in qtext.strip().split(" ")}
    )
    all_terms = sorted({t for _, t in qterm_rows})
    n_docs = corpus_stats[0]
    if n_docs == 0:
        # Empty corpus → empty result (the repo-wide "card zeros, don't
        # crash" convention).
        return local_df(spark, 
            [], f"query_id long, {id_col} long, score double, rank int"
        )
    avgdl = float(corpus_stats[1]) / n_docs
    postings = postings.filter(F.col("tok").isin(all_terms))
    # df_t → idf on the driver (math.log = libm; tiny: |terms| rows).
    # This aggregate is the ONLY other eager job; the scoring pipeline
    # below stays fully lazy (postings are recomputed inside it — a
    # query-term-filtered shuffle, cheap — instead of pinning the whole
    # result with persist + localCheckpoint at construction time, which
    # made every caller pay the full BM25 cost even when its plan was
    # later pruned away).
    df_rows = {
        r["tok"]: int(r["df"])
        for r in postings.groupBy("tok")
        .agg(F.count("*").alias("df"))
        .collect()
    }
    idf = {
        t: math.log(1.0 + (n_docs - dft + 0.5) / (dft + 0.5))
        for t, dft in df_rows.items()
    }
    matched_qterms = [(qid, t, idf[t]) for qid, t in qterm_rows if t in idf]
    if not matched_qterms:
        return local_df(spark, 
            [], f"query_id long, {id_col} long, score double, rank int"
        )
    qterms = F.broadcast(
        local_df(spark, 
            matched_qterms, "query_id long, tok string, idf double"
        )
    )

    # Per-(query, doc, term) partial score — pure * / + arithmetic
    # (deterministic IEEE, no JVM transcendentals), then a
    # sorted-term ordered fold per (query, doc).
    contrib = (
        postings.join(qterms, "tok")
        .join(dl, id_col)
        .select(
            "query_id",
            id_col,
            "tok",
            (
                F.col("idf")
                * (F.col("tf") * F.lit(k1 + 1.0))
                / (
                    F.col("tf")
                    + F.lit(k1)
                    * (
                        F.lit(1.0 - b)
                        + F.lit(b) * F.col("_dl") / F.lit(avgdl)
                    )
                )
            ).alias("sc"),
        )
    )
    scores = contrib.groupBy("query_id", id_col).agg(
        F.aggregate(
            F.array_sort(F.collect_list(F.struct("tok", "sc"))),
            F.lit(0.0),
            lambda acc, x: acc + x["sc"],
        ).alias("score")
    )
    # Two-phase top-k: a query whose terms are common can match a
    # huge candidate set, and a single window partition per query
    # would funnel it through one task. Phase 1 takes the top-k
    # within every (query, physical-partition) slice — parallel,
    # any slicing is a valid pre-prune — phase 2 ranks the
    # ≤ k × n_partitions survivors exactly.
    order = (F.col("score").desc(), F.col(id_col).asc())
    w_part = W.partitionBy("query_id", "_pid").orderBy(*order)
    w_final = W.partitionBy("query_id").orderBy(*order)
    out = (
        scores.withColumn("_pid", F.spark_partition_id())
        .withColumn("_r", F.row_number().over(w_part))
        .filter(F.col("_r") <= k)
        .withColumn("rank", F.row_number().over(w_final))
        .filter(F.col("rank") <= k)
        .select("query_id", id_col, "score", "rank")
    )
    return out


# ---------------------------------------------------------------------------
# Query-likelihood retrieval + reciprocal-rank fusion (r9)
# ---------------------------------------------------------------------------


def query_likelihood_topk(
    docs: DataFrame,
    queries: list[tuple[int, str]],
    k: int = 10,
    mu: float = 300.0,
    text_col: str = "text",
    id_col: str = "doc_id",
    corpus_stats: tuple[int, int] | None = None,
) -> DataFrame:
    """Top-``k`` documents per query under the Dirichlet-smoothed
    query-likelihood model (Zhai & Lafferty 2001) — the language-model
    retrieval family, the standard second ranker BM25 is fused with::

        score(q, d) = sum_{t in q} ln((tf_td + mu * cf_t / C)
                                      / (dl_d + mu))

    with ``cf_t`` the collection frequency and ``C`` total collection
    tokens; query terms unseen in the collection are dropped (their
    smoothed probability is 0). Only documents matching >= 1 query
    term are emitted (their scores still carry the background mass of
    their unmatched terms — decomposed as
    ``fold(matched addends) + B_q - n_q * ln(dl + mu)`` where
    ``B_q = sum_t ln(mu * cf_t / C)`` is per-query constant), so the
    candidate set stays postings-sized, the BM25 shape.

    Bit-stability: every ``ln`` evaluates in glibc libm — driver
    ``math.log`` for the per-term constants and B_q, Python-loop
    pandas UDFs for the tf- and dl-dependent terms (JVM ``Math.log``
    is 1-ulp-loose; numpy's SIMD log is not scalar-libm either) — and
    the per-(query, doc) fold runs in sorted-term order. Same
    conventions as BM25 above; the DuckDB oracle reproduces every
    double.

    Scale: identical shape to ``bm25_topk`` — literal-filtered
    postings, broadcast term/query tables, two-phase top-k. Like
    bm25, this is the scan wrapper around :func:`ql_topk_from_index`
    (the incremental-postings-store serve path shares every scoring
    line)."""
    spark = docs.sparkSession
    all_terms = sorted(
        {t for _, qtext in queries for t in qtext.strip().split(" ")}
    )

    dl = docs.select(F.col(id_col), TX.token_count(F.col(text_col)).alias("_dl"))
    # corpus_stats = (n_docs, total_tokens), shareable with bm25_topk
    # (both need the identical count/sum aggregate; at real scale it is
    # an ingest-time statistic computed once, not a per-ranker job).
    if corpus_stats is None:
        stats = dl.agg(F.count("*").alias("n"), F.sum("_dl").alias("tot")).collect()[0]
        corpus_stats = (int(stats["n"]), int(stats["tot"] or 0))

    postings = (
        docs.select(
            F.col(id_col), F.explode(TX.tokens(F.col(text_col))).alias("tok")
        )
        .filter(F.col("tok").isin(all_terms))
        .groupBy(id_col, "tok")
        .agg(F.count("*").alias("tf"))
    )
    return ql_topk_from_index(
        spark, postings, dl, corpus_stats, queries, k=k, mu=mu, id_col=id_col
    )


def ql_topk_from_index(
    spark,
    postings: DataFrame,
    dl: DataFrame,
    corpus_stats: tuple[int, int],
    queries: list[tuple[int, str]],
    k: int = 10,
    mu: float = 300.0,
    id_col: str = "doc_id",
) -> DataFrame:
    """Dirichlet query-likelihood top-k straight from index tables
    (same contract as :func:`bm25_topk_from_index`). The collection
    frequency ``cf_t`` is SUM(tf) over the term's postings — the same
    integer the corpus scan counts, so serve-from-store stays
    bit-identical to the batch path."""
    qterm_rows = sorted(
        {(int(qid), t) for qid, qtext in queries for t in qtext.strip().split(" ")}
    )
    all_terms = sorted({t for _, t in qterm_rows})
    if corpus_stats[0] == 0:
        return local_df(spark, 
            [], f"query_id long, {id_col} long, score double, rank int"
        )
    c_total = int(corpus_stats[1])
    postings = postings.filter(F.col("tok").isin(all_terms))
    cf = {
        r["tok"]: int(r["cf"])
        for r in postings.groupBy("tok").agg(F.sum("tf").alias("cf")).collect()
    }
    mucf = {t: mu * c / c_total for t, c in cf.items()}
    if not mucf:
        return local_df(spark, 
            [], f"query_id long, {id_col} long, score double, rank int"
        )
    qmeta_rows = []
    for qid in sorted({q for q, _ in qterm_rows}):
        terms_q = sorted(t for q2, t in qterm_rows if q2 == qid and t in mucf)
        if not terms_q:
            continue
        bq = 0.0
        for t in terms_q:  # sorted-term sequential fold (libm)
            bq += math.log(mucf[t])
        qmeta_rows.append((qid, len(terms_q), bq))
    qterms = F.broadcast(
        local_df(spark, 
            [(q, t, mucf[t]) for q, t in qterm_rows if t in mucf],
            "query_id long, tok string, mucf double",
        )
    )
    qmeta = F.broadcast(
        local_df(spark, qmeta_rows, "query_id long, nq int, bq double")
    )

    @F.pandas_udf("double")
    def _addend(tf: pd.Series, m: pd.Series) -> pd.Series:
        log = math.log
        return pd.Series(
            [log(a + b) - log(b) for a, b in zip(tf.tolist(), m.tolist())]
        )

    @F.pandas_udf("double")
    def _ln_dl_mu(dlv: pd.Series) -> pd.Series:
        log = math.log
        return pd.Series([log(v + mu) for v in dlv.tolist()])

    contrib = postings.join(qterms, "tok").select(
        "query_id",
        id_col,
        "tok",
        _addend(F.col("tf"), F.col("mucf")).alias("sc"),
    )
    scores = (
        contrib.groupBy("query_id", id_col)
        .agg(
            F.aggregate(
                F.array_sort(F.collect_list(F.struct("tok", "sc"))),
                F.lit(0.0),
                lambda acc, x: acc + x["sc"],
            ).alias("_s")
        )
        .join(qmeta, "query_id")
        .join(dl, id_col)
        .select(
            "query_id",
            id_col,
            (
                F.col("_s") + F.col("bq")
                - F.col("nq") * _ln_dl_mu(F.col("_dl"))
            ).alias("score"),
        )
    )
    order = (F.col("score").desc(), F.col(id_col).asc())
    w_part = W.partitionBy("query_id", "_pid").orderBy(*order)
    w_final = W.partitionBy("query_id").orderBy(*order)
    return (
        scores.withColumn("_pid", F.spark_partition_id())
        .withColumn("_r", F.row_number().over(w_part))
        .filter(F.col("_r") <= k)
        .withColumn("rank", F.row_number().over(w_final))
        .filter(F.col("rank") <= k)
        .select("query_id", id_col, "score", "rank")
    )


def weighted_ql_topk_from_index(
    spark,
    postings: DataFrame,
    dl: DataFrame,
    corpus_stats: tuple[int, int],
    wterms: list[tuple[int, str, float]],
    k: int = 10,
    mu: float = 300.0,
    id_col: str = "doc_id",
    cf: dict[str, int] | None = None,
) -> DataFrame:
    """Dirichlet query-likelihood scoring for WEIGHTED queries —
    ``score(q, d) = sum_t w_t * ln((tf_td + mu*cf_t/C) / (dl_d + mu))``
    — the second pass of RM3-style expansion (:func:`rm3_topk`), and
    the general scorer for any soft query (uniform ``w_t = 1`` reduces
    to :func:`ql_topk_from_index`, same decomposition with ``nq``
    generalized to ``W_q = sum_t w_t``)::

        fold(matched w_t * addend_t) + B_q - W_q * ln(dl + mu)
        addend_t = ln(tf + mucf_t) - ln(mucf_t)
        B_q      = sum_t w_t * ln(mucf_t)     (sorted-term fold)

    Bit-stability conventions are QL's exactly: driver ``math.log``
    for constants, pandas-libm for tf/dl-dependent logs, sorted-term
    sequential folds for every sum (B_q and W_q each fold separately
    in sorted-term order). Terms absent from the collection drop.

    ``cf`` contract (one rule, no re-adjustment — the postings-store
    corpus_stats lesson): when injected, it must be the FULL collection
    frequency of every ``wterms`` term over THE SAME corpus as
    ``postings`` (``{term: SUM(tf)}``); a term missing or 0 in ``cf``
    is treated as absent from the collection and silently drops from
    scoring. Omit it to have the function derive it (one tiny
    aggregate).

    Scale: identical shape to :func:`ql_topk_from_index` — the term
    list is a bounded literal, postings filter to it immediately,
    two-phase top-k."""
    wmap = {(int(q), t): float(w) for q, t, w in wterms}
    all_terms = sorted({t for _, t in wmap})
    if corpus_stats[0] == 0 or not all_terms:
        return local_df(spark, 
            [], f"query_id long, {id_col} long, score double, rank int"
        )
    c_total = int(corpus_stats[1])
    postings = postings.filter(F.col("tok").isin(all_terms))
    if cf is None:
        # one tiny aggregate over the already-filtered postings; at
        # real scale an ingest-time statistic — callers serving the
        # same expanded query repeatedly should inject it (the
        # corpus_stats convention)
        cf = {
            r["tok"]: int(r["cf"])
            for r in postings.groupBy("tok")
            .agg(F.sum("tf").alias("cf"))
            .collect()
        }
    mucf = {t: mu * c / c_total for t, c in cf.items() if c > 0}
    if not mucf:
        return local_df(spark, 
            [], f"query_id long, {id_col} long, score double, rank int"
        )
    qmeta_rows = []
    for qid in sorted({q for q, _ in wmap}):
        terms_q = sorted(t for (q2, t) in wmap if q2 == qid and t in mucf)
        if not terms_q:
            continue
        bq = 0.0
        wq = 0.0
        for t in terms_q:  # sorted-term sequential folds (libm)
            bq += wmap[(qid, t)] * math.log(mucf[t])
            wq += wmap[(qid, t)]
        qmeta_rows.append((qid, wq, bq))
    qterms = F.broadcast(
        local_df(spark, 
            [
                (q, t, wmap[(q, t)], mucf[t])
                for (q, t) in sorted(wmap)
                if t in mucf
            ],
            "query_id long, tok string, w double, mucf double",
        )
    )
    qmeta = F.broadcast(
        local_df(spark, qmeta_rows, "query_id long, wq double, bq double")
    )

    @F.pandas_udf("double")
    def _addend(tf: pd.Series, m: pd.Series) -> pd.Series:
        log = math.log
        return pd.Series(
            [log(a + b) - log(b) for a, b in zip(tf.tolist(), m.tolist())]
        )

    @F.pandas_udf("double")
    def _ln_dl_mu(dlv: pd.Series) -> pd.Series:
        log = math.log
        return pd.Series([log(v + mu) for v in dlv.tolist()])

    contrib = postings.join(qterms, "tok").select(
        "query_id",
        id_col,
        "tok",
        (F.col("w") * _addend(F.col("tf"), F.col("mucf"))).alias("sc"),
    )
    scores = (
        contrib.groupBy("query_id", id_col)
        .agg(
            F.aggregate(
                F.array_sort(F.collect_list(F.struct("tok", "sc"))),
                F.lit(0.0),
                lambda acc, x: acc + x["sc"],
            ).alias("_s")
        )
        .join(qmeta, "query_id")
        .join(dl, id_col)
        .select(
            "query_id",
            id_col,
            (
                F.col("_s") + F.col("bq")
                - F.col("wq") * _ln_dl_mu(F.col("_dl"))
            ).alias("score"),
        )
    )
    order = (F.col("score").desc(), F.col(id_col).asc())
    w_part = W.partitionBy("query_id", "_pid").orderBy(*order)
    w_final = W.partitionBy("query_id").orderBy(*order)
    return (
        scores.withColumn("_pid", F.spark_partition_id())
        .withColumn("_r", F.row_number().over(w_part))
        .filter(F.col("_r") <= k)
        .withColumn("rank", F.row_number().over(w_final))
        .filter(F.col("rank") <= k)
        .select("query_id", id_col, "score", "rank")
    )


def rm3_expand_terms(
    docs: DataFrame,
    queries: list[tuple[int, str]],
    k_fb: int = 3,
    m: int = 8,
    alpha: float = 0.5,
    mu: float = 300.0,
    text_col: str = "text",
    id_col: str = "doc_id",
    corpus_stats: tuple[int, int] | None = None,
    max_df: float | None = None,
) -> list[tuple[int, str, float]]:
    """RM3 pseudo-relevance-feedback expansion (Abdul-Jaleel et al.
    2004): run a first-pass QL retrieval, build the RM1 relevance
    model over the top ``k_fb`` feedback documents, keep the top ``m``
    terms, and interpolate with the original query's MLE::

        post(d)   = exp(s_d - max_s) / sum_d' exp(s_d' - max_s)
        rm(t)     = sum_{d in F} post(d) * tf_td / dl_d
        w(t)      = [t in q]    alpha    * qtf_t / |q|
                  + [t in topm] (1-alpha) * rm(t) / sum_topm rm

    Returns the weighted query as ``[(query_id, term, w)]`` — feed it
    to :func:`weighted_ql_topk_from_index` (or :func:`rm3_topk`, which
    composes both passes).

    Deterministic and oracle-replayable: the softmax uses driver
    ``math.exp`` on the pass-1 doubles with the denominator folded in
    ascending doc-id order; ``rm(t)`` folds per-term contributions in
    ascending doc-id order inside Spark (sorted-struct aggregate);
    top-``m`` ties break on ascending term; the two normalizing sums
    fold in sorted-term order; and the interpolation is literally
    ``(alpha * (qtf/qlen) if original else 0.0) + ((1-alpha) * rm/rmsum
    if selected else 0.0)`` so a SQL FULL OUTER JOIN replay adds the
    identical doubles.

    Scale: pass 1 is :func:`query_likelihood_topk` (postings-sized);
    the feedback set is queries x k_fb documents BY CONSTRUCTION, so
    the term-model explode touches only those documents (broadcast
    semi-join), and everything after the top-m window is a
    queries x m driver fold — the serving-request pattern.

    ``max_df`` (r14, closes r13 VERDICT #1-of-"what's wrong"): an
    optional expansion-term document-frequency ceiling, the standard
    IR guard (e.g. Indri/Anserini practice) against corpus-frequent
    terms entering the expanded query. A candidate term t is eligible
    for the top-``m`` selection only if ``df(t) <= int(max_df *
    n_docs)`` (integer compare; the cap is the driver-side Python
    truncation of the double product, which an oracle replays as
    ``FLOOR(max_df * n)`` — bit-identical for positive doubles).
    Original query terms always keep their ``alpha`` side regardless.
    WHY it matters at scale: pass-2 cost is proportional to the
    expanded terms' postings; one corpus-frequent expansion term makes
    pass 2 score nearly every (query, doc) pair — the only material
    x100 marginal in the r13 SCALE.md rm3 rows. The ceiling bounds
    exactly that blowup with negligible quality cost. df is computed
    only for the feedback docs' vocabulary (bounded: queries x k_fb
    docs), via one corpus scan semi-joined to that vocabulary (batch)
    or a bucket-pruned postings read (store serve)."""
    spark = docs.sparkSession
    pass1 = query_likelihood_topk(
        docs,
        queries,
        k=k_fb,
        mu=mu,
        text_col=text_col,
        id_col=id_col,
        corpus_stats=corpus_stats,
    ).collect()
    post_rows = _softmax_posterior(pass1, id_col)
    if not post_rows:
        return _orig_only_weights(queries, alpha)
    fb = F.broadcast(
        local_df(spark, 
            post_rows, f"query_id long, {id_col} long, post double"
        )
    )
    fdocs = docs.join(
        fb.select(id_col).distinct(), id_col, "left_semi"
    ).select(F.col(id_col), F.col(text_col))
    ftf = (
        fdocs.select(
            F.col(id_col), F.explode(TX.tokens(F.col(text_col))).alias("tok")
        )
        .groupBy(id_col, "tok")
        .agg(F.count("*").alias("tf"))
    )
    fdl = fdocs.select(
        F.col(id_col), TX.token_count(F.col(text_col)).alias("_dl")
    )
    allowed = None
    if max_df is not None:
        n_docs = (
            corpus_stats[0] if corpus_stats is not None else docs.count()
        )
        allowed = _df_allowed_terms(
            docs.select(
                F.col(id_col),
                F.explode(TX.tokens(F.col(text_col))).alias("tok"),
            ),
            ftf.select("tok").distinct(),
            int(max_df * n_docs),
            id_col,
        )
    rm_by_q = _rm_top_terms(ftf, fdl, fb, m, id_col, allowed=allowed)
    return _interpolate_weights(queries, rm_by_q, alpha)


def _df_allowed_terms(
    corpus_toks: DataFrame, cand_toks: DataFrame, df_cap: int, id_col: str
) -> DataFrame:
    """Candidate expansion terms passing the ``max_df`` ceiling:
    df(t) = distinct docs containing t, computed ONLY for the
    (bounded, feedback-vocabulary-sized) candidate set via a broadcast
    semi-join, then filtered to ``df <= df_cap``. Returns a one-column
    (tok) DataFrame for the semi-join in :func:`_rm_top_terms`."""
    return (
        corpus_toks.join(F.broadcast(cand_toks), "tok", "left_semi")
        .select(id_col, "tok")
        .distinct()
        .groupBy("tok")
        .agg(F.count("*").alias("df"))
        .filter(F.col("df") <= df_cap)
        .select("tok")
    )


def _softmax_posterior(pass1_rows, id_col: str) -> list[tuple[int, int, float]]:
    """Driver-side softmax over the pass-1 feedback scores:
    exp(s - max) / sum, the denominator folded in ascending doc-id
    order (libm; both the batch and store-served RM3 paths share
    this)."""
    by_q: dict[int, list] = {}
    for r in pass1_rows:
        by_q.setdefault(int(r["query_id"]), []).append(
            (int(r[id_col]), float(r["score"]))
        )
    post_rows = []
    for qid in sorted(by_q):
        ds = sorted(by_q[qid])
        mx = max(s for _, s in ds)
        den = 0.0
        for _, s in ds:
            den += math.exp(s - mx)
        for d, s in ds:
            post_rows.append((qid, d, math.exp(s - mx) / den))
    return post_rows


def _rm_top_terms(
    ftf: DataFrame,
    fdl: DataFrame,
    fb,
    m: int,
    id_col: str,
    allowed: DataFrame | None = None,
) -> dict[int, dict[str, float]]:
    """RM1 term model over the feedback docs: rm(t) = sum_d post(d) *
    tf/dl folded in ascending doc-id order, top-``m`` per query (ties
    on ascending term). ``ftf`` = (id, tok, tf) of the feedback docs —
    from a corpus re-scan (batch) or the forward substore (serve);
    both carry the identical integers, so the doubles match.
    ``allowed``: optional (tok) DataFrame — the ``max_df`` ceiling —
    applied BEFORE the top-m window, so excluded corpus-frequent terms
    do not consume top-m slots (the oracle's WHERE sits under its
    ROW_NUMBER the same way)."""
    vals = (
        ftf.join(fdl, id_col)
        .join(fb, id_col)
        .select(
            "query_id",
            "tok",
            F.col(id_col).alias("_d"),
            (
                F.col("post")
                * (F.col("tf").cast("double") / F.col("_dl"))
            ).alias("val"),
        )
    )
    rm = vals.groupBy("query_id", "tok").agg(
        F.aggregate(
            F.array_sort(F.collect_list(F.struct("_d", "val"))),
            F.lit(0.0),
            lambda acc, x: acc + x["val"],
        ).alias("rm")
    )
    if allowed is not None:
        rm = rm.join(F.broadcast(allowed), "tok", "left_semi")
    wtop = W.partitionBy("query_id").orderBy(F.desc("rm"), F.asc("tok"))
    top = (
        rm.withColumn("_rn", F.row_number().over(wtop))
        .filter(F.col("_rn") <= m)
        .select("query_id", "tok", "rm")
        .collect()
    )
    rm_by_q: dict[int, dict[str, float]] = {}
    for r in top:
        rm_by_q.setdefault(int(r["query_id"]), {})[r["tok"]] = float(r["rm"])
    return rm_by_q


def _interpolate_weights(
    queries: list[tuple[int, str]],
    rm_by_q: dict[int, dict[str, float]],
    alpha: float,
) -> list[tuple[int, str, float]]:
    """alpha-interpolation of the original query MLE with the
    renormalized top-m relevance model — every float op in the
    documented replayable order."""
    onemalpha = 1.0 - alpha
    out: dict[tuple[int, str], float] = {}
    for qid, qtext in queries:
        toks = qtext.strip().split(" ")
        qlen = len(toks)
        qtf: dict[str, int] = {}
        for t in toks:
            qtf[t] = qtf.get(t, 0) + 1
        sel = rm_by_q.get(int(qid), {})
        rmsum = 0.0
        for t in sorted(sel):  # sorted-term fold
            rmsum += sel[t]
        for t in sorted(set(toks) | set(sel)):
            aw = alpha * (qtf[t] / qlen) if t in qtf else 0.0
            bw = onemalpha * (sel[t] / rmsum) if t in sel else 0.0
            out[(int(qid), t)] = aw + bw
    return [(q, t, w) for (q, t), w in sorted(out.items())]


def _orig_only_weights(
    queries: list[tuple[int, str]], alpha: float
) -> list[tuple[int, str, float]]:
    """Degenerate RM3 (no feedback documents at all): the weighted
    query is just ``alpha * MLE`` of the original."""
    out = {}
    for qid, qtext in queries:
        toks = qtext.strip().split(" ")
        qlen = len(toks)
        qtf: dict[str, int] = {}
        for t in toks:
            qtf[t] = qtf.get(t, 0) + 1
        for t in sorted(qtf):
            out[(int(qid), t)] = alpha * (qtf[t] / qlen) + 0.0
    return [(q, t, w) for (q, t), w in sorted(out.items())]


def rm3_topk(
    docs: DataFrame,
    queries: list[tuple[int, str]],
    k: int = 10,
    k_fb: int = 3,
    m: int = 8,
    alpha: float = 0.5,
    mu: float = 300.0,
    text_col: str = "text",
    id_col: str = "doc_id",
    corpus_stats: tuple[int, int] | None = None,
    wterms: list[tuple[int, str, float]] | None = None,
    cf: dict[str, int] | None = None,
    max_df: float | None = None,
) -> DataFrame:
    """RM3 retrieval: QL pass 1 -> :func:`rm3_expand_terms` ->
    :func:`weighted_ql_topk_from_index` over the expanded weighted
    query. Pass a precomputed ``wterms`` to skip the expansion (the
    expansion is a deterministic function of (corpus, queries,
    parameters) — an ingest-or-cache-time artifact in a serving tier,
    exactly like IVF centroids). ``max_df``: optional expansion-term
    df ceiling (see :func:`rm3_expand_terms`) — ignored when
    ``wterms`` is supplied (the ceiling is part of the expansion).

    Serving note: a store-served twin would need a FORWARD index
    (doc -> term vector) to build the feedback term model — the
    token-sharded postings store can't fetch one document's full term
    set without touching every shard, so RM3 stays a batch/cached
    operator here by design."""
    spark = docs.sparkSession
    if corpus_stats is None:
        st = (
            docs.select(TX.token_count(F.col(text_col)).alias("_dl"))
            .agg(F.count("*").alias("n"), F.sum("_dl").alias("tot"))
            .first()
        )
        corpus_stats = (int(st["n"]), int(st["tot"] or 0))
    if wterms is None:
        wterms = rm3_expand_terms(
            docs,
            queries,
            k_fb=k_fb,
            m=m,
            alpha=alpha,
            mu=mu,
            text_col=text_col,
            id_col=id_col,
            corpus_stats=corpus_stats,
            max_df=max_df,
        )
    all_terms = sorted({t for _, t, _ in wterms})
    postings = (
        docs.select(
            F.col(id_col), F.explode(TX.tokens(F.col(text_col))).alias("tok")
        )
        .filter(F.col("tok").isin(all_terms))
        .groupBy(id_col, "tok")
        .agg(F.count("*").alias("tf"))
    )
    dl = docs.select(
        F.col(id_col), TX.token_count(F.col(text_col)).alias("_dl")
    )
    return weighted_ql_topk_from_index(
        spark,
        postings,
        dl,
        corpus_stats,
        wterms,
        k=k,
        mu=mu,
        id_col=id_col,
        cf=cf,
    )


def rrf_fuse(
    a: DataFrame,
    b: DataFrame,
    k: int = 10,
    k0: int = 60,
    id_col: str = "doc_id",
) -> DataFrame:
    """Reciprocal-rank fusion (Cormack et al. 2009) of two ranked
    lists ``(query_id, id, score, rank)``:
    ``rrf = 1/(k0 + rank_a) + 1/(k0 + rank_b)`` with an absent source
    contributing 0 — rank-only, so it fuses ANY two retrieval models
    (here BM25 + query likelihood: the standard hybrid-search recipe).
    Addend order is pinned (a then b) and each addend is one IEEE
    division of integers — bit-reproducible anywhere. Ties break on
    ascending id; top-``k`` per query.

    Scale: inputs are queries × k rows by construction — the fusion
    is driver-trivial but expressed as a plan (outer join + window) so
    it composes lazily with the slot sections."""
    ar = a.select("query_id", id_col, F.col("rank").alias("_ra"))
    br = b.select("query_id", id_col, F.col("rank").alias("_rb"))
    fused = (
        ar.join(br, ["query_id", id_col], "full_outer")
        .select(
            "query_id",
            id_col,
            (
                F.coalesce(1.0 / (F.lit(k0) + F.col("_ra")), F.lit(0.0))
                + F.coalesce(1.0 / (F.lit(k0) + F.col("_rb")), F.lit(0.0))
            ).alias("score"),
        )
    )
    w = W.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col(id_col).asc()
    )
    return (
        fused.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", id_col, "score", "rank")
    )


def tfidf_keywords(
    docs: DataFrame,
    k: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document top-``k`` TF-IDF keywords — document
    fingerprinting / faceting for corpus cards and retrieval debug:
    ``(id, term, tf, score, rank)`` with the smooth sklearn-style
    ``idf = ln(N + 1) - ln(df + 1) + 1`` and rank ties broken by
    ascending term.

    Bit-reproducibility (the bm25/lm rule: transcendentals come from
    ONE libm, never the JVM intrinsic): ln is evaluated driver-side
    with ``math.log`` over the DISTINCT df VALUES — not the
    vocabulary. Distinct df values are bounded by the document count
    and in practice Zipf-collapsed to a few hundred, so the collect
    stays metadata-sized at any corpus scale while every term still
    gets its exact idf through a broadcast join on its df value.

    Scale: one explode + distinct for (doc, term) presence, one
    groupBy(term) for df (map-side combined), tf rides the same
    exploded scan; the per-doc top-k window is rank-limited map-side
    (WindowGroupLimit — the r9 grouped-topn rule). No corpus-sized
    collect anywhere."""
    spark = docs.sparkSession
    toks = docs.select(
        F.col(id_col), F.explode(TX.tokens(F.col(text_col))).alias("tok")
    )
    tf = toks.groupBy(id_col, "tok").agg(F.count("*").alias("tf"))
    dfr = (
        toks.select(id_col, "tok")
        .distinct()
        .groupBy("tok")
        .agg(F.count("*").alias("df"))
    )
    n_docs = docs.count()
    ln_n1 = math.log(n_docs + 1.0)
    df_vals = sorted(
        int(r["df"]) for r in dfr.select("df").distinct().collect()
    )
    idf_map = F.broadcast(
        local_df(spark, 
            [(dv, (ln_n1 - math.log(dv + 1.0)) + 1.0) for dv in df_vals],
            "df long, idf double",
        )
    )
    scored = (
        tf.join(dfr, "tok")
        .join(idf_map, "df")
        .withColumn("score", F.col("tf").cast("double") * F.col("idf"))
    )
    w = W.partitionBy(id_col).orderBy(F.desc("score"), F.asc("tok"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            id_col,
            F.col("tok").alias("term"),
            "tf",
            "score",
            F.col("rank").cast("int").alias("rank"),
        )
    )
