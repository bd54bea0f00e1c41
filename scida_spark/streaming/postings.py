"""Incremental full-text retrieval index maintained over a stream.

The production shape for retrieval at 100 TB with a GROWING corpus:
``bm25_topk`` / ``query_likelihood_topk`` recompute postings and
corpus stats from the raw text per invocation — fine for a one-shot
batch job, wrong for a serving pipeline where documents arrive
continuously. Here each micro-batch is reduced ONCE to the three
index tables every lexical ranker needs, and queries are served from
the accumulated store without ever re-tokenizing history:

* ``postings/batch_id=N/tok_bucket=B/`` — (id, tok, tf), hash-sharded
  by ``crc32(tok) % n_buckets`` so a query touches only its terms'
  buckets (partition pruning — the on-disk analog of posting-list
  sharding in a search engine).
* ``doclen/batch_id=N/`` — (id, dl): the per-document length BM25's
  normalization and QL's ``ln(dl + mu)`` need, only ever joined
  against the (tiny) candidate set.
* ``stats/batch_id=N/`` — ONE row (n_docs, total_tokens) per batch:
  corpus statistics become an O(batches) merge instead of an
  O(corpus) rescan.

Everything is a mergeable monoid (append / integer sum), so this is
the ``streaming/rollup.py`` store pattern: per-batch partials under
``batch_id=N`` with idempotent ``mode("overwrite")`` (replayed batches
never double-count), serve = merge partials, compaction folds to one
base partial (``batch_id=-1``) and is a FIXED POINT — the postings
multiset is unchanged, so served rankings are bit-identical.

Serve ≡ batch, exactly: ``bm25_topk_from_store`` feeds the merged
index tables into ``functions/retrieval.py::bm25_topk_from_index`` —
the SAME code path the batch ``bm25_topk`` wrapper uses — and each
document contributes identical (tok, tf)/(dl) rows whichever batch it
arrived in, so the served top-k equals a batch rebuild over the full
corpus row-for-row, bit-for-bit (pinned in
tests/test_streaming_postings.py and driver-attested in sim_topk).

CONTRACT: each document id is ingested exactly once across the
stream's lifetime (the standard index-build grain; exact/near-dup
upstream is ``streaming/ingest.py``'s job). Replays of the same
micro-batch are safe (idempotent overwrite); the same doc arriving in
TWO DIFFERENT batches would double its postings, exactly as it would
double its rows in a batch corpus.

DELETIONS (r12) are tombstones, the search-engine norm: rewriting
posting partials per delete would be O(index), so ``delete_docs``
appends an id-list partial under ``deletes/batch_id=N/`` (idempotent
set-union monoid — re-deleting is a no-op) and the serve path masks:
postings/doclen anti-join the (broadcast-tiny, candidate-sized after
bucket pruning) tombstone set, and corpus stats subtract the deleted
docs' lengths via one O(deletes) semi-join aggregate. Serving after a
delete is bit-identical to a batch rebuild over corpus-minus-deleted
(same scorers, same index content). ``compact_postings`` APPLIES the
tombstones: deleted rows drop from the folded base, stats are
re-derived from the surviving doclen, and the tombstone store empties
— compaction remains a serve fixed point.

Net-new surface (no reference counterpart — the reference has no text
or streaming support; SURVEY §2.7).
"""

from __future__ import annotations

import os
import zlib

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from scida_spark.functions import text as TX
from scida_spark.functions.retrieval import (
    bm25_topk_from_index,
    ql_topk_from_index,
)
from scida_spark.streaming import storekit
from scida_spark.session import local_df

__all__ = [
    "postings_writer",
    "incremental_postings_ingest",
    "read_postings",
    "read_doclen",
    "read_corpus_stats",
    "bm25_topk_from_store",
    "ql_topk_from_store",
    "compact_postings",
    "delete_docs",
    "read_deletes",
    "read_forward",
    "rm3_topk_from_store",
    "doc_bucket",
]

DEFAULT_BUCKETS = 16


def _ensure_meta(
    store_dir: str,
    n_buckets: int,
    id_col: str = "doc_id",
    text_col: str = "text",
    with_forward: bool = False,
) -> None:
    """Persist the store's sharding parameter at ingest time (r11
    ADVICE #1): ``n_buckets`` determines which ``tok_bucket``
    partitions hold a term's postings, so a reader that assumes the
    wrong value prunes to the WRONG buckets and silently drops
    query-term postings. The meta file makes the store self-
    describing; a writer re-opening an existing store with a different
    n_buckets is refused (a mixed-shard store is unreadable). EVERY
    ingest parameter is validated on re-open (r12 ADVICE #2):
    appending e.g. with_forward=False partials to a forward store
    yields a store whose feedback fetch silently misses docs. Mechanics
    shared with the other stores via
    :func:`scida_spark.streaming.storekit.ensure_meta` (r14)."""
    storekit.ensure_meta(
        store_dir,
        {
            "n_buckets": int(n_buckets),
            "id_col": id_col,
            "text_col": text_col,
            "with_forward": bool(with_forward),
        },
        "postings store",
    )


def _resolve_buckets(store_dir: str, n_buckets: int | None) -> int:
    """Reader-side n_buckets: the store's own meta wins; an explicit
    caller value is VALIDATED against it (a mismatch would silently
    mis-prune — raise instead); only a meta-less legacy store trusts
    the caller / default."""
    have = storekit.store_meta(store_dir).get("n_buckets")
    if have is not None:
        if n_buckets is not None and int(n_buckets) != int(have):
            raise ValueError(
                f"postings store {store_dir} has n_buckets={have}; "
                f"caller asked for {n_buckets}"
            )
        return int(have)
    return DEFAULT_BUCKETS if n_buckets is None else int(n_buckets)


def term_bucket(term: str, n_buckets: int = DEFAULT_BUCKETS) -> int:
    """Python twin of the JVM bucket function — zlib.crc32 and Spark's
    ``crc32`` both implement the IEEE CRC-32 of the UTF-8 bytes, so
    the driver can compute exactly which buckets a query's terms live
    in and prune the postings scan to them."""
    return zlib.crc32(term.encode("utf-8")) % n_buckets


def doc_bucket(doc_id: int, n_buckets: int = DEFAULT_BUCKETS) -> int:
    """Python twin of the forward substore's shard function: CRC-32 of
    the id's DECIMAL-STRING bytes (Spark: ``crc32(cast(id as string))``
    — the cast renders the same digits ``str(int)`` does), so a
    feedback-doc fetch prunes to exactly the ids' ``doc_bucket``
    partitions."""
    return zlib.crc32(str(int(doc_id)).encode("utf-8")) % n_buckets


def _index_partials(
    batch_df: DataFrame,
    id_col: str,
    text_col: str,
    n_buckets: int,
):
    """(postings, doclen, stats) partials of one micro-batch — one
    tokenization, three consumers (the caller persists the batch)."""
    toks = batch_df.select(
        F.col(id_col),
        F.explode(TX.tokens(F.col(text_col))).alias("tok"),
    )
    postings = (
        toks.groupBy(id_col, "tok")
        .agg(F.count("*").alias("tf"))
        .withColumn(
            "tok_bucket",
            (F.crc32(F.col("tok").cast("binary")) % F.lit(n_buckets)).cast(
                "int"
            ),
        )
    )
    doclen = batch_df.select(
        F.col(id_col), TX.token_count(F.col(text_col)).alias("dl")
    )
    stats = doclen.agg(
        F.count("*").alias("n_docs"),
        F.coalesce(F.sum("dl"), F.lit(0)).cast("long").alias("total_tokens"),
    )
    return postings, doclen, stats


def postings_writer(
    store_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = DEFAULT_BUCKETS,
    with_forward: bool = False,
):
    """Per-batch writer maintaining the index substores — composable
    under ``streaming/rollup.py::incremental_multi_store_ingest`` (ONE
    readStream pass can maintain the retrieval index alongside
    rollup/freq/reservoir stores). ``with_forward`` additionally
    maintains a FORWARD substore — the same (doc, term, tf) rows
    re-sharded by ``doc_bucket`` — so
    per-document term vectors are fetchable with partition pruning
    (what relevance feedback needs: :func:`rm3_topk_from_store`
    reads only the feedback docs' buckets instead of scanning every
    token shard). Roughly doubles postings bytes; flag-gated."""

    def write(batch_df: DataFrame, batch_id: int) -> None:
        _ensure_meta(store_dir, n_buckets, id_col, text_col, with_forward)
        postings, doclen, stats = _index_partials(
            batch_df, id_col, text_col, n_buckets
        )
        postings.write.mode("overwrite").partitionBy("tok_bucket").parquet(
            os.path.join(store_dir, "postings", f"batch_id={batch_id}")
        )
        if with_forward:
            fwd = postings.select(
                F.col(id_col),
                "tok",
                "tf",
                (
                    F.crc32(F.col(id_col).cast("string").cast("binary"))
                    % F.lit(n_buckets)
                ).cast("int").alias("doc_bucket"),
            )
            fwd.write.mode("overwrite").partitionBy("doc_bucket").parquet(
                os.path.join(store_dir, "fwd", f"batch_id={batch_id}")
            )
        doclen.write.mode("overwrite").parquet(
            os.path.join(store_dir, "doclen", f"batch_id={batch_id}")
        )
        stats.write.mode("overwrite").parquet(
            os.path.join(store_dir, "stats", f"batch_id={batch_id}")
        )

    return write


def incremental_postings_ingest(
    spark: SparkSession,
    input_dir: str,
    schema,
    *,
    store_dir: str,
    checkpoint_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = DEFAULT_BUCKETS,
    with_forward: bool = False,
    available_now: bool = True,
    max_files_per_trigger: int | None = None,
):
    """Watch ``input_dir`` for new document files and maintain the
    postings/doclen/stats (and optional forward) store; returns the
    StreamingQuery. The micro-batch is persisted once and feeds all
    substores (the one-pass multi-store rule)."""
    writer_fn = postings_writer(
        store_dir, id_col, text_col, n_buckets, with_forward
    )

    def process(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.persist()
        try:
            writer_fn(batch_df, batch_id)
        finally:
            batch_df.unpersist()

    return storekit.run_file_ingest(
        spark, input_dir, schema, process, checkpoint_dir,
        available_now=available_now,
        max_files_per_trigger=max_files_per_trigger,
    )


def read_postings(
    spark: SparkSession,
    store_dir: str,
    terms=None,
    n_buckets: int | None = None,
) -> DataFrame:
    """Postings of the accumulated index; with ``terms`` the scan is
    pruned to the terms' buckets (partition pruning on ``tok_bucket``
    — at scale this reads |query-term buckets| / n_buckets of the
    index) and filtered to the terms themselves. The bucket count
    comes from the store's own ``_meta.json`` (written at ingest); an
    explicit ``n_buckets`` is validated against it — a mismatch would
    silently prune the wrong partitions."""
    n_buckets = _resolve_buckets(store_dir, n_buckets)
    p = storekit.read_partials(spark, os.path.join(store_dir, "postings"))
    if terms is not None:
        terms = sorted(set(terms))
        buckets = sorted({term_bucket(t, n_buckets) for t in terms})
        p = p.filter(F.col("tok_bucket").isin(buckets)).filter(
            F.col("tok").isin(terms)
        )
    return p


def read_doclen(spark: SparkSession, store_dir: str) -> DataFrame:
    return storekit.read_partials(spark, os.path.join(store_dir, "doclen"))


def read_forward(
    spark: SparkSession,
    store_dir: str,
    doc_ids,
    n_buckets: int | None = None,
    apply_deletes: bool = True,
) -> DataFrame:
    """Per-document term vectors (id, tok, tf) for a BOUNDED id set,
    from the forward substore: the scan prunes to the ids'
    ``doc_bucket`` partitions (at scale it reads |id buckets| /
    n_buckets of the forward index) and filters to the ids themselves.
    Tombstoned docs are masked by default. Raises on a store written
    without ``with_forward`` — there is nothing to read (scanning the
    token-sharded postings for a doc would touch EVERY shard, the
    exact cost this substore exists to avoid)."""
    meta = storekit.store_meta(store_dir)
    if not meta.get("with_forward"):
        raise ValueError(
            f"postings store {store_dir} was written without "
            "with_forward=True; per-document term vectors are not "
            "servable from it"
        )
    id_col = meta.get("id_col", "doc_id")
    n_buckets = _resolve_buckets(store_dir, n_buckets)
    ids = sorted({int(i) for i in doc_ids})
    buckets = sorted({doc_bucket(i, n_buckets) for i in ids})
    f = (
        storekit.read_partials(spark, os.path.join(store_dir, "fwd"))
        .filter(F.col("doc_bucket").isin(buckets))
        .filter(F.col(id_col).isin(ids))
    )
    if apply_deletes:
        dels = read_deletes(spark, store_dir, id_col)
        if dels is not None:
            f = f.join(F.broadcast(dels), id_col, "left_anti")
    return f.select(F.col(id_col), "tok", "tf")


def rm3_topk_from_store(
    spark: SparkSession,
    store_dir: str,
    queries: list[tuple[int, str]],
    k: int = 10,
    k_fb: int = 3,
    m: int = 8,
    alpha: float = 0.5,
    mu: float = 300.0,
    n_buckets: int | None = None,
    corpus_stats: tuple[int, int] | None = None,
    max_df: float | None = None,
) -> DataFrame:
    """RM3 pseudo-relevance feedback served ENTIRELY from the
    incrementally maintained index — no corpus re-read anywhere:

    * pass 1: :func:`ql_topk_from_store` (token-sharded postings,
      bucket-pruned to the query terms);
    * feedback term model: the FORWARD substore, pruned to the
      queries x k_fb feedback docs' ``doc_bucket`` partitions;
    * pass 2: the same weighted-QL scorer as batch
      (:func:`~scida_spark.functions.retrieval.
      weighted_ql_topk_from_index`) over store postings pruned to the
      EXPANDED term set.

    Bit-identical to a batch ``rm3_topk`` over the live corpus with
    the same parameters: the store carries the same (doc, term, tf) /
    doclen / stats integers as a batch scan, every driver-side float
    op is shared code (softmax posterior, RM1 folds, interpolation),
    and the pass-2 scorer is literally the same function.
    ``corpus_stats``: same LIVE contract as ``bm25_topk_from_store``.
    ``max_df`` (r14): the expansion-term df ceiling of
    :func:`~scida_spark.functions.retrieval.rm3_expand_terms`, served
    here from the index itself — df of each candidate term comes from
    a bucket-pruned postings read over the (bounded, feedback-
    vocabulary-sized) candidate set, tombstones masked, so the integer
    df — hence the ceiling — matches a batch scan of the live corpus
    bit-for-bit."""
    from scida_spark.functions.retrieval import (
        _interpolate_weights,
        _orig_only_weights,
        _rm_top_terms,
        _softmax_posterior,
        weighted_ql_topk_from_index,
    )

    meta = storekit.store_meta(store_dir)
    if not meta.get("with_forward"):
        # fail FAST and uniformly — not only on queries that happen to
        # find feedback docs
        raise ValueError(
            f"postings store {store_dir} was written without "
            "with_forward=True; rm3_topk_from_store needs the forward "
            "substore for the feedback term model"
        )
    id_col = meta.get("id_col", "doc_id")
    if corpus_stats is None:
        corpus_stats = read_corpus_stats(spark, store_dir)
    pass1 = ql_topk_from_store(
        spark,
        store_dir,
        queries,
        k=k_fb,
        mu=mu,
        n_buckets=n_buckets,
        corpus_stats=corpus_stats,
    ).collect()
    post_rows = _softmax_posterior(pass1, id_col)
    if not post_rows:
        wterms = _orig_only_weights(queries, alpha)
    else:
        fb = F.broadcast(
            local_df(spark, 
                post_rows, f"query_id long, {id_col} long, post double"
            )
        )
        fb_ids = sorted({d for _, d, _ in post_rows})
        ftf = read_forward(spark, store_dir, fb_ids, n_buckets)
        fdl = (
            read_doclen(spark, store_dir)
            .filter(F.col(id_col).isin(fb_ids))
            .select(F.col(id_col), F.col("dl").alias("_dl"))
        )
        allowed = None
        if max_df is not None:
            # candidate vocabulary = the feedback docs' terms — a
            # bounded serving request (queries x k_fb docs), so the
            # collect is small; the df read prunes to those terms'
            # tok_bucket partitions
            cand = sorted(
                r["tok"] for r in ftf.select("tok").distinct().collect()
            )
            df_cap = int(max_df * corpus_stats[0])
            pcand = read_postings(spark, store_dir, cand, n_buckets)
            dels0 = read_deletes(spark, store_dir, id_col)
            if dels0 is not None:
                pcand = pcand.join(F.broadcast(dels0), id_col, "left_anti")
            allowed = (
                pcand.select(id_col, "tok")
                .distinct()
                .groupBy("tok")
                .agg(F.count("*").alias("df"))
                .filter(F.col("df") <= df_cap)
                .select("tok")
            )
        rm_by_q = _rm_top_terms(ftf, fdl, fb, m, id_col, allowed=allowed)
        wterms = _interpolate_weights(queries, rm_by_q, alpha)
    all_terms = sorted({t for _, t, _ in wterms})
    postings = read_postings(spark, store_dir, all_terms, n_buckets).select(
        F.col(id_col), "tok", "tf"
    )
    dl = read_doclen(spark, store_dir).select(
        F.col(id_col), F.col("dl").alias("_dl")
    )
    dels = read_deletes(spark, store_dir, id_col)
    if dels is not None:
        d = F.broadcast(dels)
        postings = postings.join(d, id_col, "left_anti")
        dl = dl.join(d, id_col, "left_anti")
    return weighted_ql_topk_from_index(
        spark, postings, dl, corpus_stats, wterms, k=k, mu=mu, id_col=id_col
    )


def _deleted_stats(spark, store_dir, dels, id_col) -> tuple[int, int]:
    """(n_docs, total_tokens) of the tombstoned-AND-ingested docs —
    one O(deletes) semi-join aggregate against doclen."""
    row = (
        read_doclen(spark, store_dir)
        .join(F.broadcast(dels), id_col, "left_semi")
        .agg(
            F.count("*").alias("dn"),
            F.coalesce(F.sum("dl"), F.lit(0)).cast("long").alias("dt"),
        )
        .first()
    )
    return (int(row["dn"]), int(row["dt"]))


def read_corpus_stats(
    spark: SparkSession, store_dir: str, apply_deletes: bool = True
) -> tuple[int, int]:
    """(n_docs, total_tokens) over the whole ingested history — an
    O(batches)-row sum of 1-row partials, never a corpus scan. With
    ``apply_deletes`` (default) unapplied tombstones are subtracted,
    so the public number always reflects the LIVE corpus."""
    row = (
        storekit.read_partials(spark, os.path.join(store_dir, "stats"))
        .agg(
            F.sum("n_docs").alias("n"), F.sum("total_tokens").alias("tot")
        )
        .first()
    )
    n, tot = int(row["n"] or 0), int(row["tot"] or 0)
    if apply_deletes:
        id_col = storekit.store_meta(store_dir).get("id_col", "doc_id")
        dels = read_deletes(spark, store_dir, id_col)
        if dels is not None:
            dn, dt = _deleted_stats(spark, store_dir, dels, id_col)
            n, tot = n - dn, tot - dt
    return (n, tot)


def delete_docs(
    spark: SparkSession,
    store_dir: str,
    ids,
    batch_id: int,
    id_col: str = "doc_id",
) -> None:
    """Tombstone ``ids`` (a DataFrame with ``id_col`` or an iterable of
    ints) as the delete partial ``deletes/batch_id=N`` — O(deletes)
    written, nothing rewritten. Idempotent overwrite; deleting an id
    twice (or one never ingested) is a no-op at serve time."""
    storekit.write_tombstones(
        spark, store_dir, ids, batch_id, id_col=id_col, out_col=id_col
    )


def read_deletes(
    spark: SparkSession, store_dir: str, id_col: str = "doc_id"
) -> DataFrame | None:
    """The accumulated tombstone set (distinct ids); None if no
    deletes exist."""
    return storekit.read_tombstones(spark, store_dir, out_col=id_col)


def _index_tables(spark, store_dir, queries, id_col, n_buckets, corpus_stats):
    terms = {t for _, qtext in queries for t in qtext.strip().split(" ")}
    postings = read_postings(spark, store_dir, terms, n_buckets).select(
        F.col(id_col), "tok", "tf"
    )
    dl = read_doclen(spark, store_dir).select(
        F.col(id_col), F.col("dl").alias("_dl")
    )
    dels = read_deletes(spark, store_dir, id_col)
    if corpus_stats is None:
        # delete-adjusted by default
        corpus_stats = read_corpus_stats(spark, store_dir)
    # CONTRACT (r13, closes r12 ADVICE #1): a caller-provided
    # corpus_stats is LIVE — i.e. exactly what read_corpus_stats()
    # returns with its default apply_deletes=True. It is never
    # re-adjusted here: the natural share-the-stats pattern
    #   cs = read_corpus_stats(spark, store); bm25_topk_from_store(
    #       ..., corpus_stats=cs); ql_topk_from_store(..., corpus_stats=cs)
    # must score identically to passing nothing, even with tombstones
    # outstanding (the old re-subtract double-counted the deletes).
    # A caller holding pre-delete ingest totals must pass them through
    # read_corpus_stats(..., apply_deletes=True) semantics itself.
    if dels is not None:
        # Tombstone masking: anti-joins against the broadcast delete
        # set (postings are already bucket-pruned — candidate-sized).
        # After compaction applies the tombstones these become no-ops
        # (empty intersections), so a crash between apply and
        # tombstone-clear stays correct.
        d = F.broadcast(dels)
        postings = postings.join(d, id_col, "left_anti")
        dl = dl.join(d, id_col, "left_anti")
    return postings, dl, corpus_stats


def bm25_topk_from_store(
    spark: SparkSession,
    store_dir: str,
    queries: list[tuple[int, str]],
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    id_col: str = "doc_id",
    n_buckets: int | None = None,
    corpus_stats: tuple[int, int] | None = None,
) -> DataFrame:
    """BM25 top-k served from the incremental store — bit-identical to
    ``bm25_topk`` over the same accumulated corpus (shared scorer).
    ``corpus_stats`` lets a caller serving several rankers read the
    O(batches) stats partials ONCE (one driver job instead of one per
    ranker — the shared-ingest-statistic rule); it must be LIVE, i.e.
    the default (delete-adjusted) ``read_corpus_stats`` result — it is
    used as-is, never re-adjusted for outstanding tombstones."""
    postings, dl, cs = _index_tables(
        spark, store_dir, queries, id_col, n_buckets, corpus_stats
    )
    return bm25_topk_from_index(
        spark, postings, dl, cs, queries, k=k, k1=k1, b=b, id_col=id_col
    )


def ql_topk_from_store(
    spark: SparkSession,
    store_dir: str,
    queries: list[tuple[int, str]],
    k: int = 10,
    mu: float = 300.0,
    id_col: str = "doc_id",
    n_buckets: int | None = None,
    corpus_stats: tuple[int, int] | None = None,
) -> DataFrame:
    """Dirichlet query-likelihood top-k served from the incremental
    store — bit-identical to ``query_likelihood_topk`` over the same
    accumulated corpus (shared scorer; cf_t = SUM(tf) both ways).
    ``corpus_stats``: same LIVE contract as ``bm25_topk_from_store``."""
    postings, dl, cs = _index_tables(
        spark, store_dir, queries, id_col, n_buckets, corpus_stats
    )
    return ql_topk_from_index(
        spark, postings, dl, cs, queries, k=k, mu=mu, id_col=id_col
    )


def compact_postings(spark: SparkSession, store_dir: str) -> int:
    """Fold every batch partial of all substores into one base
    partial (``batch_id=-1``). The postings/doclen row multisets are
    unchanged (append monoid) and the stats fold to their sum, so
    serving after compaction is bit-identical — a fixed point, like
    the reservoir/freq stores. Returns batch dirs folded (max over
    substores).

    Crash-safe as ONE store-level TRANSACTION (r13, closes r12 ADVICE
    #3) under the single-writer maintenance lock (r13, closes r12
    ADVICE #4): all substore folds are STAGED into scratch dirs first,
    then committed together by one atomic txn manifest that also
    records the tombstone clear — no window where one substore is
    folded (tombstones applied) while a sibling still carries
    pre-delete partials. Tombstones (r12) are APPLIED here: deleted
    rows drop from the folded postings/doclen/fwd, stats are
    re-derived from the surviving (masked) doclen rows — exact integer
    re-aggregation. Since r14 the heal/lock/stage/commit lifecycle is
    :func:`scida_spark.streaming.storekit.compact_store` (shared by
    the vector and near-dup-signature stores); this function only
    supplies the substore specs."""
    meta = storekit.store_meta(store_dir)
    id_col = meta.get("id_col", "doc_id")

    def _mask(df, dels):
        return (
            df if dels is None
            else df.join(F.broadcast(dels), id_col, "left_anti")
        )

    def _fold(df, dels):
        return _mask(df.drop("batch_id"), dels)

    def _stats_rewrite(df, dels):
        if dels is None:
            return df.agg(
                F.sum("n_docs").alias("n_docs"),
                F.sum("total_tokens").cast("long").alias("total_tokens"),
            )
        # exact integer re-aggregation of the SURVIVING doclen rows
        # (masked view over all partials — doclen itself is only
        # staged at this point, not yet promoted)
        return _mask(read_doclen(spark, store_dir), dels).agg(
            F.count("*").alias("n_docs"),
            F.coalesce(F.sum("dl"), F.lit(0))
            .cast("long")
            .alias("total_tokens"),
        )

    subs = [
        storekit.Substore("postings", _fold, partition_by="tok_bucket"),
        storekit.Substore("doclen", _fold),
        storekit.Substore("stats", _stats_rewrite),
    ]
    if meta.get("with_forward"):
        subs.insert(
            1, storekit.Substore("fwd", _fold, partition_by="doc_bucket")
        )
    return storekit.compact_store(
        spark,
        store_dir,
        subs,
        read_dels=lambda s: read_deletes(s, store_dir, id_col),
    )
