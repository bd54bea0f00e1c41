"""DSIR — Data Selection with Importance Resampling (Xie et al. 2023,
arXiv:2302.03169): select raw-corpus documents whose hashed-n-gram
distribution looks like a TARGET corpus, by per-document importance
log-weights  sum_f [ log p_target(f) - log p_raw(f) ]  over hashed
unigram+bigram features. The standard pretraining-data curation step
("make CommonCrawl look like Wikipedia") — the learned-classifier-free
complement of functions/quality_classifier.py.

Engine-portability rules (the repo's cross-oracle conventions):

* Feature hashing is the md5 hash-bucket (functions/sampling.py) mod a
  power-of-two vocab — a pure function of the n-gram text + salt, so
  any engine reproduces the features bit-for-bit (no rand(), no
  engine-specific hash).
* Per-document scores FOLD IN SORTED FEATURE ORDER, because float
  addition does not commute across orders — the same rule that makes
  BM25 hash-match (functions/retrieval.py). Equal buckets contribute
  equal addends, so ties cost nothing; ``np.cumsum`` is a strict
  serial left-to-right accumulate, bit-identical to the oracle's
  ordered ``list_reduce``.
* Smoothed log-probabilities use add-one smoothing over the hashed
  vocab: log((c_f + 1) / (N + V)). All inputs are integers, so libm
  ``ln``/``math.log`` agree bit-for-bit across engines.

Scale (the ×100-sweep lesson — a first cut that exploded every doc
into a 200M-row feature stream, scanned it three times, and
reassembled per-doc scores through a collect_list shuffle capped out
at >420 s; this design runs the same corpus in ~tens of seconds):

* **Collapse-first**: duplicate-heavy corpora are the norm (the
  dedup family's design rule). Features are computed once per DISTINCT
  text (group by the 16-byte content digest); every replica
  contributes to the count tables via integer weights (w_all,
  w_target), which is EXACTLY equivalent to exploding every doc —
  scoring cost scales with distinct content, not corpus size.
* **One counting pass**: both count tables come from a single
  explode + groupBy(bucket) with map-side combine (target is a
  weighted sum in the same aggregate, not a second scan); output is
  ≤V rows.
* **Row-local scoring**: the ≤V-row log-ratio table is a bounded
  driver artifact (like the LM vocab and the BM25 idf table) —
  broadcast as a numpy array into one Arrow-batched scorer; the
  JVM computes the SORTED hashed-feature array per distinct text
  (split/md5/array_sort — no UDF), Python does a vectorized
  gather + serial cumsum. The corpus never shuffles to be scored;
  the only corpus-sized shuffles are the content-digest collapse
  and the digest join back to ids.
* Selection quotas reuse the deterministic (score, id) window
  machinery; for a GLOBAL quota over an unbounded corpus, rank with
  the two-level running count (operators/prefix_sum.py::
  global_running_sum) instead of a single-partition window.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType
from pyspark.sql.window import Window as W

from scida_spark.functions.sampling import hash_bucket
from scida_spark.functions.text import tokens

DSIR_VOCAB = 1 << 13


def hashed_ngram_features(
    text: Column, vocab: int = DSIR_VOCAB, salt: str = "dsir"
) -> Column:
    """Array of hashed feature buckets for ``text``: word unigrams +
    adjacent-word bigrams, each md5-bucketed into [0, vocab). Pure
    Column expressions (split / transform / concat) — zero UDF."""
    t = tokens(text)
    # bigrams via zip_with over two O(n) slices — NOT element_at(t, i)
    # inside a transform lambda: that inlines a fresh copy of the
    # upstream tokenize expression per element access (Catalyst has no
    # intra-projection CSE), turning the projection O(n²) per doc —
    # the ×100 cliff the bigram-LM trainer hit. slice length n-1 is 0
    # for 1-token docs, so the empty-bigram case needs no guard.
    bis = F.zip_with(
        F.slice(t, 1, F.size(t) - 1),
        F.slice(t, 2, F.size(t) - 1),
        lambda a, b: F.concat_ws(" ", a, b),
    )
    grams = F.concat(t, bis)
    return F.transform(grams, lambda g: (hash_bucket(g, salt) % vocab).cast("int"))


def dsir_log_weights(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    is_target: Column,
    vocab: int = DSIR_VOCAB,
    salt: str = "dsir",
) -> DataFrame:
    """Per-document DSIR importance log-weight: ``(id, score)`` where
    score = sum over the doc's feature instances of
    log p_target(bucket) - log p_raw(bucket), add-one smoothed over
    the hashed vocab. ``is_target`` marks the rows defining the target
    distribution (e.g. ``lang == 'en'``); the raw distribution is the
    whole input. Deterministic: hashing, counts, and the sorted-order
    fold are pure functions of the data (see module docstring for the
    collapse-first / row-local-scoring scale design)."""
    keyed = docs.select(
        F.col(id_col).alias("_id"),
        F.md5(F.col(text_col).cast("string")).alias("_k"),
        F.col(text_col).alias("_text"),
        is_target.cast("long").alias("_tgt"),
    )
    # collapse to one rep per distinct text; replicas become integer
    # weights (first(_text) is deterministic: all texts in a md5 group
    # are identical)
    reps = keyed.groupBy("_k").agg(
        F.first("_text").alias("_text"),
        F.count("*").alias("_w"),
        F.sum("_tgt").alias("_wt"),
    )
    fs = reps.select(
        "_k",
        F.array_sort(
            hashed_ngram_features(F.col("_text"), vocab, salt)
        ).alias("_fs"),
        "_w",
        "_wt",
    ).localCheckpoint(eager=False)
    # one weighted counting pass -> <=V rows -> bounded driver artifact
    counts = (
        fs.select(F.explode("_fs").alias("bucket"), "_w", "_wt")
        .groupBy("bucket")
        .agg(F.sum("_w").alias("cr"), F.sum("_wt").alias("ct"))
        .collect()
    )
    nr = sum(r["cr"] for r in counts)
    nt = sum(r["ct"] for r in counts)
    log = math.log
    lr_arr = np.zeros(vocab, dtype=np.float64)
    for r in counts:
        lr_arr[r["bucket"]] = (
            log(r["ct"] + 1)
            - log(nt + vocab)
            - log(r["cr"] + 1)
            + log(nr + vocab)
        )
    b_lr = docs.sparkSession.sparkContext.broadcast(lr_arr)

    @F.pandas_udf(DoubleType())
    def _score(fs_lists: pd.Series) -> pd.Series:
        lr = b_lr.value
        out = []
        for buckets in fs_lists:
            a = np.asarray(buckets, dtype=np.int64)
            # serial accumulate == the oracle's left-to-right
            # list_reduce fold (np.cumsum does not re-associate)
            out.append(float(lr[a].cumsum()[-1]) if a.size else 0.0)
        return pd.Series(out)

    scored_reps = fs.select("_k", _score(F.col("_fs")).alias("score"))
    return keyed.select("_id", "_k").join(scored_reps, "_k").select(
        F.col("_id").alias(id_col), "score"
    )


def dsir_select_stratified(
    scored: DataFrame,
    id_col: str,
    stratum_col: str,
    num: int,
    den: int,
    score_col: str = "score",
    out_col: str = "in_dsir",
) -> DataFrame:
    """Flag the top ceil(count·num/den) documents of every stratum by
    (score desc, id asc) — the deterministic exact-quota selection
    (same contract as sampling.stratified_exact_sample, ranked by the
    importance weight instead of a hash). Per-stratum windows bound
    task size by the stratum; a single global quota should rank via
    global_running_sum's two-level plan instead."""
    w = W.partitionBy(stratum_col).orderBy(
        F.col(score_col).desc(), F.col(id_col).asc()
    )
    cnt = W.partitionBy(stratum_col)
    return (
        scored.withColumn("_rn", F.row_number().over(w).cast("long"))
        .withColumn("_n", F.count("*").over(cnt))
        # 64-bit integer ceil-division (the split_thresholds lesson)
        .withColumn(
            out_col,
            F.expr(f"_rn <= ((_n * {int(num)} + {int(den) - 1}) DIV {int(den)})"),
        )
        .drop("_rn", "_n")
    )
