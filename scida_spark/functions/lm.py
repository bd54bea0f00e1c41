"""Unigram language-model quality scoring (CCNet-style perplexity
filter).

Production LLM-data pipelines score every document with a small
language model trained on a trusted corpus and drop the
high-perplexity tail (CCNet, Gopher, Llama data pipelines). The
reference has no text surface at all; this is net-new engine
capability built Spark-first:

* **Training** is one explode + groupBy(token) count over the training
  slice — a single shuffle whose output is O(vocab), then a driver-side
  top-V truncation (the model artifact is a dict, broadcast to
  executors). At 100 TB you train on a deterministic hash-sample of
  the corpus (``sample_fraction``) — the model does not improve past a
  few GB of training text, so the training scan is bounded while
  scoring still covers every row.
* **Scoring** is row-local: the broadcast vocab rides into one
  Arrow-batched pandas UDF; no explode, no join, no shuffle of the
  corpus — the same "per-document metrics never shuffle" rule as the
  repetition filter (SCALE.md).

Bit-stability contract (what makes the DuckDB oracle hash-match): all
model quantities are integers (add-one smoothing keeps ``count+1``
integer); per-token log-probs are ``ln(integer)`` computed by libm on
both engines (bit-identical, verified); the per-document fold is
strict left-to-right IEEE double addition in token order on both
sides (Python loop here, ordered ``list_reduce`` in the oracle); the
single final rounding is one DECIMAL(38,6) cast applied identically in
both plans.

Model: add-one-smoothed unigram over a top-V vocabulary with one
shared OOV class::

    D        = N + V + 1          (N = total training tokens)
    p(tok)   = (c_tok + 1) / D    tok in vocab
    p(OOV)   = 1 / D
    nll(doc) = ln(D) - (1/n) * sum_i ln(c_{tok_i} + 1)

(the OOV term contributes ln(1) = 0 to the sum, so skipping OOV
tokens in the fold is IEEE-exact, not an approximation).
"""

from __future__ import annotations

import math

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, LongType, StructField, StructType

from scida_spark.functions import text as TX

__all__ = [
    "train_unigram_lm",
    "score_nll",
    "UnigramLM",
]


class UnigramLM:
    """Trained model artifact: top-V token counts + totals.

    ``counts`` is the only state that crosses the driver/executor
    boundary (broadcast).
    """

    def __init__(self, counts: dict[str, int], n_total: int, vocab_size: int):
        self.counts = counts
        self.n_total = int(n_total)
        self.vocab_size = int(vocab_size)

    @property
    def denom(self) -> int:
        """D = N + V + 1 — integer, so ln(D) is identical on any engine."""
        return self.n_total + self.vocab_size + 1


def train_unigram_lm(
    docs: DataFrame,
    text_col: str = "text",
    vocab_size: int = 16,
    sample_fraction: float | None = None,
    id_col: str = "doc_id",
) -> UnigramLM:
    """Count tokens over the (optionally hash-sampled) training slice
    and keep the top-``vocab_size`` by (count DESC, token ASC) — a
    deterministic truncation any engine reproduces.

    ``n_total`` is the token count over the WHOLE training slice
    (vocab + tail), read off the same aggregation. One shuffle total;
    the collect is O(vocab), not O(corpus).
    """
    if sample_fraction is not None:
        # Deterministic content-hash sample (no rand()): stable across
        # runs, engines, and partitionings.
        from scida_spark.functions.sampling import hash_sample

        docs = hash_sample(docs, id_col, sample_fraction, salt="lm_train")
    counts = (
        docs.select(F.explode(TX.tokens(F.col(text_col))).alias("tok"))
        .groupBy("tok")
        .agg(F.count("*").alias("c"))
    )
    counts.persist()
    try:
        n_total = counts.agg(F.sum("c")).collect()[0][0] or 0
        top = (
            counts.orderBy(F.col("c").desc(), F.col("tok").asc())
            .limit(int(vocab_size))
            .collect()
        )
    finally:
        counts.unpersist()
    return UnigramLM({r["tok"]: int(r["c"]) for r in top}, n_total, vocab_size)


def score_nll(docs: DataFrame, model: UnigramLM) -> DataFrame:
    """Per-document mean negative log-likelihood in nats (plus token /
    OOV counts) of ``docs``' ``text`` — row-local scoring, zero shuffle.

    Returns ``(doc_id, n_tokens, n_oov, nll)``; ``nll`` is the raw
    double — callers choose the rounding (the registry query applies
    one DECIMAL(38,6) cast to match its oracle bit-for-bit).
    """
    bcast = docs.sparkSession.sparkContext.broadcast(model.counts)
    ln_d = math.log(float(model.denom))

    schema = StructType(
        [
            StructField("n_tokens", LongType()),
            StructField("n_oov", LongType()),
            StructField("nll", DoubleType()),
        ]
    )

    @F.pandas_udf(schema)
    def _score(tok_lists: pd.Series) -> pd.DataFrame:
        counts = bcast.value
        log = math.log
        n_out, oov_out, nll_out = [], [], []
        for toks in tok_lists:
            # Strict left-to-right accumulation: matches the oracle's
            # ordered list_reduce fold bit-for-bit. OOV adds ln(1)=0 —
            # skipping it is IEEE-exact.
            s = 0.0
            oov = 0
            for t in toks:
                c = counts.get(t)
                if c is None:
                    oov += 1
                else:
                    s += log(c + 1)
            n = len(toks)
            n_out.append(n)
            oov_out.append(oov)
            nll_out.append(ln_d - s / n if n else ln_d)
        return pd.DataFrame({"n_tokens": n_out, "n_oov": oov_out, "nll": nll_out})

    return docs.select(
        F.col("doc_id"),
        _score(TX.tokens(F.col("text"))).alias("_s"),
    ).select(
        "doc_id",
        F.col("_s.n_tokens").alias("n_tokens"),
        F.col("_s.n_oov").alias("n_oov"),
        F.col("_s.nll").alias("nll"),
    )


# ---------------------------------------------------------------------------
# Interpolationless bigram LM (r9) — one Markov order up from the
# unigram filter: the CCNet-style quality signal starts separating
# "right words, wrong order" documents only at n >= 2.
# ---------------------------------------------------------------------------

_OOV = "\x01"  # sentinel class; never a corpus token (oracle: chr(1))


class BigramLM:
    """Trained bigram artifact over the shared top-V unigram vocab plus
    ONE OOV class (alphabet size V+1). All state is integer counts:

    * ``pair_counts[(u, v)]`` — mapped-bigram counts c2,
      at most (V+1)^2 entries (the broadcastable model bound),
    * ``ctx_counts[u]`` — context totals c1(u) = sum_v c2(u, v),
      derived, never separately counted (cannot drift out of sync).

    p(v|u) = (c2 + 1) / (c1(u) + V + 1)  — add-one over the mapped
    alphabet; every quantity integer, so per-pair log-probs are
    ``ln(integer)`` on any engine (the unigram bit-stability
    contract, functions/lm.py module docstring)."""

    def __init__(
        self, vocab: list[str], pair_counts: dict[tuple[str, str], int],
        vocab_size: int,
    ):
        self.vocab = list(vocab)
        self.pair_counts = dict(pair_counts)
        self.vocab_size = int(vocab_size)
        self.ctx_counts: dict[str, int] = {}
        for (u, _v), c in self.pair_counts.items():
            self.ctx_counts[u] = self.ctx_counts.get(u, 0) + int(c)

    @property
    def denom_add(self) -> int:
        """V + 1 — the mapped alphabet size added to every context
        total (add-one smoothing mass)."""
        return self.vocab_size + 1


def _mapped_tokens(text_col: Column, vocab: list[str]) -> Column:
    """Tokens with everything outside ``vocab`` collapsed to the OOV
    class — JVM-side (isin over V literals)."""
    return F.transform(
        TX.tokens(text_col),
        lambda t: F.when(t.isin(list(vocab)), t).otherwise(F.lit(_OOV)),
    )


def train_bigram_lm(
    docs: DataFrame,
    text_col: str = "text",
    vocab_size: int = 16,
    sample_fraction: float | None = None,
    id_col: str = "doc_id",
) -> BigramLM:
    """Vocab = the unigram model's top-V truncation (shared, so the two
    filters agree on what a "known word" is); pair counts = ONE explode
    of mapped consecutive pairs + groupBy — a shuffle whose output is
    bounded by (V+1)^2 rows, collected as the model artifact.

    Same 100 TB shape as the unigram trainer: train on a deterministic
    hash-sample (``sample_fraction``), score everything."""
    uni = train_unigram_lm(
        docs, text_col, vocab_size, sample_fraction, id_col
    )
    vocab = sorted(uni.counts)  # membership only; counts not needed
    if sample_fraction is not None:
        from scida_spark.functions.sampling import hash_sample

        docs = hash_sample(docs, id_col, sample_fraction, salt="lm_train")
    # consecutive pairs via zip_with over two O(n) slices — NOT
    # element_at(m, i) in a transform lambda, which would inline (and
    # re-evaluate) the whole tokenize+map expression per element
    # access: O(n²) per doc, the ×100 cliff this module hit before the
    # r9 sweep. slice length n-1 is 0 for 1-token docs (no guard
    # needed).
    m = _mapped_tokens(F.col(text_col), vocab)
    pairs = docs.select(
        F.explode(
            F.zip_with(
                F.slice(m, 1, F.size(m) - 1),
                F.slice(m, 2, F.size(m) - 1),
                lambda u, v: F.struct(u.alias("u"), v.alias("v")),
            )
        ).alias("p")
    )
    rows = (
        pairs.groupBy(F.col("p.u").alias("u"), F.col("p.v").alias("v"))
        .agg(F.count("*").alias("c2"))
        .collect()
    )
    return BigramLM(
        vocab, {(r["u"], r["v"]): int(r["c2"]) for r in rows}, vocab_size
    )


def score_nll2(
    docs: DataFrame,
    model: BigramLM,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document mean bigram NLL in nats over the n-1 consecutive
    pairs: ``(id, n_pairs, n_oov_ctx, nll2)``; documents with fewer
    than 2 tokens are DROPPED (no pairs to score — the oracle's
    GROUP BY produces no row either, keeping engines aligned).

    Row-local scoring like :func:`score_nll`: the <=(V+1)^2 model
    broadcasts, the corpus never shuffles. The fold is strict
    left-to-right in pair order, each addend
    ``ln(c1(u) + V + 1) - ln(c2(u,v) + 1)`` — two libm calls and one
    subtraction, bit-identical to the oracle's ordered list_reduce."""
    sc = docs.sparkSession.sparkContext
    b_pairs = sc.broadcast(model.pair_counts)
    b_ctx = sc.broadcast(model.ctx_counts)
    add = model.denom_add

    schema = StructType(
        [
            StructField("n_pairs", LongType()),
            StructField("n_oov_ctx", LongType()),
            StructField("nll2", DoubleType()),
        ]
    )

    @F.pandas_udf(schema)
    def _score(tok_lists: pd.Series) -> pd.DataFrame:
        pc = b_pairs.value
        cc = b_ctx.value
        vocab = set(model.vocab)
        log = math.log
        np_out, oov_out, nll_out = [], [], []
        for toks in tok_lists:
            mapped = [t if t in vocab else _OOV for t in toks]
            n = len(mapped) - 1
            if n < 1:
                np_out.append(0)
                oov_out.append(0)
                nll_out.append(None)
                continue
            s = 0.0
            oov_ctx = 0
            for i in range(n):
                u, v = mapped[i], mapped[i + 1]
                if u == _OOV:
                    oov_ctx += 1
                s += log(cc.get(u, 0) + add) - log(pc.get((u, v), 0) + 1)
            np_out.append(n)
            oov_out.append(oov_ctx)
            nll_out.append(s / n)
        return pd.DataFrame(
            {"n_pairs": np_out, "n_oov_ctx": oov_out, "nll2": nll_out}
        )

    return (
        docs.select(
            F.col(id_col),
            _score(TX.tokens(F.col(text_col))).alias("_s"),
        )
        .select(
            id_col,
            F.col("_s.n_pairs").alias("n_pairs"),
            F.col("_s.n_oov_ctx").alias("n_oov_ctx"),
            F.col("_s.nll2").alias("nll2"),
        )
        .filter(F.col("n_pairs") >= 1)
    )
