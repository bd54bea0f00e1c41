"""Sequence packing: assemble documents into fixed-token-budget
training sequences (the "sample packing" step of an LLM data pipeline —
maximizes tokens-per-sequence so padding doesn't waste compute).

Packing is DOMAIN-LOCAL by design: a global optimal bin-packing
would serialize the corpus through one node, while greedy first-fit
within each packing domain is embarrassingly parallel, deterministic
(docs are sorted by id within the domain before packing), and loses
only a sliver of density (each domain wastes at most one partial
sequence's tail — negligible when domains hold thousands of docs).
This is how production pipelines shard the problem at 100 TB.

Documents longer than the budget are emitted as singleton sequences
flagged ``oversize`` (the caller decides whether to truncate/split —
this operator never silently drops tokens).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

PACK_SCHEMA = (
    "seq_id string, doc_ids array<long>, n_docs int, total_tokens long, oversize boolean"
)


def greedy_pack_frames(
    batches: Iterator[pd.DataFrame], budget: int
) -> Iterator[pd.DataFrame]:
    """The greedy first-fit kernel ``pack_sequences_by`` runs per
    packing domain — module-level so property tests drive the exact
    production code path without a SparkSession. Input frames carry
    (_id, _tok); output frames match ``PACK_SCHEMA``.

    A doc joins the current sequence if it fits, else the sequence is
    sealed and a new one starts. ``seq_id`` is "<domain's first doc
    id>:<seq index>" — stable across runs. Invariants (pinned in
    tests): every doc appears in exactly one sequence; ``total_tokens
    <= budget`` unless ``oversize`` (a single doc exceeding the
    budget)."""
    parts_list = list(batches)
    pdf = pd.concat(parts_list, ignore_index=True) if parts_list else None
    if pdf is None or len(pdf) == 0:
        yield pd.DataFrame(
            {
                "seq_id": pd.Series([], dtype=object),
                "doc_ids": pd.Series([], dtype=object),
                "n_docs": pd.Series([], dtype="int32"),
                "total_tokens": pd.Series([], dtype="int64"),
                "oversize": pd.Series([], dtype=bool),
            }
        )
        return
    pdf = pdf.sort_values("_id", kind="mergesort").reset_index(drop=True)
    first = int(pdf["_id"].iloc[0])
    cur_ids: list[int] = []
    cur_tok = 0
    out_rows: list[tuple] = []

    def _seal(ids: list[int], tok: int) -> None:
        out_rows.append(
            (f"{first}:{len(out_rows)}", list(ids), len(ids), tok, tok > budget)
        )

    for did, ntok in zip(pdf["_id"].to_numpy(), pdf["_tok"].to_numpy()):
        ntok = int(ntok)
        if ntok > budget:
            # Oversize doc: seal current, emit singleton.
            if cur_ids:
                _seal(cur_ids, cur_tok)
                cur_ids, cur_tok = [], 0
            _seal([int(did)], ntok)
            continue
        if cur_tok + ntok > budget and cur_ids:
            _seal(cur_ids, cur_tok)
            cur_ids, cur_tok = [], 0
        cur_ids.append(int(did))
        cur_tok += ntok
    if cur_ids:
        _seal(cur_ids, cur_tok)
    yield pd.DataFrame(
        out_rows, columns=["seq_id", "doc_ids", "n_docs", "total_tokens", "oversize"]
    )


def pack_sequences_by(
    df: DataFrame,
    id_col: str,
    token_count_col: str,
    budget: int,
    domain_col: str,
) -> DataFrame:
    """Greedy first-fit packing of (id, token_count) rows into
    sequences of at most ``budget`` tokens, with an EXPLICIT packing
    domain: each distinct ``domain_col`` value is one group (the
    :func:`greedy_pack_frames` kernel, driven through
    ``applyInPandas``). The domain must be a pure function of the data
    — e.g. ``doc_id % K`` — so sequence membership is reproducible by
    ANY engine. Scale shape: one shuffle on the domain key, then
    embarrassingly-parallel per-group kernels."""

    def _pack_group(pdf: pd.DataFrame) -> pd.DataFrame:
        return next(iter(greedy_pack_frames(iter([pdf]), budget)))

    sel = df.select(
        F.col(domain_col).alias("_dom"),
        F.col(id_col).cast("long").alias("_id"),
        F.col(token_count_col).cast("long").alias("_tok"),
    )
    return sel.groupBy("_dom").applyInPandas(_pack_group, schema=PACK_SCHEMA)
