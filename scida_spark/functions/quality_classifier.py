"""Stochastic quality keep: the score-dependent, soft-threshold keep of
the published pipeline shape (GPT-3 appendix A, CCNet, Gopher §A1.2),
where documents are kept with a score-dependent probability so the kept
set is not a hard cliff at the threshold.

The keep is DETERMINISTIC (the sampling.py rule — no rand()): the
per-document uniform comes from the md5 hash bucket of the id, so
re-runs, engines, and partitionings agree row-for-row. GPT-3 keeps a
document when ``score >= 1 - pareto_sample(alpha)``; with u =
hash-uniform the Pareto sample is ``u**(-1/alpha) - 1`` (inverse-CDF of
Pareto(alpha) - 1 on [0, inf)).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from scida_spark.functions.sampling import BUCKET_SPACE, hash_bucket


def pareto_keep(
    score_col: Column, id_col: Column, alpha: float = 9.0, salt: str = ""
) -> Column:
    """GPT-3's stochastic keep, made deterministic: keep when
    ``score >= 1 - X`` with X ~ Pareto(alpha) - 1 drawn from the
    document's hash-uniform (inverse CDF: u^(-1/alpha) - 1). High
    scores always survive; low scores survive occasionally — a soft
    threshold with reproducible membership."""
    u = (hash_bucket(id_col, salt) + 0.5) / F.lit(float(BUCKET_SPACE))
    pareto = F.pow(u, F.lit(-1.0 / alpha)) - 1.0
    return score_col >= (1.0 - pareto)
