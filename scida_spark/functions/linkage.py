"""Probabilistic record linkage — Fellegi & Sunter (1969), the
standard model for "are these two records the same entity" beyond
single-field string distance.

Pipeline shape (all existing machinery composes in):

  1. **Blocking** generates candidate pairs — any of the engine's
     blockers (prefix-filtered Jaccard, PassJoin segments, MinHash
     bands, SimHash/SRP Hamming buckets) serves; never all-pairs.
  2. :func:`field_agreement` joins both records' fields onto the pair
     and evaluates per-field agreement predicates (exact equality by
     default, any Column comparator — e.g. a levenshtein bound — per
     field).
  3. :func:`fs_score` turns agreement patterns into the log-likelihood
     ratio score: agreeing field f contributes ln(m_f/u_f), a
     disagreeing one ln((1-m_f)/(1-u_f)), where m_f = P(agree | same
     entity) and u_f = P(agree | different entities). Summed in
     SORTED field order (the repo's float-fold rule) the score is
     engine-reproducible; with weights passed as precomputed double
     literals it is bit-exact without any libm dependence.

Parameters: ``m`` is a data-owner prior (how often a true duplicate
preserves the field — OCR noise, nicknames) and ``u`` the agreement
rate of random pairs; both are caller-supplied. Full EM fitting is
deliberately out of scope (EM's latent-class fit needs the match
prevalence to be non-vanishing in the candidate set).

Scale: step 2 is two broadcast-or-shuffle equi-joins of the pair list
against the record table (pairs come from a blocker, so |pairs| <<
|records|²); step 3 is map-only Column arithmetic.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def field_agreement(
    pairs: DataFrame,
    records: DataFrame,
    id_col: str,
    fields: dict,
    left_col: str = "id_a",
    right_col: str = "id_b",
) -> DataFrame:
    """Join both sides' fields onto ``pairs`` and evaluate one boolean
    agreement column per field.

    ``fields`` maps field name -> comparator: ``None`` for exact
    equality (null-safe: two NULLs agree — eqNullSafe), or a callable
    ``(left_col, right_col) -> Column`` for fuzzy agreement (e.g.
    ``lambda a, b: F.levenshtein(a, b) <= 2``). Output keeps the pair
    id columns plus ``agree_<field>`` booleans."""
    la = records.select(
        F.col(id_col).alias("__la"),
        *[F.col(f).alias(f"__a_{f}") for f in fields],
    )
    lb = records.select(
        F.col(id_col).alias("__lb"),
        *[F.col(f).alias(f"__b_{f}") for f in fields],
    )
    out = (
        pairs.join(la, F.col(left_col) == F.col("__la"))
        .join(lb, F.col(right_col) == F.col("__lb"))
    )
    for f, cmp_ in fields.items():
        a, b = F.col(f"__a_{f}"), F.col(f"__b_{f}")
        agree = a.eqNullSafe(b) if cmp_ is None else cmp_(a, b)
        out = out.withColumn(f"agree_{f}", F.coalesce(agree, F.lit(False)))
    return out.drop(
        "__la", "__lb", *[c for f in fields for c in (f"__a_{f}", f"__b_{f}")]
    )


def fs_weights(m_u: dict) -> dict:
    """Precompute (agreement_weight, disagreement_weight) double
    literals from {field: (m, u)} — ln(m/u) and ln((1-m)/(1-u))
    evaluated ONCE driver-side, so downstream scoring is pure literal
    addition (bit-exact on any engine, no runtime ln)."""
    out = {}
    for f, (m, u) in m_u.items():
        if not (0.0 < u < m < 1.0):
            raise ValueError(
                f"field {f!r}: need 0 < u < m < 1 (got m={m}, u={u}) — "
                "agreement must be LIKELIER among matches"
            )
        out[f] = (math.log(m / u), math.log((1.0 - m) / (1.0 - u)))
    return out


def fs_score(
    agreements: DataFrame, m_u: dict, out_col: str = "fs_score"
) -> DataFrame:
    """Log-likelihood-ratio score = sum over fields (sorted order) of
    the precomputed agreement/disagreement weight literals."""
    w = fs_weights(m_u)
    score = F.lit(0.0)
    for f in sorted(w):
        wa, wd = w[f]
        score = score + F.when(F.col(f"agree_{f}"), F.lit(wa)).otherwise(
            F.lit(wd)
        )
    return agreements.withColumn(out_col, score)
