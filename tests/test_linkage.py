"""Fellegi-Sunter record linkage: agreement joins, literal-weight
scoring, two-threshold classify, deterministic u estimation."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F


def _records(spark):
    rows = [
        # two true duplicates (same person, one field typo'd)
        (1, "alice", "oak st", "nyc"),
        (2, "alice", "oak st.", "nyc"),
        # unrelated
        (3, "bob", "elm rd", "sf"),
        (4, "carol", "pine av", "nyc"),
        (5, None, "elm rd", "sf"),
        (6, None, "elm rd", "la"),
    ]
    return spark.createDataFrame(rows, "rid long, name string, addr string, city string")


M_U = {"name": (0.95, 0.05), "addr": (0.9, 0.1), "city": (0.8, 0.3)}


def test_field_agreement_and_score(spark):
    from scida_spark.functions.linkage import field_agreement, fs_score

    recs = _records(spark)
    pairs = spark.createDataFrame(
        [(1, 2), (3, 4), (5, 6)], "id_a long, id_b long"
    )
    fields = {
        "name": None,
        "addr": lambda a, b: F.levenshtein(a, b) <= 1,
        "city": None,
    }
    ag = field_agreement(pairs, recs, "rid", fields)
    got = {(r["id_a"], r["id_b"]): r for r in ag.collect()}
    assert got[(1, 2)]["agree_name"] and got[(1, 2)]["agree_addr"] and got[(1, 2)]["agree_city"]
    assert not got[(3, 4)]["agree_name"] and not got[(3, 4)]["agree_city"]
    # NULL name on both sides agrees (eqNullSafe) for exact fields
    assert got[(5, 6)]["agree_name"] and got[(5, 6)]["agree_addr"]
    assert not got[(5, 6)]["agree_city"]

    scored = {
        (r["id_a"], r["id_b"]): r["fs_score"]
        for r in fs_score(ag, M_U).collect()
    }
    def w(f, agree):
        m, u = M_U[f]
        return math.log(m / u) if agree else math.log((1 - m) / (1 - u))
    # sorted field order: addr, city, name
    want12 = w("addr", True) + w("city", True) + w("name", True)
    want34 = w("addr", False) + w("city", False) + w("name", False)
    assert scored[(1, 2)] == pytest.approx(want12, abs=0)
    assert scored[(3, 4)] == pytest.approx(want34, abs=0)


def test_fs_weights_validation():
    from scida_spark.functions.linkage import fs_weights

    with pytest.raises(ValueError):
        fs_weights({"f": (0.5, 0.6)})  # u > m is nonsense


