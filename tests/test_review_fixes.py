"""Regression tests for defects found in the round-1 code review:
simhash pigeonhole completeness, minhash hash family/short docs,
grouped().half() schema, unit parsing of chained division,
return_data argument conflicts, histogram bin clipping."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from scida_spark.functions import dedup as D
from scida_spark.operators import catalog as C


def test_simhash_pigeonhole_complete_at_requested_distance(spark):
    """Pairs at hamming == max_hamming must be found (the old fixed
    4-chunk blocking missed distances > 3 when bits spread across
    chunks)."""
    base = 0x0123456789ABCDEF
    # Flip 8 bits spread across the whole word: one per old 16-bit
    # chunk would have defeated 4-chunk blocking; 9-chunk blocking
    # must still find it.
    flipped = base
    for bit in (0, 9, 18, 27, 36, 45, 54, 63):
        flipped ^= 1 << bit
    sigs = spark.createDataFrame(
        [(1, np.int64(base).item()), (2, np.int64(np.uint64(flipped).astype(np.int64)).item())],
        "doc long, simhash long",
    )
    got = D.simhash_near_pairs(sigs, max_hamming=8).collect()
    assert [(r.doc_a, r.doc_b, r.hamming) for r in got] == [(1, 2, 8)]
    # Distance above the bound must be excluded.
    assert D.simhash_near_pairs(sigs, max_hamming=7).count() == 0


def test_minhash_short_docs_produce_no_signature(spark):
    df = spark.createDataFrame(
        [(1, "one two"), (2, "a b"), (3, "alpha beta gamma delta")],
        "doc_id long, text string",
    )
    sigs = D.minhash_signatures_from_shingles(D.shingle_hash_table(df, "doc_id", "text", 3))
    assert [r.doc for r in sigs.collect()] == [3]
    # Short docs therefore generate no LSH candidates (no quadratic
    # sentinel-collision blow-up).
    sh = D.shingle_hash_table(df, "doc_id", "text", 3).localCheckpoint(eager=True)
    pairs = D.minhash_dedup_pairs_from_shingles(sh)
    assert pairs.count() == 0


def test_minhash_permutations_are_bijective_and_deterministic():
    """fmix64(x ^ seed) must be injective (it is a composition of
    invertible xor-shift / odd-multiply steps) — a collision-free
    permutation is what makes the minhash estimator exact — and the
    seed draw must be deterministic. (Replaces the r2 overflow test:
    the affine-mod-p family it guarded was itself broken — piecewise
    monotonic in x, see _perm_seeds — and has been removed.)"""
    s1, s2 = D._perm_seeds(8), D._perm_seeds(8)
    assert (s1 == s2).all() and len(np.unique(s1)) == 8
    rng = np.random.RandomState(3)
    x = rng.randint(-(2**63), 2**63, size=1_000_000, dtype=np.int64).astype(np.uint64)
    x = np.unique(x)
    out = D._fmix64(x ^ s1[0])
    assert len(np.unique(out)) == len(x)  # injective on the sample
    # distinct seeds → genuinely different permutations
    assert (D._fmix64(x[:1000] ^ s1[0]) != D._fmix64(x[:1000] ^ s1[1])).any()


def test_grouped_half_chain_matches_schema(spark):
    df = spark.createDataFrame(
        [(0, i, float(i)) for i in range(10)] + [(1, i, float(i)) for i in range(4)],
        "GroupID long, extra long, v double",
    )
    out = C.grouped(df, ["v"]).half().evaluate()
    rows = {r.GroupID: r for r in out.groupBy("GroupID").count().collect()}
    # half keeps ceil-free len//2 rows (min 1) per group.
    assert rows[0]["count"] == 5 and rows[1]["count"] == 2
    # sequential half→sum: sum of the FIRST HALF only.
    s = C.grouped(df.orderBy("extra"), ["v"]).half().sum().evaluate()
    assert s.columns == ["GroupID", "v"]


def test_unit_parse_chained_division():
    from scida_spark.units import UnitRegistry

    ureg = UnitRegistry(missing_units="raise")
    accel = ureg.parse("km/s/s")
    dims = dict(accel.dims)
    assert dims == {"length": 1, "time": -2}
    assert accel.scale == pytest.approx(1e5)


def test_return_data_conflicting_selectors_raise(spark):
    from scida_spark.dataset import Dataset
    from scida_spark.fields import FieldContainer

    df = spark.createDataFrame([(0, 0, 0)], "uid long, GroupID long, SubhaloID long")
    root = FieldContainer(name="x")
    root["parts"] = FieldContainer(df, name="parts")
    ds = Dataset(path="x", data=root)
    with pytest.raises(ValueError, match="not both"):
        ds.return_data(haloID=1, subhaloID=5)


def test_histogram_inexact_width_clips_to_last_bin(spark):
    from scida_spark.operators.histogram import histogram1d

    # width = 0.6/3 is not exactly representable; values just below hi
    # must land in the last bin, never in a phantom bin 3.
    df = spark.createDataFrame([(0.5999999999999999,), (0.6,), (0.1,)], "x double")
    got = {r.bin: r["count"] for r in histogram1d(df, "x", 0.0, 0.6, 3).collect()}
    assert set(got) <= {0, 1, 2}
    assert got[2] == 2


def test_memo_slot_caches_and_invalidates(spark, tmp_path, monkeypatch):
    """r14: _memo_slot returns the SAME lazy DataFrame per (session,
    sf_dir, content fingerprint) and invalidates when the input
    table's files change (driver-regenerated testdata)."""
    import os
    import time

    from scida_spark.queries_pipeline import _memo_slot

    sf = tmp_path / "sf"
    sf.mkdir()
    p = sf / "documents.parquet"
    p.write_bytes(b"x" * 10)

    calls = []

    @_memo_slot("documents")
    def slot(spark, sf_dir):
        calls.append(sf_dir)
        return spark.range(3)

    a = slot(spark, str(sf))
    b = slot(spark, str(sf))
    assert a is b and len(calls) == 1
    # content change (size/mtime) invalidates
    time.sleep(0.01)
    p.write_bytes(b"y" * 11)
    os.utime(p)
    c = slot(spark, str(sf))
    assert c is not a and len(calls) == 2

    # A memoised composite: the memo hands back the same section dict,
    # and the registry then returns the same union object, so a warm
    # serve does not rebuild the union.
    from scida_spark import queries

    monkeypatch.setattr(queries, "_REGISTRY", {})

    @queries.composite("memo_composite", None)
    @_memo_slot("documents")
    def comp(spark, sf_dir):
        calls.append(sf_dir)
        return {"a": spark.range(2), "b": spark.range(3)}

    u = comp(spark, str(sf))
    assert comp(spark, str(sf)) is u and len(calls) == 3 and u.count() == 5
    sections = queries._REGISTRY["memo_composite"].sections
    assert sections(spark, str(sf)) is sections(spark, str(sf))
