"""Sequence packing: every doc packed exactly once, budget respected,
oversize docs isolated, deterministic across runs."""

from __future__ import annotations

from pyspark.sql import functions as F

from scida_spark.functions.packing import pack_sequences_by


def _docs(spark, n=2000, seed_mod=97):
    return spark.range(0, n).select(
        F.col("id").alias("doc_id"),
        (F.pmod(F.xxhash64("id"), seed_mod) + 10).alias("n_tokens"),
    )


def _pack(docs, budget, domains):
    """Pack with ``doc_id % domains`` as the packing domain."""
    return pack_sequences_by(
        docs.withColumn("_dom", F.col("doc_id") % domains),
        "doc_id", "n_tokens", budget, "_dom",
    )


def test_every_doc_packed_exactly_once(spark):
    docs = _docs(spark)
    packed = _pack(docs, 512, 8)
    exploded = packed.select(F.explode("doc_ids").alias("doc_id"))
    assert exploded.count() == 2000
    assert exploded.distinct().count() == 2000


def test_budget_respected_and_counts_consistent(spark):
    docs = _docs(spark)
    packed = _pack(docs, 512, 8)
    bad = packed.filter((F.col("total_tokens") > 512) & ~F.col("oversize"))
    assert bad.count() == 0
    # total_tokens must equal the sum of member docs' token counts.
    member_sum = (
        packed.select("seq_id", F.explode("doc_ids").alias("doc_id"))
        .join(docs, "doc_id")
        .groupBy("seq_id")
        .agg(F.sum("n_tokens").alias("s"))
    )
    j = packed.join(member_sum, "seq_id").filter(F.col("s") != F.col("total_tokens"))
    assert j.count() == 0
    assert packed.filter(F.col("n_docs") != F.size("doc_ids")).count() == 0


def test_oversize_docs_are_singletons(spark):
    docs = spark.createDataFrame(
        [(1, 100), (2, 9000), (3, 120), (4, 50)], "doc_id long, n_tokens long"
    )
    packed = _pack(docs, 512, 2)
    over = packed.filter(F.col("oversize")).collect()
    assert len(over) == 1
    assert over[0]["doc_ids"] == [2] and over[0]["total_tokens"] == 9000
    # No tokens lost.
    assert (
        packed.agg(F.sum("total_tokens")).first()[0]
        == docs.agg(F.sum("n_tokens")).first()[0]
    )


def test_packing_deterministic(spark):
    docs = _docs(spark, n=1500)
    a = _pack(docs, 256, 4)
    b = _pack(docs, 256, 4)
    ar = sorted((r.seq_id, tuple(r.doc_ids)) for r in a.collect())
    br = sorted((r.seq_id, tuple(r.doc_ids)) for r in b.collect())
    assert ar == br


def test_pack_sequences_by_explicit_domain(spark):
    """The explicit-domain variant packs each domain value as one
    group with the same kernel invariants: every doc in exactly one
    sequence, budget respected unless oversize, seq_id anchored to the
    domain's min id."""
    docs = spark.createDataFrame(
        [(i, i % 3, 100 + (i * 37) % 400) for i in range(40)] + [(99, 0, 9000)],
        "doc_id long, dom int, ntok long",
    )
    packed = pack_sequences_by(docs, "doc_id", "ntok", 512, "dom").collect()
    all_ids = [d for r in packed for d in r["doc_ids"]]
    assert sorted(all_ids) == sorted([r[0] for r in docs.collect()])
    for r in packed:
        assert r["oversize"] == (r["total_tokens"] > 512 and r["n_docs"] == 1) or (
            not r["oversize"] and r["total_tokens"] <= 512
        )
        first = int(r["seq_id"].split(":")[0])
        assert first <= min(r["doc_ids"])
