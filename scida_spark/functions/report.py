"""Corpus facets: the per-facet half of a pre-training corpus audit —
doc counts, token budgets, quality and token-count quantiles.

Composition of the existing operator surface (text.py quality/token
stats, sketches.py KLL quantiles), arranged to touch the corpus once:
one GROUPING SETS scan computes every facet — overall, by language, by
source — in a single shuffle. Catalyst expands the grouping sets over
one pass of partial aggregates, so adding a facet costs no extra scan.
Token-count quantiles ride the same pass as KLL sketch partials
(mergeable, ~3 KB each), never a per-facet sort, so every number merges
across partitioned runs (shard the corpus, report per shard, merge).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from scida_spark.functions.text import quality_score, token_count

_QUANTILES = (0.5, 0.95)


def corpus_facets(
    docs: DataFrame,
    text_col: str = "text",
    lang_col: str = "lang",
    source_col: str = "source",
    kll_k: int = 200,
) -> DataFrame:
    """Per-facet stats in ONE grouping-sets pass: rows for the overall
    corpus (facet='all'), each language, and each source, with doc
    count, token totals, mean quality score, and KLL token-count
    quantiles (p50/p95)."""
    enriched = docs.select(
        F.coalesce(F.col(lang_col), F.lit("?")).alias("_lang"),
        F.coalesce(F.col(source_col), F.lit("?")).alias("_source"),
        token_count(F.col(text_col)).cast("double").alias("_ntok"),
        quality_score(F.col(text_col)).alias("_q"),
    )
    qarr = ", ".join(str(q) for q in _QUANTILES)
    g = (
        enriched.groupingSets([["_lang"], ["_source"], []], "_lang", "_source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("_ntok").cast("long").alias("n_tokens"),
            F.avg("_q").alias("mean_quality"),
            F.expr(f"kll_sketch_agg_double(_ntok, {int(kll_k)})").alias("_kll"),
        )
        .select(
            F.when(F.col("_lang").isNotNull(), F.lit("lang"))
            .when(F.col("_source").isNotNull(), F.lit("source"))
            .otherwise(F.lit("all"))
            .alias("facet"),
            F.coalesce(F.col("_lang"), F.col("_source"), F.lit("all")).alias("key"),
            "n_docs",
            "n_tokens",
            "mean_quality",
            F.expr(f"kll_sketch_get_quantile_double(_kll, array({qarr}))").alias(
                "tok_quantiles"
            ),
        )
    )
    return g
