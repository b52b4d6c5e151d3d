"""The compiled-codegen class cache must hold the engine's working set.

Spark caches generated classes in one JVM-wide LRU cache whose size is the
static conf ``spark.sql.codegen.cache.maxEntries`` (default 100). The
benchmark's interleaved query mix fills about 190 entries, so at the
default every warm request recompiled its classes in Janino.
``session.get_spark`` sizes the cache for the catalog, and ``prepare()``
keeps AQE's run-dependent codegen stage ids out of the generated class
names (the cache key); this pins both.
"""

from __future__ import annotations

from datawarehouse_project_spark.catalog import all_queries

#: One row per engine layer, as interleaved by perfbench's query_mix.
ROWS = [
    "q01_top_revenue_products",
    "q08_halfyearly_vs_yearly",
    "q01_from_store",
    "dedup_ngram_jaccard_capped",
    "lexical_tfidf_cosine_pairs",
    "similarity_ann_cosine_topk",
    "text_stats_by_lang",
    "events_funnel_conversion",
]


def test_warm_round_of_interleaved_rows_compiles_nothing(spark, sf_dir):
    builders = all_queries()
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    compiles = metrics.METRIC_COMPILATION_TIME()

    def one_round() -> int:
        before = compiles.getCount()
        for name in ROWS:
            builders[name](spark, sf_dir).toArrow()
        return compiles.getCount() - before

    one_round()
    assert one_round() == 0
