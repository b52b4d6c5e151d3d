"""Prepared query plans: a registered builder's analyzed plan is kept in
the session state and reused by the next request for the same query
(``plans.registry.prepared``), and every change that could alter the
plan re-derives it."""

from __future__ import annotations

import os
import shutil
import sys
import threading

import pyarrow.parquet as pq

from datawarehouse_project_spark.catalog import all_oracle_sql, all_queries
from datawarehouse_project_spark.io import pin, refresh_table, session_state, table
from tests.oracle_check import compare

#: The benchmark's query mix: the star-fact OLAP rows and one operator
#: row per pipeline layer.
QUERY_MIX = [
    "q01_top_revenue_products",
    "q08_halfyearly_vs_yearly",
    "q01_from_store",
    "dedup_ngram_jaccard_capped",
    "lexical_tfidf_cosine_pairs",
    "similarity_ann_cosine_topk",
    "text_stats_by_lang",
    "events_funnel_conversion",
]


def analysis_of(spark, df) -> int:
    """JVM identity of the DataFrame's analyzed plan."""
    return spark._jvm.java.lang.System.identityHashCode(
        df._jdf.queryExecution().analyzed()
    )


def kept(spark, sf: str) -> set[str]:
    return {
        e["name"]
        for e in session_state(spark).inventory()
        if e["kind"] == "plan" and e["sf_dir"] == sf
    }


def test_second_build_of_each_query_mix_row_reuses_its_analysis(spark, sf_dir):
    builders = all_queries()
    for name in QUERY_MIX:
        builders[name](spark, sf_dir)  # first touch builds the served stores
    first = {name: builders[name](spark, sf_dir) for name in QUERY_MIX}
    assert set(QUERY_MIX) <= kept(spark, sf_dir)
    sc = spark.sparkContext
    sc.setJobGroup("prepared-build", "second builds")
    try:
        second = {name: builders[name](spark, sf_dir) for name in QUERY_MIX}
    finally:
        sc._jsc.clearJobGroup()
    assert sc.statusTracker().getJobIdsForGroup("prepared-build") == []
    for name in QUERY_MIX:
        assert analysis_of(spark, second[name]) == analysis_of(spark, first[name]), name
        assert sorted(second[name].collect()) == sorted(first[name].collect()), name


def test_first_build_after_a_refresh_is_kept(spark, sf_copy):
    """The build that re-resolves a refreshed table is kept: the schema
    read of that resolution does not count as a job of the build."""
    name = "q01_top_revenue_products"
    build = all_queries()[name]
    build(spark, sf_copy)
    refresh_table(spark, sf_copy, "orders")
    assert name not in kept(spark, sf_copy)
    first = build(spark, sf_copy)
    assert name in kept(spark, sf_copy)
    assert analysis_of(spark, build(spark, sf_copy)) == analysis_of(spark, first)


def token_of(spark, sf: str, name: str):
    """The source token of the plan kept for ``name``, or None."""
    tokens = [
        e["token"] for e in session_state(spark).inventory()
        if e["kind"] == "plan" and e["sf_dir"] == sf and e["name"] == name
    ]
    return tokens[0] if tokens else None


def test_rewritten_source_is_reanalyzed(spark, sf_copy):
    name = "text_stats_by_lang"
    build = all_queries()[name]
    before = build(spark, sf_copy)
    token = token_of(spark, sf_copy, name)
    assert token is not None
    path = f"{sf_copy}/documents.parquet"
    docs = pq.read_table(path)
    pq.write_table(docs.slice(0, docs.num_rows // 2), f"{path}.tmp")
    os.replace(f"{path}.tmp", path)
    after = build(spark, sf_copy)
    assert analysis_of(spark, after) != analysis_of(spark, before)
    compare(after, all_oracle_sql()[name], sf_copy)
    assert token_of(spark, sf_copy, name) not in (None, token)


def test_refresh_and_pin_drop_the_kept_plan(spark, sf_copy):
    from datawarehouse_project_spark.plans.star import fact

    name = "q01_top_revenue_products"
    build = all_queries()[name]
    build(spark, sf_copy)
    assert name in kept(spark, sf_copy)
    refresh_table(spark, sf_copy, "orders")
    assert name not in kept(spark, sf_copy)
    build(spark, sf_copy)
    assert name in kept(spark, sf_copy)
    pin(spark, sf_copy, "fact", fact(spark, sf_copy).limit(0))
    assert kept(spark, sf_copy) == set()
    assert build(spark, sf_copy).collect() == []  # the pinned, empty fact


def test_changed_session_conf_reanalyzes(spark, sf_dir):
    build = all_queries()["text_stats_by_lang"]
    a = build(spark, sf_dir)
    b = build(spark, sf_dir)
    assert analysis_of(spark, a) == analysis_of(spark, b)
    ansi = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "false" if ansi == "true" else "true")
    try:
        c = build(spark, sf_dir)
        assert analysis_of(spark, c) != analysis_of(spark, b)
        assert analysis_of(spark, build(spark, sf_dir)) == analysis_of(spark, c)
    finally:
        spark.conf.set("spark.sql.ansi.enabled", ansi)


def test_builds_that_run_jobs_or_read_rdds_are_never_kept(spark, sf_dir):
    """A registered row that collects at build time builds on every call,
    as do a builder that runs a job and one whose plan reads an RDD."""
    from datawarehouse_project_spark.plans.registry import prepared

    def counts_first(spark, sf):
        region = table(spark, sf, "region")
        return region.limit(region.count())

    def from_rdd(spark, sf):
        return spark.createDataFrame(spark.sparkContext.parallelize([(1,)]), "a int")

    for name, build in [
        ("skew_split_supplier_revenue", all_queries()["skew_split_supplier_revenue"]),
        ("counts_first", prepared("counts_first", counts_first)),
        ("from_rdd", prepared("from_rdd", from_rdd)),
    ]:
        a = build(spark, sf_dir)
        b = build(spark, sf_dir)
        assert name not in kept(spark, sf_dir)
        assert analysis_of(spark, a) != analysis_of(spark, b), name


def test_removed_served_root_is_rebuilt_not_read(spark, sf_copy):
    from datawarehouse_project_spark.plans.olap_extra import served_product_rollup

    name = "q01_from_store"
    build = all_queries()[name]
    build(spark, sf_copy)  # builds the store: jobs, so not kept
    build(spark, sf_copy)
    assert name in kept(spark, sf_copy)
    shutil.rmtree(served_product_rollup(spark, sf_copy).table.root)
    compare(build(spark, sf_copy), all_oracle_sql()[name], sf_copy)


def test_concurrent_builds_of_one_row_analyze_once(spark, sf_copy):
    name = "text_stats_by_lang"
    build = all_queries()[name]
    got = []
    start = threading.Barrier(16)

    def worker():
        start.wait()
        got.append(build(spark, sf_copy))

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=worker) for _ in range(16)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
    finally:
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in threads)
    assert len(got) == 16
    assert len({analysis_of(spark, df) for df in got}) == 1
