"""The df-first bounded-buffer posting builds (VERDICT r13 #2).

Every df-capped posting build (capped jaccard, containment, TF-IDF)
filters rows above the cap through a COUNT window over the term key
BEFORE any list is collected — every collect buffer bounded by df_cap,
hot keys riding the window's spillable row buffer, and the term subtree
scanned once. These tests pin the plan's shape (guard window, no df
join), that the registered queries run the guard, and the shared
guard's working-column contract. They only plan at sf0.001, so they run
in the fast lane. The registered rows' values are checked against their
DuckDB oracles by the oracle-parity sweep (tests/test_oracle_parity.py).
"""

from __future__ import annotations

import pytest


def _plan(df):
    return df._jdf.queryExecution().executedPlan().toString()


#: The bounded build's plan signature: a COUNT window over the term key
#: (the guard runs BEFORE any list is collected).
TFIDF_GUARD = "count(1) windowspecdefinition(w#"
NGRAM_GUARD = "count(1) windowspecdefinition(sgh#"


def test_tfidf_bounded_plan_guard_window_no_join(spark, sf_dir):
    """The bounded plan's defining properties: the df guard is a COUNT
    window over w (rows above the cap never reach a collect buffer), NO
    df join exists (the count-then-join form replanned the counts
    subtree twice — r14 review), the pairing double-explode survives,
    and still no cartesian product."""
    from datawarehouse_project_spark.operators.retrieval import (
        shingle_counts,
        tfidf_cosine_pairs,
    )

    plan = _plan(tfidf_cosine_pairs(shingle_counts(spark, sf_dir)))
    assert TFIDF_GUARD in plan
    for j in ("ShuffledHashJoin [w", "SortMergeJoin [w", "BroadcastHashJoin [w",
              "LeftSemi"):
        assert j not in plan, j
    assert plan.count("Generate explode(docs") == 2
    assert "CartesianProduct" not in plan


def test_jaccard_bounded_plan_guard_window_no_join(spark, sf_dir):
    from datawarehouse_project_spark.operators.dedup import (
        DF_CAP,
        ngram_jaccard_pairs,
    )

    plan = _plan(ngram_jaccard_pairs(spark, sf_dir, threshold=0.6, df_cap=DF_CAP))
    assert NGRAM_GUARD in plan
    for j in ("ShuffledHashJoin [sgh", "SortMergeJoin [sgh",
              "BroadcastHashJoin [sgh", "LeftSemi"):
        assert j not in plan, j
    assert "CartesianProduct" not in plan


def test_registered_queries_always_run_the_guard_window(spark, sf_dir):
    """The registered capped queries run the guard window — no size
    chooser, no unsafe plan at any scale. Pinned via the guard's plan
    signature. (History: a count-then-join bounded draft cost
    1.17–1.51× and hid behind an os.stat size chooser; both superseded
    and removed — PERFORMANCE r14.)"""
    from datawarehouse_project_spark.catalog import all_queries

    plan = _plan(all_queries()["lexical_tfidf_cosine_pairs"](spark, sf_dir))
    assert TFIDF_GUARD in plan
    plan = _plan(all_queries()["dedup_ngram_jaccard_capped"](spark, sf_dir))
    assert NGRAM_GUARD in plan
    plan = _plan(all_queries()["dedup_containment_pairs"](spark, sf_dir))
    assert NGRAM_GUARD in plan


def test_cap_hot_keys_rejects_working_column_collision(spark):
    """The shared guard refuses an input that already carries its temp
    column instead of silently clobbering it (advisor r14)."""
    from datawarehouse_project_spark.operators.skew import cap_hot_keys

    df = spark.createDataFrame([("a", 1)], "k string, __dw_kf int")
    with pytest.raises(ValueError, match="__dw_kf"):
        cap_hot_keys(df, ["k"], cap=5)
