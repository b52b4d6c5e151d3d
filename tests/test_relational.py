"""Relational-operator extras not covered by the oracle gate."""

from __future__ import annotations

from pyspark.sql import functions as F

from datawarehouse_project_spark.catalog import ordered_query, queries
from datawarehouse_project_spark.io import table
from datawarehouse_project_spark.operators.relational import (
    asof_join,
    events_approx_distinct_users,
    events_distinct_users,
)
from datawarehouse_project_spark.plans.olap_extra import (
    events_value_median_approx,
    events_value_median_disc,
)


def test_approx_median_within_tolerance(spark, sf_dir):
    """The sketch median (approx_percentile, the 100 TB path) must land
    within a tight relative error of the exact discrete median."""
    exact = {
        r.event_type: r.median_value
        for r in events_value_median_disc(spark, sf_dir).collect()
    }
    approx = {
        r.event_type: r.approx_median
        for r in events_value_median_approx(spark, sf_dir).collect()
    }
    assert set(exact) == set(approx)
    for k in exact:
        assert abs(approx[k] - exact[k]) <= max(0.05, 0.05 * abs(exact[k])), (
            k, exact[k], approx[k],
        )


def test_ordered_query_applies_reference_presentation_sort(spark, sf_dir):
    """O2: ordered_query() yields the reference's trailing ORDER BY
    (olap_queries.sql:48 for Q3) on top of the unsorted engine query."""
    plain = queries()["q03_supplier_contribution"](spark, sf_dir).collect()
    ordered = ordered_query("q03_supplier_contribution")(spark, sf_dir).collect()
    key = lambda r: (r.store_name, r.supplier_name, r.product_name)  # noqa: E731
    assert ordered == sorted(plain, key=key)
    assert sorted(ordered) == sorted(plain)  # same multiset, only order


def test_approx_distinct_within_tolerance(spark, sf_dir):
    exact = {
        r.event_type: r.n_users
        for r in events_distinct_users(spark, sf_dir).collect()
    }
    approx = {
        r.event_type: r.approx_users
        for r in events_approx_distinct_users(spark, sf_dir).collect()
    }
    assert set(exact) == set(approx)
    for k in exact:
        assert abs(approx[k] - exact[k]) <= max(3, 0.1 * exact[k]), (
            k, exact[k], approx[k],
        )


def test_asof_dedup_is_load_bearing(spark, sf_dir):
    """Raw orders DO carry (customer, date) ties, so the deterministic
    right-side dedup inside asof_join_last_order is what makes the as-of
    result well-defined (not an accident of the data)."""
    o = table(spark, sf_dir, "orders")
    dups = (
        o.groupBy("o_custkey", "o_orderdate").count().filter(F.col("count") > 1)
    )
    assert dups.count() > 0


def test_asof_join_semantics(spark):
    left = spark.createDataFrame(
        [(1, "2024-01-01 10:00:00"), (1, "2024-01-01 12:00:00"), (2, "2024-01-01 09:00:00")],
        ["k", "ts"],
    ).withColumn("ts", F.to_timestamp("ts"))
    right = spark.createDataFrame(
        [(1, "2024-01-01 10:00:00", "a"), (1, "2024-01-01 11:00:00", "b"),
         (2, "2024-01-01 09:30:00", "c")],
        ["k", "rts", "v"],
    ).withColumn("rts", F.to_timestamp("rts"))
    out = {
        (r.k, str(r.ts)): r.v
        for r in asof_join(left, right, "k", "ts", "rts", ["v"]).collect()
    }
    assert out[(1, "2024-01-01 10:00:00")] == "a"  # <= includes equal ts
    assert out[(1, "2024-01-01 12:00:00")] == "b"  # latest prior
    assert out[(2, "2024-01-01 09:00:00")] is None  # no prior row -> NULL


def test_asof_forward_semantics(spark):
    """direction='forward': nearest right row AT-or-AFTER each left ts;
    no future row -> NULL; equal ts matches (inclusive, like DuckDB's
    ASOF with >=)."""
    left = spark.createDataFrame(
        [(1, "2024-01-01 10:00:00"), (1, "2024-01-01 10:30:00"),
         (1, "2024-01-01 12:00:00"), (2, "2024-01-01 09:00:00")],
        ["k", "ts"],
    ).withColumn("ts", F.to_timestamp("ts"))
    right = spark.createDataFrame(
        [(1, "2024-01-01 10:00:00", "a"), (1, "2024-01-01 11:00:00", "b"),
         (2, "2024-01-01 08:00:00", "c")],
        ["k", "rts", "v"],
    ).withColumn("rts", F.to_timestamp("rts"))
    out = {
        (r.k, str(r.ts)): r.v
        for r in asof_join(
            left, right, "k", "ts", "rts", ["v"], direction="forward"
        ).collect()
    }
    assert out[(1, "2024-01-01 10:00:00")] == "a"  # equal ts matches
    assert out[(1, "2024-01-01 10:30:00")] == "b"  # nearest FUTURE, not past
    assert out[(1, "2024-01-01 12:00:00")] is None  # nothing after -> NULL
    assert out[(2, "2024-01-01 09:00:00")] is None  # only a PAST row -> NULL


def test_asof_forward_next_purchase_matches_duckdb(spark, sf_correct_dir):
    """Dual-surface gate for the registered forward as-of query."""
    from datawarehouse_project_spark.catalog import all_oracle_sql, all_queries
    from tests.oracle_check import compare

    name = "asof_forward_next_purchase"
    compare(
        all_queries()[name](spark, sf_correct_dir),
        all_oracle_sql()[name],
        sf_correct_dir,
    )


def test_interval_overlap_join_semantics_and_dedup(spark):
    """Inclusive endpoint touch counts as overlap (1 day); disjoint pairs
    drop; nested containment reports the inner length; a pair sharing
    MANY buckets emits exactly once (first-shared-bucket guard, no
    distinct)."""
    from datawarehouse_project_spark.operators.relational import (
        interval_overlap_join,
    )

    rows = [
        (1, "2024-01-01", "2024-01-10"),
        (2, "2024-01-10", "2024-01-20"),  # touches 1 on the 10th
        (3, "2024-02-01", "2024-02-05"),  # disjoint from 1,2
        (4, "2024-01-03", "2024-01-04"),  # nested in 1
        (5, "2023-12-01", "2024-03-01"),  # spans MANY buckets, overlaps all
    ]
    df = spark.createDataFrame(rows, ["id", "start", "end"]).select(
        "id", F.col("start").cast("date"), F.col("end").cast("date")
    )
    out = interval_overlap_join(df, df, bucket_days=7, self_pairs=True)
    got = {(r.a_id, r.b_id): r.overlap_days for r in out.collect()}
    assert got[(1, 2)] == 1  # endpoint touch
    assert (1, 3) not in got and (2, 3) not in got
    assert got[(1, 4)] == 2  # nested: inner [03..04]
    assert got[(1, 5)] == 10 and got[(2, 5)] == 11 and got[(3, 5)] == 5
    # exactly once per pair despite 5 spanning ~13 buckets
    assert len([k for k in got if 5 in k]) == 4
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_overlap_bucket_auto_tunes_to_median_length(spark):
    """VERDICT r12 #5: bucket_days='auto' derives the width from the
    median interval length instead of the hand-picked 7."""
    from datawarehouse_project_spark.operators.relational import (
        tune_bucket_days,
    )

    rows = [
        (i, "2024-01-01", f"2024-01-{1 + ln:02d}") for i, ln in enumerate(
            [1, 2, 4, 4, 5, 5, 6, 8, 20]
        )
    ]
    df = spark.createDataFrame(rows, ["id", "start", "end"]).select(
        "id", F.col("start").cast("date"), F.col("end").cast("date")
    )
    tuned = tune_bucket_days(df)
    assert 5 <= tuned <= 7, tuned  # median length = 5+1 inclusive days


def test_overlap_long_interval_guard(spark):
    """The planted long-interval regression (VERDICT r11 #7): a corpus of
    ~year-long intervals. The fixed 7-day bucket explodes each row into
    ~53 buckets; auto tunes to ~the interval length, bounding the explode
    fan-out to ~2 per row, with identical results."""
    import datetime as _dt

    from datawarehouse_project_spark.operators.relational import (
        interval_overlap_join,
        tune_bucket_days,
    )

    base = _dt.date(2020, 1, 1)
    rows = [
        (i, base + _dt.timedelta(days=7 * i),
         base + _dt.timedelta(days=7 * i + 350 + (i % 30)))
        for i in range(60)
    ]
    df = spark.createDataFrame(rows, ["id", "start", "end"])
    tuned = tune_bucket_days(df)
    assert tuned >= 300, tuned  # bucket rides the median, not the 7-day default
    want = {}
    for i, s, e in rows:
        for j, s2, e2 in rows:
            if i < j and s <= e2 and s2 <= e:
                want[(i, j)] = (min(e, e2) - max(s, s2)).days + 1
    got = {
        (r.a_id, r.b_id): r.overlap_days
        for r in interval_overlap_join(
            df, df, bucket_days="auto", self_pairs=True
        ).collect()
    }
    assert got == want


def test_interval_overlap_join_explicit_width_runs_no_sizing_job(
    spark, monkeypatch
):
    """The library contract (VERDICT r13 #7): an integer bucket_days
    must never reach the tuner (no hidden Spark job at plan build);
    "auto" is the explicit opt-in that does."""
    import datetime as _dt

    from datawarehouse_project_spark.operators import relational as rel

    rows = [(0, _dt.date(2024, 1, 1), _dt.date(2024, 1, 9))]
    df = spark.createDataFrame(rows, ["id", "start", "end"])

    def boom(*a, **kw):
        raise AssertionError("sizing pass ran for an explicit width")

    monkeypatch.setattr(rel, "tune_bucket_days", boom)
    rel.interval_overlap_join(df, df, bucket_days=7, self_pairs=True)  # no job
    import pytest as _pytest

    with _pytest.raises(AssertionError, match="sizing pass"):
        rel.interval_overlap_join(df, df, bucket_days="auto")


def test_overlap_shipping_windows_matches_duckdb(spark, sf_correct_dir):
    from datawarehouse_project_spark.catalog import all_oracle_sql, all_queries
    from tests.oracle_check import compare

    name = "overlap_shipping_windows"
    compare(
        all_queries()[name](spark, sf_correct_dir),
        all_oracle_sql()[name],
        sf_correct_dir,
    )


def test_overlap_bucket_tuning_memoized(spark, sf_dir, monkeypatch):
    """The eager bucket-sizing pass runs once per lineitem version, not
    once per plan build (r13 review finding: the driver sweep and bench
    reps rebuild the plan 4+ times), and refresh_table reruns it — the
    only invalidation on a directory that cannot be stat'd."""
    from datawarehouse_project_spark.io import refresh_table
    from datawarehouse_project_spark.operators import relational as rel

    refresh_table(spark, sf_dir, "lineitem")
    widths = []
    real = rel.tune_bucket_days

    def counting(*a, **kw):
        widths.append(real(*a, **kw))
        return widths[-1]

    monkeypatch.setattr(rel, "tune_bucket_days", counting)
    rel.overlap_shipping_windows(spark, sf_dir)
    rel.overlap_shipping_windows(spark, sf_dir)
    assert len(widths) == 1 and widths[0] >= 1
    refresh_table(spark, sf_dir, "lineitem")
    rel.overlap_shipping_windows(spark, sf_dir)
    assert len(widths) == 2
