"""Served-state staleness is enforced, not assumed (VERDICT r12 #6): a
rewrite of the source table under an sf_dir that already has in-process
serving state (the hourly rollup store, the vector index) must yield
fresh results — via the mtime guard on the memo for implicit rewrites,
and via ``io.refresh_table`` for the explicit form."""

from __future__ import annotations

import gc
import os
import threading

import pytest
from pyspark import StorageLevel
from pyspark.sql import functions as F

from datawarehouse_project_spark.io import (
    SessionState,
    cache_status,
    pin,
    refresh_table,
    session_state,
)

# The store-build tests run in the slow lane (`pytest -m slow`). The fast
# lane's sf0.001 oracle-parity sweep never rewrites a source, so it gates
# none of their semantics. The fast lane runs the session-state lifecycle
# tests and the served fact's freshness tests.


def _write_events(spark, sf, n, value):
    spark.range(n).select(
        F.col("id").alias("event_id"),
        (F.col("id") % 7).alias("user_id"),
        F.lit("click").alias("event_type"),
        F.timestamp_micros(
            (F.lit(1_700_000_000_000_000) + F.col("id") * 1_000_000)
        ).alias("ts"),
        F.lit(value).cast("double").alias("value"),
    ).write.mode("overwrite").parquet(f"{sf}/events.parquet")


def _write_embeddings(spark, sf, n, shift):
    spark.range(n).select(
        F.col("id").alias("vec_id"),
        F.transform(
            F.sequence(F.lit(0), F.lit(63)),
            lambda i: (F.col("id") * 8 + i + shift).cast("float") / 100.0,
        ).alias("embedding"),
    ).write.mode("overwrite").parquet(f"{sf}/embeddings.parquet")


@pytest.mark.slow
def test_served_hourly_rebuilds_on_source_rewrite(spark, tmp_path):
    from datawarehouse_project_spark.catalog import all_queries

    sf = str(tmp_path / "sfa")
    q = all_queries()["events_hourly_from_store"]
    _write_events(spark, sf, 100, 1.0)
    first = q(spark, sf).agg(F.sum("n_events")).collect()[0][0]
    assert first == 100
    _write_events(spark, sf, 250, 2.0)
    second = q(spark, sf).agg(F.sum("n_events")).collect()[0][0]
    assert second == 250  # stale state would still say 100


@pytest.mark.slow
def test_refresh_table_drops_served_hourly(spark, tmp_path):
    from datawarehouse_project_spark.operators.events import (
        served_hourly_rollup,
    )

    def root():
        return served_hourly_rollup(spark, sf).table.root

    sf = str(tmp_path / "sfb")
    _write_events(spark, sf, 10, 1.0)
    root1 = root()
    assert root() == root1
    refresh_table(spark, sf, "events")
    root2 = root()
    assert root2 != root1
    # an unrelated table name leaves the entry alone
    refresh_table(spark, sf, "orders")
    assert root() == root2
    refresh_table(spark)  # wildcard drops everything
    assert root() != root2


@pytest.mark.slow
def test_served_vector_index_rebuilds_on_source_rewrite(spark, tmp_path):
    from datawarehouse_project_spark.operators.similarity import (
        served_vector_index,
    )

    sf = str(tmp_path / "sfc")
    _write_embeddings(spark, sf, 40, 0)
    idx1 = served_vector_index(spark, sf)
    n1 = idx1.read(spark).count()
    assert n1 == 40
    # same mtime: second call serves the same root, no rebuild
    assert served_vector_index(spark, sf).root == idx1.root
    _write_embeddings(spark, sf, 60, 5)
    idx2 = served_vector_index(spark, sf)
    assert idx2.root != idx1.root
    assert idx2.read(spark).count() == 60


@pytest.mark.slow
def test_refresh_table_drops_served_index(spark, tmp_path):
    from datawarehouse_project_spark.operators.similarity import (
        served_vector_index,
    )

    sf = str(tmp_path / "sfd")
    _write_embeddings(spark, sf, 20, 0)
    root1 = served_vector_index(spark, sf).root
    refresh_table(spark, sf, "embeddings")
    assert served_vector_index(spark, sf).root != root1


def _write_fact_sources(spark, sf, n_orders, price):
    """A minimal 5-table star fixture for the fact builder."""
    spark.range(5).select(
        F.col("id").alias("n_nationkey"),
        F.concat(F.lit("NATION_"), F.col("id")).alias("n_name"),
    ).write.mode("overwrite").parquet(f"{sf}/nation.parquet")
    spark.range(1, 11).select(
        F.col("id").alias("s_suppkey"),
        F.concat(F.lit("Supplier#"), F.col("id")).alias("s_name"),
        (F.col("id") % 5).alias("s_nationkey"),
    ).write.mode("overwrite").parquet(f"{sf}/supplier.parquet")
    spark.range(1, 21).select(
        F.col("id").alias("p_partkey"),
        F.concat(F.lit("Part#"), F.col("id")).alias("p_name"),
        (F.col("id") * 1.5).alias("p_retailprice"),
    ).write.mode("overwrite").parquet(f"{sf}/part.parquet")
    spark.range(1, n_orders + 1).select(
        F.col("id").alias("o_orderkey"),
        (F.col("id") % 7).alias("o_custkey"),
        F.lit("1997-03-01").cast("date").alias("o_orderdate"),
    ).write.mode("overwrite").parquet(f"{sf}/orders.parquet")
    spark.range(1, n_orders + 1).select(
        F.col("id").alias("l_orderkey"),
        F.lit(1).alias("l_linenumber"),
        (F.col("id") % 20 + 1).alias("l_partkey"),
        (F.col("id") % 10 + 1).alias("l_suppkey"),
        F.lit(2.0).alias("l_quantity"),
        F.lit(float(price)).alias("l_extendedprice"),
        F.lit("1997-03-05").cast("date").alias("l_shipdate"),
    ).write.mode("overwrite").parquet(f"{sf}/lineitem.parquet")


@pytest.mark.slow
def test_q01_from_store_rebuilds_on_fact_source_rewrite(spark, tmp_path):
    """The product-rollup serving memo AND the fact() plan memo both
    carry mtime tokens: rewriting a fact source table in-process yields
    fresh served answers with no explicit invalidation call."""
    from datawarehouse_project_spark.catalog import all_queries

    sf = str(tmp_path / "sfq")
    q = all_queries()["q01_from_store"]
    _write_fact_sources(spark, sf, 40, 100.0)
    first = q(spark, sf).collect()
    assert first and abs(first[0].total_sales - 200.0) < 1e-9  # 2 rows/part
    _write_fact_sources(spark, sf, 40, 500.0)
    second = q(spark, sf).collect()
    assert second and abs(second[0].total_sales - 1000.0) < 1e-9


@pytest.mark.slow
def test_q01_from_store_plan_is_state_topk_no_fact_scan(spark):
    """The serving pin: TakeOrderedAndProject over the rollup state;
    zero scans of any fact source table in the query plan."""
    from datawarehouse_project_spark.catalog import all_queries

    df = all_queries()["q01_from_store"](spark, "/root/testdata/sf0.001")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan
    for t in ("lineitem", "orders", "part.parquet", "supplier", "nation"):
        assert t not in plan, t


def test_refresh_table_drops_fact_plan_memo(spark, tmp_path):
    """refresh_table must reach the fact() PLAN handle too: on
    non-stat-able dirs its mtime token never changes, so the explicit
    refresh is its only invalidation path (r13 review finding). A fact
    pin is an ordinary entry and is dropped the same way."""
    from datawarehouse_project_spark.plans.star import fact

    sf = str(tmp_path / "sff")
    _write_fact_sources(spark, sf, 10, 100.0)
    first = fact(spark, sf)
    # unrelated table name: the fact plan stays
    refresh_table(spark, sf, "events")
    assert fact(spark, sf) is first
    # a fact source table: the derived plan is dropped with it
    refresh_table(spark, sf, "lineitem")
    second = fact(spark, sf)
    assert second is not first
    # wildcard refresh drops it too
    refresh_table(spark)
    assert fact(spark, sf) is not second
    # so does a refresh of a source under a pin
    pinned = pin(spark, sf, "fact", fact(spark, sf).limit(3))
    assert fact(spark, sf) is pinned
    refresh_table(spark, sf, "lineitem")
    assert fact(spark, sf) is not pinned


def _swap_fact_sources(spark, sf, n_orders, price):
    """Rewrite the five sources in place the way another writer would:
    built beside ``sf`` and moved in. A Spark write into ``sf`` itself
    would refresh Spark's cache over the written path, which a writer
    outside the session does not."""
    import shutil

    staged = f"{sf}.staged"
    _write_fact_sources(spark, staged, n_orders, price)
    for name in os.listdir(staged):
        shutil.rmtree(f"{sf}/{name}")
        os.rename(f"{staged}/{name}", f"{sf}/{name}")
    os.rmdir(staged)


def _q01_sales(spark, sf):
    """q01's top total: 2 lines per part at the fixture's price."""
    from datawarehouse_project_spark.catalog import all_queries

    q01 = all_queries()["q01_top_revenue_products"]
    return q01(spark, sf).collect()[0].total_sales


def _served(df) -> bool:
    return df.storageLevel == StorageLevel.MEMORY_AND_DISK_DESER


def test_served_fact_reads_rewritten_sources(spark, tmp_path):
    """The served fact is a cache entry matched by canonical plan, and a
    source rewritten in place re-resolves to an equal plan: q01 after a
    rewrite must read the new rows, and the new handle must be served
    (a release run after the rebuild would unpersist the entry the new
    handle shares)."""
    from datawarehouse_project_spark.plans.star import fact

    sf = str(tmp_path / "sfw")
    _write_fact_sources(spark, sf, 40, 100.0)
    assert _q01_sales(spark, sf) == 200.0
    assert cache_status(fact(spark, sf))["materialized"]
    _swap_fact_sources(spark, sf, 40, 500.0)
    assert _q01_sales(spark, sf) == 1000.0
    assert _q01_sales(spark, sf) == 1000.0  # the warm read of the new entry
    assert _served(fact(spark, sf))


def test_served_fact_is_fresh_across_sessions(spark, tmp_path):
    """Spark's cache is shared by the sessions of an application: a
    session that first builds the fact after another session served it
    and a source was rewritten must not reuse the old entry."""
    sf = str(tmp_path / "sfs")
    other = spark.newSession()
    _write_fact_sources(spark, sf, 40, 100.0)
    assert _q01_sales(spark, sf) == 200.0
    _swap_fact_sources(spark, sf, 40, 300.0)
    assert _q01_sales(other, sf) == 600.0
    assert _q01_sales(spark, sf) == 600.0


def test_refresh_and_pin_unpersist_the_served_fact(spark, tmp_path):
    from datawarehouse_project_spark.plans.star import fact

    sf = str(tmp_path / "sfu")
    _write_fact_sources(spark, sf, 10, 100.0)
    old = fact(spark, sf)
    old.count()
    assert _served(old)
    refresh_table(spark, sf, "lineitem")
    assert old.storageLevel == StorageLevel.NONE
    served = fact(spark, sf)
    assert served is not old and _served(served)
    pinned = pin(spark, sf, "fact", served.limit(3))
    assert served.storageLevel == StorageLevel.NONE
    assert fact(spark, sf) is pinned
    refresh_table(spark, sf)
    # pinning the served handle itself keeps it persisted
    again = fact(spark, sf)
    assert pin(spark, sf, "fact", again) is again and _served(again)
    refresh_table(spark, sf)
    again.unpersist()


def test_untracked_fact_sources_are_not_persisted(spark, tmp_path, monkeypatch):
    """Without an mtime token nothing notices a rewrite, so the fact of
    such an ``sf_dir`` stays the plain join plan."""
    import datawarehouse_project_spark.io as io
    import datawarehouse_project_spark.plans.star as star

    sf = str(tmp_path / "sfn")
    _write_fact_sources(spark, sf, 10, 100.0)
    monkeypatch.setattr(io, "source_mtime_ns", lambda sf_dir, name: None)
    monkeypatch.setattr(star, "source_mtime_ns", lambda sf_dir, name: None)
    df = star.fact(spark, sf)
    assert df.count() == 10
    assert df.storageLevel == StorageLevel.NONE
    assert not cache_status(df)["served"]
    refresh_table(spark, sf)


def test_inventory_reports_the_served_fact(spark, tmp_path):
    from datawarehouse_project_spark.plans.star import fact

    sf = str(tmp_path / "sfi")
    _write_fact_sources(spark, sf, 10, 100.0)

    def record():
        (rec,) = [
            e for e in session_state(spark).inventory()
            if e["kind"] == "fact" and e["sf_dir"] == sf
        ]
        fields = ("served", "storage_level", "materialized", "cached_bytes")
        return {k: rec[k] for k in fields}

    fact(spark, sf)
    assert record() == {
        "served": True,
        "storage_level": str(StorageLevel.MEMORY_AND_DISK_DESER),
        "materialized": False,
        "cached_bytes": 0,
    }
    _q01_sales(spark, sf)
    rec = record()
    assert rec["served"] and rec["materialized"] and rec["cached_bytes"] > 0
    pin(spark, sf, "fact", fact(spark, sf).limit(3))
    assert record() == {
        "served": False,
        "storage_level": str(StorageLevel.NONE),
        "materialized": False,
        "cached_bytes": 0,
    }
    refresh_table(spark, sf)


def _touch(path, mtime_ns):
    os.makedirs(path, exist_ok=True)
    os.utime(path, ns=(mtime_ns, mtime_ns))


def test_served_roots_retire_without_deleting(tmp_path):
    """A root displaced by staleness must NOT be rmtree'd immediately — a
    previously-returned handle may still hold lazy plans against it
    (deleting turns stale-but-consistent serving into FileNotFoundError
    mid-use; r13 review finding). Displaced roots are retired, and
    reclaimed with the rest when the state is collected (or at exit)."""
    state = SessionState()
    sf = str(tmp_path / "sfr")
    _touch(f"{sf}/events.parquet", 10**18)

    def build(root):
        with open(os.path.join(root, "state.txt"), "w") as f:
            f.write("built")

    def served():
        return state.served_root(sf, "test-retire", ["events"], build)

    root1 = served()
    assert served() == root1  # same token: no rebuild
    _touch(f"{sf}/events.parquet", 2 * 10**18)  # stale token
    root2 = served()
    assert root2 != root1
    # the displaced root is still intact for any live handle...
    assert os.path.exists(os.path.join(root1, "state.txt"))
    # ...and the refresh_table path retires (not deletes) the same way
    state.drop(sf, "events")
    root3 = served()
    assert root3 not in (root1, root2)
    assert os.path.exists(os.path.join(root2, "state.txt"))
    del state
    gc.collect()
    assert not any(os.path.exists(r) for r in (root1, root2, root3))


def test_failed_served_build_root_is_retired(tmp_path):
    """A build() that raises must not LEAK its fresh temp root (advisor,
    r16): the dir is retired — still on disk for any handle the failed
    build handed out (the injected-crash restart tests resume on it) —
    and reclaimed with the state like every other displaced root."""
    state = SessionState()
    sf = str(tmp_path / "sff")
    _touch(f"{sf}/events.parquet", 10**18)

    seen = []

    def crash(root):
        seen.append(root)
        raise RuntimeError("injected build crash")

    with pytest.raises(RuntimeError, match="injected build crash"):
        state.served_root(sf, "test-failbuild", ["events"], crash)
    (failed,) = seen
    assert os.path.isdir(failed)  # not deleted out from under

    # a retry builds a FRESH root (no half-built state is ever reused)
    ok = state.served_root(sf, "test-failbuild", ["events"], lambda root: None)
    assert ok != failed
    del state
    gc.collect()
    assert not os.path.exists(failed) and not os.path.exists(ok)


def test_session_state_nested_builds_run_once_under_contention(tmp_path):
    """Builds are serialized per key without a lock that nested lookups
    also take: many threads asking for a served root whose build looks
    up another key get one value, each build runs once, none deadlock."""
    import sys
    import time

    state = SessionState()
    sf = str(tmp_path / "sfc")
    _touch(f"{sf}/events.parquet", 10**18)
    builds = {"inner": 0, "outer": 0}

    def inner():
        builds["inner"] += 1
        time.sleep(0.01)
        return 7

    def outer(root):
        builds["outer"] += 1
        assert state.get("tuned", sf, "inner", ["events"], inner) == 7

    got = []

    def worker():
        got.append(state.served_root(sf, "test-nested", ["events"], outer))

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=worker) for _ in range(32)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=30)
    finally:
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in threads)
    assert len(got) == 32 and len(set(got)) == 1
    assert builds == {"inner": 1, "outer": 1}


def test_session_carries_no_engine_attributes(spark, sf_dir):
    """Engine state lives in io.SessionState, never in attributes
    monkeypatched onto the SparkSession: building the fact-plan, served
    and checkpointing rows leaves no ``_dw_`` attribute behind."""
    from datawarehouse_project_spark.catalog import all_queries

    qs = all_queries()
    for name in (
        "q01_top_revenue_products",
        "q01_from_store",
        "affinity_lift_rules",
    ):
        qs[name](spark, sf_dir)
    assert [a for a in dir(spark) if a.startswith("_dw_")] == []
