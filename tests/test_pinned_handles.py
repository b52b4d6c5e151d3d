"""Focused tests for ``io.pin`` — the mechanism bench.py uses to cache a
spread (well-partitioned) layout of the shared frames such that every
builder's fact()/table() plan IS the cached plan. Covers: the pin is
returned by the resolver, values are unchanged through a pin, lifecycle
(refresh_table drops a table pin and a fact pin alike), and cleanup
restores the computed handles so other session-scoped tests are
unaffected."""

from __future__ import annotations

from datawarehouse_project_spark.io import (
    pin,
    refresh_table,
    spread,
    table,
)
from datawarehouse_project_spark.plans.star import fact


def test_pin_table_reroutes_and_refresh_drops(spark, sf_dir):
    orig = table(spark, sf_dir, "events")
    pinned = spread(spark, orig)
    try:
        assert pin(spark, sf_dir, "events", pinned) is pinned
        assert table(spark, sf_dir, "events") is pinned
        # layout changed, values identical (count is enough here; the
        # oracle suite pins per-query values)
        assert pinned.count() == orig.count()
        # normal lifecycle: refresh drops the pin, resolver recomputes
        refresh_table(spark, sf_dir, "events")
        fresh = table(spark, sf_dir, "events")
        assert fresh is not pinned
    finally:
        refresh_table(spark, sf_dir, "events")


def test_pin_fact_reroutes_and_refresh_drops(spark, sf_dir):
    computed = fact(spark, sf_dir)
    pinned = spread(spark, computed)
    try:
        assert pin(spark, sf_dir, "fact", pinned) is pinned
        assert fact(spark, sf_dir) is pinned
        # a refresh of a table the fact does not join leaves the pin
        refresh_table(spark, sf_dir, "events")
        assert fact(spark, sf_dir) is pinned
        # a fact pin is an ordinary entry: refreshing a source drops it
        refresh_table(spark, sf_dir, "orders")
        assert fact(spark, sf_dir) is not pinned
    finally:
        refresh_table(spark, sf_dir, "orders")


def test_spread_fact_pin_changes_layout_not_values(spark, sf_dir):
    computed = fact(spark, sf_dir)
    pinned = spread(spark, computed)
    try:
        pin(spark, sf_dir, "fact", pinned)
        got = fact(spark, sf_dir)
        assert (
            got.rdd.getNumPartitions()
            == spark.sparkContext.defaultParallelism
        )
        # same rows: the spread is a pure round-robin rebalance
        assert got.count() == computed.count()
    finally:
        refresh_table(spark, sf_dir, "orders")
