"""Incremental materialized-fact maintenance: maintained == rebuilt
bit-for-bit across updates/inserts/deletes, replay safety, and the
one-atomic-commit contract."""

from __future__ import annotations

import shutil

from pyspark.sql import functions as F

from datawarehouse_project_spark.io import refresh_table
from datawarehouse_project_spark.sources.fact_maintenance import (
    IncrementalFactTable,
)


import pytest

# r22 fast-lane split, second pass (measured: the first fast lane still
# ran 16.5 min on this box — over the driver-timeout safety margin):
# this module's VALUE semantics are gated by the fast lane's sf0.001
# oracle-parity sweep; its deeper coverage runs in the slow lane
# (`pytest -m slow`, the round-end full sweep).
pytestmark = pytest.mark.slow


def _copy_sf(sf_dir: str, dst) -> str:
    dst.mkdir(parents=True, exist_ok=True)
    for t in [
        "region",
        "nation",
        "customer",
        "supplier",
        "part",
        "orders",
        "lineitem",
    ]:
        shutil.copy(f"{sf_dir}/{t}.parquet", dst / f"{t}.parquet")
    return str(dst)


def _replace_table(spark, src: str, name: str, df) -> None:
    """Overwrite one source table with a modified frame (write fully to a
    staging dir, then swap — the mtime bump re-resolves the io.table
    memo)."""
    import os

    staged = f"{src}/{name}.parquet._new"
    df.write.mode("overwrite").parquet(staged)
    target = f"{src}/{name}.parquet"
    os.remove(target) if os.path.isfile(target) else shutil.rmtree(target)
    os.rename(staged, target)


def _canon(df):
    return sorted(map(repr, (tuple(r) for r in df.collect())))


def test_init_full_equals_computed_fact(spark, sf_dir, tmp_path):
    from datawarehouse_project_spark.plans.star import fact

    ift = IncrementalFactTable(str(tmp_path / "fact"))
    try:
        ift.init_full(spark, sf_dir)
        got = ift.read(spark).select(*fact(spark, sf_dir).columns)
        assert _canon(got) == _canon(fact(spark, sf_dir))
    finally:
        # executing the shared fact handle pins its adaptive plan; drop
        # it so plan-shape tests (which assert on the PRE-execution plan)
        # rebuild a fresh handle
        refresh_table(spark, sf_dir, "lineitem")


def test_incremental_maintenance_matches_full_rebuild(spark, sf_dir, tmp_path):
    """Mutate the SOURCE (update one order's lines, delete one order,
    insert a new one), fold only the affected keys into the maintained
    fact, and the result must equal a from-scratch rebuild over the
    mutated source — updates, inserts and deletes in one atomic commit."""
    from datawarehouse_project_spark.plans.star import fact

    src = _copy_sf(sf_dir, tmp_path / "sfdata")
    ift = IncrementalFactTable(str(tmp_path / "fact"))
    ift.init_full(spark, src)
    v0 = ift.table.current_version()

    o = spark.read.parquet(f"{src}/orders.parquet").localCheckpoint(eager=True)
    li = spark.read.parquet(f"{src}/lineitem.parquet").localCheckpoint(
        eager=True
    )
    k_upd, k_del = [
        r.l_orderkey
        for r in li.select("l_orderkey").distinct().orderBy("l_orderkey").limit(2).collect()
    ]
    k_new = o.agg(F.max("o_orderkey")).first()[0] + 1

    o2 = o.filter(F.col("o_orderkey") != k_del).unionByName(
        o.filter(F.col("o_orderkey") == k_upd).withColumn(
            "o_orderkey", F.lit(k_new).cast("bigint")
        )
    )
    li2 = (
        li.filter(F.col("l_orderkey") != k_del)
        .withColumn(
            "l_quantity",
            F.when(
                F.col("l_orderkey") == k_upd, F.col("l_quantity") + 1
            ).otherwise(F.col("l_quantity")),
        )
        .unionByName(
            li.filter(F.col("l_orderkey") == k_upd).withColumn(
                "l_orderkey", F.lit(k_new).cast("bigint")
            )
        )
    )
    _replace_table(spark, src, "orders", o2)
    _replace_table(spark, src, "lineitem", li2)

    changed = spark.createDataFrame(
        [(int(k_upd),), (int(k_del),), (int(k_new),)], "o_orderkey bigint"
    )
    ift.apply_order_changes(spark, src, changed, batch_id=1)
    assert ift.table.current_version() == v0 + 1  # ONE commit for the batch

    refresh_table(spark, src)  # drop the pre-mutation plan handle
    rebuilt = fact(spark, src)
    maintained = ift.read(spark).select(*rebuilt.columns)
    assert _canon(maintained) == _canon(rebuilt)
    # the deleted order is really gone; the new one is really there
    assert maintained.filter(F.col("order_id") == k_del).count() == 0
    assert maintained.filter(F.col("order_id") == k_new).count() > 0

    # replay of the applied batch is absorbed by the ledger
    v1 = ift.table.current_version()
    ift.apply_order_changes(spark, src, changed, batch_id=1)
    assert ift.table.current_version() == v1


def test_unaffected_orders_never_reenriched(spark, sf_dir, tmp_path):
    """Scale contract: the delta plan's lineitem/orders inputs are
    semi-join-pruned to the batch keys — per-batch work scales with the
    batch. Checked on the delta row count (exactly the affected orders'
    lines) rather than plan text, plus the plan must contain the
    semi-joins."""
    from datawarehouse_project_spark.sources.fact_maintenance import (
        enrich_orders,
    )

    keys = spark.createDataFrame([(1,), (2,)], "o_orderkey bigint")
    delta = enrich_orders(spark, sf_dir, keys)
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    want = li.filter(F.col("l_orderkey").isin(1, 2)).count()
    assert delta.count() == want
    plan = delta._jdf.queryExecution().executedPlan().toString()
    assert "LeftSemi" in plan


def test_maintained_fact_serves_registered_olap_queries(spark, sf_dir, tmp_path):
    """The loop closed: after incremental maintenance over a mutated
    source, pointing the OLAP catalog at the maintained snapshot
    (serve()) answers the registered queries exactly as the computed
    plan over that source does."""
    from datawarehouse_project_spark.catalog import all_queries

    src = _copy_sf(sf_dir, tmp_path / "sfdata")
    ift = IncrementalFactTable(str(tmp_path / "fact"))
    ift.init_full(spark, src)

    li = spark.read.parquet(f"{src}/lineitem.parquet").localCheckpoint(eager=True)
    k_upd = li.select("l_orderkey").distinct().orderBy("l_orderkey").first()[0]
    li2 = li.withColumn(
        "l_quantity",
        F.when(F.col("l_orderkey") == k_upd, F.col("l_quantity") + 5).otherwise(
            F.col("l_quantity")
        ),
    )
    _replace_table(spark, src, "lineitem", li2)
    ift.apply_order_changes(
        spark,
        src,
        spark.createDataFrame([(int(k_upd),)], "o_orderkey bigint"),
        batch_id=1,
    )

    q03 = all_queries()["q03_supplier_contribution"]
    try:
        ift.serve(spark, src)
        served = sorted(map(repr, (tuple(r) for r in q03(spark, src).collect())))
        refresh_table(spark, src)
        computed = sorted(map(repr, (tuple(r) for r in q03(spark, src).collect())))
        assert served == computed
    finally:
        refresh_table(spark, src)


def test_fact_maintenance_streaming_foreachbatch(spark, sf_dir, tmp_path):
    """Affected-order keys arriving as a stream: foreachBatch maintenance
    converges to the full rebuild, full no-checkpoint replay absorbed."""
    src = _copy_sf(sf_dir, tmp_path / "sfdata")
    ift = IncrementalFactTable(str(tmp_path / "fact"))
    ift.init_full(spark, src)

    li = spark.read.parquet(f"{src}/lineitem.parquet").localCheckpoint(eager=True)
    keys = [
        r.l_orderkey
        for r in li.select("l_orderkey").distinct().orderBy("l_orderkey").limit(4).collect()
    ]
    li2 = li.withColumn(
        "l_quantity",
        F.when(
            F.col("l_orderkey").isin(*[int(k) for k in keys]),
            F.col("l_quantity") + 1,
        ).otherwise(F.col("l_quantity")),
    )
    _replace_table(spark, src, "lineitem", li2)

    feed = str(tmp_path / "feed")
    spark.createDataFrame(
        [(int(k), int(i % 2)) for i, k in enumerate(keys)],
        "o_orderkey bigint, part int",
    ).write.partitionBy("part").mode("overwrite").parquet(feed)

    def run():
        (
            spark.readStream.schema(spark.read.parquet(feed).schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(feed)
            .writeStream.foreachBatch(
                lambda bdf, bid: ift.apply_order_changes(
                    spark, src, bdf.select("o_orderkey"), batch_id=bid + 1
                )
            )
            .trigger(availableNow=True)
            .start()
            .awaitTermination()
        )

    run()
    refresh_table(spark, src)
    from datawarehouse_project_spark.plans.star import fact

    rebuilt = fact(spark, src)
    assert _canon(ift.read(spark).select(*rebuilt.columns)) == _canon(rebuilt)
    v = ift.table.current_version()
    run()  # replay
    assert ift.table.current_version() == v
    refresh_table(spark, src)
