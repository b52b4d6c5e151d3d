"""Catalog DDL (S8 durable-table surface, metro.sql:15-59): external
CREATE TABLE entries resolve by name, match the path-based plans
value-for-value, and keep scan pushdown."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from datawarehouse_project_spark.plans.olap import q01_top_revenue_products
from datawarehouse_project_spark.plans.star import fact
from datawarehouse_project_spark.sources.catalog_ddl import (
    catalog_fact,
    create_star_schema,
    drop_star_schema,
    q01_top_revenue_products_catalog,
)

DB = "metro_dw_test"


@pytest.fixture(scope="module")
def star_catalog(spark, sf_dir):
    drop_star_schema(spark, DB)
    create_star_schema(spark, sf_dir, DB)
    yield DB
    drop_star_schema(spark, DB)


def test_catalog_lists_all_star_tables(spark, sf_dir, star_catalog):
    names = {t.name for t in spark.catalog.listTables(star_catalog)}
    assert {
        "region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "events", "documents", "embeddings",
    } <= names
    # idempotent: IF NOT EXISTS on both levels
    create_star_schema(spark, sf_dir, star_catalog)


def test_catalog_fact_matches_path_fact(spark, sf_dir, star_catalog):
    via_path = fact(spark, sf_dir)
    via_catalog = catalog_fact(spark, star_catalog)
    assert via_catalog.schema == via_path.schema
    a = via_path.agg(
        F.count("*").alias("n"), F.sum("sale").alias("s")
    ).collect()[0]
    b = via_catalog.agg(
        F.count("*").alias("n"), F.sum("sale").alias("s")
    ).collect()[0]
    assert (a["n"], a["s"]) == (b["n"], b["s"]) and a["n"] > 0


def test_q01_via_catalog_matches_path_twin(spark, sf_dir, star_catalog):
    path_rows = q01_top_revenue_products(spark, sf_dir).collect()
    cat_rows = q01_top_revenue_products_catalog(spark, database=star_catalog).collect()
    assert [tuple(r) for r in cat_rows] == [tuple(r) for r in path_rows]
    assert len(cat_rows) == 5


def test_catalog_scan_keeps_pushdown(spark, star_catalog):
    """Catalog resolution must not cost pushdown: the same FileScan with
    PushedFilters/ReadSchema pruning as the path-based read."""
    df = spark.table(f"{star_catalog}.lineitem").filter(
        F.col("l_shipdate") >= "1997-01-01"
    ).select("l_orderkey", "l_extendedprice")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan
    assert "GreaterThanOrEqual(l_shipdate" in plan, plan
    # column pruning reached the scan: the 16-column table reads 3
    assert "l_comment" not in plan.split("ReadSchema")[-1]


def test_drop_is_metadata_only(spark, sf_dir):
    """External tables: DROP removes catalog entries, never data."""
    db = "metro_dw_droptest"
    create_star_schema(spark, sf_dir, db)
    assert spark.table(f"{db}.region").count() > 0
    drop_star_schema(spark, db)
    assert db not in [d.name for d in spark.catalog.listDatabases()]
    # the parquet survives and path reads still work
    assert spark.read.parquet(f"{sf_dir}/region.parquet").count() > 0


def test_materialized_fact_reroutes_olap_identically(spark, sf_dir, tmp_path):
    """materialize-once/query-many: rerouting the memoized fact handle
    onto the partitioned materialized copy must leave every OLAP result
    value-identical (q01 + the rollup as witnesses), the rerouted plan
    must scan parquet directly with NO join anywhere (the enrichment ran
    once, at write time), and refresh_table restores the computed plan."""
    from datawarehouse_project_spark.catalog import all_queries
    from datawarehouse_project_spark.sources.catalog_ddl import (
        FACT_COLUMNS,
        materialize_fact,
        materialized_fact,
        use_materialized_fact,
    )
    from datawarehouse_project_spark.io import refresh_table
    from datawarehouse_project_spark.plans.star import fact

    path = str(tmp_path / "fact_mat")
    materialize_fact(spark, sf_dir, path)
    mat = materialized_fact(spark, path)
    assert mat.columns == FACT_COLUMNS
    computed = fact(spark, sf_dir)
    assert mat.count() == computed.count()

    q = all_queries()
    want_q01 = sorted(map(str, q["q01_top_revenue_products"](spark, sf_dir).collect()))
    want_q07 = sorted(map(str, q["q07_rollup_yearly"](spark, sf_dir).collect()))
    try:
        use_materialized_fact(spark, sf_dir, path)
        got_q01_df = q["q01_top_revenue_products"](spark, sf_dir)
        p = got_q01_df._jdf.queryExecution().executedPlan().toString()
        assert "Join" not in p, "materialized path must not re-join dims"
        assert "FileScan parquet" in p
        assert sorted(map(str, got_q01_df.collect())) == want_q01
        assert (
            sorted(map(str, q["q07_rollup_yearly"](spark, sf_dir).collect()))
            == want_q07
        )
    finally:
        refresh_table(spark, sf_dir, "lineitem")
    # computed path restored
    p = q["q01_top_revenue_products"](spark, sf_dir)._jdf.queryExecution(
    ).executedPlan().toString()
    assert "Join" in p
