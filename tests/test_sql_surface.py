"""The reference's ten queries run as ``spark.sql`` text as well as
DataFrame chains (SURVEY §2.11 — the reference's workload is SQL text,
SQL/olap_queries.sql Q1-Q10). ``catalog.spark_sql_surface()`` maps each
to Spark-dialect SQL: the DuckDB oracle verbatim, or for q06 and q09 the
Spark spelling in ``plans.olap.SPARK_SQL``. This test runs every entry
through ``spark.sql`` over registered temp views and asserts
value-identity with the DataFrame builder — float folds share operand
order, so identity is exact."""

from __future__ import annotations

import pytest

from datawarehouse_project_spark.catalog import all_queries, spark_sql_surface
from datawarehouse_project_spark.io import TABLES, load_all
from tests.oracle_check import canon_rows

SURFACE = spark_sql_surface()


def test_sql_surface_is_the_ten_reference_queries():
    assert list(SURFACE) == [
        "q01_top_revenue_products",
        "q02_quarterly_growth_store",
        "q03_supplier_contribution",
        "q04_seasonal_product_sales",
        "q05_monthly_volatility",
        "q06_product_affinity",
        "q07_rollup_yearly",
        "q08_halfyearly_vs_yearly",
        "q09_daily_spikes",
        "q10_store_quarterly_view",
    ]


@pytest.fixture(scope="module")
def views(spark, sf_dir):
    for name, df in load_all(spark, sf_dir).items():
        df.createOrReplaceTempView(name)
    yield
    for name in TABLES:
        spark.catalog.dropTempView(name)


@pytest.mark.parametrize("name", sorted(SURFACE))
def test_sql_text_matches_dataframe(spark, sf_dir, views, name):
    df_result = all_queries()[name](spark, sf_dir).toPandas()
    sql_result = spark.sql(SURFACE[name]).toPandas()
    assert canon_rows(df_result) == canon_rows(sql_result)
