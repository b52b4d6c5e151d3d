"""The OLAP query catalog: Q1-Q10 from the reference + Java-variant operators.

Each query is the reference shape (reference SQL/olap_queries.sql is
canonical; Java variants from Java/MeshJoin.java add operator coverage)
re-expressed over the driver's TPC-H-ish star schema via ``plans.star.fact``
(mapping in FIXTURES.md §B). Reference years (2017/2019) map to 1997 — the
middle of the generated ``o_orderdate`` range (1995-2001).

Every builder returns a lazily-planned DataFrame; nothing collects. Oracles
are the same ANSI SQL DuckDB runs on the same parquet. See
``plans.registry`` for the cross-engine determinism rules.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .registry import register
from .star import FACT_CTE, fact

YEAR = 1997


def _in_year(col: str, year: int = YEAR):
    """Sargable year filter: ``year(d) = y`` rewritten as a date range so it
    pushes into the parquet scan (min/max row-group pruning + partition
    pruning on date-partitioned facts) — semantically identical, and the
    oracle's EXTRACT(YEAR)=y agrees."""
    return F.col(col).between(f"{year}-01-01", f"{year}-12-31")


# --------------------------------------------------------------------------
# Q1 — top revenue products (J3 + P2 + A1 + O1 top-k).
# Reference: olap_queries.sql:3-9; MeshJoin.java:451-472.
# Physical plan: partial agg -> shuffle by group key -> final agg ->
# TakeOrderedAndProject(5) — true top-k, no full sort, no driver-side sort.
@register(
    "q01_top_revenue_products",
    headline=True,
    oracle=f"""
WITH {FACT_CTE},
agg AS (
    SELECT product_id, product_name,
           CAST(SUM(sale) AS DOUBLE) AS total_sales
    FROM fact
    WHERE EXTRACT(YEAR FROM order_date) = {YEAR}
    GROUP BY product_id, product_name
)
SELECT product_name, total_sales
FROM agg
ORDER BY total_sales DESC, product_name, product_id
LIMIT 5
""",
)
def q01_top_revenue_products(spark: SparkSession, sf_dir: str) -> DataFrame:
    f = fact(spark, sf_dir).filter(_in_year("order_date"))
    return (
        f.groupBy("product_id", "product_name")
        .agg(F.sum("sale").cast("double").alias("total_sales"))
        .orderBy(F.desc("total_sales"), "product_name", "product_id")
        .limit(5)
        .select("product_name", "total_sales")
    )


# --------------------------------------------------------------------------
# Q2 — quarterly store revenue growth rate (CTE agg -> W1 LAG -> F5 -> P4).
# Reference: olap_queries.sql:13-37.
@register(
    "q02_quarterly_growth_store",
    headline=True,
    order_by=["sales_quarter", "store_name"],  # olap_queries.sql:37
    oracle=f"""
WITH {FACT_CTE},
quarterly AS (
    SELECT CAST(EXTRACT(YEAR FROM order_date) * 100
                + EXTRACT(QUARTER FROM order_date) AS INT) AS sales_quarter,
           store_name,
           CAST(SUM(sale) AS DOUBLE) AS total_revenue
    FROM fact
    WHERE EXTRACT(YEAR FROM order_date) = {YEAR}
    GROUP BY 1, 2
),
ranked AS (
    SELECT sales_quarter, store_name, total_revenue,
           LAG(total_revenue, 1, 0) OVER (
               PARTITION BY store_name ORDER BY sales_quarter
           ) AS previous_quarter_revenue
    FROM quarterly
)
SELECT sales_quarter, store_name, total_revenue,
       (total_revenue - previous_quarter_revenue) * 100.0
           / previous_quarter_revenue AS growth_rate
FROM ranked
WHERE previous_quarter_revenue <> 0
""",
)
def q02_quarterly_growth_store(spark: SparkSession, sf_dir: str) -> DataFrame:
    f = fact(spark, sf_dir).filter(_in_year("order_date"))
    quarterly = f.groupBy(
        (F.year("order_date") * 100 + F.quarter("order_date")).alias("sales_quarter"),
        "store_name",
    ).agg(F.sum("sale").cast("double").alias("total_revenue"))
    w = Window.partitionBy("store_name").orderBy("sales_quarter")
    ranked = quarterly.withColumn(
        "previous_quarter_revenue", F.lag("total_revenue", 1, 0).over(w)
    )
    return ranked.filter(F.col("previous_quarter_revenue") != 0).select(
        "sales_quarter",
        "store_name",
        "total_revenue",
        (
            (F.col("total_revenue") - F.col("previous_quarter_revenue"))
            * 100.0
            / F.col("previous_quarter_revenue")
        ).alias("growth_rate"),
    )


# --------------------------------------------------------------------------
# Q3 — supplier sales contribution by store & product (A1 3-key + O2).
# Reference: olap_queries.sql:41-48.
@register(
    "q03_supplier_contribution",
    headline=True,
    order_by=["store_name", "supplier_name", "product_name"],  # olap_queries.sql:48
    oracle=f"""
WITH {FACT_CTE}
SELECT store_name, supplier_name, product_name,
       CAST(SUM(sale) AS DOUBLE) AS total_sales
FROM fact
GROUP BY 1, 2, 3
""",
)
def q03_supplier_contribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The reference's trailing ORDER BY is presentation-only (no LIMIT);
    # omitted here — a global sort of the full output would be the single
    # most expensive node in the plan at scale for zero semantic effect.
    return (
        fact(spark, sf_dir)
        .groupBy("store_name", "supplier_name", "product_name")
        .agg(F.sum("sale").cast("double").alias("total_sales"))
    )


def _season_expr(col: str):
    m = F.month(col)
    return (
        F.when(m.between(3, 5), "Spring")
        .when(m.between(6, 8), "Summer")
        .when(m.between(9, 11), "Fall")
        .otherwise("Winter")
    )


_SEASON_SQL = """CASE
    WHEN EXTRACT(MONTH FROM order_date) BETWEEN 3 AND 5 THEN 'Spring'
    WHEN EXTRACT(MONTH FROM order_date) BETWEEN 6 AND 8 THEN 'Summer'
    WHEN EXTRACT(MONTH FROM order_date) BETWEEN 9 AND 11 THEN 'Fall'
    ELSE 'Winter' END"""


# --------------------------------------------------------------------------
# Q4 — seasonal product sales (F4 CASE bucket + A1).
# Reference: olap_queries.sql:52-70.
@register(
    "q04_seasonal_product_sales",
    order_by=["product_name", "season"],  # olap_queries.sql:70
    oracle=f"""
WITH {FACT_CTE}
SELECT product_name,
       {_SEASON_SQL} AS season,
       CAST(SUM(sale) AS DOUBLE) AS total_sales
FROM fact
GROUP BY 1, 2
""",
)
def q04_seasonal_product_sales(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        fact(spark, sf_dir)
        .groupBy("product_name", _season_expr("order_date").alias("season"))
        .agg(F.sum("sale").cast("double").alias("total_sales"))
    )


# --------------------------------------------------------------------------
# Q5 — store/supplier monthly revenue volatility (A1 -> W1 LAG -> F5 -> P4).
# Reference: olap_queries.sql:74-100.
@register(
    "q05_monthly_volatility",
    headline=True,
    order_by=["store_name", "supplier_name", "sales_month"],  # olap_queries.sql:100
    oracle=f"""
WITH {FACT_CTE},
monthly AS (
    SELECT CAST(EXTRACT(YEAR FROM order_date) * 100
                + EXTRACT(MONTH FROM order_date) AS INT) AS sales_month,
           store_name, supplier_name,
           CAST(SUM(sale) AS DOUBLE) AS monthly_revenue
    FROM fact
    GROUP BY 1, 2, 3
),
lagged AS (
    SELECT sales_month, store_name, supplier_name, monthly_revenue,
           LAG(monthly_revenue, 1, 0) OVER (
               PARTITION BY store_name, supplier_name ORDER BY sales_month
           ) AS previous_month_revenue
    FROM monthly
)
SELECT sales_month, store_name, supplier_name, monthly_revenue,
       (monthly_revenue - previous_month_revenue) * 100.0
           / previous_month_revenue AS volatility
FROM lagged
WHERE previous_month_revenue <> 0
""",
)
def q05_monthly_volatility(spark: SparkSession, sf_dir: str) -> DataFrame:
    monthly = (
        fact(spark, sf_dir)
        .groupBy(
            (F.year("order_date") * 100 + F.month("order_date")).alias("sales_month"),
            "store_name",
            "supplier_name",
        )
        .agg(F.sum("sale").cast("double").alias("monthly_revenue"))
    )
    w = Window.partitionBy("store_name", "supplier_name").orderBy("sales_month")
    lagged = monthly.withColumn(
        "previous_month_revenue", F.lag("monthly_revenue", 1, 0).over(w)
    )
    return lagged.filter(F.col("previous_month_revenue") != 0).select(
        "sales_month",
        "store_name",
        "supplier_name",
        "monthly_revenue",
        (
            (F.col("monthly_revenue") - F.col("previous_month_revenue"))
            * 100.0
            / F.col("previous_month_revenue")
        ).alias("volatility"),
    )


# --------------------------------------------------------------------------
# Q6 — products purchased together (A6 GROUP_CONCAT + P5 HAVING + O1 top-k).
# Reference: olap_queries.sql:104-124. MySQL GROUP_CONCAT has no defined
# order; we implement the *intent* form (sorted combination) so pairs are
# order-insensitive — noted divergence (SURVEY §4.3.1).
_Q06_ORACLE = f"""
WITH {FACT_CTE},
order_products AS (
    SELECT order_id,
           string_agg(product_name, ', ' ORDER BY product_name)
               AS product_combination
    FROM fact
    GROUP BY order_id
    HAVING COUNT(*) > 1
),
pair_counts AS (
    SELECT product_combination, COUNT(*) AS pair_count
    FROM order_products
    GROUP BY product_combination
)
SELECT product_combination, pair_count
FROM pair_counts
ORDER BY pair_count DESC, product_combination
LIMIT 5
"""


@register("q06_product_affinity", headline=True, oracle=_Q06_ORACLE)
def q06_product_affinity(spark: SparkSession, sf_dir: str) -> DataFrame:
    order_products = (
        fact(spark, sf_dir)
        .groupBy("order_id")
        .agg(
            F.array_join(F.array_sort(F.collect_list("product_name")), ", ").alias(
                "product_combination"
            ),
            F.count("*").alias("n_items"),
        )
        .filter(F.col("n_items") > 1)
    )
    return (
        order_products.groupBy("product_combination")
        .agg(F.count("*").alias("pair_count"))
        .orderBy(F.desc("pair_count"), "product_combination")
        .limit(5)
    )


# --------------------------------------------------------------------------
# Q6j — co-purchase pairs via self-join (J4: equi key + theta residual).
# Reference: MeshJoin.java:602-619 (ft JOIN ft2 ON same ORDER_ID, different
# PRODUCT_ID). Distinct names per order first, then name-ordered pairs so
# each unordered pair counts once.
@register(
    "q06j_copurchase_pairs",
    driver_facing=False,  # rotated out r9: driver-green since <=r7;
    # window slot ceded to the round-8 operator crop (pytest oracle still runs)
    oracle=f"""
WITH {FACT_CTE},
op AS (SELECT DISTINCT order_id, product_name FROM fact),
pairs AS (
    SELECT a.product_name AS product_a, b.product_name AS product_b
    FROM op a JOIN op b
      ON a.order_id = b.order_id AND a.product_name < b.product_name
)
SELECT product_a, product_b, COUNT(*) AS pair_count
FROM pairs
GROUP BY 1, 2
ORDER BY pair_count DESC, product_a, product_b
LIMIT 5
""",
)
def q06j_copurchase_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    op = fact(spark, sf_dir).select("order_id", "product_name").distinct()
    a = op.alias("a")
    b = op.alias("b")
    pairs = a.join(
        b,
        (F.col("a.order_id") == F.col("b.order_id"))
        & (F.col("a.product_name") < F.col("b.product_name")),
    ).select(
        F.col("a.product_name").alias("product_a"),
        F.col("b.product_name").alias("product_b"),
    )
    return (
        pairs.groupBy("product_a", "product_b")
        .agg(F.count("*").alias("pair_count"))
        .orderBy(F.desc("pair_count"), "product_a", "product_b")
        .limit(5)
    )


# --------------------------------------------------------------------------
# Q7 — yearly revenue with ROLLUP subtotals (A7 grouping sets).
# Reference: olap_queries.sql:128-136. Spark plans an Expand over 4 grouping
# sets + one hash agg — same shape DuckDB uses.
@register(
    "q07_rollup_yearly",
    headline=True,
    order_by=["store_name", "supplier_name", "product_name"],  # olap_queries.sql:136
    oracle=f"""
WITH {FACT_CTE}
SELECT store_name, supplier_name, product_name,
       CAST(SUM(sale) AS DOUBLE) AS total_revenue
FROM fact
WHERE EXTRACT(YEAR FROM order_date) = {YEAR}
GROUP BY ROLLUP (store_name, supplier_name, product_name)
""",
)
def q07_rollup_yearly(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Pre-aggregate to the finest ROLLUP grain BEFORE the Expand: Expand
    # replicates its input once per grouping set (4× here), so feeding it
    # the (store, supplier, product) partial sums — thousands of rows —
    # instead of the filtered fact — 60M rows at sf10, ~600B at 100 TB —
    # cuts the replicated volume by ~4 orders of magnitude. SUM of the
    # decimal partials re-aggregates losslessly (exact, order-insensitive
    # decimal addition), so every subtotal is bit-identical to the direct
    # form; measured sf10: see PERFORMANCE.md r10 ledger.
    pre = (
        fact(spark, sf_dir)
        .filter(_in_year("order_date"))
        .groupBy("store_name", "supplier_name", "product_name")
        .agg(F.sum("sale").alias("_sale"))
    )
    return (
        pre.rollup("store_name", "supplier_name", "product_name")
        .agg(F.sum("_sale").cast("double").alias("total_revenue"))
    )


# --------------------------------------------------------------------------
# Q7j — grand-total aggregate, no GROUP BY (A8).
# Reference: MeshJoin.java:621-634 (degenerate Q7 variant).
@register(
    "q07j_total_revenue",
    driver_facing=False,  # A8 grand total; subsumed by q07_rollup_yearly's NULL,NULL,NULL row
    oracle=f"""
WITH {FACT_CTE}
SELECT CAST(SUM(sale) AS DOUBLE) AS total_revenue
FROM fact
WHERE EXTRACT(YEAR FROM order_date) = {YEAR}
""",
)
def q07j_total_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        fact(spark, sf_dir)
        .filter(_in_year("order_date"))
        .agg(F.sum("sale").cast("double").alias("total_revenue"))
    )


# --------------------------------------------------------------------------
# Q7c — CUBE over (store, product): every subtotal combination, not just
# the ROLLUP prefix chain (A7 extension; same Expand+HashAggregate plan
# shape, 4 grouping sets). GROUPING() flags disambiguate a genuine NULL
# key from a subtotal row — the standard CUBE-consumer contract.
@register(
    "q07c_cube_store_product",
    order_by=["store_name", "product_name"],
    # A7-family exemplar: q07_rollup_yearly carries the family's driver
    # row; this stays under pytest oracle coverage so the bounded driver
    # window (DRIVER_WINDOW=50) has room for the data-pipeline operators.
    driver_facing=False,
    oracle=f"""
WITH {FACT_CTE}
SELECT store_name, product_name,
       CAST(GROUPING(store_name) AS INT) AS g_store,
       CAST(GROUPING(product_name) AS INT) AS g_product,
       CAST(SUM(sale) AS DOUBLE) AS total_revenue
FROM fact
WHERE EXTRACT(YEAR FROM order_date) = {YEAR}
GROUP BY CUBE (store_name, product_name)
""",
)
def q07c_cube_store_product(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        fact(spark, sf_dir)
        .filter(_in_year("order_date"))
        .cube("store_name", "product_name")
        .agg(
            F.grouping("store_name").cast("int").alias("g_store"),
            F.grouping("product_name").cast("int").alias("g_product"),
            F.sum("sale").cast("double").alias("total_revenue"),
        )
        .select(
            "store_name", "product_name", "g_store", "g_product", "total_revenue"
        )
    )


# --------------------------------------------------------------------------
# Q7g — explicit GROUPING SETS: two independent one-dimensional rollups
# plus the grand total in ONE pass over the fact (the alternative is three
# separate aggregations and a union — three fact builds). Spark's Expand
# replicates each input row once per set; at 100 TB that 3× row blow-up
# happens after the scan filter and before the shuffle, with partial aggs
# shrinking it map-side.
@register(
    "q07g_grouping_sets",
    order_by=["store_name", "supplier_name"],
    # A7-family exemplar — see q07c_cube_store_product's note.
    driver_facing=False,
    oracle=f"""
WITH {FACT_CTE}
SELECT store_name, supplier_name,
       CAST(GROUPING(store_name) AS INT) AS g_store,
       CAST(GROUPING(supplier_name) AS INT) AS g_supplier,
       CAST(SUM(sale) AS DOUBLE) AS total_revenue
FROM fact
WHERE EXTRACT(YEAR FROM order_date) = {YEAR}
GROUP BY GROUPING SETS ((store_name), (supplier_name), ())
""",
)
def q07g_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        fact(spark, sf_dir)
        .filter(_in_year("order_date"))
        .groupingSets(
            [["store_name"], ["supplier_name"], []], "store_name", "supplier_name"
        )
        .agg(
            F.grouping("store_name").cast("int").alias("g_store"),
            F.grouping("supplier_name").cast("int").alias("g_supplier"),
            F.sum("sale").cast("double").alias("total_revenue"),
        )
        .select(
            "store_name", "supplier_name", "g_store", "g_supplier", "total_revenue"
        )
    )


# --------------------------------------------------------------------------
# Q8 — H1/H2 half-yearly revenue & volume joined to yearly totals
# (A5 half bucket + A1 + A2; the reference's J5 agg-to-agg join on a
# non-key becomes a window over the half-year aggregate).
# Reference: olap_queries.sql:140-169.
@register(
    "q08_halfyearly_vs_yearly",
    order_by=["product_name", "sales_half"],  # olap_queries.sql:169
    oracle=f"""
WITH {FACT_CTE},
half AS (
    SELECT product_name,
           CASE WHEN EXTRACT(MONTH FROM order_date) BETWEEN 1 AND 6
                THEN 'H1' ELSE 'H2' END AS sales_half,
           CAST(SUM(sale) AS DOUBLE)     AS total_revenue,
           CAST(SUM(quantity) AS DOUBLE) AS total_quantity
    FROM fact
    GROUP BY 1, 2
),
yearly AS (
    SELECT product_name,
           CAST(SUM(sale) AS DOUBLE)     AS total_yearly_revenue,
           CAST(SUM(quantity) AS DOUBLE) AS total_yearly_quantity
    FROM fact
    GROUP BY 1
)
SELECT hs.product_name, hs.sales_half, hs.total_revenue, hs.total_quantity,
       ys.total_yearly_revenue, ys.total_yearly_quantity
FROM half hs JOIN yearly ys ON hs.product_name = ys.product_name
""",
)
def q08_halfyearly_vs_yearly(spark: SparkSession, sf_dir: str) -> DataFrame:
    # ONE fact pass, no build-time jobs: the reference joins the half-year
    # CTE to a yearly CTE over the same fact, and Spark shares no
    # subplans, so that shape runs the enriched fact (scan + 4 joins)
    # twice. The yearly totals are exactly the re-sum of the half-year
    # partials (every fact row lands in one half; decimal sums
    # re-aggregate losslessly), so they are window sums over the
    # product's halves — the q09 pattern: one pipeline, one exchange on
    # product_name. The inner join dropped NULL product names; the
    # filter keeps that. Values are bit-identical to the join form.
    half = (
        fact(spark, sf_dir)
        .filter(F.col("product_name").isNotNull())
        .groupBy(
            "product_name",
            F.when(F.month("order_date").between(1, 6), "H1")
            .otherwise("H2")
            .alias("sales_half"),
        )
        .agg(
            F.sum("sale").alias("_rev"),
            F.sum("quantity").alias("_qty"),
        )
    )
    w = Window.partitionBy("product_name")
    return half.select(
        "product_name",
        "sales_half",
        F.col("_rev").cast("double").alias("total_revenue"),
        F.col("_qty").cast("double").alias("total_quantity"),
        F.sum("_rev").over(w).cast("double").alias("total_yearly_revenue"),
        F.sum("_qty").over(w).cast("double").alias("total_yearly_quantity"),
    )


# --------------------------------------------------------------------------
# Q9 — daily revenue spike outliers (A9 two-level agg + J6 agg-join + F4).
# Reference: olap_queries.sql:173-196. The HEADLINE form computes the
# per-product average as a WINDOW over the daily aggregate — in the
# reference's two-CTE shape, `avg_daily` is a separate branch of `daily`,
# and Spark recomputes the whole fact build per branch (scan + 4 joins
# twice) before a join on product_name; the window form is one pipeline:
# fact build once, daily agg, one exchange on product_name. Values are
# bit-identical (same decimal sum / count operands). The reference's
# agg⋈agg shape is q09's Spark-SQL text (``SPARK_SQL`` below, J6 exemplar).
_Q09_ORACLE = f"""
WITH {FACT_CTE},
daily AS (
    SELECT product_name, order_date, SUM(sale) AS daily_revenue_dec
    FROM fact
    GROUP BY 1, 2
),
avg_daily AS (
    SELECT product_name,
           CAST(SUM(daily_revenue_dec) AS DOUBLE) / COUNT(*) AS avg_daily_revenue
    FROM daily
    GROUP BY 1
)
SELECT d.product_name, CAST(d.order_date AS VARCHAR) AS order_date,
       CAST(d.daily_revenue_dec AS DOUBLE) AS daily_revenue,
       a.avg_daily_revenue,
       CASE WHEN CAST(d.daily_revenue_dec AS DOUBLE) > 2 * a.avg_daily_revenue
            THEN 'Outlier' ELSE 'Normal' END AS outlier_flag
FROM daily d JOIN avg_daily a ON d.product_name = a.product_name
"""


@register(
    "q09_daily_spikes",
    headline=True,
    order_by=["product_name", "order_date"],  # olap_queries.sql:196
    oracle=_Q09_ORACLE,
)
def q09_daily_spikes(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = (
        fact(spark, sf_dir)
        .groupBy("product_name", "order_date")
        .agg(F.sum("sale").alias("daily_revenue_dec"))
    )
    w = Window.partitionBy("product_name")
    avg_col = (
        F.sum("daily_revenue_dec").over(w).cast("double")
        / F.count("*").over(w)
    )
    d = daily.withColumn("daily_revenue", F.col("daily_revenue_dec").cast("double"))
    # Date leaves as an ISO string: unambiguous across Spark/DuckDB/pandas
    # canonicalizations (a DATE round-trips as midnight Timestamp in pandas).
    return d.select(
        "product_name",
        F.col("order_date").cast("string").alias("order_date"),
        "daily_revenue",
        avg_col.alias("avg_daily_revenue"),
    ).select(
        "*",
        F.when(
            F.col("daily_revenue") > 2 * F.col("avg_daily_revenue"), "Outlier"
        )
        .otherwise("Normal")
        .alias("outlier_flag"),
    )


# --------------------------------------------------------------------------
# Q10 — STORE_QUARTERLY_SALES view (S9 create view + A1).
# Reference: olap_queries.sql:199-207; MeshJoin.java:688-704. MySQL's ORDER
# BY inside the view is semantically void in Spark subqueries (SURVEY §4.3.4)
# — ordering is applied at the final SELECT.
@register(
    "q10_store_quarterly_view",
    order_by=["store_name"],  # olap_queries.sql:207 (ORDER BY 1)
    oracle=f"""
WITH {FACT_CTE},
store_quarterly_sales AS (
    SELECT store_name,
           CAST(EXTRACT(YEAR FROM order_date) * 100
                + EXTRACT(QUARTER FROM order_date) AS INT) AS sales_quarter,
           CAST(SUM(sale) AS DOUBLE) AS total_quarterly_sales
    FROM fact
    GROUP BY 1, 2
)
SELECT store_name, sales_quarter, total_quarterly_sales
FROM store_quarterly_sales
""",
)
def q10_store_quarterly_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    view = (
        fact(spark, sf_dir)
        .groupBy(
            "store_name",
            (F.year("order_date") * 100 + F.quarter("order_date")).alias(
                "sales_quarter"
            ),
        )
        .agg(F.sum("sale").cast("double").alias("total_quarterly_sales"))
    )
    view.createOrReplaceTempView("store_quarterly_sales")
    return spark.sql(
        "SELECT store_name, sales_quarter, total_quarterly_sales "
        "FROM store_quarterly_sales"
    )


#: The Spark-SQL text of the reference queries whose oracle uses DuckDB-only
#: syntax (catalog.spark_sql_surface; the other eight run their oracle
#: verbatim): the oracle with that one spelling swapped.
SPARK_SQL = {
    "q06_product_affinity": _Q06_ORACLE.replace(
        "string_agg(product_name, ', ' ORDER BY product_name)",
        "array_join(array_sort(collect_list(product_name)), ', ')",
    ),
    "q09_daily_spikes": _Q09_ORACLE.replace("AS VARCHAR)", "AS STRING)"),
}


# --------------------------------------------------------------------------
# Q2j — growth rate keyed by STORE_ID across all years (W2 as two explicit
# stages: agg then window-over-aggregate). Reference: MeshJoin.java:475-496.
@register(
    "q02j_growth_by_store_id",
    driver_facing=False,  # W2 two-stage exemplar; q02/q09 pin the production forms
    oracle=f"""
WITH {FACT_CTE},
quarterly AS (
    SELECT CAST(EXTRACT(YEAR FROM order_date) * 100
                + EXTRACT(QUARTER FROM order_date) AS INT) AS sales_quarter,
           store_id,
           CAST(SUM(sale) AS DOUBLE) AS total_revenue
    FROM fact
    GROUP BY 1, 2
),
ranked AS (
    SELECT sales_quarter, store_id, total_revenue,
           LAG(total_revenue, 1, 0) OVER (
               PARTITION BY store_id ORDER BY sales_quarter
           ) AS previous_quarter_revenue
    FROM quarterly
)
SELECT sales_quarter, store_id, total_revenue,
       (total_revenue - previous_quarter_revenue) * 100.0
           / previous_quarter_revenue AS growth_rate
FROM ranked
WHERE previous_quarter_revenue <> 0
""",
)
def q02j_growth_by_store_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    quarterly = (
        fact(spark, sf_dir)
        .groupBy(
            (F.year("order_date") * 100 + F.quarter("order_date")).alias(
                "sales_quarter"
            ),
            "store_id",
        )
        .agg(F.sum("sale").cast("double").alias("total_revenue"))
    )
    w = Window.partitionBy("store_id").orderBy("sales_quarter")
    ranked = quarterly.withColumn(
        "previous_quarter_revenue", F.lag("total_revenue", 1, 0).over(w)
    )
    return ranked.filter(F.col("previous_quarter_revenue") != 0).select(
        "sales_quarter",
        "store_id",
        "total_revenue",
        (
            (F.col("total_revenue") - F.col("previous_quarter_revenue"))
            * 100.0
            / F.col("previous_quarter_revenue")
        ).alias("growth_rate"),
    )


# --------------------------------------------------------------------------
# Q3j — regex predicate filter (P3 / F6 RLIKE).
# Reference: MeshJoin.java:506 (NOT id REGEXP '^[0-9]+$' sanity check) —
# TPC-H ids are all numeric, so the analog filters part types by regex
# (partial-match semantics, like MySQL REGEXP / Spark RLIKE).
@register(
    "q03j_regex_type_filter",
    driver_facing=False,  # rotated out r9: driver-green since <=r7;
    # window slot ceded to the round-8 operator crop (pytest oracle still runs)
    oracle=f"""
WITH {FACT_CTE},
typed AS (
    SELECT f.*, p.p_type
    FROM fact f JOIN part p ON f.product_id = p.p_partkey
)
SELECT p_type, CAST(SUM(sale) AS DOUBLE) AS total_sales
FROM typed
WHERE NOT regexp_matches(p_type, '^(SMALL|MEDIUM)')
GROUP BY 1
""",
)
def q03j_regex_type_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..io import table

    f = fact(spark, sf_dir)
    part = table(spark, sf_dir, "part").select("p_partkey", "p_type")
    return (
        f.join(part, f.product_id == part.p_partkey)
        .filter(~F.col("p_type").rlike("^(SMALL|MEDIUM)"))
        .groupBy("p_type")
        .agg(F.sum("sale").cast("double").alias("total_sales"))
    )


# --------------------------------------------------------------------------
# Q4j — quarter-based seasons. Reference: MeshJoin.java:541-581 bucketed by
# QUARTER(); its CASE tests quarters 5-8 which are unreachable (Fall/Winter
# dead — reference defect, SURVEY §2.11 Q4). We implement the reachable
# 1..4 mapping and document the defect instead of reproducing it.
@register(
    "q04j_quarter_seasons",
    driver_facing=False,  # reference-bug-compat exemplar of q04
    oracle=f"""
WITH {FACT_CTE}
SELECT product_name,
       CASE EXTRACT(QUARTER FROM order_date)
            WHEN 1 THEN 'Spring' WHEN 2 THEN 'Summer'
            WHEN 3 THEN 'Fall' ELSE 'Winter' END AS season,
       CAST(SUM(sale) AS DOUBLE) AS total_sales
FROM fact
GROUP BY 1, 2
""",
)
def q04j_quarter_seasons(spark: SparkSession, sf_dir: str) -> DataFrame:
    q = F.quarter("order_date")
    season = (
        F.when(q == 1, "Spring")
        .when(q == 2, "Summer")
        .when(q == 3, "Fall")
        .otherwise("Winter")
    )
    return (
        fact(spark, sf_dir)
        .groupBy("product_name", season.alias("season"))
        .agg(F.sum("sale").cast("double").alias("total_sales"))
    )
