"""Star-schema fact builder over the driver's TPC-H-ish tables.

Role mapping (FIXTURES.md §B): the reference's fully-denormalized
``FACT_TRANSACTIONS`` (reference metro.sql:42-59: transactions enriched with
customer + product/supplier/store attributes, ``SALE = QUANTITY *
PRODUCT_PRICE``) is re-expressed as ``lineitem`` enriched with ``orders``,
``part``, ``supplier`` and the supplier's ``nation`` (the store stand-in).

Scale posture (100 TB):
  * lineitem x orders is the one fact-sized join — both sides are huge at
    scale, so it is left to Catalyst/AQE (sort-merge or shuffled-hash on the
    shared key) rather than forced broadcast;
  * nation/region are bounded-cardinality dims — explicit ``broadcast()``;
  * part/supplier grow with SF — no forced broadcast; AQE converts to
    broadcast at runtime when the side is actually small (as in our tests)
    and degrades to shuffle joins at 1000x without code changes;
  * the fact builder projects only named columns, so Catalyst prunes every
    unused parquet column at the scan (ReadSchema stays minimal).

The reference's MESHJOIN (MeshJoin.java:216-284) exists only because its
dims exceed app-tier RAM; on Spark the equivalent memory-bounded behavior is
the join executor itself (hash spill / sort-merge), so the batch fact build
is a plain declarative join. The streaming form lives in
``streaming/meshjoin.py``.
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..io import FACT_SOURCE_TABLES, session_state, source_mtime_ns, table
from ..session import prepare

#: DECIMAL(18,2) casts make money/quantity addition exact and
#: order-insensitive => identical results regardless of partitioning, and
#: bit-identical to the DuckDB oracle.
_DEC = "decimal(18,2)"


def fact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Enriched fact: one row per lineitem with dimension attributes.

    Mirrors reference metro.sql:64-86 (the set-based enrichment INSERT); the
    reference's LEFT joins are inner-equivalent here because the generated
    data has no dangling FKs, and inner keeps the canonical row count equal
    to lineitem's (validated in tests).

    The fact is SERVED, the way the reference enriches once into
    FACT_TRANSACTIONS (metro.sql:42-59) and every query reads that table:
    the handle, kept in the session state per ``sf_dir``, is the join
    plan ``persist()``ed at Spark's MEMORY_AND_DISK (PySpark's
    ``MEMORY_AND_DISK_DESER``, the level of ``DataFrame.cache``).
    Persisting runs no job; the first execution that reads the fact
    materializes it, and every later execution of a plan over it (kept
    query plans included) reads the cached data through Spark's cache
    substitution. Blocks that are lost are recomputed from the join's
    lineage.

    Freshness: a rewrite of any of the five source tables re-derives the
    handle, as does ``io.refresh_table``; an ``io.pin(spark, sf_dir,
    "fact", df)`` replaces it until then. Each unpersists the old data.
    Spark's cache matches plans by canonical form, not by file version,
    and a rewritten source re-resolves to an equal plan, so the stale
    cache entry must be gone before the new handle is persisted: the
    session state releases the stale handle before this build runs, and
    the build refreshes the cache entries over the five source paths
    that other sessions of the application may hold. When a source has
    no mtime token (a non-local ``sf_dir``), nothing would notice a
    rewrite, so the plain join plan is returned and nothing is cached."""

    def build() -> DataFrame:
        prepare(spark)
        joined = fact_from(
            table(spark, sf_dir, "lineitem"),
            table(spark, sf_dir, "orders"),
            table(spark, sf_dir, "part"),
            table(spark, sf_dir, "supplier"),
            table(spark, sf_dir, "nation"),
        )
        if any(source_mtime_ns(sf_dir, t) is None for t in FACT_SOURCE_TABLES):
            return joined
        for t in FACT_SOURCE_TABLES:
            spark.catalog.refreshByPath(f"{sf_dir}/{t}.parquet")
        return joined.persist(StorageLevel.MEMORY_AND_DISK_DESER)

    return session_state(spark).get(
        "fact", sf_dir, "fact", FACT_SOURCE_TABLES, build,
        release=DataFrame.unpersist,
    )


def fact_from(
    li: DataFrame,
    orders: DataFrame,
    part: DataFrame,
    supplier: DataFrame,
    nation: DataFrame,
) -> DataFrame:
    """The enrichment join itself, independent of how the five source
    frames were resolved — the path-based :func:`fact` and the
    catalog-resolved twin (``sources/catalog_ddl.py``) share this body,
    so catalog resolution changes WHERE tables come from, never what the
    fact means."""
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(part, li.l_partkey == part.p_partkey)
        .join(supplier, li.l_suppkey == supplier.s_suppkey)
        .join(F.broadcast(nation), supplier.s_nationkey == nation.n_nationkey)
        .select(
            li.l_orderkey.alias("order_id"),
            F.to_date(orders.o_orderdate).alias("order_date"),
            li.l_partkey.alias("product_id"),
            part.p_name.alias("product_name"),
            part.p_retailprice.cast(_DEC).alias("product_price"),
            supplier.s_suppkey.alias("supplier_id"),
            supplier.s_name.alias("supplier_name"),
            nation.n_nationkey.alias("store_id"),
            nation.n_name.alias("store_name"),
            orders.o_custkey.alias("customer_id"),
            li.l_quantity.cast(_DEC).alias("quantity"),
            li.l_extendedprice.cast(_DEC).alias("sale"),
        )
    )


#: The same fact as an ANSI-SQL CTE body for the DuckDB oracles. Oracles are
#: written against this so Spark and DuckDB compute from identical inputs.
FACT_CTE = """
fact AS (
    SELECT l.l_orderkey                            AS order_id,
           CAST(o.o_orderdate AS DATE)             AS order_date,
           l.l_partkey                             AS product_id,
           p.p_name                                AS product_name,
           CAST(p.p_retailprice AS DECIMAL(18,2))  AS product_price,
           s.s_suppkey                             AS supplier_id,
           s.s_name                                AS supplier_name,
           n.n_nationkey                           AS store_id,
           n.n_name                                AS store_name,
           o.o_custkey                             AS customer_id,
           CAST(l.l_quantity AS DECIMAL(18,2))     AS quantity,
           CAST(l.l_extendedprice AS DECIMAL(18,2)) AS sale
    FROM lineitem l
    JOIN orders   o ON l.l_orderkey = o.o_orderkey
    JOIN part     p ON l.l_partkey  = p.p_partkey
    JOIN supplier s ON l.l_suppkey  = s.s_suppkey
    JOIN nation   n ON s.s_nationkey = n.n_nationkey
)
"""
