"""Ingestion-layer tests: dirty-CSV cleaning semantics (FIXTURES.md §A) and
reference-replay differential checks against the real reference CSVs."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from datawarehouse_project_spark.sources.csv_ingest import (
    build_fact,
    dedup_last_wins,
    quarantine,
    read_customers,
    read_products,
    read_transactions,
    _read_csv,
    CUSTOMERS_SCHEMA,
    TRANSACTIONS_SCHEMA,
)

REF_CSV = "/root/reference/CSV"


@pytest.fixture()
def dirty_dir(tmp_path):
    (tmp_path / "customers.csv").write_text(
        "customer_id,customer_name,gender\n"
        "1,Alice,Female\n"
        "2,Bob,Male\n"
        "1,Alice Updated,Female\n"  # dup PK -> last wins
        ",NoId,Male\n"  # empty PK -> dropped
        "3,,Male\n"  # empty name -> dropped
        "4,Dana,Female\n"
    )
    (tmp_path / "products.csv").write_text(
        "productID,productName,productPrice,supplierID,supplierName,storeID,storeName\n"
        '1,TV,1299.99$,10,"Amazon.com, Inc.",1,Store A\n'  # quoted comma
        "2,Radio,abc,10,Acme,1,Store A\n"  # unparsable price -> 0.00 kept
        "3,Lamp,-5.00,11,Acme,1,Store A\n"  # negative price -> dropped
        "4, Chair , 49.50$ ,11, Acme ,2, Store B \n"  # trims
        "5,Desk\n"  # short row -> quarantined
        "1,TV v2,999.99$,10,Acme,1,Store A\n"  # dup PK -> last wins
    )
    (tmp_path / "transactions.csv").write_text(
        "Order ID,Order Date,ProductID,Quantity Ordered,customer_id,time_id\n"
        "O1,2019-04-01 03:09:00,1,2,1,1\n"  # ts truncated to date
        "O2,04/02/2019,2,1,2,2\n"  # MM/dd/yyyy
        "O3,03-04-2019,4,3,1,3\n"  # dd-MM-yyyy
        "O4,2019/04/04,1,1,4,4\n"  # yyyy/MM/dd
        "O5,not-a-date,1,1,1,5\n"  # unparsable date -> dropped
        "O6,2019-04-06,1,-2,1,6\n"  # negative quantity -> dropped
        "O7,2019-04-07,99,1,1,7\n"  # dangling product FK
        "O1,2019-04-09,2,5,2,9\n"  # dup PK -> last wins
    )
    return str(tmp_path)


def test_customers_cleaning(spark, dirty_dir):
    rows = {
        r.customer_id: r for r in read_customers(spark, f"{dirty_dir}/customers.csv").collect()
    }
    assert set(rows) == {"1", "2", "4"}
    assert rows["1"].customer_name == "Alice Updated"  # last wins


def test_products_cleaning(spark, dirty_dir):
    df = read_products(spark, f"{dirty_dir}/products.csv")
    rows = {r.product_id: r for r in df.collect()}
    assert set(rows) == {"1", "2", "4"}  # 3 dropped (negative), 5 quarantined
    assert rows["1"].product_name == "TV v2"  # last wins
    assert float(rows["1"].product_price) == 999.99
    assert float(rows["2"].product_price) == 0.0  # unparsable kept at 0.00
    assert rows["4"].product_name == "Chair"  # trimmed
    assert rows["4"].supplier_name == "Acme"
    # quoted comma parsed correctly before the dup overwrote it: verify via
    # a fresh read without dedup
    raw = quarantine(
        _read_csv(spark, f"{dirty_dir}/products.csv", __import__(
            "datawarehouse_project_spark.sources.csv_ingest", fromlist=["PRODUCTS_SCHEMA"]
        ).PRODUCTS_SCHEMA)
    )
    assert raw.count() == 1  # the short row


def test_transactions_cleaning(spark, dirty_dir):
    df = read_transactions(spark, f"{dirty_dir}/transactions.csv")
    rows = {r.order_id: r for r in df.collect()}
    assert set(rows) == {"O1", "O2", "O3", "O4", "O7"}
    assert str(rows["O1"].order_date) == "2019-04-09"  # dup last wins
    assert str(rows["O2"].order_date) == "2019-04-02"
    assert str(rows["O3"].order_date) == "2019-04-03"  # dd-MM-yyyy
    assert str(rows["O4"].order_date) == "2019-04-04"
    assert rows["O1"].quantity == 5


def test_fact_build_left_vs_inner(spark, dirty_dir):
    txns = read_transactions(spark, f"{dirty_dir}/transactions.csv")
    cust = read_customers(spark, f"{dirty_dir}/customers.csv")
    prod = read_products(spark, f"{dirty_dir}/products.csv")
    left = build_fact(txns, cust, prod, how="left")
    inner = build_fact(txns, cust, prod, how="inner")
    assert left.count() == txns.count()  # left preserves fact grain
    assert inner.count() == left.filter(F.col("product_name").isNotNull()).count()
    sale = {r.order_id: r.sale for r in left.collect() if r.sale is not None}
    assert float(sale["O1"]) == 5 * 0.0  # product 2 price defaulted to 0
    assert float(sale["O4"]) == 1 * 999.99
    # P13 invariant: SALE = QUANTITY * PRODUCT_PRICE everywhere
    bad = left.filter(
        F.col("sale").isNotNull()
        & (F.col("sale") != (F.col("quantity") * F.col("product_price")).cast("decimal(10,2)"))
    )
    assert bad.count() == 0


def test_ingest_idempotent(spark, dirty_dir):
    """Upsert property (README.md:134-136): replaying the same file changes
    nothing."""
    once = read_customers(spark, f"{dirty_dir}/customers.csv")
    twice = dedup_last_wins(
        once.withColumn("_ordinal", F.monotonically_increasing_id()).unionByName(
            once.withColumn("_ordinal", F.monotonically_increasing_id() + 10**12)
        ),
        ["customer_id"],
        ordinal="_ordinal",
    ).drop("_ordinal")
    assert sorted(map(str, once.collect())) == sorted(map(str, twice.collect()))


# -- reference replay (differential vs DuckDB reading the same files) -------

needs_ref = pytest.mark.skipif(
    not os.path.isdir(REF_CSV), reason="reference CSVs not available"
)


@needs_ref
def test_reference_customers_replay(spark):
    import duckdb

    df = read_customers(spark, f"{REF_CSV}/customers_data.csv")
    expected = duckdb.sql(
        f"SELECT COUNT(DISTINCT customer_id) FROM read_csv('{REF_CSV}/customers_data.csv', header=true, all_varchar=true)"
    ).fetchone()[0]
    assert df.count() == expected == 100
    # last-wins: spot-check one id against DuckDB's last occurrence
    last = duckdb.sql(
        f"""SELECT customer_name FROM (
              SELECT customer_name, row_number() OVER () AS rn
              FROM read_csv('{REF_CSV}/customers_data.csv', header=true, all_varchar=true)
              WHERE customer_id = '80') ORDER BY rn DESC LIMIT 1"""
    ).fetchone()[0]
    assert df.filter(F.col("customer_id") == "80").collect()[0].customer_name == last


@needs_ref
def test_reference_products_replay(spark):
    df = read_products(spark, f"{REF_CSV}/products_data.csv")
    rows = {r.product_id: r for r in df.collect()}
    assert len(rows) == 101
    # the quoted-comma rows the reference's split(",") breaks on parse clean
    amazon = [r for r in rows.values() if r.supplier_name == "Amazon.com, Inc."]
    assert amazon, "quoted embedded comma must survive CSV parsing"
    # $-suffixed prices parse
    assert all(r.product_price is not None for r in rows.values())


@needs_ref
def test_reference_transactions_replay(spark):
    import duckdb

    df = read_transactions(spark, f"{REF_CSV}/transactions.csv")
    # every date in the file parses (incl. the 1819 outlier, kept: no domain
    # filter on dates in the reference) and order ids are unique
    expected = duckdb.sql(
        f"SELECT COUNT(DISTINCT \"Order ID\") FROM read_csv('{REF_CSV}/transactions.csv', header=true, all_varchar=true)"
    ).fetchone()[0]
    assert df.count() == expected
    outlier = df.filter(F.year("order_date") == 1819)
    assert outlier.count() == 1  # transactions.csv:442


def test_upsert_replay_order_is_natural_not_lexicographic(spark, tmp_path):
    """ADVICE r2: feed_10.csv must replay AFTER feed_9.csv (natural order
    on the numeric suffix) even though it sorts BEFORE it
    lexicographically — the upsert winner must come from the highest
    feed number."""
    hdr = "customer_id,customer_name,gender\n"
    for n, name in [(2, "from_feed_2"), (9, "from_feed_9"), (10, "from_feed_10")]:
        (tmp_path / f"feed_{n}.csv").write_text(hdr + f"1,{name},F\n")
    out = read_customers(spark, str(tmp_path)).collect()
    assert len(out) == 1
    assert out[0].customer_name == "from_feed_10"


def test_last_wins_follows_file_order_across_splits(spark, tmp_path):
    """A file larger than the split size is read as several splits, which
    Spark packs into partitions by size; last-wins must still follow the
    rows' order in the file, not the split packing."""
    hdr = "customer_id,customer_name,gender\n"
    (tmp_path / "customers.csv").write_text(
        hdr + "".join(f"{i % 40},{i:05d},F\n" for i in range(4000))
    )
    path = str(tmp_path / "customers.csv")
    conf = "spark.sql.files.maxPartitionBytes"
    prev = spark.conf.get(conf)
    try:
        spark.conf.set(conf, "4096")
        assert _read_csv(spark, path, CUSTOMERS_SCHEMA).rdd.getNumPartitions() > 10
        got = {r.customer_id: r.customer_name for r in read_customers(spark, path).collect()}
    finally:
        spark.conf.set(conf, prev)
    assert got == {str(k): f"{3960 + k:05d}" for k in range(40)}
