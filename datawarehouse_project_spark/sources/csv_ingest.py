"""Reference-contract dirty-CSV ingestion (SURVEY.md §2.1 S1-S3, §2.2 P7-P12,
S7 upsert dedup).

Schema-on-read with Spark's real CSV parser — which correctly handles the
quoted embedded commas the reference's naive split(",") breaks on
(products_data.csv:25,50; MeshJoin.java:99) — plus the reference's cleaning
semantics expressed as Catalyst expressions:

* malformed / short rows      -> PERMISSIVE + corrupt-record quarantine (P7)
* empty required strings      -> dropped (P8, MeshJoin.java:114-117)
* negative price or quantity  -> dropped (P9, MeshJoin.java:125-127,193-196)
* unparsable price            -> kept as 0.00 (P10, MeshJoin.java:129-132)
* trim + price "$" strip      -> (P11, MeshJoin.java:105-111,121)
* 4-format strict date parse  -> first hit wins, else dropped (P12)
* PK upsert                   -> last-write-wins dedup (S7; MySQL
  ON DUPLICATE KEY UPDATE replay order = file order, so the ordinal is the
  file position; README.md:134-136)

Known reference defects NOT reproduced (documented, SURVEY §1.4): customers
header inserted as a data row (MeshJoin.java:61-86 misses the header skip);
transactions customer_id/quantity column swap (MeshJoin.java:188-192 vs the
file's actual header order) — we read by header name, the documented intent.

At 100 TB these readers parallelize per file-split; the only shuffle is the
window dedup, partitioned by PK (no skew: PKs are near-unique by
definition). The enrichment join broadcasts dims when small and degrades to
shuffle joins via AQE otherwise.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.cleaning import (
    clean_int_sql,
    clean_price_sql,
    multi_format_date_sql,
    non_empty_sql,
)

CORRUPT_COL = "_corrupt_record"

#: metro.sql:15-19
CUSTOMERS_SCHEMA = T.StructType(
    [
        T.StructField("customer_id", T.StringType()),
        T.StructField("customer_name", T.StringType()),
        T.StructField("gender", T.StringType()),
        T.StructField(CORRUPT_COL, T.StringType()),
    ]
)

#: metro.sql:21-29
PRODUCTS_SCHEMA = T.StructType(
    [
        T.StructField("product_id", T.StringType()),
        T.StructField("product_name", T.StringType()),
        T.StructField("product_price_raw", T.StringType()),
        T.StructField("supplier_id", T.StringType()),
        T.StructField("supplier_name", T.StringType()),
        T.StructField("store_id", T.StringType()),
        T.StructField("store_name", T.StringType()),
        T.StructField(CORRUPT_COL, T.StringType()),
    ]
)

#: metro.sql:31-39; header order per the actual file (README.md:109-111)
TRANSACTIONS_SCHEMA = T.StructType(
    [
        T.StructField("order_id", T.StringType()),
        T.StructField("order_date_raw", T.StringType()),
        T.StructField("product_id", T.StringType()),
        T.StructField("quantity_raw", T.StringType()),
        T.StructField("customer_id", T.StringType()),
        T.StructField("time_id", T.StringType()),
        T.StructField(CORRUPT_COL, T.StringType()),
    ]
)


#: Replay-order columns attached by ``_read_csv`` (major..minor):
#: numeric feed sequence, then full URI, then split offset, then position
#: within the split.
ORDINAL_COLS = ["_src_seq", "_src_file", "_src_block", "_ordinal"]

#: Digit run immediately before the file extension — the conventional
#: feed sequence (feed_9.csv, feed_10.csv, part-00012.csv...).
_SEQ_SQL = "regexp_extract(input_file_name(), '([0-9]+)[.][A-Za-z0-9]+$', 1)"


def _read_csv(
    spark: SparkSession,
    path: str,
    schema: T.StructType,
    columns: list[str] | None = None,
) -> DataFrame:
    """S1-S3 scan: header-skipped, quote-aware, malformed rows quarantined
    into _corrupt_record instead of aborting (P7) — with a replay ordinal
    so S7 dedup replays in file order like MySQL upserts did.

    ``columns`` (SQL text; default every parsed column) are computed in
    the same projection that attaches the ordinal. The ordinal is
    nondeterministic, so the optimizer never pushes a later filter below
    that projection: a cleaned value the filter tests is computed once
    per row, not once for the filter and again for the output.

    The ordinal is (numeric file sequence, input_file_name, split offset,
    monotonically_increasing_id). A file-level key is the MAJOR part
    because Spark packs splits into partitions by size, not file order, so
    the bare partition-indexed id does not follow file order across files.
    The leading key is the NUMERIC suffix before the extension (NATURAL
    order: feed_10 replays after feed_9, where bare lexicographic URI order
    would invert them and silently flip upsert winners); files without a
    numeric suffix get -1 and fall back to the lexicographic URI tiebreak
    among themselves.

    Spark splits one file as soon as it exceeds ``max(openCostInBytes,
    total input bytes / cores)`` (capped by ``maxPartitionBytes``) — a few
    MB on a small cluster, not 128 MB — and the packing then decides which
    partition, and so which id range, each split lands in. So the split's
    start offset (``_metadata.file_block_start``) orders splits within a
    file, and the id only orders rows inside one split, where it follows
    byte offset. A row belongs to the split its line starts in, so the
    whole key is exact file order for any split layout.
    """
    df = (
        spark.read.option("header", True)
        .option("quote", '"')
        .option("escape", '"')
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", CORRUPT_COL)
        .schema(schema)
        .csv(path)
    )
    return df.selectExpr(
        *(columns or ["*"]),
        f"coalesce(CAST(nullif({_SEQ_SQL}, '') AS bigint), -1) AS _src_seq",
        "input_file_name() AS _src_file",
        "_metadata.file_block_start AS _src_block",
        "monotonically_increasing_id() AS _ordinal",
    )


def quarantine(df: DataFrame) -> DataFrame:
    """Rows the parser could not shape (P7) — kept for audit, not silently
    dropped (upgrade over the reference's stderr warning).

    Spark refuses plans that reference only the corrupt-record column of an
    un-materialized CSV scan (SPARK-21610), so the audit view is cached —
    fine: quarantines are small by definition.
    """
    return df.cache().filter(F.col(CORRUPT_COL).isNotNull())


def dedup_last_wins(
    df: DataFrame, pk: list[str], ordinal: list[str] | str | None = None
) -> DataFrame:
    """S7: PK upsert as deterministic last-write-wins dedup. Replay order
    is (numeric feed sequence, file URI, split offset, within-split
    position) by default — naturally-later feeds (feed_10 after feed_9)
    count as later writes; see ``_read_csv`` for the full key semantics.
    NULL keys form one group, as in GROUP BY."""
    if ordinal is None:
        ordinal = ORDINAL_COLS
    if isinstance(ordinal, str):
        ordinal = [ordinal]
    keys = ", ".join(f"`{c}`" for c in pk)
    order = ", ".join(f"`{c}` DESC" for c in ordinal)
    return (
        df.selectExpr("*", f"row_number() OVER (PARTITION BY {keys} ORDER BY {order}) AS _rn")
        .where("_rn = 1")
        .drop("_rn")
    )


def _clean(
    spark: SparkSession,
    path: str,
    schema: T.StructType,
    pk: str,
    columns: list[str],
    keep: str,
) -> DataFrame:
    """One reader's cleaning: one projection computing the cleaned
    ``columns`` beside the replay ordinal, one filter (``keep``, SQL text
    over the cleaned columns, plus the quarantine rule), then the S7
    last-wins dedup on ``pk`` with the ordinal dropped."""
    cleaned = _read_csv(spark, path, schema, [*columns, CORRUPT_COL]).where(
        f"{CORRUPT_COL} IS NULL AND {keep}"
    )
    return dedup_last_wins(cleaned, [pk]).drop(CORRUPT_COL, *ORDINAL_COLS)


def _trimmed(*cols: str) -> list[str]:
    return [f"trim({c}) AS {c}" for c in cols]


def read_customers(spark: SparkSession, path: str) -> DataFrame:
    columns = _trimmed("customer_id", "customer_name", "gender")
    keep = f"{non_empty_sql('customer_id')} AND {non_empty_sql('customer_name')}"
    return _clean(spark, path, CUSTOMERS_SCHEMA, "customer_id", columns, keep)


def read_products(spark: SparkSession, path: str) -> DataFrame:
    columns = [
        *_trimmed("product_id", "product_name"),
        f"{clean_price_sql('product_price_raw')} AS product_price",
        *_trimmed("supplier_id", "supplier_name", "store_id", "store_name"),
    ]
    identity = ["product_id", "product_name", "supplier_id", "supplier_name", "store_id", "store_name"]
    # P8: the reference requires ALL six identity fields non-empty
    # (MeshJoin.java:114-117) — id/name for product, supplier, store.
    # P9: negative price drops the row; P10 already defaulted unparsable
    # to 0.00 (kept) — the reference's deliberate asymmetry.
    keep = " AND ".join([*map(non_empty_sql, identity), "product_price >= 0"])
    return _clean(spark, path, PRODUCTS_SCHEMA, "product_id", columns, keep)


def read_transactions(spark: SparkSession, path: str) -> DataFrame:
    columns = [
        *_trimmed("order_id"),
        f"{multi_format_date_sql('order_date_raw')} AS order_date",
        *_trimmed("product_id"),
        f"{clean_int_sql('quantity_raw')} AS quantity",
        *_trimmed("customer_id"),
    ]
    # P12: unparsable date drops the row; P9: bad/negative quantity too.
    keep = f"{non_empty_sql('order_id')} AND order_date IS NOT NULL AND quantity >= 0"
    return _clean(spark, path, TRANSACTIONS_SCHEMA, "order_id", columns, keep)


def build_fact(
    transactions: DataFrame,
    customers: DataFrame,
    products: DataFrame,
    how: str = "left",
) -> DataFrame:
    """J2 set-based enrichment (metro.sql:64-86) + P13 SALE derivation.

    ``how='left'`` is canonical (metro.sql); ``how='inner'`` reproduces the
    MESHJOIN emission semantics (MeshJoin.java:264) — both exposed because
    the reference's two paths disagree (SURVEY §2.3 J1/J2).

    Dims are broadcast when small (the reference's case: 100 customers, 101
    products); at scale AQE falls back to shuffle joins automatically.
    """
    if how not in ("left", "inner"):
        raise ValueError(f"how must be 'left' or 'inner', got {how!r}")
    return (
        transactions.join(customers, "customer_id", how)
        .join(products, "product_id", how)
        .withColumn(
            "sale",
            (F.col("quantity") * F.col("product_price")).cast("decimal(10,2)"),
        )
        .select(
            "order_id",
            "order_date",
            "product_id",
            "product_name",
            "product_price",
            "supplier_id",
            "supplier_name",
            "store_id",
            "store_name",
            "customer_id",
            "customer_name",
            "gender",
            "quantity",
            "sale",
        )
    )
