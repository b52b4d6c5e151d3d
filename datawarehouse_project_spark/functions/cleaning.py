"""Row-level cleaning expression library (SURVEY.md §2.2 P7-P12).

Everything is a native Column expression — no Python UDFs — so the whole
cleaning pass stays inside Catalyst/whole-stage codegen and scales linearly
with executors. Each function cites the reference behavior it re-expresses.

Each rule is defined once, as SQL text (the ``*_sql`` builders, the
``functions.text.words_sql`` precedent); the Column helpers wrap that text
in one ``F.expr``. ``col`` is a column name or any SQL expression. Ingest
readers splice the text into one projection and one filter per step, so
building a reader's plan costs one parser call per step instead of a py4j
round trip per Column node.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

#: The reference's four accepted date formats, tried strictly in this order;
#: first hit wins (reference MeshJoin.java:158, 173-186). Java's
#: setLenient(false) maps to Spark's CORRECTED parser + try_to_date.
DATE_FORMATS = ["yyyy-M-d", "M/d/yyyy", "d-M-yyyy", "yyyy/M/d"]


def multi_format_date_sql(col: str, formats: list[str] | None = None) -> str:
    """P12: strict multi-format date parse, first success wins, else NULL.

    The reference feeds minute-resolution strings ("2019-04-01 03:09:00")
    whose date prefix is consumed and the rest dropped (SimpleDateFormat
    prefix-parse, MeshJoin.java:177) — mirrored by trimming to the first
    space before parsing.
    """
    day = f"split(trim({col}), ' ')[0]"
    parsed = ", ".join(f"try_to_date({day}, '{f}')" for f in formats or DATE_FORMATS)
    return f"coalesce({parsed})"


def clean_price_sql(col: str) -> str:
    """P10+P11: strip non-numeric chars ("1299.99$" -> 1299.99), parse as
    DECIMAL(10,2); unparsable -> 0.00 (kept, not dropped) per reference
    MeshJoin.java:119-132. Negative handling (P9: row dropped) is the
    caller's filter — the asymmetry is deliberate reference behavior.
    """
    return (
        f"coalesce(try_cast(regexp_replace({col}, '[^0-9.\\\\-]', '') AS decimal(10,2)), "
        "CAST('0.00' AS decimal(10,2)))"
    )


def non_empty_sql(col: str) -> str:
    """P8: required-string guard (MeshJoin.java:114-117)."""
    return f"({col} IS NOT NULL AND trim({col}) != '')"


def clean_int_sql(col: str) -> str:
    """F10: strict int parse; unparsable -> NULL (caller drops, P9/
    MeshJoin.java:190-196)."""
    return f"try_cast(trim({col}) AS int)"


def multi_format_date(col: str, formats: list[str] | None = None) -> Column:
    """Column form of :func:`multi_format_date_sql`."""
    return F.expr(multi_format_date_sql(col, formats))


def clean_price(col: str) -> Column:
    """Column form of :func:`clean_price_sql`."""
    return F.expr(clean_price_sql(col))

