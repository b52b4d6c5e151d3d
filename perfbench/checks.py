"""Result comparison for the correctness gate.

Both checks use the repository's oracle rule (``tests/oracle_check.py``):
same column names, same row count, and the same order-insensitive multiset
of canonical rows with exact values (floats bit for bit).
"""

from __future__ import annotations

import os
import sys

import pandas as pd
import pyarrow as pa

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                                "tests"))

from oracle_check import TABLES, canon_rows  # noqa: E402


def _frame(df: pd.DataFrame) -> pd.DataFrame:
    """Lower-case column names, and tz-aware timestamps (Spark's, in the
    session's UTC) as naive UTC, as DuckDB returns them."""
    df = df.rename(columns=str.lower)
    for col in df.columns:
        if isinstance(df[col].dtype, pd.DatetimeTZDtype):
            df[col] = df[col].dt.tz_convert(None)
    return df


def same_as_oracle(actual: pa.Table, duck, sql: str) -> str | None:
    """None when the Spark result equals the DuckDB oracle's, else a
    one-line reason."""
    got = _frame(actual.to_pandas())
    expected = _frame(duck.execute(sql).fetch_df())
    if sorted(got.columns) != sorted(expected.columns):
        return f"columns differ: {sorted(got.columns)} vs {sorted(expected.columns)}"
    if len(got) != len(expected):
        return f"row count differs: {len(got)} vs {len(expected)}"
    a, e = canon_rows(got), canon_rows(expected)
    if a != e:
        bad = [(x, y) for x, y in zip(a, e) if x != y]
        return f"{len(bad)} rows differ, first: {bad[0]}"
    return None


def same_table(actual: pa.Table, reference: pa.Table) -> bool:
    """Whether two results of the same Spark query hold the same rows."""
    return canon_rows(_frame(actual.to_pandas())) == canon_rows(_frame(reference.to_pandas()))
