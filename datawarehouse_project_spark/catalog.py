"""Assembles the driver contract from the query registry.

Importing this module imports every operator module so that all
``@register``-ed queries land in ``plans.registry.REGISTRY``.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

# Import for registration side-effects — each module registers its queries.
# Unconditional: a broken operator module must fail loudly here, not
# silently shrink the driver-facing catalog.
from .plans import cleaning as _cleaning  # noqa: F401
from .plans import olap as _olap  # noqa: F401
from .plans import olap_extra as _olap_extra  # noqa: F401
from .plans.registry import REGISTRY, resolve_oracle
from .operators import bpe as _bpe  # noqa: F401
from .operators import cms as _cms  # noqa: F401
from .operators import dedup as _dedup  # noqa: F401
from .operators import dedup_incremental as _dedup_incremental  # noqa: F401
from .operators import events as _events  # noqa: F401
from .operators import fuzzy as _fuzzy  # noqa: F401
from .operators import histogram as _histogram  # noqa: F401
from .operators import multimodal as _multimodal  # noqa: F401
from .operators import quality as _quality  # noqa: F401
from .operators import relational as _relational  # noqa: F401
from .operators import retrieval as _retrieval  # noqa: F401
from .operators import retrieval_eval as _retrieval_eval  # noqa: F401
from .operators import sampling as _sampling  # noqa: F401
from .operators import scd as _scd  # noqa: F401
from .operators import similarity as _similarity  # noqa: F401
from .operators import sketches as _sketches  # noqa: F401
from .operators import skew as _skew  # noqa: F401
from .operators import textstats as _textstats  # noqa: F401
from .sources import jdbc_scan as _jdbc_scan  # noqa: F401
from .sources import partitioned as _partitioned  # noqa: F401


#: The external correctness harness sweeps at most this many names
#: (sorted); the driver-facing catalog must fit inside the window so every
#: entry it exposes earns a CORRECTNESS row. Enforced by a pytest.
DRIVER_WINDOW = 50


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """The driver-facing acceptance catalog (≤ DRIVER_WINDOW entries).

    Exemplars / quadratic baselines stay registered
    with ``driver_facing=False`` — see :func:`all_queries` — and keep full
    pytest oracle coverage, but are excluded here so the driver's bounded
    sweep verifies every name this function returns.
    """
    return {
        name: spec.build
        for name, spec in sorted(REGISTRY.items())
        if spec.driver_facing
    }


def oracle_sql() -> dict[str, str]:
    return {
        name: resolve_oracle(spec)
        for name, spec in sorted(REGISTRY.items())
        if spec.oracle is not None and spec.driver_facing
    }


def all_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Every registered query, driver-facing or not (pytest surface)."""
    return {name: spec.build for name, spec in sorted(REGISTRY.items())}


def all_oracle_sql() -> dict[str, str]:
    """Every registered oracle, driver-facing or not (pytest surface)."""
    return {
        name: resolve_oracle(spec)
        for name, spec in sorted(REGISTRY.items())
        if spec.oracle is not None
    }


def headline_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """The bench.py subset."""
    return {
        name: spec.build for name, spec in sorted(REGISTRY.items()) if spec.headline
    }


def ordered_query(name: str) -> Callable[[SparkSession, str], DataFrame]:
    """O2 presentation variant: the registered builder plus the reference's
    trailing ORDER BY (QuerySpec.order_by; "-col" = DESC). Off the hot path
    by default — the engine's registered queries stay unsorted because a
    global sort of full output is pure cost at scale and the driver's
    correctness hash is order-insensitive; a human consumer (or a
    reference-parity report) asks for the sorted form here."""
    from pyspark.sql import functions as F

    spec = REGISTRY[name]
    if not spec.order_by:
        return spec.build

    def build(spark: SparkSession, sf_dir: str) -> DataFrame:
        cols = [
            F.desc(c[1:]) if c.startswith("-") else F.asc(c)
            for c in spec.order_by
        ]
        return spec.build(spark, sf_dir).orderBy(*cols)

    return build


#: The reference's ten queries (SQL/olap_queries.sql Q1-Q10): the names the
#: Spark-SQL text surface covers.
REFERENCE_QUERIES = (
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
)


def spark_sql_surface() -> dict[str, str]:
    """SURVEY §2.11: the reference's ten queries as ``spark.sql`` text —
    the Spark-dialect text in ``plans.olap.SPARK_SQL`` where the oracle
    uses DuckDB-only syntax, the oracle verbatim otherwise. Every entry is
    value-identical to its DataFrame builder (tests/test_sql_surface.py)."""
    missing = set(REFERENCE_QUERIES) - set(REGISTRY)
    assert not missing, f"SQL surface for unregistered queries: {missing}"
    return {
        name: _olap.SPARK_SQL.get(name) or resolve_oracle(REGISTRY[name])
        for name in REFERENCE_QUERIES
    }
