"""Named-query registry: the engine's acceptance surface.

Every operator from SURVEY.md §2 (and every north-star extension) registers a
named query here: a DataFrame builder ``(spark, sf_dir) -> DataFrame`` and,
when SQL-expressible, an equivalent ANSI-SQL oracle string DuckDB can run on
the same parquet tables. ``__spark_entry__.py`` exposes the registry to the
driver's correctness harness.

Determinism discipline (so the driver's order-insensitive value-hash matches
bit-for-bit between Spark and DuckDB):
  * money / quantity sums go through DECIMAL (exact, order-insensitive
    addition), final-cast to DOUBLE;
  * averages are CAST(SUM(decimal) AS DOUBLE) / COUNT;
  * ratio arithmetic happens in DOUBLE on identical operands in identical
    textual order (IEEE 754 ops are deterministic given identical inputs);
  * never SUM raw DOUBLE columns (parallel reduction order is not);
  * timestamps leave queries as epoch-microsecond BIGINTs;
  * every aggregate/computed column is aliased identically on both sides.

Prepared plans: a registered builder is a pure function of its session
confs and its ``sf_dir`` tables, so the registry keeps the analyzed plan
of each build and answers the next request for the same query from it
(:func:`prepared`), the way a database keeps a prepared statement. Only
parsing and analysis are skipped: each request still gets its own
optimization, physical planning and execution.
"""

from __future__ import annotations

import functools
import os
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

from ..io import TABLES, session_state, source_mtime_ns, table
from ..session import prepare


@dataclass(frozen=True)
class QuerySpec:
    name: str
    build: Callable[[SparkSession, str], DataFrame]
    #: ANSI SQL for DuckDB; None => rows-only check. A zero-arg callable
    #: defers oracle-text construction to first access — required when the
    #: text embeds literals that are expensive/IO-backed to derive (the
    #: trained IVF centroids), so import stays side-effect-free.
    oracle: str | Callable[[], str] | None
    headline: bool = False  # included in bench.py
    #: Presentation sort of the reference's SQL (O2), e.g. ["-total", "name"]
    #: ("-" prefix = DESC). Engine queries stay UNSORTED on the hot path —
    #: a global sort of full output is pure cost at scale and the driver
    #: hash is order-insensitive; human consumers get the sorted form via
    #: ``catalog.ordered_query(name)``.
    order_by: list[str] | None = None
    #: Driver-facing entries form the acceptance catalog the external
    #: correctness harness sweeps (it covers at most 50 names, sorted).
    #: ``driver_facing=False`` keeps a query fully registered — pytest
    #: runs its oracle at both scale factors — but out of that window.
    #: Used for reference-bug-compat exemplars, O(N^2) recall baselines,
    #: and sketch twins whose exact counterpart already holds a driver row.
    driver_facing: bool = True


REGISTRY: dict[str, QuerySpec] = {}


def resolve_oracle(spec: QuerySpec) -> str | None:
    """Materialize a spec's oracle text (calls lazy oracles)."""
    return spec.oracle() if callable(spec.oracle) else spec.oracle


def register(
    name: str,
    oracle: str | None = None,
    headline: bool = False,
    order_by: list[str] | None = None,
    driver_facing: bool = True,
):
    """Decorator: register a named query builder (idempotent re-import).
    The registry holds it behind :func:`prepared`; the decorated name
    stays the plain builder."""

    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        REGISTRY[name] = QuerySpec(
            name, prepared(name, fn), oracle, headline, order_by, driver_facing
        )
        return fn

    return deco


@dataclass(frozen=True)
class _Analyzed:
    """A kept build: its analyzed plan (a JVM ``LogicalPlan``), the conf
    snapshot it was analyzed under, the served roots it may read, and
    ``classic.Dataset.ofRows``, looked up once because the lookup costs
    ten times the call."""

    plan: object
    confs: object
    roots: tuple[str, ...]
    of_rows: object


def prepared(
    name: str, build: Callable[[SparkSession, str], DataFrame]
) -> Callable[[SparkSession, str], DataFrame]:
    """``build`` with its analysis kept as a ``plan`` entry of the
    session's ``io.SessionState``, keyed ``(sf_dir, name)`` with every
    table of ``io.TABLES`` as a source. A call after the first returns a
    new DataFrame over the kept analyzed plan, so parsing and analysis
    (most of a build's py4j time) are skipped, while optimization,
    physical planning, AQE and the scans run again on every execution.

    A build is kept only if it launched no Spark job (the ``sf_dir``
    tables are resolved before the count starts), its plan has no
    ``LogicalRDD`` leaf and it left the session's confs as it found
    them: the rows that collect or checkpoint at build time build on
    every call, as before. The entry is re-derived when a
    source table's token changes, on ``io.refresh_table``, on any
    ``io.pin`` under its ``sf_dir``, when the session's confs differ
    from the ones it was analyzed under (``session.prepare``'s
    snapshot), and when a served root that existed at analysis time is
    gone."""

    @functools.wraps(build)
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        state = session_state(spark)
        prepare(spark)
        built = None

        def analyze() -> _Analyzed | None:
            nonlocal built
            # a table's first resolution reads its parquet schema in a
            # job; resolve them all first, so that job never counts
            # against this build
            for t in TABLES:
                if source_mtime_ns(sf_dir, t) is not None:
                    table(spark, sf_dir, t)
            confs = state.confs
            scheduler = spark.sparkContext._jsc.sc().dagScheduler()
            jobs = scheduler.numTotalJobs()
            built = build(spark, sf_dir)
            plan = built._jdf.queryExecution().analyzed()
            if scheduler.numTotalJobs() != jobs or _has_rdd_leaf(plan):
                return None
            prepare(spark)
            if state.confs is not confs:  # the build changed them
                return None
            return _Analyzed(
                plan,
                confs,
                state.live_roots(sf_dir),
                spark._jvm.org.apache.spark.sql.classic.Dataset.ofRows,
            )

        def fresh(kept: _Analyzed) -> bool:
            return kept.confs is state.confs and all(
                os.path.isdir(r) for r in kept.roots
            )

        kept = state.get("plan", sf_dir, name, TABLES, analyze, fresh)
        if built is not None:
            return built
        return DataFrame(kept.of_rows(spark._jsparkSession, kept.plan), spark)

    return run


def _has_rdd_leaf(plan) -> bool:
    leaves = plan.collectLeaves()
    return any(
        leaves.apply(i).nodeName() == "LogicalRDD" for i in range(leaves.size())
    )
