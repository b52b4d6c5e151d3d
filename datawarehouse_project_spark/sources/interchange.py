"""Columnar format interchange: materialize any engine table as ORC and
read it back with full fidelity.

The reference ingests CSV and serves MySQL tables; this engine's native
store is parquet. Real warehouses are format-plural — upstream teams
hand over ORC (the other columnar standard, native to Spark, zero extra
dependencies), and the engine must scan it with the same operator
surface and the same scan-level optimizations. This module is that
path: one writer, one reader, and the guarantee (pytest-pinned) that

* a round-trip through ORC is VALUE-IDENTICAL for every table type the
  engine uses (ints, doubles, strings, timestamps, binary,
  array<float>),
* predicate pushdown and column pruning reach the ORC scan exactly as
  they do the parquet scan (``PushedFilters`` / pruned ``ReadSchema``
  in the physical plan), and
* any registered catalog query computes the same result over ORC-backed
  temp views as over the parquet originals.

Scale posture: identical to the parquet path — ORC is splittable,
stripe-statistics-indexed, and whole-stage-codegen'd by the same
vectorized reader family, so partitioning/pushdown behavior carries
over unchanged at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..io import TABLES, table


def write_orc_tables(
    spark: SparkSession,
    sf_dir: str,
    out_dir: str,
    tables: list[str] | None = None,
) -> list[str]:
    """Materialize the given engine tables (default: all) as ORC under
    ``out_dir/<name>``; returns the table names written. Snappy
    compression (the ORC default) — the interchange format choice is
    the receiving team's, not a perf statement."""
    names = list(tables) if tables is not None else list(TABLES)
    for name in names:
        table(spark, sf_dir, name).write.mode("overwrite").orc(
            f"{out_dir}/{name}"
        )
    return names


def read_orc_table(spark: SparkSession, out_dir: str, name: str) -> DataFrame:
    """Read one interchange table back (schema from ORC metadata)."""
    return spark.read.orc(f"{out_dir}/{name}")


def register_orc_views(
    spark: SparkSession, out_dir: str, tables: list[str] | None = None
) -> None:
    """Register the ORC copies as temp views named like the engine
    tables, so a reference query's ``spark_sql_surface()`` text, or a
    catalog query whose builder resolves views, runs unchanged over the
    interchange copies."""
    for name in tables if tables is not None else TABLES:
        read_orc_table(spark, out_dir, name).createOrReplaceTempView(name)
