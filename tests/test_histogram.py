"""Mergeable fixed-width histogram store: bound guarantees, merge
algebra, store contract, exact DuckDB oracle."""

from __future__ import annotations

from pyspark.sql import functions as F

from datawarehouse_project_spark.catalog import all_oracle_sql, all_queries
from datawarehouse_project_spark.io import table
from datawarehouse_project_spark.operators.histogram import (
    HIST_QS,
    HIST_WIDTH,
    HistogramStore,
    percentiles_from_bins,
    value_histogram,
)

from tests.oracle_check import compare


import pytest

# The whole module runs in the slow lane (`pytest -m slow`).
# The fast lane checks `events_value_histogram_percentiles` against its
# sf0.001 oracle; the error bounds, the merge algebra and the
# `HistogramStore` contract are checked only here.
pytestmark = pytest.mark.slow


def test_histogram_percentiles_satisfy_the_defining_inequalities(spark, sf_dir):
    """For every key and q: P[X < p_lo] < q and P[X <= p_lo + width] >= q
    — the bound the bin lower-bound estimate promises, checked against
    the raw values."""
    ev = table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    got = all_queries()["events_value_histogram_percentiles"](
        spark, sf_dir
    ).collect()
    assert got
    for row in got:
        vals = ev.filter(F.col("event_type") == row.event_type)
        total = vals.count()
        for q in HIST_QS:
            p_lo = row[f"p{round(q * 100)}_lo"]
            below = vals.filter(F.col("value") < p_lo).count()
            upto = vals.filter(F.col("value") <= p_lo + HIST_WIDTH).count()
            assert below < q * total or below == 0, (row.event_type, q)
            assert upto >= q * total, (row.event_type, q)


def test_histogram_bins_negative_values_and_merge_is_sum(spark, tmp_path):
    """floor (not truncate) for negatives; incremental store == one-shot
    bins bit-for-bit; replay absorbed; store percentiles == inline."""
    rows = [("a", -2.5), ("a", -0.1), ("a", 0.4), ("a", 3.7), ("b", 10.0)]
    df = spark.createDataFrame(rows, "k string, value double")
    bins = {
        (r.k, r.bin): r["count"]
        for r in value_histogram(df, ["k"]).collect()
    }
    assert bins[("a", -3)] == 1  # -2.5 floors DOWN
    assert bins[("a", -1)] == 1
    assert bins[("a", 0)] == 1
    assert bins[("a", 3)] == 1
    assert bins[("b", 10)] == 1

    store = HistogramStore(str(tmp_path / "hist"), ["k"])
    for i, half in enumerate((rows[:2], rows[2:])):
        store.apply_batch(
            spark,
            spark.createDataFrame(half, "k string, value double"),
            batch_id=i,
        )

    def canon(df):
        return sorted((r.k, r.bin, r["count"]) for r in df.collect())

    assert canon(store.read(spark)) == canon(value_histogram(df, ["k"]))
    v = store.table.current_version()
    store.apply_batch(
        spark,
        spark.createDataFrame(rows[:2], "k string, value double"),
        batch_id=0,
    )  # replay
    assert store.table.current_version() == v
    got = sorted(
        tuple(r) for r in store.percentiles(spark).collect()
    )
    want = sorted(
        tuple(r)
        for r in percentiles_from_bins(
            value_histogram(df, ["k"]), ["k"]
        ).collect()
    )
    assert got == want


def test_histogram_percentile_boundary_is_exact_across_engines(spark, tmp_path):
    """Advisor r10: q·total evaluated in DOUBLE disagrees with DECIMAL on
    exact boundaries (0.9*10 → 9.000000000000002 rejects cum=9; DuckDB's
    DECIMAL product accepts it). Plant both boundary fixtures — cum=9 of
    total=10 at p90, cum=99 of total=100 at p99 — and pin the builder
    and the DuckDB oracle to the SAME (correct) bin."""
    import duckdb

    # 10 values: bins 0..9 one each → at p90 the boundary bin is 8
    # (cum=9 ≥ 0.9·10); 100 values: bins 0..99 → at p99 bin 98 (cum=99).
    rows10 = [("t10", float(i) + 0.5) for i in range(10)]
    rows100 = [("t100", float(i) + 0.5) for i in range(100)]
    df = spark.createDataFrame(rows10 + rows100, "event_type string, value double")
    got = {
        r.event_type: r.asDict()
        for r in percentiles_from_bins(
            value_histogram(df, ["event_type"]), ["event_type"]
        ).collect()
    }
    assert got["t10"]["p90_lo"] == 8.0
    assert got["t100"]["p99_lo"] == 98.0

    # Same fixture through the DuckDB oracle.
    pq = str(tmp_path / "events.parquet")
    df.write.parquet(pq)
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM read_parquet('{pq}/*.parquet')"
    )
    from datawarehouse_project_spark.catalog import all_oracle_sql

    sql = all_oracle_sql()["events_value_histogram_percentiles"]
    duck = {
        r[0]: r for r in con.execute(sql).fetchall()
    }
    assert duck["t10"][1 + 1] == 8.0  # (event_type, p50, p90, p99)
    assert duck["t100"][3] == 98.0


def test_histogram_registered_query_matches_duckdb_exactly(spark, sf_correct_dir):
    name = "events_value_histogram_percentiles"
    compare(
        all_queries()[name](spark, sf_correct_dir),
        all_oracle_sql()[name],
        sf_correct_dir,
    )


def test_histogram_streaming_ingest_foreachbatch(spark, sf_dir, tmp_path):
    """foreachBatch parity with the other sketch stores: micro-batched
    event ingest converges to the one-shot bins bit-for-bit; full
    no-checkpoint replay absorbed."""
    ev = table(spark, sf_dir, "events").select("event_id", "event_type", "value")
    src = str(tmp_path / "src")
    ev.withColumn("part", (F.col("event_id") % 3).cast("int")).write.partitionBy(
        "part"
    ).mode("overwrite").parquet(src)
    store = HistogramStore(str(tmp_path / "stream"), ["event_type"])

    def run_stream():
        (
            spark.readStream.schema(spark.read.parquet(src).schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
            .writeStream.foreachBatch(
                lambda bdf, bid: store.apply_batch(
                    spark, bdf.select("event_type", "value"), batch_id=bid
                )
            )
            .trigger(availableNow=True)
            .start()
            .awaitTermination()
        )

    run_stream()
    one_shot = value_histogram(ev, ["event_type"])

    def canon(df):
        return sorted((r.event_type, r.bin, r["count"]) for r in df.collect())

    assert canon(store.read(spark)) == canon(one_shot)
    v = store.table.current_version()
    run_stream()
    assert store.table.current_version() == v
