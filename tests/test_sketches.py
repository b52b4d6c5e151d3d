"""HLL daily-sketch rollups: estimate accuracy vs exact distincts, the
merge algebra (union of day sketches == range answer, no raw rescans),
and the durable store's incremental/replay contract."""

from __future__ import annotations

from pyspark.sql import functions as F

from datawarehouse_project_spark.catalog import all_queries
from datawarehouse_project_spark.io import table
from datawarehouse_project_spark.operators.sketches import (
    DailySketchStore,
    daily_user_sketches,
    range_distinct_users,
)


import pytest

# The whole module runs in the slow lane (`pytest -m slow`).
# The fast lane checks only the plan shape of `events_daily_sketch_rollup`
# (the row has no oracle); estimate accuracy, the merge algebra and the
# sketch store's incremental and replay contract are checked only here.
pytestmark = pytest.mark.slow

#: DataSketches HLL at lg_k=12 has ~1.6 % typical relative standard
#: error; 5 % absorbs tail draws across every generated day.
REL_TOL = 0.05


def _exact_by_day(spark, sf_dir):
    ev = table(spark, sf_dir, "events")
    return {
        r.day: r.exact
        for r in ev.groupBy(F.to_date("ts").alias("day"))
        .agg(F.count_distinct("user_id").alias("exact"))
        .collect()
    }


def test_daily_estimates_within_error_bound(spark, sf_dir):
    exact = _exact_by_day(spark, sf_dir)
    got = {
        r.day: r.approx_users
        for r in all_queries()["events_daily_sketch_rollup"](
            spark, sf_dir
        ).collect()
    }
    assert set(got) == set(exact) and len(got) >= 5
    for day, est in got.items():
        assert abs(est - exact[day]) <= max(2, REL_TOL * exact[day]), (
            day,
            est,
            exact[day],
        )


def test_range_merge_answers_without_rescan(spark, sf_dir):
    """union(sketch(day_i)) must estimate the distinct of the UNION of
    days within the bound — the property that lets a kilobyte table
    answer any range; and the merged estimate must not be the sum of
    days (users repeat across days, a plain rollup would overcount)."""
    ev = table(spark, sf_dir, "events")
    sketches = daily_user_sketches(ev).localCheckpoint(eager=True)
    days = sorted(r.day for r in sketches.select("day").collect())
    lo, hi = str(days[0]), str(days[len(days) // 2])
    est = range_distinct_users(sketches, lo, hi).first().approx_users
    exact = (
        ev.filter(F.to_date("ts").between(F.lit(lo), F.lit(hi)))
        .select("user_id")
        .distinct()
        .count()
    )
    assert abs(est - exact) <= max(2, REL_TOL * exact)
    day_sum = sum(
        r.approx_users
        for r in all_queries()["events_daily_sketch_rollup"](spark, sf_dir)
        .filter(F.col("day").between(F.lit(lo), F.lit(hi)))
        .collect()
    )
    assert day_sum > est * 1.5  # users repeat daily: merge != sum


def test_sketch_store_incremental_equals_one_shot_and_replays(
    spark, sf_dir, tmp_path
):
    """Two event batches folded into the store must answer range queries
    within the same error bound as a one-shot build (register-wise merge
    algebra), and a replayed batch must be absorbed by the ledger."""
    ev = table(spark, sf_dir, "events")
    lo_half = ev.filter(F.col("event_id") % 2 == 0)
    hi_half = ev.filter(F.col("event_id") % 2 == 1)

    inc = DailySketchStore(str(tmp_path / "inc"))
    inc.apply_batch(spark, lo_half, batch_id=0)
    inc.apply_batch(spark, hi_half, batch_id=1)
    full = DailySketchStore(str(tmp_path / "full"))
    full.apply_batch(spark, ev, batch_id=0)

    days = sorted(str(r.day) for r in inc.read(spark).select("day").collect())
    assert days == sorted(
        str(r.day) for r in full.read(spark).select("day").collect()
    )
    span = (days[0], days[-1])
    est_inc = inc.range_estimate(spark, *span)
    est_full = full.range_estimate(spark, *span)
    exact = ev.select("user_id").distinct().count()
    assert abs(est_inc - exact) <= max(2, REL_TOL * exact)
    assert abs(est_full - exact) <= max(2, REL_TOL * exact)

    v = inc.table.current_version()
    inc.apply_batch(spark, hi_half, batch_id=1)  # replay
    assert inc.table.current_version() == v
    assert inc.range_estimate(spark, *span) == est_inc


def test_range_estimate_empty_range_is_zero(spark, sf_dir, tmp_path):
    """A range with no stored days estimates 0 (hll_union_agg over
    nothing is NULL, not a crash)."""
    from datawarehouse_project_spark.io import table

    store = DailySketchStore(str(tmp_path / "empty_range"))
    store.apply_batch(spark, table(spark, sf_dir, "events"), batch_id=0)
    assert store.range_estimate(spark, "1990-01-01", "1990-12-31") == 0


def test_streaming_sketch_ingest_foreachbatch(spark, sf_dir, tmp_path):
    """foreachBatch contract parity with the other stores: micro-batched
    event ingest converges to the one-shot build's range answers, and a
    full no-checkpoint replay leaves version and estimates unchanged."""
    from datawarehouse_project_spark.io import table

    ev = table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id"
    )
    src = str(tmp_path / "src")
    ev.withColumn("part", (F.col("event_id") % 3).cast("int")).write.partitionBy(
        "part"
    ).mode("overwrite").parquet(src)
    store = DailySketchStore(str(tmp_path / "stream"))

    def run_stream():
        (
            spark.readStream.schema(spark.read.parquet(src).schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
            .writeStream.foreachBatch(
                lambda bdf, bid: store.apply_batch(
                    spark, bdf.select("ts", "user_id"), batch_id=bid
                )
            )
            .trigger(availableNow=True)
            .start()
            .awaitTermination()
        )

    run_stream()
    one_shot = DailySketchStore(str(tmp_path / "oneshot"))
    one_shot.apply_batch(spark, ev, batch_id=0)
    days = sorted(str(r.day) for r in store.read(spark).select("day").collect())
    assert days == sorted(
        str(r.day) for r in one_shot.read(spark).select("day").collect()
    )
    span = (days[0], days[-1])
    est = store.range_estimate(spark, *span)
    exact = ev.select("user_id").distinct().count()
    assert abs(est - exact) <= max(2, REL_TOL * exact)
    v = store.table.current_version()
    run_stream()  # replay
    assert store.table.current_version() == v
    assert store.range_estimate(spark, *span) == est


def test_concurrent_sketch_writers_lose_no_days(spark, sf_dir, tmp_path):
    """Two writers race disjoint event halves into one store: the
    table-level CAS forces the loser to re-read and re-merge, so both
    halves' registers land and the final range estimate matches the
    one-shot build."""
    import threading

    from datawarehouse_project_spark.io import table

    ev = table(spark, sf_dir, "events")
    halves = {
        "A": ev.filter(F.col("event_id") % 2 == 0).localCheckpoint(eager=True),
        "B": ev.filter(F.col("event_id") % 2 == 1).localCheckpoint(eager=True),
    }
    root = str(tmp_path / "race")
    errors = []

    def writer(name):
        try:
            DailySketchStore(root).apply_batch(
                spark, halves[name], batch_id=0, app_id=f"w{name}"
            )
        except Exception as exc:  # pragma: no cover
            errors.append((name, exc))

    threads = [threading.Thread(target=writer, args=(n,)) for n in ("A", "B")]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errors, errors
    store = DailySketchStore(root)
    days = sorted(str(r.day) for r in store.read(spark).select("day").collect())
    one_shot = DailySketchStore(str(tmp_path / "oneshot"))
    one_shot.apply_batch(spark, ev, batch_id=0)
    assert days == sorted(
        str(r.day) for r in one_shot.read(spark).select("day").collect()
    )
    est = store.range_estimate(spark, days[0], days[-1])
    exact = ev.select("user_id").distinct().count()
    assert abs(est - exact) <= max(2, REL_TOL * exact)


def test_range_overlap_inclusion_exclusion(spark, tmp_path):
    """Overlap between two ranges from sketches only: controlled
    synthetic overlap (users 0-99 on day A, 50-149 on day B -> exact
    overlap 50). Inclusion-exclusion compounds three per-term HLL
    errors; at lgK=12 each is ~1.6% typical, so a 10% tolerance on the
    150-user union is generous and the check is deterministic (fixed
    hash seeds)."""
    from datawarehouse_project_spark.operators.sketches import (
        DailySketchStore,
        range_overlap_users,
    )

    rows = [(u, "2024-01-01 10:00:00") for u in range(100)] + [
        (u, "2024-01-02 10:00:00") for u in range(50, 150)
    ]
    ev = spark.createDataFrame(rows, ["user_id", "ts"]).withColumn(
        "ts", F.to_timestamp("ts")
    )
    store = DailySketchStore(str(tmp_path / "ovl"))
    store.apply_batch(spark, ev, batch_id=0)
    got = store.overlap_estimate(
        spark, "2024-01-01", "2024-01-01", "2024-01-02", "2024-01-02"
    )
    assert abs(got.approx_a - 100) <= 15
    assert abs(got.approx_b - 100) <= 15
    assert abs(got.approx_union - 150) <= 15
    assert abs(got.approx_overlap - 50) <= 15
    # disjoint ranges: overlap clamps at >= 0, never negative
    disjoint = range_overlap_users(
        store.read(spark), "2024-01-01", "2024-01-01", "2099-01-01", "2099-01-02"
    ).first()
    assert disjoint.approx_overlap >= 0
    assert disjoint.approx_b == 0
