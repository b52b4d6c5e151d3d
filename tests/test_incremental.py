"""Incremental rollup maintenance: batch-folded state must equal the full
recompute after every batch, replays must be no-ops (exactly-once effect
through the snapshot txn ledger), and the streaming path must converge to
the batch answer."""

from __future__ import annotations

from pyspark.sql import functions as F

from datawarehouse_project_spark.io import table
from datawarehouse_project_spark.operators.incremental import IncrementalRollup


import pytest

# The whole module runs in the slow lane (`pytest -m slow`).
# The fast lane reaches `IncrementalRollup` only through the first fold
# behind `events_hourly_from_store` and `q01_from_store` (their sf0.001
# oracles); per-batch equality with a full recompute, replay no-ops and
# the streaming path are checked only here.
pytestmark = pytest.mark.slow

SF = "/root/testdata/sf0.001"
KEYS = ["o_orderpriority"]
MEASURE = "o_totalprice"


def _full_recompute(df):
    return df.groupBy(*KEYS).agg(
        F.sum(MEASURE).alias(f"sum_{MEASURE}"), F.count("*").alias("n_rows")
    )


def _as_map(df):
    return {
        tuple(r[k] for k in KEYS): (r["n_rows"], r[f"sum_{MEASURE}"])
        for r in df.collect()
    }


def _assert_state_equals(state, expect):
    got = _as_map(state)
    want = _as_map(expect)
    assert set(got) == set(want)
    for k in want:
        assert got[k][0] == want[k][0], k  # exact row counts
        # float sums: same addends, different fold order across plans
        assert abs(got[k][1] - want[k][1]) < 1e-6 * max(abs(want[k][1]), 1.0)


def test_incremental_equals_full_recompute_each_batch(spark, tmp_path):
    orders = table(spark, SF, "orders")
    batches = [
        orders.filter(F.col("o_orderkey") % 3 == i).localCheckpoint(eager=True)
        for i in range(3)
    ]
    roll = IncrementalRollup(str(tmp_path / "roll"), KEYS, [MEASURE])
    assert roll.read(spark) is None
    seen = None
    for i, b in enumerate(batches):
        roll.apply_batch(spark, b, batch_id=i)
        seen = b if seen is None else seen.unionByName(b)
        _assert_state_equals(roll.read(spark), _full_recompute(seen))


def test_replayed_batch_is_noop(spark, tmp_path):
    orders = table(spark, SF, "orders")
    b0 = orders.filter(F.col("o_orderkey") % 2 == 0)
    b1 = orders.filter(F.col("o_orderkey") % 2 == 1)
    roll = IncrementalRollup(str(tmp_path / "roll2"), KEYS, [MEASURE])
    roll.apply_batch(spark, b0, batch_id=0)
    v = roll.apply_batch(spark, b1, batch_id=1)
    before = _as_map(roll.read(spark))
    # at-least-once delivery: both epochs re-run after a "restart"
    assert roll.apply_batch(spark, b0, batch_id=0) == v
    assert roll.apply_batch(spark, b1, batch_id=1) == v
    assert _as_map(roll.read(spark)) == before  # bit-identical, not re-added
    assert roll.table.last_txn("rollup") == 1


def test_streaming_foreachbatch_maintains_rollup(spark, tmp_path):
    """availableNow micro-batches through foreachBatch(epoch ids as batch
    ids) converge to the batch recompute; a second full run of the same
    stream (fresh query, epoch ids restart at 0... n) is absorbed by the
    ledger as long as ids are monotonic per app — simulated here by
    replaying with the SAME app, asserting no double counting."""
    import pyspark.sql.types as T

    schema = T.StructType(
        [
            T.StructField("o_orderkey", T.LongType()),
            T.StructField("o_orderpriority", T.StringType()),
            T.StructField("o_totalprice", T.DoubleType()),
        ]
    )
    src = str(tmp_path / "src")
    orders = table(spark, SF, "orders").select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    )
    orders.withColumn("part", (F.col("o_orderkey") % 4).cast("int")).write.partitionBy(
        "part"
    ).mode("overwrite").parquet(src)

    roll = IncrementalRollup(str(tmp_path / "roll3"), KEYS, [MEASURE])

    def run():
        (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
            .writeStream.foreachBatch(
                lambda bdf, bid: roll.apply_batch(spark, bdf, batch_id=bid)
            )
            .trigger(availableNow=True)
            .start()
            .awaitTermination()
        )

    run()
    _assert_state_equals(roll.read(spark), _full_recompute(orders))
    before = _as_map(roll.read(spark))
    run()  # replay: same epochs, same app -> ledger absorbs everything
    assert _as_map(roll.read(spark)) == before


def test_concurrent_rollup_writers_lose_no_addends(spark, tmp_path):
    """Two rollup writers (different apps) race folds into one table: the
    table-level CAS makes the loser re-read and re-fold, so BOTH addends
    must land — last-write-wins without the CAS would silently drop one."""
    import threading

    orders = table(spark, SF, "orders")
    b0 = orders.filter(F.col("o_orderkey") % 2 == 0).localCheckpoint(eager=True)
    b1 = orders.filter(F.col("o_orderkey") % 2 == 1).localCheckpoint(eager=True)
    root = str(tmp_path / "croll")
    errs = []

    def writer(batch, app):
        try:
            roll = IncrementalRollup(root, KEYS, [MEASURE])
            roll.apply_batch(spark, batch, batch_id=0, app_id=app)
        except Exception as e:  # pragma: no cover - surfaced by assert
            errs.append(e)

    ts = [
        threading.Thread(target=writer, args=(b0, "even")),
        threading.Thread(target=writer, args=(b1, "odd")),
    ]
    for t in ts:
        t.start()
    for t in ts:
        t.join()
    assert not errs, errs
    roll = IncrementalRollup(root, KEYS, [MEASURE])
    _assert_state_equals(roll.read(spark), _full_recompute(orders))
