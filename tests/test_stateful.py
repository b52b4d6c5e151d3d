"""Stateful streaming: running per-user totals must converge to the batch
ground truth after the stream drains, with state carried across batches."""

from __future__ import annotations

from pyspark.sql import functions as F

from datawarehouse_project_spark.io import table
from datawarehouse_project_spark.streaming.stateful import run_stateful_stream


def test_running_user_totals_converges(spark, tmp_path):
    ev = table(spark, "/root/testdata/sf0.001", "events")
    src = str(tmp_path / "chunks")
    ev.withColumn("part", (F.col("event_id") % 3).cast("int")).write.partitionBy(
        "part"
    ).mode("overwrite").parquet(src)

    per_batch: dict[int, dict] = {}

    def sink(df, bid):
        per_batch[bid] = {r.user_id: r for r in df.collect()}

    run_stateful_stream(
        spark,
        src,
        ev.schema,
        sink,
        files_per_trigger=1,
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    assert len(per_batch) >= 2, "state must be exercised across batches"

    # latest emission per user across batches == running final state
    final: dict[int, object] = {}
    for bid in sorted(per_batch):
        final.update(per_batch[bid])

    truth = {
        r.user_id: r
        for r in spark.read.schema(ev.schema)
        .parquet(src)
        .groupBy("user_id")
        .agg(
            F.count("*").alias("n_events"),
            F.unix_micros(F.max("ts")).alias("last_seen_us"),
        )
        .collect()
    }
    assert set(final) == set(truth)
    for uid, row in truth.items():
        assert final[uid].n_events == row.n_events, uid
        assert final[uid].last_seen_us == row.last_seen_us, uid
