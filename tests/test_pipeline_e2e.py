"""End-to-end LLM-corpus pipeline: the real operators chained the way a
training-data job would run them — redact -> decontaminate -> near-dup
dedup (keep best quality) -> split -> pack -> shard -> write. One test,
global invariants at every stage; every stage is an operator that is
individually oracle-gated elsewhere, so this pins the COMPOSITION."""

from __future__ import annotations

from collections import defaultdict

from pyspark.sql import functions as F

from datawarehouse_project_spark.io import table
from datawarehouse_project_spark.operators.dedup import dedup_keep_best_quality
from datawarehouse_project_spark.operators.sampling import (
    N_SHARDS,
    corpus_shard_assignments,
)
from datawarehouse_project_spark.operators.textstats import (
    BENCHMARK_SOURCE,
    pii_redact_sql,
    text_decontaminate_vs_benchmark,
)


import pytest

# The whole module runs in the slow lane (`pytest -m slow`).
# The fast lane checks each stage's own row against its sf0.001 oracle;
# the composition of the stages and the invariants between them are
# checked only here.
pytestmark = pytest.mark.slow


def test_llm_corpus_pipeline_end_to_end(spark, sf_dir, tmp_path):
    docs = table(spark, sf_dir, "documents")
    n_docs = docs.count()

    # 1. PII scrub (no-op on this corpus, but the column flows through).
    scrubbed = docs.selectExpr(
        "doc_id", "lang", "source", f"{pii_redact_sql('text')} AS text"
    )

    # 2. Decontaminate: drop the benchmark-source docs themselves AND any
    #    corpus doc sharing an 8-gram with them.
    contaminated = text_decontaminate_vs_benchmark(spark, sf_dir).select(
        "doc_id"
    )
    clean = scrubbed.filter(F.col("source") != BENCHMARK_SOURCE).join(
        contaminated, "doc_id", "left_anti"
    )
    n_bench = docs.filter(F.col("source") == BENCHMARK_SOURCE).count()
    n_contam = contaminated.count()
    n_clean = clean.count()
    assert n_clean == n_docs - n_bench - n_contam  # contaminated ⊄ benchmark

    # 3. Near-dup dedup, keeping the best-quality member per cluster.
    kept_ids = {
        r["doc_id"]
        for r in dedup_keep_best_quality(spark, sf_dir)
        .filter("kept")
        .collect()
    }
    deduped = clean.filter(F.col("doc_id").isin(list(kept_ids)))
    n_dedup = deduped.count()
    assert n_dedup <= n_clean

    # 4. Deterministic 90/5/5 split (same salted-hash expression as the
    #    registered census query).
    split = deduped.withColumn(
        "bucket",
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("split:"), F.col("doc_id").cast("string"))),
                1,
                15,
            ),
            16,
            10,
        ).cast("bigint")
        % 1000,
    ).withColumn(
        "split",
        F.when(F.col("bucket") < 900, "train")
        .when(F.col("bucket") < 950, "val")
        .otherwise("test"),
    )
    per_split = {
        r["split"]: r["n"]
        for r in split.groupBy("split").agg(F.count("*").alias("n")).collect()
    }
    assert sum(per_split.values()) == n_dedup  # exhaustive + disjoint

    # 5. Pack the train docs per lang (concat-and-chop at a 64-token
    #    budget) and check token conservation over the pipeline subset.
    train = split.filter(F.col("split") == "train")
    from pyspark.sql import Window

    B = 64
    w = (
        Window.partitionBy("lang")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    tok = train.selectExpr(
        "lang", "doc_id", "size(split(lower(trim(text)), '\\\\s+')) AS n_tokens"
    ).filter("n_tokens >= 1")
    cum = tok.withColumn(
        "cum_end", F.sum("n_tokens").over(w).cast("bigint")
    ).withColumn("cum_start", F.col("cum_end") - F.col("n_tokens"))
    spans = cum.selectExpr(
        "lang",
        "doc_id",
        "cum_start",
        "cum_end",
        f"explode(sequence(CAST(floor(cum_start / {B}) AS BIGINT), "
        f"CAST(floor((cum_end - 1) / {B}) AS BIGINT))) AS pack_id",
    ).selectExpr(
        "lang",
        "doc_id",
        "pack_id",
        f"CAST(least(cum_end, (pack_id + 1) * {B}) "
        f"- greatest(cum_start, pack_id * {B}) AS BIGINT) AS n_tok",
    ).collect()
    total_tokens = sum(r["n_tokens"] for r in tok.collect())
    assert sum(r["n_tok"] for r in spans) == total_tokens
    packs = defaultdict(int)
    for r in spans:
        packs[(r["lang"], r["pack_id"])] += r["n_tok"]
    assert all(v <= B for v in packs.values())

    # 6. Shard + write: assign shards over the full corpus, restrict to
    #    the pipeline's surviving train docs, write partitioned by shard,
    #    read back and reconcile counts.
    shards = corpus_shard_assignments(spark, sf_dir)
    out = str(tmp_path / "train_shards")
    train_sharded = train.join(shards, "doc_id").select(
        "doc_id", "lang", "text", "shard_id"
    )
    train_sharded.write.partitionBy("shard_id").mode("overwrite").parquet(out)
    back = spark.read.parquet(out)
    assert back.count() == train.count()
    seen_shards = {r["shard_id"] for r in back.select("shard_id").distinct().collect()}
    assert seen_shards <= set(range(N_SHARDS))

    # 7. Hygiene: nothing contaminated or benchmark-sourced survived into
    #    the written training set.
    bad = back.join(contaminated, "doc_id", "inner").count()
    assert bad == 0
    bench_ids = docs.filter(F.col("source") == BENCHMARK_SOURCE).select("doc_id")
    assert back.join(bench_ids, "doc_id", "inner").count() == 0


def test_warehouse_pipeline_scd2_end_to_end(spark, sf_dir):
    """Warehouse-side composition: star fact -> SCD2 dimension history
    from the change log -> temporal as-of enrichment of orders ->
    revenue rolled up by the dimension state in effect when each order
    was placed. Every stage is an oracle-gated operator; this pins that
    the COMPOSITION conserves revenue and accounts for every order
    exactly once."""
    from datawarehouse_project_spark.catalog import all_queries
    from datawarehouse_project_spark.plans.star import fact

    q = all_queries()
    asof = q["scd2_dim_asof_orders"](spark, sf_dir)

    # revenue per order from the enriched star fact (reference shape:
    # order_id / sale)
    f = fact(spark, sf_dir)
    rev = f.groupBy(F.col("order_id").alias("o_orderkey")).agg(
        F.sum("sale").cast("double").alias("revenue")
    )
    enriched = asof.join(rev, "o_orderkey", "left")

    # each probed order appears exactly once after enrichment
    assert enriched.count() == asof.count()
    assert (
        enriched.groupBy("o_orderkey").count().filter("count > 1").count() == 0
    )

    by_state = enriched.groupBy("state_at_order").agg(
        F.sum("revenue").alias("revenue"), F.count("*").alias("n_orders")
    )
    rows = by_state.collect()
    # revenue conservation across dimension states (NULL state = orders
    # predating the user's first recorded state — still accounted)
    total_grouped = sum(r.revenue or 0.0 for r in rows)
    total_direct = (
        enriched.agg(F.sum("revenue")).first()[0] or 0.0
    )
    assert abs(total_grouped - total_direct) < 1e-6 * max(abs(total_direct), 1.0)
    assert sum(r.n_orders for r in rows) == asof.count()
    # the dimension attribute really varies (the rollup is non-trivial)
    assert len(rows) >= 3


def test_warehouse_loop_stream_dq_cdc_rollup_exactly_once(spark, sf_dir, tmp_path):
    """The composed production loop in ONE foreachBatch (the reference's
    ETL story, MeshJoin.java:25-53, upgraded to warehouse semantics):
    stream-ingest -> dq_quarantine_batch (clean rows to the versioned
    fact, violations quarantined) -> diff_versions CDC feed off the fact
    -> apply_changes into a downstream replica -> IncrementalRollup
    refresh from the same feed. Each stage rides its own snapshot-ledger
    txn, so replaying the WHOLE stream (crash recovery without a
    checkpoint — the worst case) must leave every one of the four tables
    bit-identical: at-least-once replay, exactly-once effect,
    end-to-end through four chained writers."""
    import pyspark.sql.types as T

    from datawarehouse_project_spark.io import table
    from datawarehouse_project_spark.operators.incremental import (
        IncrementalRollup,
    )
    from datawarehouse_project_spark.operators.quality import (
        dq_quarantine_batch,
    )
    from datawarehouse_project_spark.sources.sinks import (
        VersionedParquetTable,
        apply_changes,
        diff_versions,
    )

    # deterministic micro-batched source: events split into 4 files
    src = str(tmp_path / "src")
    ev = table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value"
    )
    ev.withColumn("part", (F.col("event_id") % 4).cast("int")).write.partitionBy(
        "part"
    ).mode("overwrite").parquet(src)
    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
        ]
    )

    pk = ["event_id"]
    checks = {
        "null_value": F.col("value").isNull(),
        "nonpositive_value": F.col("value") <= 0,
    }
    fact = VersionedParquetTable(str(tmp_path / "fact"))
    quarantine = VersionedParquetTable(str(tmp_path / "quarantine"))
    replica = VersionedParquetTable(str(tmp_path / "replica"))
    rollup = IncrementalRollup(
        str(tmp_path / "rollup"), keys=["event_type"], sum_cols=["value"]
    )

    def loop_batch(bdf, bid):
        bdf = bdf.select("event_id", "user_id", "event_type", "value")
        routed = dq_quarantine_batch(
            spark, bdf, checks, pk, fact, quarantine, txn=("loop", bid)
        )
        fact_v = routed["fact_version"]
        synced = replica.last_txn("sync") or 0
        if fact_v > synced:
            feed = diff_versions(spark, fact, pk, synced, fact_v)
            apply_changes(spark, feed, replica, pk, txn=("sync", fact_v))
            # insert-only source (unique event_ids), so the feed's insert
            # rows ARE the batch's clean rows and the additive fold is exact
            rollup.apply_batch(
                spark,
                feed.filter(F.col("_change_type") == "insert").select(
                    "event_type", "value"
                ),
                batch_id=fact_v,
                app_id="rollup",
            )

    def run_stream():
        (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
            .writeStream.foreachBatch(loop_batch)
            .trigger(availableNow=True)
            .start()
            .awaitTermination()
        )

    run_stream()

    def snap(vt):
        df = vt.read(spark)
        return (
            vt.current_version(),
            sorted(map(str, df.collect())) if df is not None else [],
        )

    # correctness of each stage against the batch truth
    clean_want = sorted(
        map(
            str,
            ev.filter(
                F.col("value").isNotNull() & (F.col("value") > 0)
            ).collect(),
        )
    )
    fact_v, fact_rows = snap(fact)
    assert fact_rows == clean_want
    n_dirty = ev.filter(
        F.col("value").isNull() | (F.col("value") <= 0)
    ).count()
    qdf = quarantine.read(spark)
    assert qdf.count() == n_dirty
    assert set(qdf.select(F.explode("violations")).toPandas().iloc[:, 0]) <= {
        "null_value",
        "nonpositive_value",
    }
    # replica is value-identical to the fact it syncs
    _, rep_rows = snap(replica)
    assert rep_rows == fact_rows
    # rollup equals a from-scratch GROUP BY of the clean rows
    want_rollup = sorted(
        (r.event_type, round(r.s, 6), r.n)
        for r in ev.filter(F.col("value").isNotNull() & (F.col("value") > 0))
        .groupBy("event_type")
        .agg(F.sum("value").alias("s"), F.count("*").alias("n"))
        .collect()
    )
    got_rollup = sorted(
        (r.event_type, round(r.sum_value, 6), r.n_rows)
        for r in rollup.read(spark).collect()
    )
    assert got_rollup == want_rollup

    # full replay with no checkpoint: every table's version AND contents
    # must be unchanged — the ledgers absorb all four writers
    before = (snap(fact), snap(quarantine), snap(replica), snap(rollup.table))
    run_stream()
    after = (snap(fact), snap(quarantine), snap(replica), snap(rollup.table))
    assert after == before
