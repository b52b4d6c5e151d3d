"""Physical-plan regression tests: the plans that make these queries
scale-safe must keep their shape (explain-driven development, SURVEY §4.4).
Asserts structural properties, not full plan text, to stay robust across
Spark versions."""

from __future__ import annotations

import os
import re

import pytest

from datawarehouse_project_spark.catalog import all_queries, queries
from datawarehouse_project_spark.io import pin, refresh_table, table
from datawarehouse_project_spark.operators.dedup import signature_frame
from datawarehouse_project_spark.plans.star import (
    FACT_SOURCE_TABLES,
    fact,
    fact_from,
)


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def optimized_of(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


@pytest.fixture()
def joined_fact(spark, sf_dir):
    """The fact as the plain join plan (``star.fact_from`` over the
    ``io.table`` handles), pinned in place of the served fact: the plan
    an untracked ``sf_dir`` reads, and the one the execution that
    materializes a served fact runs. The pin unpersists the served fact,
    so Spark's cache does not substitute for the join."""
    joined = fact_from(*(table(spark, sf_dir, t) for t in FACT_SOURCE_TABLES))
    yield pin(spark, sf_dir, "fact", joined)
    refresh_table(spark, sf_dir, "lineitem")


def local_bytes_read(spark) -> int:
    """Bytes read so far through Hadoop's local file system (every
    parquet scan of a local table; cached blocks and shuffle files do
    not pass through it)."""
    stats = spark._jvm.org.apache.hadoop.fs.FileSystem.getGlobalStorageStatistics()
    return stats.get("file").getLong("bytesRead")


def test_fact_build_is_shuffle_free(joined_fact):
    """Dim enrichment must be a broadcast chain — zero exchanges."""
    p = plan_of(joined_fact)
    assert "Exchange hashpartitioning" not in p
    assert p.count("BroadcastHashJoin") == 4
    assert "InMemoryTableScan" not in p


def test_served_fact_reads_from_the_cache(spark, sf_dir):
    """The served fact is that join, persisted: its plan reads an
    in-memory relation whose cached plan is the same broadcast chain."""
    p = plan_of(fact(spark, sf_dir))
    assert p.split("\n")[1].startswith("+- InMemoryTableScan")
    assert "Exchange hashpartitioning" not in p
    assert p.count("BroadcastHashJoin") == 4


def test_q01_plans_topk_not_full_sort(spark, sf_dir):
    p = plan_of(queries()["q01_top_revenue_products"](spark, sf_dir))
    assert "TakeOrderedAndProject" in p
    assert "Sort " not in p.replace("TakeOrderedAndProject", "")


def test_q01_scan_prunes_columns_and_pushes_filter(spark, sf_dir, joined_fact):
    """On the joined fact (the served fact's first execution runs that
    join whole, so its scans read every fact column)."""
    df = queries()["q01_top_revenue_products"](spark, sf_dir)
    p = df._jdf.queryExecution().executedPlan().toString()
    assert "InMemoryTableScan" not in p
    # lineitem scan reads only the 4 needed of 11 columns
    m = re.search(r"ReadSchema: struct<([^>]*l_extendedprice[^>]*)>", p)
    assert m, "lineitem scan not found"
    assert len(m.group(1).split(",")) <= 4
    # the year filter reaches the orders parquet scan as a date range
    assert re.search(r"PushedFilters: \[[^\]]*GreaterThanOrEqual\(o_orderdate", p)


def test_q08_builds_without_jobs_and_scans_each_source_once(
    spark, sf_dir, joined_fact
):
    """q08's yearly totals are window sums over its half-year aggregate,
    not a join of that aggregate with a checkpointed copy of itself:
    building the frame launches no Spark job (the checkpoint form ran the
    whole fact join at build time) and the plan over the joined fact
    reads each fact source exactly once."""
    build = queries()["q08_halfyearly_vs_yearly"]
    build(spark, sf_dir)  # first touch resolves the table memos
    sc = spark.sparkContext
    sc.setJobGroup("q08-build", "q08 build")
    try:
        df = build(spark, sf_dir)
    finally:
        sc._jsc.clearJobGroup()
    assert sc.statusTracker().getJobIdsForGroup("q08-build") == []
    p = plan_of(df)
    scans = re.findall(r"FileScan parquet .*?/(\w+)\.parquet[,\]]", p)
    assert sorted(scans) == sorted(FACT_SOURCE_TABLES)
    assert "Scan ExistingRDD" not in p
    assert "InMemoryTableScan" not in p


@pytest.mark.parametrize(
    "name, max_jobs",
    [("q01_top_revenue_products", 2), ("q08_halfyearly_vs_yearly", 3)],
)
def test_served_fact_rows_read_no_source_after_first_run(
    spark, sf_dir, name, max_jobs
):
    """Served form: the row reads the fact through an in-memory scan,
    builds without jobs, and once the fact is materialized an execution
    reads no parquet at all and runs at most ``max_jobs`` jobs."""
    build = queries()[name]
    build(spark, sf_dir).collect()  # materializes the fact
    sc = spark.sparkContext
    group = f"served-{name}"
    sc.setJobGroup(group, group)
    try:
        df = build(spark, sf_dir)
        assert sc.statusTracker().getJobIdsForGroup(group) == []
        assert "InMemoryTableScan" in plan_of(df)
        before = local_bytes_read(spark)
        df.collect()
        assert local_bytes_read(spark) == before
    finally:
        sc._jsc.clearJobGroup()
    assert len(sc.statusTracker().getJobIdsForGroup(group)) <= max_jobs


def test_signature_frame_has_no_shuffle(spark, sf_dir):
    """Minhash signatures are per-row: any Exchange besides the explicit
    spread() repartition would be a regression."""
    p = plan_of(signature_frame(spark, sf_dir))
    assert "Exchange hashpartitioning" not in p
    # the only exchange is the deliberate round-robin rebalance
    assert p.count("Exchange") <= 1


def test_agg_queries_do_partial_aggregation(spark, sf_dir):
    """Map-side partial agg (two HashAggregate levels around one exchange)
    — the property that collapses 100 TB before the shuffle."""
    p = plan_of(queries()["q03_supplier_contribution"](spark, sf_dir))
    assert p.count("HashAggregate") >= 2
    assert p.count("Exchange hashpartitioning") == 1


def test_near_dup_pairs_is_bucketed_not_nested_loop(spark, sf_dir):
    """The registered near-dup path must candidate-generate via the LSH
    bucket EQUI-join — never a nested loop / cartesian over the table
    (that is the brute-force baseline's job)."""
    p = plan_of(queries()["similarity_near_dup_pairs"](spark, sf_dir))
    assert "BroadcastNestedLoopJoin" not in p
    assert "CartesianProduct" not in p


def test_partitioned_orders_scan_prunes_partitions(spark, sf_dir):
    """The year predicate over the partitioned layout must reach the scan
    as a PartitionFilter (directory-level pruning, zero I/O on other
    years) — not merely a row-level parquet filter."""
    df = all_queries()["partitioned_orders_year_agg"](spark, sf_dir)
    p = plan_of(df)
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", p)
    assert m, p
    assert "o_year" in m.group(1) and "1997" in m.group(1), m.group(1)


def test_jdbc_scan_is_partitioned(spark, sf_dir):
    """The S4 JDBC dim read must plan as a PARTITIONED JDBCRelation
    (bounded range query per partition — the paged scan), not a single
    full-table pull."""
    from datawarehouse_project_spark.sources.jdbc_scan import N_PARTITIONS

    p = plan_of(all_queries()["jdbc_nation_dim_agg"](spark, sf_dir))
    assert f"JDBCRelation(nation) [numPartitions={N_PARTITIONS}]" in p


def test_simhash_pairs_is_block_bucketed_not_nested_loop(spark, sf_dir):
    """Simhash candidates (the 64-bit production layout) must come from
    the block-split EQUI-join, never a nested loop over the corpus."""
    p = plan_of(all_queries()["dedup_simhash64_pairs"](spark, sf_dir))
    assert "BroadcastNestedLoopJoin" not in p
    assert "CartesianProduct" not in p


def test_ivf_multiprobe_is_cluster_equi_join(spark, sf_dir):
    """Multi-probe IVF must stay a (cluster_id = probe) EQUI-join after
    the query-side probe explode — probing widens the candidate set, not
    the join strategy."""
    p = plan_of(all_queries()["similarity_ivf_multiprobe_topk"](spark, sf_dir))
    assert "BroadcastNestedLoopJoin" not in p
    assert "CartesianProduct" not in p


@pytest.mark.slow  # builds EVERY catalog entry (~175 s) — slow lane
def test_no_cartesian_products_anywhere(spark, sf_dir):
    """No registered query may plan an unintended cartesian product
    (the ANN brute force is an intended broadcast nested loop)."""
    allowed = {"similarity_ann_cosine_topk", "similarity_cosine_pairs"}
    bad = []
    for name, build in all_queries().items():
        if name in allowed:
            continue
        try:
            p = plan_of(build(spark, sf_dir))
        except Exception as exc:  # pragma: no cover
            pytest.fail(f"{name} failed to plan: {exc}")
        if "CartesianProduct" in p:
            bad.append(name)
    assert not bad, f"unintended cartesian products in: {bad}"


def test_chunking_is_shuffle_free_single_generate(spark, sf_dir):
    """Document chunking is per-row work: one Generate (the posexplode of
    window starts) fused over the scan, zero exchanges beyond the
    explicit spread() rebalance — the shape that scales to any corpus."""
    from datawarehouse_project_spark.operators.textstats import (
        text_chunk_documents,
    )

    p = plan_of(text_chunk_documents(spark, sf_dir))
    assert "Exchange hashpartitioning" not in p
    assert p.count("Generate") == 1


def test_repetition_scores_partial_aggregates(spark, sf_dir):
    """Both aggregation levels of the repetition scorer must partial-agg
    map-side (HashAggregate pairs), and the final doc-level join of word
    and bigram stats keys on doc_id — no cartesian, no nested loop."""
    from datawarehouse_project_spark.operators.textstats import (
        text_repetition_scores,
    )

    p = plan_of(text_repetition_scores(spark, sf_dir))
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert p.count("HashAggregate") >= 4  # partial+final x two levels


def test_decontaminate_is_equi_join_not_pairwise(spark, sf_dir):
    """Decontamination must plan as an inverted-index EQUI-join on the
    gram (hash or broadcast), never a nested loop over document pairs —
    the property that keeps it linear in corpus size."""
    from datawarehouse_project_spark.operators.textstats import (
        text_decontaminate_vs_benchmark,
    )

    p = plan_of(text_decontaminate_vs_benchmark(spark, sf_dir))
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "Join" in p  # the gram equi-join is present


def test_gapfill_grid_is_not_a_cross_join(spark, sf_dir):
    """The dense hourly grid comes from a per-key sequence/explode (one
    Generate over the per-type span aggregate) joined back equi on
    (type, hour) — no cartesian grid build, one partitioned window for
    the forward fill."""
    from datawarehouse_project_spark.operators.events import (
        events_gapfill_hourly,
    )

    p = plan_of(events_gapfill_hourly(spark, sf_dir))
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert p.count("Generate") == 1
    assert "Window" in p


def test_top_bigrams_plans_topk_and_partial_agg(spark, sf_dir):
    """Heavy hitters must take the two-stage shape: map-side partial
    count + one exchange, and the final cut as TakeOrderedAndProject —
    never a global sort of the full frequency table."""
    p = plan_of(all_queries()["text_top_bigrams"](spark, sf_dir))
    assert "TakeOrderedAndProject" in p
    assert "Sort " not in p.replace("TakeOrderedAndProject", "")
    assert p.count("HashAggregate") >= 2
    assert p.count("Exchange hashpartitioning") == 1


def test_pii_redaction_is_scan_project_only(spark, sf_dir):
    """PII scrub is per-row regex work — any shuffle besides the
    deliberate spread() round-robin rebalance is a regression."""
    p = plan_of(all_queries()["text_pii_redaction"](spark, sf_dir))
    assert "Exchange hashpartitioning" not in p
    assert p.count("Exchange") <= 1
    assert "Join" not in p


def test_pack_sequences_single_window_exchange(spark, sf_dir):
    """Concat-and-chop packing pays exactly one hash exchange (the
    per-lang running-sum window); the boundary-span explode must stay a
    Generate, not a join."""
    p = plan_of(all_queries()["text_pack_sequences"](spark, sf_dir))
    assert p.count("Exchange hashpartitioning") == 1
    assert "Generate explode" in p
    assert "Join" not in p


def test_shard_assignments_single_exchange_no_join(spark, sf_dir):
    """Shard assignment is one hash-partition exchange (the one the shard
    writer pays anyway) + a per-shard sort — no join, no extra shuffle."""
    p = plan_of(all_queries()["corpus_shard_assignments"](spark, sf_dir))
    assert p.count("Exchange hashpartitioning") == 1
    assert "Join" not in p


def test_incremental_lsh_pairs_bucket_joins_only(spark, sf_dir):
    """Both incremental joins (batch x store, batch x batch) must be
    (band, band_key) equi-joins — a nested loop against the store would
    re-pair history and defeat the operator's O(batch) contract."""
    p = plan_of(all_queries()["dedup_incremental_lsh_pairs"](spark, sf_dir))
    assert "BroadcastNestedLoopJoin" not in p
    assert "CartesianProduct" not in p


def test_fullouter_recon_preaggregates_before_join(spark, sf_dir):
    """Both sides collapse to one row per customer BEFORE the full-outer
    join (partial agg present); the join itself must be an equi
    sort-merge/hash join, never a nested loop."""
    p = plan_of(all_queries()["fullouter_yearly_customer_recon"](spark, sf_dir))
    assert "BroadcastNestedLoopJoin" not in p
    assert "FullOuter" in p
    assert p.count("HashAggregate") >= 4  # partial+final per side


def test_funnel_is_one_pass_chained_windows(spark, sf_dir):
    """r22 shape: the funnel is ONE events scan through three chained
    unordered windows on a single user_id exchange, then a per-user
    reduce that rides the same partitioning — no joins at all (the old
    6-scan CTE shape re-read events per step). The pushed In filter on
    event_type keeps non-funnel events out of the shuffle."""
    df = all_queries()["events_funnel_conversion"](spark, sf_dir)
    p = plan_of(df)
    assert p.count("Window") == 3
    for join in (
        "SortMergeJoin",
        "BroadcastHashJoin",
        "ShuffledHashJoin",
        "CartesianProduct",
        "BroadcastNestedLoopJoin",
    ):
        assert join not in p
    # one user_id exchange + the final single-row combine
    assert len(re.findall(r"Exchange hashpartitioning", p)) == 1
    fmt = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    assert fmt.count("Scan parquet") == 2  # one scan: tree + detail section
    assert "In(event_type" in fmt


def test_retention_partial_aggregates(spark, sf_dir):
    """Retention's distinct and first-touch aggregates must collapse
    map-side before their exchanges."""
    p = plan_of(all_queries()["events_weekly_retention"](spark, sf_dir))
    assert "CartesianProduct" not in p
    assert p.count("HashAggregate") >= 4


def test_scd2_history_single_exchange_no_joins(spark, sf_dir):
    """The whole SCD2 build (change flag, run numbering, per-run agg,
    valid_to lead) must reuse ONE shuffle on user_id — the agg and both
    downstream windows are satisfied by the same clustering."""
    p = plan_of(all_queries()["scd2_user_state_history"](spark, sf_dir))
    assert len(re.findall(r"Exchange hashpartitioning", p)) == 1
    for join in ("SortMergeJoin", "BroadcastHashJoin", "CartesianProduct"):
        assert join not in p


def test_scd2_asof_is_union_merge_not_range_join(spark, sf_dir):
    """The temporal dimension join must plan as union + keyed window —
    never a per-fact interval join (no sort-merge/hash join between
    facts and history; the only nested loop is the 1-row bounds
    broadcast). At sf1 the naive interval join measures 51 s in DuckDB
    vs 0.8 s for this plan."""
    p = plan_of(all_queries()["scd2_dim_asof_orders"](spark, sf_dir))
    assert "Union" in p
    assert "SortMergeJoin" not in p
    assert "BroadcastHashJoin" not in p
    assert "CartesianProduct" not in p
    assert p.count("BroadcastNestedLoopJoin") == 1  # 1-row max(user_id) bound
    assert len(re.findall(r"Exchange hashpartitioning", p)) <= 2


def test_temperature_mixing_broadcasts_rate_map(spark, sf_dir):
    """Derived rates must come back onto the document scan as a
    broadcast — the corpus-side filter adds no shuffle."""
    p = plan_of(all_queries()["sample_lang_temperature"](spark, sf_dir))
    assert p.count("BroadcastHashJoin") >= 1
    assert "SortMergeJoin" not in p
    assert "CartesianProduct" not in p


def test_rolling_24h_single_window_exchange(spark, sf_dir):
    """The RANGE-framed trailing window must be one keyed exchange plus a
    per-partition sliding frame — no self-join materializing the frame."""
    p = plan_of(all_queries()["events_rolling_24h"](spark, sf_dir))
    assert len(re.findall(r"Exchange hashpartitioning", p)) == 1
    for join in ("SortMergeJoin", "BroadcastHashJoin", "CartesianProduct"):
        assert join not in p


def test_ewma_plans_jvm_fold_no_python(spark, sf_dir):
    """The production EWMA must stay entirely JVM-side: the Catalyst
    aggregate() HOF over a sorted collect_list — one keyed exchange, no
    Arrow/Python node anywhere (the round-9 rewrite measured 2.73 →
    0.40 s at sf1 against the grouped-map form)."""
    p = plan_of(all_queries()["events_ewma_by_user"](spark, sf_dir))
    assert "FlatMapGroupsInPandas" not in p and "Python" not in p
    assert len(re.findall(r"Exchange hashpartitioning", p)) == 1


def test_ewma_grouped_map_twin_plans_pandas(spark, sf_dir):
    """The retained applyInPandas exemplar must plan as one Arrow
    grouped-map node after one keyed exchange — the sanctioned shape."""
    p = plan_of(all_queries()["events_ewma_grouped_map"](spark, sf_dir))
    assert "FlatMapGroupsInPandas" in p
    assert len(re.findall(r"Exchange hashpartitioning", p)) == 1


def test_lift_rules_consumers_read_checkpointed_basket(spark, sf_dir):
    """affinity_lift_rules eagerly checkpoints the distinct basket frame,
    so its four consumer subtrees (pair self-join a/b sides, per-product
    counts, grand total) must all read the materialized blocks — the
    final plan contains NO parquet scan (the fact scan + dedup shuffle
    ran exactly once, at build time) and at least four checkpoint scans."""
    p = plan_of(all_queries()["affinity_lift_rules"](spark, sf_dir))
    assert "FileScan parquet" not in p, "basket subtree re-ran the fact scan"
    assert len(re.findall(r"Scan ExistingRDD", p)) >= 4


def test_runtime_bloom_filter_injects_in_shuffle_join_regime(spark, sf_dir):
    """100 TB posture evidence for runtime semi-join reduction: at toy
    scale a selectively-filtered dim broadcasts (no bloom needed — the
    hash table IS the filter); in the at-scale regime (fact side above
    the application-side scan threshold, dim side shuffled) Spark
    injects a bloom filter that prunes fact rows BEFORE the shuffle.
    Asserting both regimes pins that the engine's defaults
    (`spark.sql.optimizer.runtime.bloomFilter.enabled`, on in
    session.prepare's base session) deliver the reduction exactly when
    a 1000-executor cluster would need it."""
    from pyspark.sql import functions as F

    def build():
        # rebuilt per regime: a DataFrame pins its QueryExecution at first
        # plan access, so conf changes need a fresh frame
        part = spark.read.parquet(f"{sf_dir}/part.parquet").filter(
            F.col("p_type").startswith("STANDARD")
        )
        li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        return (
            li.join(part, li.l_partkey == part.p_partkey)
            .groupBy("p_type")
            .agg(F.sum("l_quantity").alias("q"))
        )

    assert spark.conf.get("spark.sql.optimizer.runtime.bloomFilter.enabled") == "true"
    # toy regime: broadcast, no bloom
    p = plan_of(build())
    assert "BroadcastHashJoin" in p and "might_contain" not in p
    # at-scale regime: force the size relationships a 100 TB fact has
    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "1KB",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        p = plan_of(build())
        assert "SortMergeJoin" in p or "ShuffledHashJoin" in p
        assert "might_contain" in p, "bloom filter not injected"
    finally:
        for k in confs:
            spark.conf.unset(k)


def test_ivf_quantized_is_cluster_equi_join(spark, sf_dir):
    """The composed IVF+int8 operator must keep the parent IVF shape:
    a (cluster_id = probe) equi-join, never a nested loop."""
    p = plan_of(all_queries()["similarity_ivf_quantized_topk"](spark, sf_dir))
    assert "BroadcastNestedLoopJoin" not in p
    assert "CartesianProduct" not in p


def test_corpus_select_single_partitioned_window_no_global_sort(spark, sf_dir):
    """Token-budget selection must plan ONE lang-partitioned window (the
    cumulative token sum) and no global (un-partitioned) sort — the
    parallel unit is a language slice."""
    p = plan_of(all_queries()["corpus_select_token_budget"](spark, sf_dir))
    assert len(re.findall(r"Window ", p)) == 1
    assert "partial_sum" not in p.split("Window")[0]  # window is the cumsum
    for m in re.finditer(r"Sort \[([^\]]*)\],\s*(\w+)", p):
        # every sort is the window's local per-partition sort
        assert "false" in m.group(2).lower() or "global=false" in p, p


def test_rfm_scaled_plans_no_exchange_after_agg(spark, sf_dir):
    """The RFM scale twin: one keyed aggregation exchange (the customer
    rollup) and nothing else — the quantile cuts are literals, scoring
    is a projection."""
    p = plan_of(all_queries()["rfm_customer_segments_scaled"](spark, sf_dir))
    assert "Window" not in p
    assert len(re.findall(r"Exchange hashpartitioning", p)) == 1


def test_sketch_rollup_partial_aggregates_registers(spark, sf_dir):
    """Daily HLL sketches must partial-aggregate map-side (two
    ObjectHashAggregate levels around one exchange): only registers
    shuffle, never user ids — the property that makes the pre-aggregate
    O(days), not O(users)."""
    p = plan_of(all_queries()["events_daily_sketch_rollup"](spark, sf_dir))
    assert p.count("ObjectHashAggregate") >= 2, p
    assert len(re.findall(r"Exchange hashpartitioning", p)) == 1


def test_feed_upsert_shape_and_jobless_snapshot_reads(spark, feed_dir, tmp_path, monkeypatch):
    """The feed read_transactions -> enrich_batch -> upsert over a stored
    snapshot: the incoming side keeps the ingest dedup's single
    hashpartitioning(order_id) exchange, the incumbent side is a bare
    parquet scan, and the merge's one exchange sits above the Union. The
    commit stored its schema, so neither the upsert's planning nor a
    snapshot read runs a job before an action."""
    from pyspark.sql import functions as F

    from datawarehouse_project_spark.sources.csv_ingest import (
        read_customers,
        read_products,
        read_transactions,
    )
    from datawarehouse_project_spark.sources.sinks import VersionedParquetTable
    from datawarehouse_project_spark.streaming.meshjoin import enrich_batch

    sc = spark.sparkContext
    tracker = sc.statusTracker()
    dims = {
        "customer": (read_customers(spark, f"{feed_dir}/customers.csv"), "customer_id"),
        "product": (read_products(spark, f"{feed_dir}/products.csv"), "product_id"),
    }
    table = VersionedParquetTable(str(tmp_path / "fact"))
    merges = []
    commit = VersionedParquetTable._try_commit

    def capture(self, merged, ledger, base_version):
        merges.append((plan_of(merged), tracker.getJobIdsForGroup(f"feed-{len(merges)}")))
        return commit(self, merged, ledger, base_version)

    monkeypatch.setattr(VersionedParquetTable, "_try_commit", capture)
    try:
        for n in (1, 2):
            sc.setJobGroup(f"feed-{n - 1}", "feed upsert up to its write")
            txns = read_transactions(spark, f"{feed_dir}/transactions_{n}.csv")
            enriched = enrich_batch(txns, dims).withColumn(
                "sale", (F.col("quantity") * F.col("product_price")).cast("decimal(10,2)")
            )
            table.upsert(spark, enriched, pk=["order_id"], txn=("feed", n))
        sc.setJobGroup("vpt-read", "snapshot read with a stored schema")
        table.read(spark)
        read_jobs = tracker.getJobIdsForGroup("vpt-read")
        # control: without the stored schema, parquet inference runs a job
        sc.setJobGroup("vpt-read-inferred", "snapshot read by inference")
        os.remove(os.path.join(table.current_path(), "_schema"))
        table.read(spark)
        inferred_jobs = tracker.getJobIdsForGroup("vpt-read-inferred")
    finally:
        sc._jsc.clearJobGroup()
    plan, jobs_before_write = merges[-1]
    assert jobs_before_write == [] and read_jobs == [] and inferred_jobs != []

    lines = plan.splitlines()
    u = next(i for i, line in enumerate(lines) if line.lstrip(" :+-").startswith("Union"))
    col = lines[u].index("Union")
    second = next(i for i in range(u + 1, len(lines)) if lines[i][col : col + 2] == "+-")
    above = "\n".join(lines[:u])
    incoming, incumbent = sorted(
        ["\n".join(lines[u + 1 : second]), "\n".join(lines[second:])],
        key=lambda side: "FileScan csv" not in side,
    )
    assert above.count("Exchange") == 1 and "Exchange hashpartitioning(order_id" in above
    assert "FileScan parquet" in incumbent and "Exchange" not in incumbent
    assert len(re.findall(r"Exchange hashpartitioning\(order_id#\d+, \d+\)", incoming)) == 1


#: The LLM-pipeline operator rows of the benchmark's query mix, each built
#: as one SQL statement.
OPERATOR_ROWS = [
    "dedup_ngram_jaccard_capped",
    "lexical_tfidf_cosine_pairs",
    "similarity_ann_cosine_topk",
    "text_stats_by_lang",
    "events_funnel_conversion",
]
_SHUFFLE = re.compile(
    r"(?<!Broadcast)Exchange (hashpartitioning|SinglePartition|RoundRobinPartitioning|rangepartitioning)"
)


def test_operator_rows_build_jobless_and_shuffle_once_per_key(spark, sf_dir):
    """The operator rows build without launching a job. The posting-list
    kernels make their grams with a codegen'd explode (no interpreted
    lambda), take no round-robin pre-shuffle, and shuffle once per key:
    dedup on shingle, doc, shingle and pair (4); tfidf on term, doc,
    term and pair, plus the 1-row corpus count (5). text_stats runs its
    codegen'd per-row work straight off the scan. The similarity row
    spreads only its candidate side: the few query rows it broadcasts
    are read straight from the table, not round-robin shuffled first."""
    builders = all_queries()
    for name in OPERATOR_ROWS:
        builders[name](spark, sf_dir)  # first touch resolves the table memos
    sc = spark.sparkContext
    sc.setJobGroup("operator-build", "operator rows build")
    try:
        plans = {n: plan_of(builders[n](spark, sf_dir)) for n in OPERATOR_ROWS}
    finally:
        sc._jsc.clearJobGroup()
    assert sc.statusTracker().getJobIdsForGroup("operator-build") == []
    for name in OPERATOR_ROWS[:2] + ["text_stats_by_lang"]:
        assert "RoundRobinPartitioning" not in plans[name], name
        assert "lambdafunction" not in plans[name], name
    assert len(_SHUFFLE.findall(plans["dedup_ngram_jaccard_capped"])) <= 4
    assert len(_SHUFFLE.findall(plans["lexical_tfidf_cosine_pairs"])) <= 5
    broadcast = _subtrees(plans["similarity_ann_cosine_topk"], "BroadcastExchange")
    assert broadcast and not any("RoundRobinPartitioning" in b for b in broadcast)


def _subtrees(plan: str, node: str) -> list[str]:
    """The lines below each ``node`` line of an explain tree, one string
    per occurrence."""

    def depth(line: str) -> int:
        return len(line) - len(line.lstrip(" :+-"))

    lines = plan.splitlines()
    out = []
    for i, line in enumerate(lines):
        if line.lstrip(" :+-").startswith(node):
            end = i + 1
            while end < len(lines) and depth(lines[end]) > depth(line):
                end += 1
            out.append("\n".join(lines[i + 1 : end]))
    return out


def test_text_retrievers_broadcast_the_query_side(spark, sf_dir):
    """Both text retrievers hint three broadcasts: the query-term
    restriction of the corpus tokens, the qterms probe and the 1-row
    corpus stats (the broadcast-query contract)."""
    from pyspark.sql import functions as F

    from datawarehouse_project_spark.operators.retrieval import (
        LEXICAL_QUERIES,
        lexical_topk,
        tfidf_dot_topk,
    )

    docs = table(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    q = spark.createDataFrame(LEXICAL_QUERIES, "query_id bigint, qtext string")
    for retriever in (lexical_topk, tfidf_dot_topk):
        analyzed = retriever(docs, q)._jdf.queryExecution().analyzed().toString()
        assert analyzed.count("ResolvedHint") == 3, retriever.__name__
