"""Sink tests: partition pruning actually prunes, upsert is
last-write-wins and idempotent."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from datawarehouse_project_spark.io import table
from datawarehouse_project_spark.sources.sinks import (
    upsert_parquet,
    write_partitioned,
)

# Heavy write-path tests (streaming, concurrency, compaction, CDC) are
# marked `slow` one by one; the single-writer commit, the upsert merge's
# equivalence with union-then-window, and the stored-schema reads run in
# the fast lane.


@pytest.mark.slow
def test_write_partitioned_prunes(spark, sf_dir, tmp_path):
    path = str(tmp_path / "fact_by_year")
    li = table(spark, sf_dir, "orders").withColumn(
        "order_year", F.year("o_orderdate")
    )
    write_partitioned(li, path, ["order_year"])
    back = spark.read.parquet(path)
    pruned = back.filter(F.col("order_year") == 1997)
    plan = pruned.queryExecution if False else pruned._jdf.queryExecution().executedPlan().toString()
    assert pruned.count() == li.filter(F.col("order_year") == 1997).count()
    # partition filter present => only the 1997 directory is scanned
    assert "order_year" in plan


@pytest.mark.slow
def test_upsert_parquet_lastwins_idempotent(spark, tmp_path):
    path = str(tmp_path / "target")
    v1 = spark.createDataFrame(
        [(1, "a"), (2, "b")], ["pk", "val"]
    )
    upsert_parquet(spark, v1, path, ["pk"])
    v2 = spark.createDataFrame(
        [(2, "b2"), (3, "c")], ["pk", "val"]
    )
    upsert_parquet(spark, v2, path, ["pk"])
    got = {r.pk: r.val for r in spark.read.parquet(path).collect()}
    assert got == {1: "a", 2: "b2", 3: "c"}
    # idempotent replay
    upsert_parquet(spark, v2, path, ["pk"])
    again = {r.pk: r.val for r in spark.read.parquet(path).collect()}
    assert again == got


@pytest.mark.slow
def test_streaming_to_upsert_sink_exactly_once_effect(spark, tmp_path):
    """Integration: micro-batched stream -> foreachBatch upsert_parquet.
    Replaying the WHOLE stream into the same target (crash-recovery
    without checkpoint, the worst case) must leave the target identical —
    exactly-once EFFECT through the idempotent merge, the contract the
    reference's ON DUPLICATE KEY UPDATE provided."""
    import pyspark.sql.types as T

    from datawarehouse_project_spark.sources.sinks import upsert_parquet

    schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("event_id", T.LongType()),
            T.StructField("value", T.DoubleType()),
        ]
    )
    src = str(tmp_path / "src")
    rows = [(u, e, float(e)) for e in range(20) for u in (e % 3,)]
    df = spark.createDataFrame(rows, schema)
    df.withColumn("part", (F.col("event_id") % 3).cast("int")).write.partitionBy(
        "part"
    ).mode("overwrite").parquet(src)

    target = str(tmp_path / "target")

    def run_once():
        (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
            .writeStream.foreachBatch(
                lambda bdf, bid: upsert_parquet(spark, bdf, target, ["event_id"])
            )
            .trigger(availableNow=True)
            .start()
            .awaitTermination()
        )

    run_once()
    first = sorted(map(str, spark.read.parquet(target).collect()))
    assert len(first) == 20
    run_once()  # full replay, no checkpoint: same target state
    assert sorted(map(str, spark.read.parquet(target).collect())) == first


# ---------------------------------------------------------------------------
# VersionedParquetTable: the manifest-pointer atomic upsert (VERDICT r3-r6
# task). Concurrency is exercised with REAL threads racing real commits on
# one SparkSession (thread-safe job submission is a Spark guarantee).


def _vt_rows(spark, vt):
    df = vt.read(spark)
    return {r["k"]: r["v"] for r in df.collect()} if df is not None else {}


def test_versioned_upsert_single_writer(spark, tmp_path):
    from datawarehouse_project_spark.sources.sinks import VersionedParquetTable

    vt = VersionedParquetTable(str(tmp_path / "t"))
    assert vt.read(spark) is None and vt.current_version() == 0
    v1 = vt.upsert(spark, spark.createDataFrame([(1, "a"), (2, "b")], ["k", "v"]), ["k"])
    v2 = vt.upsert(spark, spark.createDataFrame([(2, "B"), (3, "c")], ["k", "v"]), ["k"])
    assert (v1, v2) == (1, 2)
    assert _vt_rows(spark, vt) == {1: "a", 2: "B", 3: "c"}
    # snapshot isolation: version 1's dir is untouched by version 2
    with open(str(tmp_path / "t" / "_commits" / "1")) as fh:
        import os

        v1_dir = str(tmp_path / "t" / "_versions" / fh.read().strip())
    old = {r["k"]: r["v"] for r in spark.read.parquet(v1_dir).collect()}
    assert old == {1: "a", 2: "b"}


def _union_then_window(incumbent, incoming, pk):
    """Reference form of upsert's merge: one last-wins window over
    incumbent UNION incoming, each side aligned to the union of columns
    with typed NULLs by a full select."""
    from datawarehouse_project_spark.sources.csv_ingest import dedup_last_wins

    cols = incoming.columns + [c for c in incumbent.columns if c not in incoming.columns]

    def aligned(df, other):
        return df.select(
            *[
                c if c in df.columns else F.lit(None).cast(other.schema[c].dataType).alias(c)
                for c in cols
            ]
        )

    return dedup_last_wins(
        aligned(incumbent, incoming)
        .withColumn("_ordinal", F.lit(-1).cast("bigint"))
        .unionByName(
            aligned(incoming, incumbent).withColumn("_ordinal", F.monotonically_increasing_id())
        ),
        pk,
        ordinal="_ordinal",
    ).drop("_ordinal")


@pytest.mark.parametrize("source", ["read_transactions", "plain"])
def test_upsert_merge_equals_union_then_window(spark, tmp_path, feed_dir, source):
    """upsert commits exactly the rows of the union-then-window formula
    over a stored snapshot: duplicate PKs within the batch, NULL PKs, PKs
    colliding with the incumbent and an added column. The
    read_transactions batch arrives hash-partitioned on its PK by the
    ingest dedup; the plain one arrives unpartitioned."""
    from datawarehouse_project_spark.sources.csv_ingest import read_transactions
    from datawarehouse_project_spark.sources.sinks import VersionedParquetTable

    if source == "plain":
        pk = ["k"]
        first = spark.createDataFrame(
            [(k, f"a{k}") for k in range(200)] + [(None, "a-null")], "k long, v string"
        )
        second = spark.createDataFrame(
            [(k, f"b{k}-{j}", j) for j in range(2) for k in range(150, 260)]
            + [(None, "b-null-0", 0), (None, "b-null-1", 1)],
            "k long, v string, tag int",
        )
    else:
        pk = ["order_id"]
        first = read_transactions(spark, f"{feed_dir}/transactions_1.csv")
        second = read_transactions(spark, f"{feed_dir}/transactions_2.csv").withColumn(
            "tag", F.length("order_id")
        )
    t = VersionedParquetTable(str(tmp_path / "t"))
    t.upsert(spark, first, pk)
    expected = _union_then_window(t.read(spark), second, pk).collect()
    t.upsert(spark, second, pk)
    got = t.read(spark).collect()
    assert sorted(map(repr, got)) == sorted(map(repr, expected))
    assert len(got) > len(first.collect())  # new keys landed beside the incumbent
    if source == "plain":
        rows = {r.k: (r.v, r.tag) for r in got}
        assert rows[150] == ("b150-1", 1) and rows[None] == ("b-null-1", 1)
        assert rows[10] == ("a10", None)


def test_versioned_read_uses_stored_schema(spark, tmp_path):
    """Snapshot reads take the schema the commit stored in ``_schema``
    and see exactly what parquet inference sees, for every column kind;
    a snapshot without ``_schema`` (older commits) still reads."""
    import datetime as dt
    import os
    from decimal import Decimal

    from datawarehouse_project_spark.sources.sinks import VersionedParquetTable

    schema = (
        "s string, i int, d decimal(12,3), day date, ts timestamp, "
        "ntz timestamp_ntz, arr array<int>, st struct<a:int,b:string>"
    )
    when = dt.datetime(2020, 1, 2, 3, 4, 5)
    rows = [
        ("x", 1, Decimal("1.500"), dt.date(2020, 1, 2), when, when, [1, 2], (1, "p")),
        ("y", None, None, None, None, None, None, None),
    ]
    t = VersionedParquetTable(str(tmp_path / "t"))
    t.upsert(spark, spark.createDataFrame(rows, schema), ["s"])
    path = t.current_path()
    stored = t.read(spark)
    inferred = spark.read.parquet(path)
    assert os.path.exists(os.path.join(path, "_schema"))
    assert stored.schema == inferred.schema
    assert sorted(map(repr, stored.collect())) == sorted(map(repr, inferred.collect()))
    os.remove(os.path.join(path, "_schema"))
    assert t.read(spark).schema == inferred.schema


@pytest.mark.slow
def test_versioned_upsert_concurrent_writers_lose_nothing(spark, tmp_path):
    """Two writers race overlapping upserts: the loser must re-merge over
    the winner's snapshot, so BOTH writers' non-overlapping keys survive
    and overlapping keys resolve to one of the two serialized orders."""
    import threading

    from datawarehouse_project_spark.sources.sinks import VersionedParquetTable

    vt = VersionedParquetTable(str(tmp_path / "t"))
    vt.upsert(
        spark,
        spark.createDataFrame([(k, "base") for k in range(100)], ["k", "v"]),
        ["k"],
    )

    batches = {
        "A": [(k, "A") for k in range(0, 50)],
        "B": [(k, "B") for k in range(25, 75)],
    }
    errors = []

    def writer(name):
        try:
            vt.upsert(spark, spark.createDataFrame(batches[name], ["k", "v"]), ["k"])
        except Exception as exc:  # pragma: no cover - surfaced via assert
            errors.append((name, exc))

    threads = [threading.Thread(target=writer, args=(n,)) for n in ("A", "B")]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errors, errors
    assert vt.current_version() == 3  # base + two serialized commits

    final = _vt_rows(spark, vt)
    assert len(final) == 100
    assert all(final[k] == "A" for k in range(0, 25))
    assert all(final[k] == "B" for k in range(50, 75))
    assert all(final[k] == "base" for k in range(75, 100))
    overlap = {final[k] for k in range(25, 50)}
    assert overlap in ({"A"}, {"B"})  # one serialization, not a mix


@pytest.mark.slow
def test_versioned_upsert_crash_windows_and_vacuum(spark, tmp_path):
    """Stale CURRENT pointer and orphaned staged dirs (the two crash
    windows) must not corrupt reads; vacuum reaps old versions and stale
    orphans but never the live snapshot or a fresh (possibly in-flight)
    staging dir."""
    import os

    from datawarehouse_project_spark.sources.sinks import VersionedParquetTable

    root = str(tmp_path / "t")
    vt = VersionedParquetTable(root)
    vt.upsert(spark, spark.createDataFrame([(1, "a")], ["k", "v"]), ["k"])
    vt.upsert(spark, spark.createDataFrame([(1, "b")], ["k", "v"]), ["k"])

    # crash window: CURRENT never advanced past 1 — commit log wins
    with open(os.path.join(root, "CURRENT"), "w") as fh:
        fh.write("1")
    assert vt.current_version() == 2
    assert _vt_rows(spark, vt) == {1: "b"}

    # crash window: orphan staged dir (writer died before its CAS)
    orphan = os.path.join(root, "_versions", "deadbeef" * 4)
    os.makedirs(orphan)
    assert _vt_rows(spark, vt) == {1: "b"}  # reads never look at orphans

    # vacuum: fresh orphan survives (grace), stale orphan + old version go
    removed = vt.vacuum(keep=1, orphan_grace_sec=3600)
    assert removed == 1  # version 1's dir only
    os.utime(orphan, (0, 0))  # now make the orphan stale
    assert vt.vacuum(keep=1, orphan_grace_sec=3600) == 1
    assert _vt_rows(spark, vt) == {1: "b"}
    # replaying an upsert after vacuum still works
    vt.upsert(spark, spark.createDataFrame([(2, "c")], ["k", "v"]), ["k"])
    assert _vt_rows(spark, vt) == {1: "b", 2: "c"}


@pytest.mark.slow
def test_versioned_time_travel_reads(spark, tmp_path):
    """Every committed version stays readable by number (time travel);
    unknown versions fail loudly; vacuum keeps history manifests but
    reclaims old data."""
    import pytest as _pytest

    from datawarehouse_project_spark.sources.sinks import VersionedParquetTable

    vt = VersionedParquetTable(str(tmp_path / "tt"))
    vt.upsert(spark, spark.createDataFrame([(1, "a")], ["k", "v"]), ["k"])
    vt.upsert(spark, spark.createDataFrame([(1, "A"), (2, "b")], ["k", "v"]), ["k"])
    vt.upsert(spark, spark.createDataFrame([(3, "c")], ["k", "v"]), ["k"])
    assert vt.versions() == [1, 2, 3]

    def rows(df):
        return {r["k"]: r["v"] for r in df.collect()}

    assert rows(vt.read(spark, version=1)) == {1: "a"}
    assert rows(vt.read(spark, version=2)) == {1: "A", 2: "b"}
    assert rows(vt.read(spark, version=3)) == rows(vt.read(spark))
    with _pytest.raises(ValueError, match="never committed"):
        vt.read(spark, version=9)
    # vacuum to the newest 1: history stays listed, old data is gone
    vt.vacuum(keep=1, orphan_grace_sec=0)
    assert vt.versions() == [1, 2, 3]
    assert rows(vt.read(spark, version=3)) == {1: "A", 2: "b", 3: "c"}
    with _pytest.raises(Exception):
        vt.read(spark, version=1).collect()


@pytest.mark.slow
def test_streaming_to_versioned_table_exactly_once_effect(spark, tmp_path):
    """Micro-batched stream -> foreachBatch into the MULTI-WRITER-safe
    versioned table: the streaming counterpart of the plain-upsert test
    above, but every micro-batch is an atomic manifest commit, so a
    concurrent reader never sees a half-applied batch. Whole-stream
    replay (crash recovery without checkpoint) must leave the CURRENT
    snapshot value-identical — exactly-once effect via idempotent merge
    — while the commit log records the extra (no-op) versions."""
    import pyspark.sql.types as T

    from datawarehouse_project_spark.sources.sinks import VersionedParquetTable

    schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("event_id", T.LongType()),
            T.StructField("value", T.DoubleType()),
        ]
    )
    src = str(tmp_path / "src")
    rows = [(u, e, float(e)) for e in range(20) for u in (e % 3,)]
    df = spark.createDataFrame(rows, schema)
    df.withColumn("part", (F.col("event_id") % 3).cast("int")).write.partitionBy(
        "part"
    ).mode("overwrite").parquet(src)

    vt = VersionedParquetTable(str(tmp_path / "vt_target"))

    def run_once():
        (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
            .writeStream.foreachBatch(
                lambda bdf, bid: vt.upsert(spark, bdf, ["event_id"])
            )
            .trigger(availableNow=True)
            .start()
            .awaitTermination()
        )

    run_once()
    v_after_first = vt.current_version()
    first = sorted(map(str, vt.read(spark).collect()))
    assert len(first) == 20
    run_once()  # full replay: same snapshot VALUES, more commit history
    assert sorted(map(str, vt.read(spark).collect())) == first
    assert vt.current_version() > v_after_first
    # and the pre-replay snapshot is still readable (time travel)
    assert sorted(map(str, vt.read(spark, version=v_after_first).collect())) == first


@pytest.mark.slow
def test_compact_rewrites_layout_without_changing_anything_else(spark, tmp_path):
    """OPTIMIZE on the versioned table: many small per-batch commits ->
    one compacted version with identical rows, a preserved writer ledger
    (replays still no-op across the compaction), working time travel to
    the pre-compaction layout, and fewer data files."""
    import os

    from pyspark.sql import functions as F

    from datawarehouse_project_spark.sources.sinks import VersionedParquetTable

    t = VersionedParquetTable(str(tmp_path / "vt"))
    base = spark.range(0, 60).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")
    )
    # six batch commits; AQE partition-coalescing off so each snapshot
    # write fragments across the shuffle partitions (the real-table
    # failure mode this test models — at scale the merge shuffle emits
    # one file per partition regardless)
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    try:
        for i in range(6):
            t.upsert(
                spark,
                base.filter(F.col("k") % 6 == i).repartition(4),
                pk=["k"],
                txn=("writer", i),
            )
    finally:
        spark.conf.set(
            "spark.sql.adaptive.coalescePartitions.enabled", "true"
        )
    pre_version = t.current_version()
    pre_rows = sorted((r.k, r.v) for r in t.read(spark).collect())
    pre_files = [
        e.name for e in os.scandir(t.current_path()) if e.name.endswith(".parquet")
    ]
    assert len(pre_files) > 1

    v = t.compact(spark, target_files=1)
    assert v == pre_version + 1
    post_files = [
        e.name for e in os.scandir(t.current_path()) if e.name.endswith(".parquet")
    ]
    assert len(post_files) == 1
    assert sorted((r.k, r.v) for r in t.read(spark).collect()) == pre_rows
    # ledger survived: replaying an applied batch is still a no-op
    assert t.last_txn("writer") == 5
    assert t.upsert(spark, base.limit(3), pk=["k"], txn=("writer", 5)) == v
    # time travel still reaches the pre-compaction snapshot
    old = t.read(spark, version=pre_version)
    assert sorted((r.k, r.v) for r in old.collect()) == pre_rows
    # and new writes keep working on the compacted snapshot
    t.upsert(
        spark,
        spark.createDataFrame([(0, 999)], "k long, v long"),
        pk=["k"],
        txn=("writer", 6),
    )
    assert dict((r.k, r.v) for r in t.read(spark).collect())[0] == 999


@pytest.mark.slow
def test_versioned_upsert_additive_schema_evolution(spark, tmp_path):
    """A batch with a NEW column evolves the table (old rows read NULL
    there); a later batch WITHOUT that column keeps it (its rows read
    NULL); a same-name type conflict is refused loudly."""
    import pytest
    from pyspark.sql import functions as F

    from datawarehouse_project_spark.sources.sinks import VersionedParquetTable

    t = VersionedParquetTable(str(tmp_path / "evo"))
    t.upsert(spark, spark.createDataFrame([(1, 10), (2, 20)], "k long, v long"), pk=["k"])
    # add a column
    t.upsert(
        spark,
        spark.createDataFrame([(2, 21, "x"), (3, 30, "y")], "k long, v long, tag string"),
        pk=["k"],
    )
    rows = {r.k: (r.v, r.tag) for r in t.read(spark).collect()}
    assert rows == {1: (10, None), 2: (21, "x"), 3: (30, "y")}
    # writer still on the old schema: evolved column survives as NULL for its rows
    t.upsert(spark, spark.createDataFrame([(4, 40)], "k long, v long"), pk=["k"])
    rows = {r.k: (r.v, r.tag) for r in t.read(spark).collect()}
    assert rows[4] == (40, None) and rows[2] == (21, "x")
    # type conflict refused
    with pytest.raises(ValueError, match="type conflict.*tag"):
        t.upsert(
            spark,
            spark.createDataFrame([(5, 50, 99)], "k long, v long, tag long"),
            pk=["k"],
        )
    # table unchanged by the refused write
    assert t.current_version() == 3


@pytest.mark.slow
def test_clustered_compaction_produces_disjoint_key_ranges(spark, tmp_path):
    """OPTIMIZE range form: compact(cluster_key=k) must leave
    per-file key ranges disjoint (the property row-group pruning needs)
    while preserving rows and the ledger."""
    import os

    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from datawarehouse_project_spark.sources.sinks import VersionedParquetTable

    t = VersionedParquetTable(str(tmp_path / "cvt"))
    # interleaved inserts so the pre-compaction layout is unclustered
    rows = spark.range(0, 400).select(
        ((F.col("id") * 37) % 400).alias("k"), F.col("id").alias("v")
    )
    t.upsert(spark, rows, pk=["k"], txn=("w", 0))
    pre = sorted((r.k, r.v) for r in t.read(spark).collect())

    v = t.compact(spark, target_files=4, cluster_key="k")
    assert v == 2
    files = sorted(
        e.path
        for e in os.scandir(t.current_path())
        if e.name.endswith(".parquet")
    )
    assert len(files) == 4
    ranges = []
    for f in files:
        md = pq.read_metadata(f)
        ks = [
            (md.row_group(i).column(0).statistics.min,
             md.row_group(i).column(0).statistics.max)
            for i in range(md.num_row_groups)
        ]
        ranges.append((min(lo for lo, _ in ks), max(hi for _, hi in ks)))
    ranges.sort()
    for (lo1, hi1), (lo2, hi2) in zip(ranges, ranges[1:]):
        assert hi1 < lo2, f"file key ranges overlap: {ranges}"
    assert sorted((r.k, r.v) for r in t.read(spark).collect()) == pre
    assert t.last_txn("w") == 0


@pytest.mark.slow
def test_diff_versions_change_data_feed(spark, tmp_path):
    """CDF between snapshots: inserts/updates/deletes classified per PK,
    empty diff across a compaction commit, and evolved columns surface
    as updates when they gain values."""
    from pyspark.sql import functions as F

    from datawarehouse_project_spark.sources.sinks import (
        VersionedParquetTable,
        diff_versions,
    )

    t = VersionedParquetTable(str(tmp_path / "cdf"))
    t.upsert(
        spark,
        spark.createDataFrame([(1, "a"), (2, "b"), (3, "c")], "k long, v string"),
        pk=["k"],
    )  # v1
    t.upsert(
        spark,
        spark.createDataFrame([(2, "B"), (4, "d")], "k long, v string"),
        pk=["k"],
    )  # v2: update k=2, insert k=4
    changes = {
        r.k: (r.v, r._change_type)
        for r in diff_versions(spark, t, ["k"], 1, 2).collect()
    }
    assert changes == {2: ("B", "update"), 4: ("d", "insert")}
    # compaction commit: layout-only, so the diff across it is EMPTY
    t.compact(spark, target_files=1)  # v3
    assert diff_versions(spark, t, ["k"], 2, 3).count() == 0
    # schema evolution: a newly-populated evolved column is an update
    t.upsert(
        spark,
        spark.createDataFrame([(1, "a", "tagged")], "k long, v string, tag string"),
        pk=["k"],
    )  # v4
    ch = {
        r.k: (r.v, r.tag, r._change_type)
        for r in diff_versions(spark, t, ["k"], 3, 4).collect()
    }
    assert ch == {1: ("a", "tagged", "update")}
    # a delete is visible when diffing BACKWARD from a version that had the key
    back = {
        r.k: r._change_type for r in diff_versions(spark, t, ["k"], 2, 1).collect()
    }
    assert back == {2: "update", 4: "delete"}
    # full-history diff from the empty pre-table state: all inserts
    assert {
        r._change_type for r in diff_versions(spark, t, ["k"], 1, 4).collect()
    } <= {"insert", "update"}


@pytest.mark.slow
def test_upsert_refuses_batch_missing_primary_key_column(spark, tmp_path):
    """Evolution must never NULL-fill a PK: a batch lacking the key
    column is refused loudly (silently collapsing onto one NULL-key row
    is data loss)."""
    import pytest

    from datawarehouse_project_spark.sources.sinks import VersionedParquetTable

    t = VersionedParquetTable(str(tmp_path / "pkm"))
    t.upsert(spark, spark.createDataFrame([(1, 10)], "k long, v long"), pk=["k"])
    with pytest.raises(ValueError, match="lacks primary-key"):
        t.upsert(spark, spark.createDataFrame([(30,), (40,)], "v long"), pk=["k"])
    assert t.current_version() == 1


@pytest.mark.slow
def test_diff_versions_bootstrap_from_version_zero(spark, tmp_path):
    """v_from=0 is the empty pre-table state: the bootstrap CDF is every
    current row as an insert."""
    from datawarehouse_project_spark.sources.sinks import (
        VersionedParquetTable,
        diff_versions,
    )

    t = VersionedParquetTable(str(tmp_path / "boot"))
    t.upsert(
        spark,
        spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string"),
        pk=["k"],
    )
    ch = {r.k: r._change_type for r in diff_versions(spark, t, ["k"], 0, 1).collect()}
    assert ch == {1: "insert", 2: "insert"}


@pytest.mark.slow
def test_delete_and_cdc_sync_round_trip(spark, tmp_path):
    """DELETE completes CRUD, and the CDC loop closes: applying the
    source's successive diff_versions feeds keeps a replica
    value-identical at every synced version, idempotently under replay."""
    import pytest

    from datawarehouse_project_spark.sources.sinks import (
        VersionedParquetTable,
        apply_changes,
        diff_versions,
    )

    src = VersionedParquetTable(str(tmp_path / "src"))
    src.upsert(
        spark,
        spark.createDataFrame(
            [(1, "a"), (2, "b"), (3, "c"), (4, "d")], "k long, v string"
        ),
        pk=["k"],
    )  # v1
    src.upsert(
        spark,
        spark.createDataFrame([(2, "B"), (5, "e")], "k long, v string"),
        pk=["k"],
    )  # v2
    src.delete(spark, spark.createDataFrame([(1,), (4,)], "k long"), pk=["k"])  # v3
    # direct delete semantics
    assert sorted(r.k for r in src.read(spark).collect()) == [2, 3, 5]
    # deleting absent keys commits identical rows
    v = src.delete(spark, spark.createDataFrame([(99,)], "k long"), pk=["k"])
    assert v == 4 and sorted(r.k for r in src.read(spark).collect()) == [2, 3, 5]
    # delete on an empty table refuses
    empty = VersionedParquetTable(str(tmp_path / "empty"))
    with pytest.raises(ValueError, match="empty table"):
        empty.delete(spark, spark.createDataFrame([(1,)], "k long"), pk=["k"])

    # CDC sync: replay the version history into a replica via diffs
    rep = VersionedParquetTable(str(tmp_path / "rep"))
    n_nonempty = 0
    for v_to in range(1, src.current_version() + 1):
        changes = diff_versions(spark, src, ["k"], v_to - 1, v_to)
        n_nonempty += int(bool(changes.limit(1).count()))
        apply_changes(spark, changes, rep, ["k"], txn=("sync", v_to))
        want = sorted(
            (r.k, r.v) for r in src.read(spark, version=v_to).collect()
        )
        got_df = rep.read(spark)
        got = sorted((r.k, r.v) for r in got_df.collect()) if got_df is not None else []
        assert got == want, f"replica diverged at source version {v_to}"
        # single-commit application: each non-empty feed = exactly one
        # replica version (no separate delete commit), an empty feed
        # (src v3->v4 deleted absent keys) = no version at all
        assert rep.current_version() == n_nonempty
    # replaying a NON-empty feed batch is absorbed by the ledger: no new
    # version, values unchanged (v2->v3 carries the two deletes)
    before = rep.current_version()
    changes = diff_versions(spark, src, ["k"], 2, 3)
    assert changes.limit(1).count()
    apply_changes(spark, changes, rep, ["k"], txn=("sync", 3))
    assert rep.current_version() == before
    assert sorted(r.k for r in rep.read(spark).collect()) == [2, 3, 5]
    # a feed mixing deletes and upserts still lands as one commit
    src.upsert(
        spark,
        spark.createDataFrame([(3, "C"), (6, "f")], "k long, v string"),
        pk=["k"],
    )  # v5: update 3, insert 6
    src.delete(spark, spark.createDataFrame([(2,)], "k long"), pk=["k"])  # v6
    changes = diff_versions(spark, src, ["k"], 4, 6)
    apply_changes(spark, changes, rep, ["k"], txn=("sync", 6))
    assert rep.current_version() == before + 1
    assert sorted((r.k, r.v) for r in rep.read(spark).collect()) == sorted(
        (r.k, r.v) for r in src.read(spark).collect()
    )


@pytest.mark.slow
def test_cdc_sync_survives_compaction_in_the_middle(spark, tmp_path):
    """OPTIMIZE must be invisible to CDC consumers: a compaction version
    produces an EMPTY diff (layout-only, same rows), and a replica
    syncing successive diffs straight across the compaction boundary
    stays value-identical without gaining a version for the no-op feed."""
    from datawarehouse_project_spark.sources.sinks import (
        VersionedParquetTable,
        apply_changes,
        diff_versions,
    )

    src = VersionedParquetTable(str(tmp_path / "src"))
    src.upsert(
        spark,
        spark.createDataFrame([(k, "v%d" % k) for k in range(50)], "k long, v string"),
        pk=["k"],
    )  # v1
    src.upsert(
        spark,
        spark.createDataFrame([(1, "V1"), (99, "new")], "k long, v string"),
        pk=["k"],
    )  # v2
    cv = src.compact(spark, target_files=1)  # v3: layout only
    assert cv == 3
    assert diff_versions(spark, src, ["k"], 2, 3).count() == 0
    src.delete(spark, spark.createDataFrame([(0,)], "k long"), pk=["k"])  # v4

    rep = VersionedParquetTable(str(tmp_path / "rep"))
    versions_applied = 0
    for v_to in range(1, src.current_version() + 1):
        feed = diff_versions(spark, src, ["k"], v_to - 1, v_to)
        apply_changes(spark, feed, rep, ["k"], txn=("sync", v_to))
        versions_applied += int(bool(feed.limit(1).count()))
        assert rep.current_version() == versions_applied
    assert sorted((r.k, r.v) for r in rep.read(spark).collect()) == sorted(
        (r.k, r.v) for r in src.read(spark).collect()
    )
    # the compaction contributed no replica version
    assert rep.current_version() == 3  # v1, v2, v4 feeds only
