"""SparkSession factory and per-query session preparation.

The driver hands us an arbitrary SparkSession; ``prepare()`` pins the
runtime-settable confs every query in this engine relies on (UTC timezone so
timestamp->date agrees with the DuckDB oracle, AQE for runtime re-planning at
scale). Our own entry points build sessions via ``get_spark()``.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

from .io import session_state

#: Confs that are safe to set on a live session (runtime-settable) and that
#: query semantics or scale posture depend on.
_RUNTIME_CONFS = {
    # Timestamp->date and year()/quarter() must agree with the (naive) DuckDB
    # oracle reading the same parquet.
    "spark.sql.session.timeZone": "UTC",
    # The testdata parquet stores timestamps without a timezone
    # (isAdjustedToUTC=false); Spark 4's default inference maps those to
    # TIMESTAMP_NTZ, which event-time watermarks reject outright
    # (EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE) and which diverges from the
    # DuckDB oracle's naive-as-UTC reading. Reading them as TIMESTAMP
    # (LTZ) under the pinned UTC session timezone gives identical values
    # batch-side and makes the same column watermarkable stream-side.
    "spark.sql.parquet.inferTimestampNTZ.enabled": "false",
    # events.ts is INT64 TIMESTAMP(NANOS), which Spark reads only as raw
    # nanos under this conf (io.table truncates them to microseconds).
    # io.table sets it too, but pinned here it is set before any build,
    # so loading events never changes the session's confs and never
    # invalidates the query plans kept under the old ones.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Write timestamps as TIMESTAMP_MICROS, not Spark's INT96 default:
    # parquet writers emit NO min/max statistics for INT96 (deprecated as
    # unreliable), so every INT96 time column is unprunable — no
    # row-group skipping on time-range scans, ever, regardless of layout.
    # INT64 micros is also what DuckDB/pyarrow read natively. Affects
    # writes only; reads of either encoding are unchanged.
    "spark.sql.parquet.outputTimestampType": "TIMESTAMP_MICROS",
    # Adaptive execution: coalesce post-shuffle partitions, convert to
    # broadcast joins at runtime, split skewed partitions. This is the
    # 100 TB posture — plans degrade gracefully without code changes.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # AQE's runtime broadcast conversion sizes joins on MEASURED shuffle
    # output, not planner estimates — a year-filtered orders side that a
    # static planner must assume full-size is known-small at runtime.
    # 64m (vs the 10m default) lets fact⨝filtered-dim joins convert to
    # broadcast exactly when the filtered side really is tens of MB
    # (measured: q01 at sf3 3.0 -> 2.2 s best-of-3). Safe at 100 TB
    # because the trigger is actual bytes: a side that big never
    # qualifies; 64 MB × executor count is the same network cost any
    # broadcast dim join already pays. The STATIC threshold stays at
    # Spark's default — estimates can be wrong, runtime sizes cannot.
    "spark.sql.adaptive.autoBroadcastJoinThreshold": "64m",
    # InferFiltersFromGenerate clones the generator's child expression into
    # inferred `size(..)>0 AND isnotnull(..)` filters. For explodes over
    # COMPUTED arrays (our shingle pipelines) those filters re-evaluate the
    # whole interpreted array expression 2+ extra times per input row —
    # measured 9.0s -> 0.6s on the sf0.1 shingle explode. The rule only
    # ever prunes rows explode would drop anyway (null/empty arrays), so
    # excluding it is semantics-neutral; for explodes of STORED arrays the
    # lost early-prune is a minor scan-side optimization we forgo.
    "spark.sql.optimizer.excludedRules": (
        "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate"
    ),
    # Whole-stage codegen names each generated class after its codegen
    # stage id (GeneratedIteratorForCodegenStage<N>), and the class source
    # is the codegen cache's key. Under AQE the ids are handed out in the
    # order query stages are created, which follows which concurrent
    # shuffle stages finish first — so rows with parallel branches (e.g.
    # retrieval_rrf_fusion, lexical_bm25_topk) got different ids, hence
    # different source, on some builds and recompiled identical code. One
    # fixed class name makes equal plans hit the cache; explain output
    # keeps its *(N) stage ids. Naming only, results are unchanged.
    "spark.sql.codegen.useIdInClassName": "false",
}


def prepare(spark: SparkSession) -> SparkSession:
    """Pin runtime confs on a session we did not create (driver contract).

    Static confs cannot be set on a live session, so a driver-provided
    session keeps Spark's 100-entry codegen class cache
    (``spark.sql.codegen.cache.maxEntries``) and recompiles interleaved
    queries, and keeps DataFrame-debugging call-site capture on; only
    sessions built by :func:`get_spark` get both static confs. Every key
    set here is runtime-modifiable (pinned by tests/test_session.py).

    The confs as last pinned are kept in the session's state as a JVM map
    copy (``io.SessionState.confs``); while the session's confs still
    equal it, a call is one py4j round trip (the map comparison runs in
    the JVM) and sets nothing. Any change, by anyone, re-pins all keys;
    the snapshot is replaced only if the confs then differ from it, which
    is what a kept query plan checks (``plans.registry.prepared``).
    """
    state = session_state(spark)
    if state.live_confs is None:
        state.live_confs = spark._jsparkSession.sessionState().conf().settings()
    snapshot = state.confs
    if snapshot is not None and snapshot.equals(state.live_confs):
        return spark
    for k, v in _RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:  # pragma: no cover - conf locked by the host
            pass
    if snapshot is None or not snapshot.equals(state.live_confs):
        state.confs = spark._jvm.java.util.HashMap(state.live_confs)
    return spark


def get_spark(
    app_name: str = "datawarehouse-project-spark",
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build a local session shaped like the target cluster.

    ``local[$SPARK_GRAFT_CPUS]`` mirrors the driver's bench environment; on a
    real cluster only ``master`` changes — partitioning/AQE settings carry
    over.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    if shuffle_partitions is None:
        shuffle_partitions = 32
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        # static conf — settable only at session build; keeps managed
        # tables out of the repo working dir
        .config("spark.sql.warehouse.dir", "/tmp/dwspark-warehouse")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # static conf — the JVM-wide cache of compiled codegen classes
        # (whole-stage iterators, projections, predicates, orderings).
        # Spark's default of 100 entries is far below this engine's
        # working set, measured at sf0.01 on 4 cores: the 8 perfbench
        # query_mix rows compile ~190 entries, one cold sweep of the 50
        # driver-facing rows ~850. At 100 the LRU evicts each entry before
        # its query comes round again, so every interleaved warm request
        # recompiles in Janino (~175 compiles per query_mix pass, ~1,190
        # per warm catalog sweep). 4096 is ~5x the catalog sweep; an
        # entry is ~6.5 KB of bytecode on average, so a full cache costs
        # ~27 MB. Fixed, not an option: the size follows the catalog, not
        # the caller, and a static conf cannot change once the session
        # exists (see prepare()).
        .config("spark.sql.codegen.cache.maxEntries", "4096")
        # static conf — PySpark's DataFrame-debugging call-site capture
        # walks the Python stack and makes 3 extra py4j round trips on
        # EVERY DataFrame/Column API call (origin set/clear + conf read).
        # That is ~40% of driver-side plan construction time per query
        # (profiled: 0.5s of a 1.3s build). It only enriches error
        # messages with Python call sites — off in the engine; re-enable
        # interactively when debugging a broken query.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    for k, v in _RUNTIME_CONFS.items():
        builder = builder.config(k, v)
    return prepare(builder.getOrCreate())
