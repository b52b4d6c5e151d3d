"""Event-stream operators in batch form over the ``events`` table.

These are the batch twins of the streaming module: the tumbling-window
aggregate is exactly what ``streaming/windows.py`` runs incrementally with a
watermark, and the enrichment join is the MESHJOIN analog that
``streaming/meshjoin.py`` runs per micro-batch — keeping them registered
here gives the semantics a DuckDB oracle, which the streaming runtime can't
have.

Timestamps leave all queries as epoch-microsecond BIGINTs: Spark TIMESTAMP
(an instant) and DuckDB TIMESTAMP (naive) only agree unambiguously on the
epoch integer (session timezone pinned to UTC by ``session.prepare``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..io import session_state, table
from ..plans.registry import register
from ..session import prepare

#: Session gap for sessionization (seconds).
SESSION_GAP_S = 30 * 60


# --------------------------------------------------------------------------
@register(
    "events_hourly_windows",
    headline=True,  # stays in bench.py; driver row rotated out r10 (green r≤9)
    driver_facing=False,
    oracle="""
SELECT event_type,
       epoch_us(date_trunc('hour', ts)) AS window_start_us,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
FROM events
GROUP BY 1, 2
""",
)
def events_hourly_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour windows per event type — the batch form of the
    watermarked streaming aggregate. value goes through DECIMAL(18,6)
    (values are 6-dp doubles) so the sum is order-insensitive and exact."""
    prepare(spark)
    ev = table(spark, sf_dir, "events")
    return ev.groupBy(
        "event_type",
        F.unix_micros(F.date_trunc("hour", "ts")).alias("window_start_us"),
    ).agg(
        F.count("*").alias("n_events"),
        F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias(
            "total_value"
        ),
    )


# --------------------------------------------------------------------------
def served_hourly_rollup(spark: SparkSession, sf_dir: str):
    """The session's maintained hourly rollup over ``sf_dir``'s events
    (build-on-first-use, then reads only): keys (event_type,
    window_start_us), measure value through DECIMAL(18,6) so the folded
    state equals the exact full aggregation bit-for-bit. Built once per
    session (``io.SessionState.served_root``); a changed source mtime
    (in-process rewrite of events.parquet) or ``io.refresh_table``
    rebuilds it instead of serving it stale."""
    from .incremental import IncrementalRollup

    def handle(root: str) -> IncrementalRollup:
        return IncrementalRollup(
            root, keys=["event_type", "window_start_us"], sum_cols=["value_d"]
        )

    def build(root: str) -> None:
        ev = table(spark, sf_dir, "events")
        handle(root).apply_batch(
            spark,
            ev.select(
                "event_type",
                F.unix_micros(F.date_trunc("hour", "ts")).alias(
                    "window_start_us"
                ),
                F.col("value").cast("decimal(18,6)").alias("value_d"),
            ),
            batch_id=0,
            app_id="served-hourly",
        )

    return handle(
        session_state(spark).served_root(
            sf_dir, "hourly-rollup", ["events"], build
        )
    )


@register(
    "events_hourly_from_store",
    # r12 (VERDICT r10 #3 / r11 #3): the SERVING twin of
    # events_hourly_windows — reads the maintained IncrementalRollup
    # state (group-cardinality-sized, no shuffle, no fact scan) instead
    # of re-aggregating the events table per query. Same oracle as the
    # batch twin: the maintained state must equal the full aggregation
    # exactly (DECIMAL folds are order-insensitive).
    # r13 rotation IN (VERDICT r12 #3): slot ceded by
    # events_value_median_cont; pre-validated with the plain-session
    # driver-sim recipe (value-identical at sf0.01) before the swap.
    oracle="""
SELECT event_type,
       epoch_us(date_trunc('hour', ts)) AS window_start_us,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
FROM events
GROUP BY 1, 2
""",
)
def events_hourly_from_store(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly windows served from the maintained rollup store: the plan
    is a single column-pruned scan of ~|hours × types| state rows plus a
    projection — the shape that closes the batch twin's task-dispatch
    floor (PERFORMANCE.md r12 entry) and the 100 TB answer to "serve a
    dashboard from a 100 TB fact": the fact is scanned once per ingest
    batch (incremental fold), never per query."""
    prepare(spark)
    roll = served_hourly_rollup(spark, sf_dir)
    st = roll.read(spark)
    return st.select(
        "event_type",
        "window_start_us",
        F.col("n_rows").alias("n_events"),
        F.col("sum_value_d").cast("double").alias("total_value"),
    )


# --------------------------------------------------------------------------
@register(
    "events_sessionization",
    headline=True,
    oracle=f"""
WITH ordered AS (
    SELECT user_id, event_id, ts,
           LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
    FROM events
),
flagged AS (
    SELECT user_id, event_id, ts,
           CASE WHEN prev_ts IS NULL
                     OR epoch_us(ts) - epoch_us(prev_ts) > {SESSION_GAP_S} * 1000000
                THEN 1 ELSE 0 END AS new_session
    FROM ordered
),
numbered AS (
    SELECT user_id, event_id, ts,
           CAST(SUM(new_session) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS UNBOUNDED PRECEDING
           ) AS BIGINT) AS session_id
    FROM flagged
)
SELECT user_id, session_id,
       COUNT(*) AS n_events,
       epoch_us(MIN(ts)) AS session_start_us,
       epoch_us(MAX(ts)) AS session_end_us
FROM numbered
GROUP BY 1, 2
""",
)
def events_sessionization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30-min inactivity): LAG + running sum of
    session starts — the classic window formulation; deterministic tie-break
    on (ts, event_id). One shuffle on user_id, which is the natural key."""
    prepare(spark)
    ev = table(spark, sf_dir, "events")
    order_w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    flagged = ev.withColumn("prev_ts", F.lag("ts").over(order_w)).withColumn(
        "new_session",
        F.when(
            F.col("prev_ts").isNull()
            | (
                F.unix_micros("ts") - F.unix_micros("prev_ts")
                > SESSION_GAP_S * 1_000_000
            ),
            1,
        ).otherwise(0),
    )
    numbered = flagged.withColumn(
        "session_id",
        F.sum("new_session").over(order_w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return numbered.groupBy("user_id", "session_id").agg(
        F.count("*").alias("n_events"),
        F.unix_micros(F.min("ts")).alias("session_start_us"),
        F.unix_micros(F.max("ts")).alias("session_end_us"),
    )


# --------------------------------------------------------------------------
@register(
    "events_session_window_native",
    # r15 rotation IN: the native session_window operator earns its own
    # driver row (it now also anchors the streaming append-mode
    # finalization test); asof_forward_next_purchase ceded (driver-green
    # r12–r14, pytest oracle remains).
    oracle=f"""
WITH ordered AS (
    SELECT user_id, event_id, ts,
           LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
    FROM events
),
flagged AS (
    SELECT user_id, ts,
           CASE WHEN prev_ts IS NULL
                     OR epoch_us(ts) - epoch_us(prev_ts) > {SESSION_GAP_S} * 1000000
                THEN 1 ELSE 0 END AS new_session
    FROM ordered
),
numbered AS (
    SELECT user_id, ts,
           SUM(new_session) OVER (
               PARTITION BY user_id ORDER BY ts
               ROWS UNBOUNDED PRECEDING
           ) AS session_id
    FROM flagged
)
SELECT user_id,
       epoch_us(MIN(ts)) AS session_start_us,
       epoch_us(MAX(ts)) + {SESSION_GAP_S} * 1000000 AS session_end_us,
       COUNT(*) AS n_events
FROM numbered
GROUP BY user_id, session_id
""",
)
def events_session_window_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark's native session_window (gap-merged event-time sessions; the
    same operator runs unchanged on a stream with a watermark). The oracle
    is the manual LAG+running-sum formulation — semantically identical for
    point events: session end = last event + gap."""
    prepare(spark)
    ev = table(spark, sf_dir, "events")
    return (
        ev.groupBy(
            "user_id", F.session_window("ts", f"{SESSION_GAP_S} seconds").alias("w")
        )
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.unix_micros("w.start").alias("session_start_us"),
            F.unix_micros("w.end").alias("session_end_us"),
            "n_events",
        )
    )


# --------------------------------------------------------------------------
@register(
    "events_enrich_meshjoin",
    # r10 rotation: J1's batch-twin driver row earned r9; stream==batch
    # pytest parity (tests/test_streaming.py) remains the ongoing gate.
    driver_facing=False,
    oracle="""
SELECT c.c_mktsegment AS segment, e.event_type,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(e.value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
FROM events e JOIN customer c ON e.user_id = c.c_custkey
GROUP BY 1, 2
""",
)
def events_enrich_meshjoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-relation enrichment, batch form: the MESHJOIN semantics
    (reference MeshJoin.java:216-284) as a plain stream⨝dim equi-join —
    Spark's broadcast hash join replaces the reference's memory-bounded
    paging (SURVEY §2.3 J1). The per-micro-batch twin lives in
    streaming/meshjoin.py and must produce identical rows."""
    prepare(spark)
    ev = table(spark, sf_dir, "events")
    cust = table(spark, sf_dir, "customer")
    return (
        ev.join(cust, ev.user_id == cust.c_custkey)
        .groupBy(F.col("c_mktsegment").alias("segment"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias(
                "total_value"
            ),
        )
    )


# --------------------------------------------------------------------------
@register(
    "events_gapfill_hourly",
    driver_facing=False,  # r12 rotation: driver-green r10+r11; slot ceded
    # to the r10-crop promotions (VERDICT r11 next-round #1).
    oracle="""
WITH spans AS (
    SELECT event_type,
           date_trunc('hour', MIN(ts)) AS h0,
           date_trunc('hour', MAX(ts)) AS h1
    FROM events GROUP BY 1
),
grid AS (
    SELECT event_type, unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS h
    FROM spans
),
agg AS (
    -- exact decimal SUM then one double division: Spark's decimal AVG
    -- rounds at scale+4, double-averaging is order-dependent; SUM/COUNT
    -- over exact decimals is bit-identical on both engines
    SELECT event_type, date_trunc('hour', ts) AS h,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*)
               AS avg_value
    FROM events GROUP BY 1, 2
)
SELECT g.event_type,
       epoch_us(g.h) AS window_start_us,
       CAST(COALESCE(a.n_events, 0) AS BIGINT) AS n_events,
       COALESCE(
           a.avg_value,
           LAST_VALUE(a.avg_value IGNORE NULLS) OVER (
               PARTITION BY g.event_type ORDER BY g.h
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           )
       ) AS avg_value_ffill
FROM grid g LEFT JOIN agg a USING (event_type, h)
""",
)
def events_gapfill_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series resample with gap fill: a dense hourly grid per event
    type over that type's own [min, max] span, missing hours zero-filled
    for counts and FORWARD-FILLED for the hourly average — the standard
    shaping step between raw events and a dashboard/model-feature series
    (pandas ``resample().ffill()``, re-expressed distributed).

    Plan shape: the grid is generated per key with ``sequence`` +
    ``explode`` from a per-type min/max aggregate — grid size is
    |types| x |hours| (metadata-sized, data-independent), and there is
    NO cross join anywhere: grid⟕agg is an equi-join on (type, hour),
    and the forward fill is one partitioned running window. At 100 TB
    the grid is still tiny; the only data-sized stages are the hourly
    pre-aggregation (partial map-side) and its single shuffle."""
    prepare(spark)
    ev = table(spark, sf_dir, "events")
    agg = ev.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("h")
    ).agg(
        F.count("*").alias("n_events"),
        (
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double")
            / F.count("*")
        ).alias("avg_value"),
    )
    spans = ev.groupBy("event_type").agg(
        F.date_trunc("hour", F.min("ts")).alias("h0"),
        F.date_trunc("hour", F.max("ts")).alias("h1"),
    )
    grid = spans.select(
        "event_type",
        F.explode(
            F.sequence("h0", "h1", F.expr("INTERVAL 1 HOUR"))
        ).alias("h"),
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("h")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        grid.join(agg, ["event_type", "h"], "left")
        .select(
            "event_type",
            F.unix_micros("h").alias("window_start_us"),
            F.coalesce("n_events", F.lit(0)).cast("bigint").alias("n_events"),
            F.coalesce(
                "avg_value", F.last("avg_value", ignorenulls=True).over(w)
            ).alias("avg_value_ffill"),
        )
    )


# --------------------------------------------------------------------------
@register(
    "events_funnel_conversion",
    oracle="""
WITH v AS (
    SELECT user_id, MIN(ts) AS t1 FROM events
    WHERE event_type = 'view' GROUP BY user_id
),
c AS (
    SELECT e.user_id, MIN(e.ts) AS t2
    FROM events e JOIN v ON e.user_id = v.user_id AND e.ts > v.t1
    WHERE e.event_type = 'click' GROUP BY e.user_id
),
p AS (
    SELECT e.user_id, MIN(e.ts) AS t3
    FROM events e JOIN c ON e.user_id = c.user_id AND e.ts > c.t2
    WHERE e.event_type = 'purchase' GROUP BY e.user_id
)
SELECT CAST((SELECT COUNT(*) FROM v) AS BIGINT) AS n_viewed,
       CAST((SELECT COUNT(*) FROM c) AS BIGINT) AS n_clicked_after_view,
       CAST((SELECT COUNT(*) FROM p) AS BIGINT) AS n_purchased_after_click
""",
)
def events_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel conversion (view -> click -> purchase): users are
    counted at a step only if the step's FIRST qualifying event happens
    strictly after their previous step's — the sequential-semantics
    funnel, not three independent counts.

    Scale shape (r22, guide §1.2/§2.4 — one pass instead of six): the
    reference CTE chain (v, c-joins-v, p-joins-c, three scalar counts)
    shares no subplans in Spark, so it executed SIX events scans, two
    equi-joins and five aggregations per run. The sequential mins are
    instead computed as three chained unordered windows over ONE
    user_id partitioning — t1 = min(view ts), t2 = min(click ts > t1),
    t3 = min(purchase ts > t2); each window sees the previous one's
    column, so one Exchange+Sort serves all three — followed by a
    per-user reduce (free: same partitioning) and the single-row
    conditional count. Plan: 1 events scan, 1 user-keyed exchange,
    0 joins (before: 6 scans, 5 exchanges + 2 broadcasts). Per-user
    window state is the partition's qualifying event rows (bounded by
    per-user activity), never a collected list.

    Value-identity with the CTE form: every user lands in exactly one
    window partition; min-over-when reproduces each CTE's MIN(ts) with
    its join predicate as the when-guard (NULL-safe: no view => t1
    NULL => t2's guard false, exactly the join's absence). The explicit
    user_id IS NOT NULL guards on t2/t3 reproduce the equi-join's
    null-key drop while n_viewed keeps counting the NULL-user group,
    exactly as the reference's GROUP BY does."""
    prepare(spark)
    return spark.sql(
        """WITH t1 AS (
    SELECT user_id, ts, event_type,
           min(CASE WHEN event_type = 'view' THEN ts END)
               OVER (PARTITION BY user_id) AS t1
    FROM {events} WHERE event_type IN ('view', 'click', 'purchase')
),
t2 AS (
    SELECT *, min(CASE WHEN event_type = 'click' AND user_id IS NOT NULL
                        AND ts > t1 THEN ts END)
                  OVER (PARTITION BY user_id) AS t2
    FROM t1
),
t3 AS (
    SELECT *, min(CASE WHEN event_type = 'purchase' AND user_id IS NOT NULL
                        AND ts > t2 THEN ts END)
                  OVER (PARTITION BY user_id) AS t3
    FROM t2
),
per_user AS (
    -- t1..t3 are constant within a user's partition
    SELECT user_id, max(t1) AS t1, max(t2) AS t2, max(t3) AS t3
    FROM t3 GROUP BY user_id
)
SELECT
    CAST(coalesce(sum(CASE WHEN t1 IS NOT NULL THEN 1 END), 0) AS BIGINT) AS n_viewed,
    CAST(coalesce(sum(CASE WHEN t2 IS NOT NULL THEN 1 END), 0) AS BIGINT)
        AS n_clicked_after_view,
    CAST(coalesce(sum(CASE WHEN t3 IS NOT NULL THEN 1 END), 0) AS BIGINT)
        AS n_purchased_after_click
FROM per_user""",
        events=table(spark, sf_dir, "events"),
    )


# --------------------------------------------------------------------------
@register(
    "events_weekly_retention",
    driver_facing=False,  # r12 rotation: driver-green r≤11; slot ceded to
    # the r10-crop promotions. Pytest oracle kept at both scale factors.
    oracle="""
WITH first_seen AS (
    SELECT user_id, CAST(date_trunc('week', MIN(ts)) AS DATE) AS cohort_week
    FROM events GROUP BY user_id
),
activity AS (
    SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS DATE) AS act_week
    FROM events
)
SELECT CAST(f.cohort_week AS VARCHAR) AS cohort_week,
       CAST(date_diff('day', f.cohort_week, a.act_week) // 7 AS BIGINT)
           AS week_offset,
       COUNT(*) AS n_active_users
FROM activity a JOIN first_seen f ON a.user_id = f.user_id
GROUP BY 1, 2
""",
)
def events_weekly_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention triangle: users grouped by first-seen week, then
    counted once per (cohort, week offset) they were active in — the
    standard retention matrix. Both engines truncate weeks to Monday, so
    the cohort keys agree exactly.

    Scale shape: one user-keyed min-aggregate (first touch), one
    distinct on (user, week) — partial-agg collapses the per-user event
    volume map-side — and a user-keyed equi join, all on the same hash
    partitioning; output is cohorts x weeks, metadata-sized."""
    prepare(spark)
    ev = table(spark, sf_dir, "events")
    first_seen = ev.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).cast("date").alias("cohort_week")
    )
    activity = ev.select(
        "user_id", F.date_trunc("week", F.col("ts")).cast("date").alias("act_week")
    ).distinct()
    return (
        activity.join(first_seen, "user_id")
        .select(
            F.col("cohort_week").cast("string").alias("cohort_week"),
            (F.datediff("act_week", "cohort_week") / 7)
            .cast("bigint")
            .alias("week_offset"),
        )
        .groupBy("cohort_week", "week_offset")
        .agg(F.count("*").alias("n_active_users"))
    )


# --------------------------------------------------------------------------
#: Trailing time-range window: 24 hours in epoch microseconds.
ROLL_WINDOW_US = 24 * 3600 * 1_000_000


@register(
    "events_rolling_24h",
    driver_facing=False,  # r14 rotation: driver-green r8-r13; slot ceded
    # to lexical_tfidf_cosine_pairs. pytest oracle remains.
    oracle=f"""
SELECT event_id, user_id, epoch_us(ts) AS ts_us,
       COUNT(*) OVER w AS n_24h,
       CAST(SUM(CAST(FLOOR(value * 100) AS BIGINT)) OVER w AS BIGINT)
           AS sum_centivalue_24h
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
             RANGE BETWEEN {ROLL_WINDOW_US} PRECEDING AND CURRENT ROW)
""",
)
def events_rolling_24h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event trailing 24-hour activity: a RANGE-framed window over
    event-time (epoch microseconds), the time-based sibling of the
    ROWS-framed windows elsewhere in the catalog. RANGE semantics make
    timestamp ties peers in both engines, and the summed measure is an
    exact integer (floor(value*100) — FLOOR, not CAST, because Spark
    truncates double→bigint while DuckDB rounds), so the whole result is
    engine-portable. One shuffle on user_id; frame evaluation is a
    per-partition sliding scan, never a self-join — at 100 TB the cost
    is bounded by one entity's history like every keyed window here."""
    prepare(spark)
    events = table(spark, sf_dir, "events")
    ts_us = F.unix_micros("ts")
    w = (
        Window.partitionBy("user_id")
        .orderBy(ts_us)
        .rangeBetween(-ROLL_WINDOW_US, 0)
    )
    return events.select(
        "event_id",
        "user_id",
        ts_us.alias("ts_us"),
        F.count("*").over(w).alias("n_24h"),
        F.sum(F.floor(F.col("value") * 100).cast("bigint"))
        .over(w)
        .alias("sum_centivalue_24h"),
    )


# --------------------------------------------------------------------------
#: EWMA smoothing factor — 1/8 is exactly representable in binary, so the
#: per-step arithmetic (0.125*x + 0.875*acc) is the same IEEE operation
#: sequence on every engine and the result is bit-exact, not approximate.
EWMA_ALPHA = 0.125


@register(
    "events_ewma_by_user",
    driver_facing=False,  # r12 rotation: driver-green r9–r11; the EWMA fold
    # stays pinned by the pytest oracle and the grouped-map Pandas twin
    # equality test. Slot ceded to the r10-crop promotions.
    oracle=f"""
WITH ordered AS (
    SELECT user_id,
           list(value ORDER BY ts, event_id)
               FILTER (WHERE value IS NOT NULL) AS vals,
           CAST(COUNT(value) AS BIGINT) AS n_events
    FROM events GROUP BY user_id
)
SELECT user_id, n_events,
       list_reduce(vals,
                   (acc, x) -> {EWMA_ALPHA}e0 * x
                               + {1.0 - EWMA_ALPHA}e0 * acc) AS ewma
FROM ordered
""",
)
def events_ewma_by_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user exponentially-weighted moving average of ``value`` —
    s_i = α·x_i + (1−α)·s_{i−1}, seeded with the first observation,
    NULL observations skipped (a user with none reports n_events=0,
    ewma NULL).

    The recursion makes each output depend on the PREVIOUS output,
    which no SQL window FRAME expresses (frames aggregate inputs, not
    outputs) — but a fold does, and Spark has one in Catalyst: the
    ``aggregate`` higher-order function over a per-user
    ``sort_array(collect_list(struct(ts, event_id, value)))``. That
    keeps the whole operator JVM-side: one shuffle on user_id, per-user
    state bounded by one entity's history (the same bound the grouped
    map had), zero Python, zero Arrow transport. Measured against the
    grouped-map exemplar it replaced on the scaled replicas: 2.73 →
    0.40 s at sf1, 6.3 → 0.55 s at sf3 (the grouped map's cost was
    never the fold — it was Arrow transport + per-group pandas
    overhead; see :func:`events_ewma_grouped_map`, which stays
    registered as the teaching twin).

    The HOF lambda is LITERALLY the oracle's ``list_reduce`` lambda
    (α·x + β·acc, same IEEE sequence, α = 1/8 exactly representable),
    so the comparison stays bit-exact. sort_array orders the structs by
    (ts, event_id [, value]) — event_id is unique, so the value field
    never influences the order."""
    prepare(spark)
    ev = table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "value"
    )
    hist = ev.groupBy("user_id").agg(
        F.filter(
            F.sort_array(F.collect_list(F.struct("ts", "event_id", "value"))),
            lambda s: s["value"].isNotNull(),
        ).alias("h")
    )
    alpha, beta = EWMA_ALPHA, 1.0 - EWMA_ALPHA
    return hist.select(
        "user_id",
        F.size("h").cast("bigint").alias("n_events"),
        F.aggregate(
            "h",
            F.lit(None).cast("double"),
            lambda acc, s: F.when(acc.isNull(), s["value"]).otherwise(
                F.lit(alpha) * s["value"] + F.lit(beta) * acc
            ),
        ).alias("ewma"),
    )


@register(
    "events_ewma_grouped_map",
    driver_facing=False,  # value-identical Pandas twin of the JVM-fold
    # driver row above — kept as the catalog's grouped-map applyInPandas
    # exemplar (and the carrier of the AQE-vs-grouped-map repartition
    # insight), oracle-checked in pytest
    oracle=f"""
WITH ordered AS (
    SELECT user_id,
           list(value ORDER BY ts, event_id)
               FILTER (WHERE value IS NOT NULL) AS vals,
           CAST(COUNT(value) AS BIGINT) AS n_events
    FROM events GROUP BY user_id
)
SELECT user_id, n_events,
       list_reduce(vals,
                   (acc, x) -> {EWMA_ALPHA}e0 * x
                               + {1.0 - EWMA_ALPHA}e0 * acc) AS ewma
FROM ordered
""",
)
def events_ewma_grouped_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The grouped-map ``applyInPandas`` form of the EWMA — retained as
    the catalog's sanctioned-Pandas exemplar now that the production
    path is the Catalyst ``aggregate`` HOF (see
    :func:`events_ewma_by_user`). Two insights live here:

    * EXPLICIT keyed repartition before a grouped map: AQE coalesces
      the groupBy shuffle by BYTES, which is right for JVM aggregation
      but serializes Python grouped-map work onto 1-2 workers (measured
      3.5 → 0.75 s warm at sf0.1). The repartition satisfies the
      grouped map's clustering requirement, so no second shuffle.
    * the per-group fold runs in pandas' Cython ewm kernel
      (``adjust=False``), bit-exact with the explicit Python loop and
      with the JVM fold (same IEEE sequence — pinned by
      tests/test_scd.py::test_ewma_c_kernel_bit_exact)."""
    prepare(spark)
    import pandas as pd

    events = (
        table(spark, sf_dir, "events")
        .select("user_id", "ts", "event_id", "value")
        .repartition(spark.sparkContext.defaultParallelism, "user_id")
    )
    alpha = EWMA_ALPHA

    def fold(pdf: "pd.DataFrame") -> "pd.DataFrame":
        vals = pdf.sort_values(["ts", "event_id"])["value"].dropna()
        acc = (
            float(vals.ewm(alpha=alpha, adjust=False).mean().iloc[-1])
            if len(vals)
            else None
        )
        return pd.DataFrame(
            {
                "user_id": [int(pdf["user_id"].iloc[0])],
                "n_events": [len(vals)],
                "ewma": [acc],
            }
        )

    return events.groupBy("user_id").applyInPandas(
        fold, "user_id bigint, n_events bigint, ewma double"
    )
