"""Relational surface beyond the reference: set operations, semi/anti
joins, distinct aggregates, exact moments, and an as-of join.

The reference exercises none of these (SURVEY §2.7: no set ops; §2.3: no
semi/anti/as-of) — they are the standard next requests from any analytics
user, Spark provides them natively except as-of, and each gets the same
DuckDB-oracle treatment as the parity catalog.

As-of join: Spark has no native ASOF JOIN (DuckDB does — used as the
oracle). The scalable formulation here is the union-merge pattern: tag both
sides, union, sort per key by (ts, side), and carry the last right-side row
forward with last_value(ignoreNulls) — one shuffle on the key, no range
explosion, no skew beyond the key's own distribution. This beats the naive
join-then-filter-then-rank plan (which materializes every (left, right)
pair within the key) by orders of magnitude at scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..io import session_state, table
from ..plans.registry import register
from ..session import prepare


def asof_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str,
    right_ts: str,
    right_cols: list[str],
    prune_right: bool = True,
    right_tiebreak: str | None = None,
    direction: str = "backward",
) -> DataFrame:
    """For each left row, attach the most recent right row with
    ``right.right_ts <= left.left_ts`` within the same ``key`` (as-of /
    point-in-time join). Left rows with no prior right row keep NULLs.
    ``direction="forward"`` mirrors the inequality: the NEAREST right row
    with ``right.right_ts >= left.left_ts`` (the "next event after"
    lookup — time-to-next-purchase, next-maintenance-window, etc.), the
    same semantics DuckDB's ASOF gives for a ``>=`` condition.

    Implementation: union-merge. right rows sort before left rows at equal
    timestamps (side ordinal 0 < 1) so a right row AT the left timestamp
    matches, mirroring ASOF's <= semantics; the forward form runs the
    identical window over a DESCENDING timestamp order, so "most recent
    seen so far" becomes "nearest future" — same single keyed exchange,
    no second code path.

    ``prune_right`` semi-joins the right side down to keys that actually
    appear on the left before the merge — when the left is a sparse probe
    set (the common point-in-time-lookup shape), this shrinks the window
    input by orders of magnitude for one cheap extra shuffle. Identical
    results either way.

    ``right_tiebreak`` (a column in ``right_cols``) resolves duplicate
    right rows at the same (key, ts): the row with the GREATEST tiebreak
    value wins. This folds the dedup into the merge window's sort order —
    no separate row_number/groupBy pass over the right side (one full
    shuffle+sort saved). Without it, callers must guarantee unique right
    (key, ts) pairs themselves or accept an arbitrary winner.
    """
    if prune_right:
        right = right.join(
            left.select(F.col(key)).distinct(), key, "left_semi"
        )
    lt = left.withColumn("_ts", F.col(left_ts).cast("timestamp")).withColumn(
        "_side", F.lit(1)
    )
    rt = (
        right.withColumn("_ts", F.col(right_ts).cast("timestamp"))
        .withColumn("_side", F.lit(0))
        .select(
            F.col(key).alias("_k"),
            "_ts",
            "_side",
            *[F.col(c).alias(f"_r_{c}") for c in right_cols],
        )
    )
    lt = lt.select(
        F.col(key).alias("_k"),
        "_ts",
        "_side",
        *[
            F.lit(None).cast(rt.schema[f"_r_{c}"].dataType).alias(f"_r_{c}")
            for c in right_cols
        ],
        F.struct(*left.columns).alias("_l"),
    )
    merged = lt.unionByName(
        rt.withColumn("_l", F.lit(None).cast(lt.schema["_l"].dataType))
    )
    if direction not in ("backward", "forward"):
        raise ValueError(f"direction must be backward|forward, got {direction!r}")
    ts_order = F.col("_ts") if direction == "backward" else F.col("_ts").desc()
    order_cols: list = [ts_order, F.col("_side")]
    if right_tiebreak is not None:
        # ascending => the LAST right row at a given (key, ts) carries the
        # greatest tiebreak; left rows sort on NULL here, which is
        # irrelevant (they all follow every right row at their ts via
        # _side, and ignoreNulls skips their null _r payloads).
        order_cols.append(F.col(f"_r_{right_tiebreak}").asc_nulls_first())
    w = (
        Window.partitionBy("_k")
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    carried = merged.select(
        "_k",
        "_ts",
        "_side",
        "_l",
        *[
            F.last(f"_r_{c}", ignorenulls=True).over(w).alias(f"_rv_{c}")
            for c in right_cols
        ],
    )
    out = carried.filter(F.col("_side") == 1).select(
        *[F.col("_l")[c].alias(c) for c in left.columns],
        *[F.col(f"_rv_{c}").alias(c) for c in right_cols],
    )
    return out


# --------------------------------------------------------------------------
@register(
    "asof_join_last_order",
    headline=True,
    driver_facing=False,  # r14 rotation: driver-green r3-r13; slot ceded
    # to q01_from_store. pytest oracle (sf0.01+sf0.1) remains; stays a
    # bench headline.
    oracle="""
WITH ev AS (
    SELECT event_id, user_id, ts FROM events WHERE event_id % 20 = 0
),
-- ASOF picks ONE right row per left row; ties on (key, ts) would be
-- engine-arbitrary, so the right side is first deduped deterministically
-- (highest orderkey wins per (customer, date)) on BOTH engines.
ord AS (
    SELECT o_custkey, o_orderkey, o_orderdate
    FROM (
        SELECT o_custkey, o_orderkey, o_orderdate,
               ROW_NUMBER() OVER (
                   PARTITION BY o_custkey, o_orderdate ORDER BY o_orderkey DESC
               ) AS rn
        FROM orders
    ) WHERE rn = 1
)
SELECT e.event_id, e.user_id,
       epoch_us(e.ts) AS event_ts_us,
       o.o_orderkey AS last_orderkey,
       epoch_us(o.o_orderdate) AS last_order_ts_us
FROM ev e
ASOF LEFT JOIN ord o
  ON e.user_id = o.o_custkey AND o.o_orderdate <= e.ts
""",
)
def asof_join_last_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time enrichment: each (sampled) event gets the user's most
    recent order as of the event time. Oracle uses DuckDB's native ASOF
    JOIN over a right side deduped to one row per (key, ts) — as-of
    semantics are only well-defined with unique right timestamps per key
    (tests assert raw data does carry such ties, so the dedup is
    load-bearing). The Spark side folds that dedup into the merge window's
    tiebreak ordering (``right_tiebreak``): among right rows at the same
    (user, date) the greatest orderkey is carried, exactly matching the
    oracle's ROW_NUMBER dedup — without a separate shuffle+sort over
    orders.
    """
    prepare(spark)
    ev = (
        table(spark, sf_dir, "events")
        .filter(F.col("event_id") % 20 == 0)
        .select("event_id", "user_id", "ts")
    )
    orders = table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderkey", "o_orderdate"
    )
    joined = asof_join(
        ev,
        orders.withColumnRenamed("o_custkey", "user_id"),
        key="user_id",
        left_ts="ts",
        right_ts="o_orderdate",
        right_cols=["o_orderkey", "o_orderdate"],
        right_tiebreak="o_orderkey",
    )
    return joined.select(
        "event_id",
        "user_id",
        F.unix_micros("ts").alias("event_ts_us"),
        F.col("o_orderkey").alias("last_orderkey"),
        F.unix_micros(F.col("o_orderdate").cast("timestamp")).alias(
            "last_order_ts_us"
        ),
    )


# --------------------------------------------------------------------------
@register(
    "asof_forward_next_purchase",
    # r12 rotation: promoted to the driver window (VERDICT r11 #1) —
    # the forward direction of the as-of family. r15 rotation OUT after
    # three green rounds (r12–r14) — slot ceded to
    # events_session_window_native; pytest oracle remains.
    driver_facing=False,
    oracle="""
WITH ev AS (
    SELECT event_id, user_id, ts FROM events WHERE event_id % 20 = 0
),
pur AS (
    SELECT user_id, ts, event_id FROM (
        SELECT user_id, ts, event_id,
               ROW_NUMBER() OVER (
                   PARTITION BY user_id, ts ORDER BY event_id DESC
               ) AS rn
        FROM events WHERE event_type = 'purchase'
    ) WHERE rn = 1
)
SELECT e.event_id, e.user_id,
       epoch_us(e.ts) AS event_ts_us,
       p.event_id AS next_purchase_id,
       epoch_us(p.ts) AS next_purchase_ts_us
FROM ev e
ASOF LEFT JOIN pur p ON e.user_id = p.user_id AND p.ts >= e.ts
""",
)
def asof_forward_next_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-to-next-conversion building block: each (sampled) event gets
    the same user's NEAREST purchase at-or-after it —
    ``asof_join(direction="forward")``, the mirror of the backward
    point-in-time lookup (a purchase event in the sample matches
    itself, per ASOF's inclusive inequality). Right-side (user, ts)
    ties dedup to the greatest event_id via the merge-window tiebreak,
    matching the oracle's ROW_NUMBER dedup with no extra shuffle."""
    prepare(spark)
    ev = (
        table(spark, sf_dir, "events")
        .filter(F.col("event_id") % 20 == 0)
        .select("event_id", "user_id", "ts")
    )
    purchases = table(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    ).select("user_id", F.col("ts").alias("p_ts"), F.col("event_id").alias("p_id"))
    joined = asof_join(
        ev,
        purchases,
        key="user_id",
        left_ts="ts",
        right_ts="p_ts",
        right_cols=["p_id", "p_ts"],
        right_tiebreak="p_id",
        direction="forward",
    )
    return joined.select(
        "event_id",
        "user_id",
        F.unix_micros("ts").alias("event_ts_us"),
        F.col("p_id").alias("next_purchase_id"),
        F.unix_micros(F.col("p_ts").cast("timestamp")).alias(
            "next_purchase_ts_us"
        ),
    )


# --------------------------------------------------------------------------
def tune_bucket_days(
    left: DataFrame, right: DataFrame | None = None, relative_error: float = 0.01
) -> int:
    """Derive the overlap-join bucket width from the data: the median
    interval length in days (inclusive), via one ``approxQuantile`` pass
    over the pruned ``(start, end)`` projection (GK summary — bounded
    driver state at any scale; ``relative_error=0`` is pathological, see
    operators/histogram.py). Bucket ≈ median length keeps the per-row
    explode fan-out at ~2 for the typical interval while buckets stay
    narrow enough that collision candidates remain local — the fixed
    ``bucket_days=7`` default degraded to length/7 fan-out per row on a
    long-interval-heavy input (VERDICT r11 #7 / r12 #5). Clamped to ≥1;
    an empty input tunes to 1 (the join is empty anyway).

    The sizing pass is EAGER (runs at plan-construction time) and
    per-call; callers that rebuild the same plan repeatedly should tune
    once and pass the result as ``bucket_days`` — the registered
    ``overlap_shipping_windows`` keeps the tuned width in the session
    state, derived from ``lineitem`` like every other per-source entry
    (``io.SessionState``)."""
    lengths = left.select(
        (F.datediff(F.col("end"), F.col("start")) + 1).cast("double").alias("len")
    )
    if right is not None and right is not left:
        lengths = lengths.unionByName(
            right.select(
                (F.datediff(F.col("end"), F.col("start")) + 1)
                .cast("double")
                .alias("len")
            )
        )
    q = lengths.approxQuantile("len", [0.5], relative_error)
    return max(1, int(q[0])) if q else 1


def interval_overlap_join(
    left: DataFrame,
    right: DataFrame,
    bucket_days: int | str,
    self_pairs: bool = False,
) -> DataFrame:
    """Pure interval-overlap join WITHOUT an equi key — the join
    ``range_join_ship_lag``'s docstring promises a scale pattern for:
    each side's ``(id, start, end)`` interval explodes into the coarse
    time buckets it covers (fan-out = length/bucket_days + 1 per row,
    bounded by choosing the bucket near the median interval length), the
    sides EQUI-join on bucket — partition-local, shuffle-bounded, never
    the quadratic theta join — and the exact overlap predicate filters
    the bucket-collisions. A pair sharing several buckets would emit
    duplicates; the standard first-shared-bucket guard
    (``bucket == greatest(a_blo, b_blo)``) keeps exactly one, with NO
    dedup shuffle. ``self_pairs=True`` additionally keeps ``a_id <
    b_id`` (unordered self-join pairs).

    LIBRARY CONTRACT (VERDICT r13 #7): ``bucket_days`` is REQUIRED —
    pass an explicit width (≈ the median interval length; see
    :func:`tune_bucket_days`). ``"auto"`` is accepted as an EXPLICIT
    opt-in that runs the tuner's eager bounded sizing job at
    plan-construction time (same S6 class as a COUNT(*)) — fine at a
    top level, wrong inside a larger lazy plan built repeatedly, which
    is why it is no longer a silent default: constructing this plan
    with an integer width launches no Spark job (pinned in
    tests/test_relational.py). The registered query memoizes the tuned
    width per (sf_dir, source mtime). Output: a_id, b_id, overlap_days
    (inclusive-end day count, integer-exact)."""
    if bucket_days is None:
        # callers migrating from the pre-r14 default land here with a
        # descriptive pointer instead of a downstream arithmetic error
        raise TypeError(
            "interval_overlap_join: bucket_days is required — pass an "
            "explicit width (≈ median interval length; see "
            "tune_bucket_days) or the string 'auto' to opt in to the "
            "eager sizing job (README 'Compatibility notes', r14)"
        )
    if bucket_days == "auto":
        bucket_days = tune_bucket_days(left, right)
    epoch = F.lit("1970-01-01").cast("date")

    def bucketed(df: DataFrame, pfx: str) -> DataFrame:
        lo = F.floor(F.datediff(F.col("start"), epoch) / bucket_days).cast(
            "bigint"
        )
        hi = F.floor(F.datediff(F.col("end"), epoch) / bucket_days).cast(
            "bigint"
        )
        return df.select(
            F.col("id").alias(f"{pfx}_id"),
            F.col("start").alias(f"{pfx}_start"),
            F.col("end").alias(f"{pfx}_end"),
            lo.alias(f"{pfx}_blo"),
            F.explode(F.sequence(lo, hi)).alias("bucket"),
        )

    a = bucketed(left, "a")
    b = bucketed(right, "b")
    cond = (
        (F.col("a_start") <= F.col("b_end"))
        & (F.col("b_start") <= F.col("a_end"))
        & (F.col("bucket") == F.greatest("a_blo", "b_blo"))
    )
    if self_pairs:
        cond = cond & (F.col("a_id") < F.col("b_id"))
    return (
        a.join(b, "bucket")
        .filter(cond)
        .select(
            "a_id",
            "b_id",
            (
                F.datediff(
                    F.least("a_end", "b_end"), F.greatest("a_start", "b_start")
                )
                + 1
            )
            .cast("bigint")
            .alias("overlap_days"),
        )
    )


@register(
    "overlap_shipping_windows",
    # r12 rotation: promoted to the driver window (VERDICT r11 #1) —
    # the pure range join without an equi key, bucketized.
    # r20: ceded its driver slot after eight driver-green rounds
    # (r12-r19) to similarity_ann_recall_at_k — the full DuckDB oracle
    # keeps running at both scale factors via tests/test_oracle_parity.
    driver_facing=False,
    oracle="""
WITH win AS (
    SELECT l_orderkey * 10 + l_linenumber AS id,
           CAST(l_shipdate AS DATE) AS start_d,
           CAST(l_shipdate AS DATE) + CAST(l_quantity AS INT) AS end_d
    FROM lineitem WHERE l_orderkey % 100 = 0
)
SELECT a.id AS a_id, b.id AS b_id,
       CAST(date_diff('day', GREATEST(a.start_d, b.start_d),
                      LEAST(a.end_d, b.end_d)) + 1 AS BIGINT) AS overlap_days
FROM win a JOIN win b
  ON a.id < b.id
 AND a.start_d <= b.end_d AND b.start_d <= a.end_d
""",
)
def overlap_shipping_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concurrent shipping windows among sampled lineitems: interval =
    [shipdate, shipdate + quantity days] (synthetic-but-deterministic
    width — this dataset carries no receiptdate), all overlapping
    unordered pairs with their overlap length. The oracle is the naive
    quadratic theta join — correct at sample scale; the engine runs the
    bucketized plan that survives the unsampled table, with the bucket
    width auto-tuned from the median interval length (≈26d on this
    data; r13 measurement vs the old hand-picked 7d in
    PERFORMANCE.md). The tuned width is session state derived from
    lineitem, so repeated plan builds (driver sweep, bench reps) pay the
    sizing pass once per source version, not per call, and
    ``io.refresh_table`` reruns it."""
    prepare(spark)
    win = (
        table(spark, sf_dir, "lineitem")
        .filter(F.col("l_orderkey") % 100 == 0)
        .select(
            (F.col("l_orderkey") * 10 + F.col("l_linenumber")).alias("id"),
            F.col("l_shipdate").cast("date").alias("start"),
            F.date_add(
                F.col("l_shipdate").cast("date"),
                F.col("l_quantity").cast("int"),
            ).alias("end"),
        )
    )
    bucket = session_state(spark).get(
        "tuned",
        sf_dir,
        "overlap_bucket_days",
        ("lineitem",),
        lambda: tune_bucket_days(win, win),
    )
    return interval_overlap_join(win, win, bucket_days=bucket, self_pairs=True)


# --------------------------------------------------------------------------
@register(
    "range_join_ship_lag",
    driver_facing=False,  # rotated out r9 (driver-green since r3):
    # slot ceded to corpus_select_token_budget (pytest oracle still runs)
    oracle="""
SELECT o.o_orderpriority,
       COUNT(*) AS n_fast_lines,
       CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
           AS fast_revenue
FROM orders o
JOIN lineitem l
  ON l.l_orderkey = o.o_orderkey
 AND l.l_shipdate >= o.o_orderdate
 AND l.l_shipdate <  o.o_orderdate + INTERVAL 30 DAY
GROUP BY 1
""",
)
def range_join_ship_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval/range join: lineitems shipped within 30 days of their
    order — an equi key plus a time-range residual. Spark hashes the equi
    part and applies the range as a join residual; for pure range joins
    (no equi key) the scale pattern is bucketing both sides by coarse time
    bucket so the inequality stays partition-local."""
    prepare(spark)
    o = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    li = table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_shipdate", "l_extendedprice"
    )
    joined = li.join(
        o,
        (li.l_orderkey == o.o_orderkey)
        & (li.l_shipdate >= o.o_orderdate)
        & (li.l_shipdate < o.o_orderdate + F.expr("INTERVAL 30 DAY")),
    )
    return joined.groupBy("o_orderpriority").agg(
        F.count("*").alias("n_fast_lines"),
        F.sum(F.col("l_extendedprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("fast_revenue"),
    )


# --------------------------------------------------------------------------
@register(
    "setops_customer_cohorts",
    driver_facing=False,  # rotated out r9: driver-green since <=r7;
    # window slot ceded to the round-8 operator crop (pytest oracle still runs)
    oracle="""
WITH y97 AS (
    SELECT DISTINCT o_custkey FROM orders
    WHERE o_orderdate >= '1997-01-01' AND o_orderdate < '1998-01-01'
),
y98 AS (
    SELECT DISTINCT o_custkey FROM orders
    WHERE o_orderdate >= '1998-01-01' AND o_orderdate < '1999-01-01'
)
SELECT 'churned' AS cohort, COUNT(*) AS n FROM (SELECT * FROM y97 EXCEPT SELECT * FROM y98)
UNION ALL
SELECT 'retained' AS cohort, COUNT(*) AS n FROM (SELECT * FROM y97 INTERSECT SELECT * FROM y98)
UNION ALL
SELECT 'new' AS cohort, COUNT(*) AS n FROM (SELECT * FROM y98 EXCEPT SELECT * FROM y97)
""",
)
def setops_customer_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION ALL / INTERSECT / EXCEPT in one cohort query (SURVEY §2.7:
    absent from the reference, table-stakes for the engine)."""
    prepare(spark)
    o = table(spark, sf_dir, "orders")
    y97 = (
        o.filter(
            (F.col("o_orderdate") >= "1997-01-01")
            & (F.col("o_orderdate") < "1998-01-01")
        )
        .select("o_custkey")
        .distinct()
    )
    y98 = (
        o.filter(
            (F.col("o_orderdate") >= "1998-01-01")
            & (F.col("o_orderdate") < "1999-01-01")
        )
        .select("o_custkey")
        .distinct()
    )

    def count1(df: DataFrame, label: str) -> DataFrame:
        return df.agg(F.count("*").alias("n")).select(
            F.lit(label).alias("cohort"), "n"
        )

    return (
        count1(y97.exceptAll(y98), "churned")
        .unionByName(count1(y97.intersect(y98), "retained"))
        .unionByName(count1(y98.exceptAll(y97), "new"))
    )


# --------------------------------------------------------------------------
@register(
    "semi_anti_customers",
    driver_facing=False,  # rotated out r9: driver-green since <=r7;
    # window slot ceded to the round-8 operator crop (pytest oracle still runs)
    oracle="""
SELECT c.c_mktsegment AS segment,
       CAST(SUM(CASE WHEN EXISTS (
           SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
       ) THEN 1 ELSE 0 END) AS BIGINT) AS with_orders,
       CAST(SUM(CASE WHEN NOT EXISTS (
           SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
       ) THEN 1 ELSE 0 END) AS BIGINT) AS without_orders
FROM customer c
GROUP BY 1
""",
)
def semi_anti_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-semi and left-anti joins (EXISTS / NOT EXISTS) — counted per
    segment so one query pins both."""
    prepare(spark)
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("c_custkey")
    )
    semi = (
        c.join(o, "c_custkey", "left_semi")
        .groupBy("c_mktsegment")
        .agg(F.count("*").alias("with_orders"))
    )
    anti = (
        c.join(o, "c_custkey", "left_anti")
        .groupBy("c_mktsegment")
        .agg(F.count("*").alias("without_orders"))
    )
    segments = c.select(F.col("c_mktsegment")).distinct()
    return (
        segments.join(semi, "c_mktsegment", "left")
        .join(anti, "c_mktsegment", "left")
        .select(
            F.col("c_mktsegment").alias("segment"),
            F.coalesce("with_orders", F.lit(0)).alias("with_orders"),
            F.coalesce("without_orders", F.lit(0)).alias("without_orders"),
        )
    )


# --------------------------------------------------------------------------
@register(
    "events_distinct_users",
    driver_facing=False,  # COUNT(DISTINCT) stays pytest-oracle-checked; the
    # driver slot goes to the live JDBC scan (S4) this twin outranked
    oracle="""
SELECT event_type,
       COUNT(DISTINCT user_id) AS n_users,
       COUNT(*) AS n_events
FROM events
GROUP BY 1
""",
)
def events_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COUNT(DISTINCT) — Spark plans a two-phase Expand+agg; exact."""
    prepare(spark)
    ev = table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("n_users"),
        F.count("*").alias("n_events"),
    )


# --------------------------------------------------------------------------
@register("events_approx_distinct_users", driver_facing=False)  # no oracle: HLL sketches are
# engine-specific by construction; tests bound the relative error instead.
def events_approx_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_count_distinct (HyperLogLog++): the sketch path for
    cardinalities where exact distinct would shuffle 100 TB. Rows-only in
    the driver gate; accuracy is asserted in tests against the exact count."""
    prepare(spark)
    ev = table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", rsd=0.02).alias("approx_users")
    )


# --------------------------------------------------------------------------
@register(
    "events_value_moments",
    driver_facing=False,  # rotated out r9: driver-green since <=r7;
    # window slot ceded to the round-8 operator crop (pytest oracle still runs)
    oracle="""
WITH agg AS (
    SELECT event_type,
           COUNT(*) AS n,
           SUM(CAST(value AS DECIMAL(18,6))) AS s1,
           SUM(CAST(value AS DECIMAL(18,6)) * CAST(value AS DECIMAL(18,6))) AS s2,
           MIN(value) AS min_value,
           MAX(value) AS max_value
    FROM events
    GROUP BY 1
)
SELECT event_type, n, min_value, max_value,
       CAST(s1 AS DOUBLE) / n AS mean_value,
       -- rounded: the high-scale decimal->double conversion of s2 can
       -- differ by 1 ulp between engines; 6 decimals is far above that
       ROUND((CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * (CAST(s1 AS DOUBLE) / n))
           / (n - 1), 6) AS var_value
FROM agg
""",
)
def events_value_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact mean/variance from decimal power sums — order-insensitive
    (unlike stddev over doubles, whose parallel reduction is not
    reproducible), identical on both engines, and one pass."""
    prepare(spark)
    ev = table(spark, sf_dir, "events")
    d = F.col("value").cast("decimal(18,6)")
    agg = ev.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum(d).alias("s1"),
        F.sum(d * d).alias("s2"),
        F.min("value").alias("min_value"),
        F.max("value").alias("max_value"),
    )
    s1d = F.col("s1").cast("double")
    s2d = F.col("s2").cast("double")
    return agg.select(
        "event_type",
        "n",
        "min_value",
        "max_value",
        (s1d / F.col("n")).alias("mean_value"),
        F.round(
            (s2d - s1d * (s1d / F.col("n"))) / (F.col("n") - 1), 6
        ).alias("var_value"),
    )


# --------------------------------------------------------------------------
@register(
    "bigjoin_order_priority_revenue",
    driver_facing=False,  # r10 rotation: driver-green r≤9, pytest oracle retained
    oracle="""
SELECT o.o_orderpriority AS order_priority,
       CAST(COUNT(*) AS BIGINT) AS n_lines,
       CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount)
                     AS DECIMAL(18,4))) AS DOUBLE) AS revenue
FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
GROUP BY 1
""",
)
def bigjoin_order_priority_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact⨝fact join: neither side is broadcast-able at 100 TB, so this
    is THE query shape that shuffles both inputs on the key. On plain
    parquet Catalyst/AQE picks the strategy (locally it broadcasts the
    smaller side; at scale it sort-merge-joins). A join repeated at scale
    would bucket both sides on the key once (``bucketBy``) so that later
    runs plan it with no Exchange; the engine keeps no such layout."""
    prepare(spark)
    orders = table(spark, sf_dir, "orders")
    lineitem = table(spark, sf_dir, "lineitem")
    return (
        orders.join(lineitem, orders.o_orderkey == lineitem.l_orderkey)
        .groupBy(F.col("o_orderpriority").alias("order_priority"))
        .agg(
            F.count("*").alias("n_lines"),
            F.sum(
                (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
                    "decimal(18,4)"
                )
            )
            .cast("double")
            .alias("revenue"),
        )
    )


# --------------------------------------------------------------------------
@register(
    "fullouter_yearly_customer_recon",
    # r10 rotation: took a window slot (VERDICT r9 next-round #1);
    # r13 rotation: driver-green r10-r12, slot ceded to
    # lexical_bm25_topk (pytest oracle still runs at both SFs)
    driver_facing=False,
    oracle="""
WITH y97 AS (
    SELECT o_custkey, COUNT(*) AS n_1997
    FROM orders
    WHERE o_orderdate >= DATE '1997-01-01' AND o_orderdate < DATE '1998-01-01'
    GROUP BY o_custkey
),
y98 AS (
    SELECT o_custkey, COUNT(*) AS n_1998
    FROM orders
    WHERE o_orderdate >= DATE '1998-01-01' AND o_orderdate < DATE '1999-01-01'
    GROUP BY o_custkey
)
SELECT COALESCE(a.o_custkey, b.o_custkey) AS custkey,
       COALESCE(a.n_1997, 0) AS n_1997,
       COALESCE(b.n_1998, 0) AS n_1998,
       CASE WHEN a.o_custkey IS NULL THEN 'only_1998'
            WHEN b.o_custkey IS NULL THEN 'only_1997'
            ELSE 'both' END AS status
FROM y97 a FULL OUTER JOIN y98 b ON a.o_custkey = b.o_custkey
""",
)
def fullouter_yearly_customer_recon(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Year-over-year customer reconciliation — the canonical FULL OUTER
    JOIN use case the surface was missing: order counts per customer for
    1997 and 1998 side by side, with customers active in only one year
    surfacing as 'only_*' rows instead of silently dropping (what an
    inner or one-sided outer join would do).

    Scale shape: both inputs pre-aggregate to one row per customer BEFORE
    the join (partial agg collapses map-side), so the full-outer shuffle
    moves two already-reduced frames keyed on the same column — a
    sort-merge join on aligned partitioning, no skew beyond the customer
    key's own, and no null-key hotspot (aggregate keys are non-null)."""
    prepare(spark)
    orders = table(spark, sf_dir, "orders")

    def year_counts(y: int, alias: str) -> DataFrame:
        return (
            orders.filter(
                (F.col("o_orderdate") >= f"{y}-01-01")
                & (F.col("o_orderdate") < f"{y + 1}-01-01")
            )
            .groupBy("o_custkey")
            .agg(F.count("*").alias(alias))
        )

    a = year_counts(1997, "n_1997").alias("a")
    b = year_counts(1998, "n_1998").alias("b")
    joined = a.join(b, F.col("a.o_custkey") == F.col("b.o_custkey"), "full")
    return joined.select(
        F.coalesce(F.col("a.o_custkey"), F.col("b.o_custkey")).alias("custkey"),
        F.coalesce(F.col("a.n_1997"), F.lit(0)).alias("n_1997"),
        F.coalesce(F.col("b.n_1998"), F.lit(0)).alias("n_1998"),
        F.when(F.col("a.o_custkey").isNull(), "only_1998")
        .when(F.col("b.o_custkey").isNull(), "only_1997")
        .otherwise("both")
        .alias("status"),
    )
