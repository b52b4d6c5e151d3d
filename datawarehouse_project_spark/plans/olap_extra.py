"""Additional OLAP operators rounding out the catalog: the MySQL-form
GROUP_CONCAT (bug-compatibility variant), discrete percentiles, top-N per
group, and pivot — each with a DuckDB oracle."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .olap import YEAR, _in_year
from .registry import REGISTRY, register
from .star import FACT_CTE, fact
from ..io import FACT_SOURCE_TABLES, release_checkpoint, session_state, table
from ..session import prepare

# --------------------------------------------------------------------------
# A6 bug-compatibility: MySQL's two-argument GROUP_CONCAT(expr, ', ')
# concatenates BOTH expressions per row, then joins rows with the DEFAULT
# separator ',' (reference olap_queries.sql:107) — i.e. 'a, ,b, ' not
# 'a, b'. The intent form lives in q06_product_affinity; this variant
# reproduces the quirk (rows sorted for determinism, which MySQL does not
# guarantee — documented divergence).
@register(
    "q06m_groupconcat_mysql_form",
    driver_facing=False,  # MySQL 2-arg GROUP_CONCAT bug-compat exemplar of q06
    oracle=f"""
WITH {FACT_CTE},
order_products AS (
    SELECT order_id,
           string_agg(product_name || ', ', ',' ORDER BY product_name)
               AS product_combination
    FROM fact
    GROUP BY order_id
    HAVING COUNT(*) > 1
)
SELECT product_combination, COUNT(*) AS pair_count
FROM order_products
GROUP BY 1
ORDER BY pair_count DESC, product_combination
LIMIT 5
""",
)
def q06m_groupconcat_mysql_form(spark: SparkSession, sf_dir: str) -> DataFrame:
    order_products = (
        fact(spark, sf_dir)
        .groupBy("order_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list("product_name")),
                    lambda x: F.concat(x, F.lit(", ")),
                ),
                ",",
            ).alias("product_combination"),
            F.count("*").alias("n_items"),
        )
        .filter(F.col("n_items") > 1)
    )
    return (
        order_products.groupBy("product_combination")
        .agg(F.count("*").alias("pair_count"))
        .orderBy(F.desc("pair_count"), "product_combination")
        .limit(5)
    )


# --------------------------------------------------------------------------
# Discrete median (percentile_disc): picks an actual data value via
# row_number — deterministic on both engines, unlike interpolating
# percentiles (float arithmetic) or t-digest approximations.
@register(
    "events_value_median_disc",
    driver_facing=False,  # rotated out r9: driver-green since <=r7;
    # window slot ceded to the round-8 operator crop (pytest oracle still runs)
    oracle="""
WITH ranked AS (
    SELECT event_type, value,
           ROW_NUMBER() OVER (
               PARTITION BY event_type ORDER BY value, event_id
           ) AS rn,
           COUNT(*) OVER (PARTITION BY event_type) AS n
    FROM events
)
SELECT event_type, value AS median_value
FROM ranked
WHERE rn = (n + 1) // 2
""",
)
def events_value_median_disc(spark: SparkSession, sf_dir: str) -> DataFrame:
    prepare(spark)
    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("value", "event_id")
    wc = Window.partitionBy("event_type")
    ranked = ev.select(
        "event_type",
        "value",
        F.row_number().over(w).alias("rn"),
        F.count("*").over(wc).alias("n"),
    )
    return ranked.filter(
        F.col("rn") == ((F.col("n") + 1) / 2).cast("bigint")
    ).select("event_type", F.col("value").alias("median_value"))


# --------------------------------------------------------------------------
# Approximate median twin of events_value_median_disc: at 100 TB the
# exact form's per-key ROW_NUMBER is a per-key global sort; the production
# path is a mergeable quantile sketch (approx_percentile / KLL-style),
# one pass, bounded memory per group, no sort. Rows-only in the driver
# gate (sketches are engine-specific by construction); accuracy is
# asserted against the exact median in tests, mirroring the HLL pattern
# (events_approx_distinct_users).
@register("events_value_median_approx", driver_facing=False)
def events_value_median_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    prepare(spark)
    ev = table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.expr("approx_percentile(value, 0.5, 10000)").alias("approx_median")
    )


# --------------------------------------------------------------------------
# Top-N per group: the ranking-window pattern (distinct from global top-k,
# which plans as TakeOrderedAndProject).
@register(
    "topn_products_per_store",
    driver_facing=False,  # r10 rotation: driver-green r≤9, pytest oracle retained
    oracle=f"""
WITH {FACT_CTE},
agg AS (
    SELECT store_name, product_name,
           CAST(SUM(sale) AS DOUBLE) AS total_sales
    FROM fact
    GROUP BY 1, 2
),
ranked AS (
    SELECT store_name, product_name, total_sales,
           CAST(ROW_NUMBER() OVER (
               PARTITION BY store_name
               ORDER BY total_sales DESC, product_name
           ) AS INT) AS rank
    FROM agg
)
SELECT store_name, product_name, total_sales, rank
FROM ranked WHERE rank <= 3
""",
)
def topn_products_per_store(spark: SparkSession, sf_dir: str) -> DataFrame:
    agg = (
        fact(spark, sf_dir)
        .groupBy("store_name", "product_name")
        .agg(F.sum("sale").cast("double").alias("total_sales"))
    )
    w = Window.partitionBy("store_name").orderBy(
        F.desc("total_sales"), "product_name"
    )
    return (
        agg.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= 3)
    )


# --------------------------------------------------------------------------
# Pivot: revenue by store x order priority. Spark's native .pivot() with an
# explicit value list (never let pivot scan for distinct values at scale);
# the oracle is the equivalent conditional-aggregation spelling.
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_PIV_COLS = {p: "p" + p[0] for p in _PRIORITIES}


@register(
    "pivot_store_priority",
    driver_facing=False,  # rotated out r9: driver-green since <=r7;
    # window slot ceded to the round-8 operator crop (pytest oracle still runs)
    oracle=f"""
WITH {FACT_CTE},
joined AS (
    SELECT f.store_name, f.sale, o.o_orderpriority
    FROM fact f JOIN orders o ON f.order_id = o.o_orderkey
)
SELECT store_name,
       {", ".join(
           f"CAST(SUM(CASE WHEN o_orderpriority = '{p}' THEN sale ELSE CAST(0.00 AS DECIMAL(18,2)) END) AS DOUBLE) AS {c}"
           for p, c in _PIV_COLS.items()
       )}
FROM joined
GROUP BY 1
""",
)
def pivot_store_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    prepare(spark)
    f = fact(spark, sf_dir)
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    joined = f.join(o, f.order_id == o.o_orderkey).select(
        "store_name", "sale", "o_orderpriority"
    )
    pivoted = (
        joined.groupBy("store_name")
        .pivot("o_orderpriority", _PRIORITIES)
        .agg(F.sum("sale"))
    )
    return pivoted.select(
        "store_name",
        *[
            F.coalesce(F.col(f"`{p}`"), F.lit(0).cast("decimal(18,2)"))
            .cast("double")
            .alias(c)
            for p, c in _PIV_COLS.items()
        ],
    )


# --------------------------------------------------------------------------
# Unpivot: the inverse of the pivot above — wide (store x priority columns)
# back to long (store, priority, value) rows. Spark's native ``unpivot``
# (the SQL STACK/UNPIVOT analog) emits one row per id x value column,
# INCLUDING the zero cells the pivot materialized, so the pair
# pivot -> unpivot is lossless; the oracle states that directly by
# unioning the pivot oracle's columns.


def _unpivot_oracle() -> str:
    piv = REGISTRY["pivot_store_priority"].oracle
    arms = " UNION ALL ".join(
        f"SELECT store_name, '{c}' AS priority, {c} AS total_sales FROM piv"
        for c in _PIV_COLS.values()
    )
    return f"WITH piv AS ({piv}) {arms}"


@register(
    "unpivot_store_priority",
    # r10 rotation: took a window slot (VERDICT r9 next-round #1).
    # r20: ceded its driver slot after eight driver-green rounds
    # (r10-r19) to retrieval_eval_ndcg — the full DuckDB oracle keeps
    # running at both scale factors via tests/test_oracle_parity.py.
    oracle=_unpivot_oracle,
    driver_facing=False,
)
def unpivot_store_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide-to-long unpivot of the store x priority revenue matrix —
    the relational inverse the pivot was missing. Per-row reshaping
    (each input row expands to 5 output rows), no shuffle beyond what
    the pivot itself already did."""
    return pivot_store_priority(spark, sf_dir).unpivot(
        ["store_name"],
        list(_PIV_COLS.values()),
        "priority",
        "total_sales",
    )


# --------------------------------------------------------------------------
@register(
    "events_value_median_cont",
    # r10 rotation: took a window slot (VERDICT r9 next-round #1).
    # r13 rotation OUT (driver-green r10-r12): slot ceded to
    # events_hourly_from_store (VERDICT r12 #3); the quantile family
    # stays driver-checked via events_value_histogram_percentiles and
    # this row keeps its pytest oracle.
    driver_facing=False,
    oracle="""
SELECT event_type,
       percentile_cont(0.5) WITHIN GROUP (ORDER BY value) AS median_value
FROM events
GROUP BY 1
""",
)
def events_value_median_cont(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated (continuous) median per event type — the
    PERCENTILE_CONT companion to the discrete median above. Spark's
    exact ``percentile`` and DuckDB's ``percentile_cont`` interpolate
    identically on doubles (verified bit-for-bit by the oracle gate).
    Same scale posture as the discrete form: exact percentiles need the
    per-key sorted mass; the sketch twin
    (``events_value_median_approx``) is the 100 TB path."""
    prepare(spark)
    ev = table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.expr("percentile(value, 0.5)").alias("median_value")
    )


# --------------------------------------------------------------------------
#: Minimum co-occurrence count for an association rule to surface —
#: the standard min-support cut that bounds rule-set size on any corpus.
MIN_PAIR_COUNT = 3


@register(
    "affinity_lift_rules",
    driver_facing=False,  # r12 rotation: driver-green r≤11; slot ceded to
    # the r10-crop promotions (VERDICT r11 next-round #1). Pytest oracle kept.
    oracle=f"""
WITH {FACT_CTE},
op AS (SELECT DISTINCT order_id, product_name FROM fact),
n_orders AS (SELECT COUNT(DISTINCT order_id) AS n FROM op),
pc AS (SELECT product_name, COUNT(*) AS n_p FROM op GROUP BY 1),
pairs AS (
    SELECT a.product_name AS product_a, b.product_name AS product_b,
           COUNT(*) AS n_ab
    FROM op a JOIN op b
      ON a.order_id = b.order_id AND a.product_name < b.product_name
    GROUP BY 1, 2
)
SELECT p.product_a, p.product_b, p.n_ab,
       CAST(p.n_ab AS DOUBLE) / (SELECT n FROM n_orders) AS support,
       CAST(p.n_ab AS DOUBLE) / ca.n_p AS conf_a_to_b,
       CAST(p.n_ab AS DOUBLE) / cb.n_p AS conf_b_to_a,
       (CAST(p.n_ab AS DOUBLE) * (SELECT n FROM n_orders))
           / (CAST(ca.n_p AS DOUBLE) * cb.n_p) AS lift
FROM pairs p
JOIN pc ca ON ca.product_name = p.product_a
JOIN pc cb ON cb.product_name = p.product_b
WHERE p.n_ab >= {MIN_PAIR_COUNT}
""",
)
def affinity_lift_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Association-rule metrics over co-purchase baskets — the analyst's
    step past q06's raw pair counts: support (pair frequency),
    directional confidence (P(b|a), P(a|b)), and lift
    (observed/expected co-occurrence; >1 = genuinely associated).
    min-support cut bounds the rule set on any corpus.

    Every metric is a ratio of exact integer counts computed with the
    same association on both engines, so the doubles are bit-identical
    and oracle-checkable. Plan: the distinct basket frame feeds four
    subtrees, so it is eagerly ``localCheckpoint``'d — one fact scan +
    one dedup shuffle total, with all four consumers reading the
    materialized blocks (before this, ReuseExchange deduped the SHUFFLE
    but the post-shuffle dedup aggregate re-ran per consumer); the
    within-order pair self-join is bounded per basket (the same
    O(k²)-per-order shape as q06j, fine while baskets are human-sized),
    and the tiny product-count and grand-total frames broadcast back
    onto the pair aggregate."""
    prepare(spark)
    op = (
        fact(spark, sf_dir)
        .select("order_id", "product_name")
        .distinct()
        .localCheckpoint(eager=True)
    )
    # the returned frame stays lazy, so there is no scope to release the
    # checkpoint in — instead cap accumulation at ONE live checkpoint per
    # (session, sf_dir): each rebuild, and a refresh of a fact source,
    # releases the previous builder's blocks
    session_state(spark).put(
        "checkpoint",
        sf_dir,
        "affinity_baskets",
        FACT_SOURCE_TABLES,
        op,
        release=release_checkpoint,
    )
    n_orders = op.select(
        F.count_distinct("order_id").alias("n")
    )
    pc = op.groupBy("product_name").agg(F.count("*").alias("n_p"))
    a = op.select(
        F.col("order_id"), F.col("product_name").alias("product_a")
    )
    b = op.select(
        F.col("order_id"), F.col("product_name").alias("product_b")
    )
    pairs = (
        a.join(b, "order_id")
        .filter(F.col("product_a") < F.col("product_b"))
        .groupBy("product_a", "product_b")
        .agg(F.count("*").alias("n_ab"))
        .filter(F.col("n_ab") >= MIN_PAIR_COUNT)
    )
    ca = pc.select(
        F.col("product_name").alias("product_a"), F.col("n_p").alias("n_a")
    )
    cb = pc.select(
        F.col("product_name").alias("product_b"), F.col("n_p").alias("n_b")
    )
    out = (
        pairs.join(F.broadcast(ca), "product_a")
        .join(F.broadcast(cb), "product_b")
        .join(F.broadcast(n_orders))
    )
    n_ab_d = F.col("n_ab").cast("double")
    return out.select(
        "product_a",
        "product_b",
        "n_ab",
        (n_ab_d / F.col("n")).alias("support"),
        (n_ab_d / F.col("n_a")).alias("conf_a_to_b"),
        (n_ab_d / F.col("n_b")).alias("conf_b_to_a"),
        (
            (n_ab_d * F.col("n"))
            / (F.col("n_a").cast("double") * F.col("n_b"))
        ).alias("lift"),
    )


# --------------------------------------------------------------------------
#: Fixed anchor for recency: just past the generated orders' last date
#: (2001-08-01) — a moving now() would make the query non-reproducible.
RFM_ANCHOR = "2001-09-01"


@register(
    "rfm_customer_segments",
    driver_facing=False,  # r13 rotation: driver-green r8-r12, slot ceded
    # to fuzzy_part_desc_pairs (pytest oracle still runs at both SFs)
    oracle=f"""
WITH base AS (
    SELECT o_custkey,
           CAST(date_diff('day', MAX(o_orderdate),
                          TIMESTAMP '{RFM_ANCHOR} 00:00:00') AS BIGINT)
               AS r_days,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE)
               AS monetary
    FROM orders GROUP BY o_custkey
),
scored AS (
    SELECT *,
           NTILE(5) OVER (ORDER BY r_days DESC, o_custkey) AS r_score,
           NTILE(5) OVER (ORDER BY n_orders ASC, o_custkey) AS f_score,
           NTILE(5) OVER (ORDER BY monetary ASC, o_custkey) AS m_score
    FROM base
)
SELECT o_custkey, r_days, n_orders, monetary,
       CAST(r_score AS INT) AS r_score,
       CAST(f_score AS INT) AS f_score,
       CAST(m_score AS INT) AS m_score,
       CAST(r_score * 100 + f_score * 10 + m_score AS INT) AS rfm_segment
FROM scored
""",
)
def rfm_customer_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation — the classic warehouse customer analysis:
    recency (days from last order to a FIXED anchor; a moving now()
    would be unreproducible), frequency, monetary, each scored into
    quintiles (5 = best) with customer-id tie-breaks so the NTILE
    boundaries are deterministic on both engines; monetary sums in
    exact DECIMAL before the final double cast so partial-sum order
    cannot flip a quintile.

    Scale note: the three NTILEs are global single-partition windows —
    correct for a CUSTOMER-grain frame (orders collapse first; the
    window input is customers, orders-of-magnitude smaller than the
    fact). At truly huge customer counts use the registered scale twin
    :func:`rfm_customer_segments_scaled` — identical scores from
    ``approxQuantile`` cuts, no global sort (equality on distinct
    values pytest-pinned; tie handling documented there)."""
    prepare(spark)
    orders = table(spark, sf_dir, "orders")
    base = orders.groupBy("o_custkey").agg(
        F.datediff(
            F.lit(RFM_ANCHOR).cast("date"), F.max("o_orderdate")
        )
        .cast("bigint")
        .alias("r_days"),
        F.count("*").alias("n_orders"),
        F.sum(F.col("o_totalprice").cast("decimal(18,6)"))
        .cast("double")
        .alias("monetary"),
    )
    w_r = Window.orderBy(F.desc("r_days"), "o_custkey")
    w_f = Window.orderBy(F.asc("n_orders"), "o_custkey")
    w_m = Window.orderBy(F.asc("monetary"), "o_custkey")
    scored = base.select(
        "*",
        F.ntile(5).over(w_r).alias("r_score"),
        F.ntile(5).over(w_f).alias("f_score"),
        F.ntile(5).over(w_m).alias("m_score"),
    )
    return scored.select(
        "o_custkey",
        "r_days",
        "n_orders",
        "monetary",
        F.col("r_score").cast("int").alias("r_score"),
        F.col("f_score").cast("int").alias("f_score"),
        F.col("m_score").cast("int").alias("m_score"),
        (F.col("r_score") * 100 + F.col("f_score") * 10 + F.col("m_score"))
        .cast("int")
        .alias("rfm_segment"),
    )


def rfm_quantile_scores(
    base: DataFrame, relative_error: float = 1e-4
) -> DataFrame:
    """Score an RFM base frame (``r_days``, ``n_orders``, ``monetary``)
    into quintiles from ``approxQuantile`` cuts instead of global NTILE
    windows — the scale path for huge customer counts.

    One distributed Greenwald-Khanna pass collects 12 doubles onto the
    driver (bounded memory ∝ 1/relative_error per partition, merged
    tree-wise — no sort, no single-partition stage), which re-enter the
    plan as broadcast literals in a CASE cascade; the scoring itself is
    then a shuffle-free projection. Calibration: with
    ``relative_error=0`` (exact ranks) and DISTINCT metric values whose
    count divides by 5, the scores EQUAL the exact form's NTILE output
    (pytest-pinned on synthetic data). Tie handling intentionally
    diverges: NTILE splits equal values across a boundary by the
    customer-id tie-break to force equal bucket sizes, while value cuts
    give equal values equal scores — at scale the value-deterministic
    form is also the analytically defensible one (two identical
    customers never land in different segments). At production
    ``relative_error`` (the 1e-4 default) boundary values may shift by
    that rank fraction; interior scores are unaffected. Do NOT run the
    registered query at 0 beyond tests: relative_error=0 makes the
    Greenwald-Khanna summary keep every value (measured 1.8 s vs 0.9 s
    at sf1 and unbounded driver memory at scale) — exactly the failure
    the twin exists to avoid."""
    metric_cols = ["r_days", "n_orders", "monetary"]
    all_cuts = base.approxQuantile(
        metric_cols, [0.2, 0.4, 0.6, 0.8], relative_error
    )  # ONE action: all 12 cuts from a single base-aggregate execution
    cuts = dict(zip(metric_cols, all_cuts))

    def asc_score(col: str):  # score 5 = highest value
        s = F.lit(1)
        for q in cuts[col]:
            s = s + F.when(F.col(col) > F.lit(q), 1).otherwise(0)
        return s.cast("int")

    def desc_score(col: str):  # score 5 = lowest value (recency: fresher=better)
        s = F.lit(1)
        for q in cuts[col]:
            s = s + F.when(F.col(col) <= F.lit(q), 1).otherwise(0)
        return s.cast("int")

    return base.select(
        "o_custkey",
        "r_days",
        "n_orders",
        "monetary",
        desc_score("r_days").alias("r_score"),
        asc_score("n_orders").alias("f_score"),
        asc_score("monetary").alias("m_score"),
    ).withColumn(
        "rfm_segment",
        (F.col("r_score") * 100 + F.col("f_score") * 10 + F.col("m_score"))
        .cast("int"),
    )


@register(
    "rfm_customer_segments_scaled",
    driver_facing=False,  # r12 rotation: rows-only slot driver-green r10+r11;
    # ceded to the r10-crop promotions. Value gate stays the pytest suite.
    # r10 rotation: driver-facing as a rows-only row (no oracle — the
    # Spark-native quantile sketch has no DuckDB twin stating the identical
    # rank convention); the value gate remains the pytest calibration +
    # invariant suite (tests/test_scd.py rfm tests).
)
def rfm_customer_segments_scaled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The scale twin of :func:`rfm_customer_segments` (same base
    aggregate, quantile-cut scoring): no global sort anywhere in the
    plan, so it survives 10⁹-customer frames where the exact form's
    three single-partition NTILE windows stall. See
    :func:`rfm_quantile_scores` for the calibration/tie-handling
    contract; the registered-twin precedent is
    ``similarity_near_dup_pairs`` / ``near_dup_pairs_scaled``."""
    prepare(spark)
    orders = table(spark, sf_dir, "orders")
    base = orders.groupBy("o_custkey").agg(
        F.datediff(F.lit(RFM_ANCHOR).cast("date"), F.max("o_orderdate"))
        .cast("bigint")
        .alias("r_days"),
        F.count("*").alias("n_orders"),
        F.sum(F.col("o_totalprice").cast("decimal(18,6)"))
        .cast("double")
        .alias("monetary"),
    )
    return rfm_quantile_scores(base)


# --------------------------------------------------------------------------
# r13: the fact-side serving twin of q01 — the same store-read pattern
# events_hourly_from_store proved for the events family, applied to the
# other floor-bound headline row (PERFORMANCE.md r8 negative result: q01's
# 3× gap is the parquet scan floor). The fact is folded ONCE per ingest
# batch into a product-revenue IncrementalRollup (group cardinality =
# |products|); every query then reads the state and plans a
# TakeOrderedAndProject over it — no fact scan, no join, scale-flat.

_PRODUCT_ROLLUP_KEYS = ["product_id", "product_name"]


def served_product_rollup(spark: SparkSession, sf_dir: str):
    """The session's maintained product-revenue rollup over ``sf_dir``'s
    fact, filtered to the catalog YEAR (build-on-first-use, then reads
    only; DECIMAL sums make the folded state equal the full aggregation
    bit-for-bit)."""
    from ..operators.incremental import IncrementalRollup
    def handle(root: str) -> IncrementalRollup:
        return IncrementalRollup(
            root, keys=_PRODUCT_ROLLUP_KEYS, sum_cols=["sale"]
        )

    def build(root: str) -> None:
        roll = handle(root)
        f = fact(spark, sf_dir).filter(_in_year("order_date"))
        roll.apply_batch(
            spark,
            f.select("product_id", "product_name", "sale"),
            batch_id=0,
            app_id="served-q01",
        )

    return handle(
        session_state(spark).served_root(
            sf_dir, "product-rollup", FACT_SOURCE_TABLES, build
        )
    )


@register(
    "q01_from_store",
    # r14 rotation IN (VERDICT r13 #1): the serving twin answering the
    # q01 scan floor earns a driver row; asof_join_last_order ceded.
    # Same oracle as q01_top_revenue_products: the maintained state must
    # answer the headline query exactly.
    oracle=f"""
WITH {FACT_CTE},
agg AS (
    SELECT product_id, product_name,
           CAST(SUM(sale) AS DOUBLE) AS total_sales
    FROM fact
    WHERE EXTRACT(YEAR FROM order_date) = {YEAR}
    GROUP BY product_id, product_name
)
SELECT product_name, total_sales
FROM agg
ORDER BY total_sales DESC, product_name, product_id
LIMIT 5
""",
)
def q01_from_store(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top revenue products served from the maintained product rollup:
    a TakeOrderedAndProject over |products| state rows — the serving
    answer to q01's scan-floor gap (the fact is scanned once per ingest
    fold, never per query). Bit-identical to q01_top_revenue_products."""
    prepare(spark)
    roll = served_product_rollup(spark, sf_dir)
    st = roll.read(spark)
    return (
        st.select(
            "product_id",
            "product_name",
            F.col("sum_sale").cast("double").alias("total_sales"),
        )
        .orderBy(F.desc("total_sales"), "product_name", "product_id")
        .limit(5)
        .select("product_name", "total_sales")
    )
