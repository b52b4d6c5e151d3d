"""The benchmark workloads: what one request is, how it is checked, and the
same-process DuckDB control.

Closed loop, one client: every request starts after the previous one has
finished. Each workload first warms up, which is also the correctness pass
(every distinct request checked once against an independent answer); then
it repeats timed passes until the run's seconds are spent, finishing the
pass it is in. A DuckDB control of each timed request runs right after it.
"""

from __future__ import annotations

import os
import random
import statistics
import sys
import time
import traceback
from decimal import Decimal

import duckdb

import checks
import datagen

#: The query workload: the reference's OLAP queries on the star fact and the
#: LLM-data-pipeline operators, one request per layer, cut to what a run
#: can warm up and time within its budget.
QUERY_MIX = [
    "q01_top_revenue_products",  # plans.olap: the 5-way plans.star fact join
    "q08_halfyearly_vs_yearly",  # plans.olap: its builder runs Spark jobs
    "q01_from_store",  # plans.olap_extra: reads a served store
    "dedup_ngram_jaccard_capped",  # operators.dedup: shingles, explode, pair join
    "lexical_tfidf_cosine_pairs",  # operators.retrieval: sparse vectors, pair join
    "similarity_ann_cosine_topk",  # operators.similarity: vector math, top-k
    "text_stats_by_lang",  # operators.textstats: per-language aggregates
    "events_funnel_conversion",  # operators.events: chained windows
]

#: Timed DuckDB repetitions of each request in the control. DuckDB answers
#: most requests in tens of milliseconds; the median of three was too noisy
#: for a steady ratio.
CONTROL_REPEATS = 7
#: Feeds per etl_ingest pass (one fact table each).
STREAM_FEEDS = 3


class Outcome:
    """What a run measured: request latencies, failures, and notes."""

    def __init__(self) -> None:
        self.latencies: list[float] = []
        self.by_request: dict[str, list[float]] = {}
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.passes = 0
        self.first_request_at: float | None = None
        #: request kind -> DuckDB control seconds, sampled between requests
        self.control_samples: dict[str, list[float]] = {}

    def pass_s(self) -> float:
        """Sum over request kinds of the median latency: one pass's wait."""
        return sum(statistics.median(v) for v in self.by_request.values())

    def control_pass_s(self) -> float:
        return sum(statistics.median(self.control_samples[k]) for k in self.by_request)

    def spark_over_duck(self) -> float:
        return self.pass_s() / self.control_pass_s()

    def fail(self, what: str) -> None:
        self.failed += 1
        self.failures.append(what)
        print(f"perfbench: FAILED {what}", file=sys.stderr)


def _module_layer(fn) -> str:
    return fn.__module__.removeprefix("datawarehouse_project_spark.")


class QueryWorkload:
    """One request = one builder call plus execution, with the result
    delivered to the Spark driver process as Arrow."""

    def __init__(self, names: list[str], data_dir: str, threads: int) -> None:
        from datawarehouse_project_spark import catalog

        self.names = names
        self.data_dir = data_dir
        self.builders = catalog.queries()
        self.oracles = catalog.oracle_sql()
        self.duck = duckdb.connect()
        self.duck.execute(f"SET threads = {threads}")
        for t in checks.TABLES:
            self.duck.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')"
            )
        self.reference: dict = {}

    def _request(self, spark, tracer, name: str, pass_no: int):
        build = self.builders[name]
        layer = _module_layer(build)
        with tracer.span(name, layer, kind="request", pass_no=pass_no) as rec:
            with tracer.span("build", layer, phase="build"):
                df = build(spark, self.data_dir)
            with tracer.span("exec", layer, phase="exec"):
                table = df.toArrow()
        return table, rec["end"] - rec["start"]

    def warm_up(self, spark, tracer, out: Outcome) -> None:
        """The correctness pass, then one more pass: the first timed pass
        after a cold one still runs about a third slower while the JIT
        catches up, and that catching up is what spreads runs apart."""
        for name in self.names:
            out.attempted += 1
            try:
                table, _ = self._request(spark, tracer, name, -1)
                reason = checks.same_as_oracle(table, self.duck, self.oracles[name])
            except Exception:
                traceback.print_exc()
                out.fail(f"{name}: raised")
                continue
            if reason:
                out.fail(f"{name}: {reason}")
            else:
                self.reference[name] = table
        for name in self.names:
            self._checked_request(spark, tracer, name, -1, out)

    def _checked_request(self, spark, tracer, name: str, pass_no: int, out: Outcome):
        """Run a request and compare its result with the checked one; the
        latency, or None when it failed."""
        out.attempted += 1
        try:
            table, latency = self._request(spark, tracer, name, pass_no)
        except Exception:
            traceback.print_exc()
            out.fail(f"{name}: raised")
            return None
        ref = self.reference.get(name)
        if ref is None or not checks.same_table(table, ref):
            out.fail(f"{name}: result differs from the checked one")
        return latency

    def timed(self, spark, tracer, seconds: float, seed: int, out: Outcome) -> None:
        order_rng = random.Random(seed)
        start = time.perf_counter()
        out.first_request_at = start
        while out.passes == 0 or time.perf_counter() - start < seconds:
            order = list(self.names)
            order_rng.shuffle(order)
            for name in order:
                latency = self._checked_request(spark, tracer, name, out.passes, out)
                if latency is not None:
                    out.latencies.append(latency)
                    out.by_request.setdefault(name, []).append(latency)
                    self._control(name, out)
            out.passes += 1

    def _control(self, name: str, out: Outcome) -> None:
        """Time the request's DuckDB oracle, fetched to Arrow, right after
        the Spark request, so both see the same machine: its speed here
        drifts by a fifth within minutes."""
        for _ in range(CONTROL_REPEATS):
            t0 = time.perf_counter()
            self.duck.execute(self.oracles[name]).arrow()
            out.control_samples.setdefault(name, []).append(time.perf_counter() - t0)


def _dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


class EtlWorkload:
    """One request = one dirty transactions feed: clean and dedup it
    (``csv_ingest.read_transactions``), enrich it against the cleaned
    dimensions (``meshjoin.enrich_batch``, inner join, the MESHJOIN
    emission rule), commit it (``VersionedParquetTable.upsert``), then
    read the new snapshot back as one aggregate.

    A pass is one stream of :data:`STREAM_FEEDS` feeds into a fresh fact
    table, so every pass does the same work however many passes fit in the
    run: the snapshot, which is rewritten whole on every commit, grows
    within a pass and starts empty in the next.
    """

    APP = "perfbench"

    def __init__(self, work_dir: str, seed: int, rows_per_feed: int, threads: int) -> None:
        self.work_dir = work_dir
        self.seed = seed
        self.rows_per_feed = rows_per_feed
        self.threads = threads
        self.dims = datagen.DirtyDims(os.path.join(work_dir, "dims"), seed)
        self.streams: list[datagen.DirtyFeeds] = []
        self.commit_s: list[float] = []
        self.read_s: list[float] = []
        self.bytes_written: list[int] = []
        self.feed_bytes: list[int] = []
        self.rows_in: list[int] = []

    def setup(self, spark) -> None:
        from datawarehouse_project_spark.sources import csv_ingest

        self.customers = csv_ingest.read_customers(spark, self.dims.customers_path)
        self.products = csv_ingest.read_products(spark, self.dims.products_path)
        self.duck = duckdb.connect()
        self.duck.execute(f"SET threads = {self.threads}")
        self.duck.execute(_DUCK_DIMS.format(
            customers=self.dims.customers_path, products=self.dims.products_path))

    def _stream(self, spark, tracer, out: Outcome, pass_no: int) -> None:
        from pyspark.sql import functions as F

        from datawarehouse_project_spark.sources import csv_ingest, sinks
        from datawarehouse_project_spark.streaming import meshjoin

        n = len(self.streams)
        feeds = datagen.DirtyFeeds(
            self.dims, os.path.join(self.work_dir, f"feeds{n}"), self.seed, n, self.rows_per_feed
        )
        self.streams.append(feeds)
        snap_dir = os.path.join(self.work_dir, f"duck{n}")
        os.makedirs(snap_dir)
        table = sinks.VersionedParquetTable(os.path.join(self.work_dir, f"fact{n}"))
        dims = {"customer": (self.customers, "customer_id"),
                "product": (self.products, "product_id")}
        for k in range(STREAM_FEEDS):
            path = feeds.write_feed()
            truth = feeds.truth_by_store()
            out.attempted += 1
            with tracer.span(f"feed{k}", "etl", kind="request", pass_no=pass_no) as rec:
                with tracer.span("ingest", "sources.csv_ingest"):
                    txns = csv_ingest.read_transactions(spark, path)
                with tracer.span("enrich", "streaming.meshjoin"):
                    enriched = meshjoin.enrich_batch(txns, dims, how="inner").withColumn(
                        "sale",
                        (F.col("quantity") * F.col("product_price")).cast("decimal(10,2)"),
                    )
                with tracer.span("upsert", "sources.sinks") as up:
                    table.upsert(
                        spark, enriched, pk=["order_id"], txn=(self.APP, k)
                    )
                with tracer.span("read", "sources.sinks") as rd:
                    rows = (
                        table.read(spark)
                        .groupBy("store_id")
                        .agg(F.count("*").alias("n"), F.sum("sale").alias("sales"))
                        .collect()
                    )
            got = {r["store_id"]: (r["n"], Decimal(r["sales"])) for r in rows}
            if got != truth:
                out.fail(f"stream {n} feed {k}: snapshot differs from the generator's truth")
            if pass_no < 0:
                continue
            latency = rec["end"] - rec["start"]
            out.latencies.append(latency)
            out.by_request.setdefault(rec["name"], []).append(latency)
            self.commit_s.append(up["end"] - rec["start"])
            self.read_s.append(rd["end"] - rd["start"])
            self.bytes_written.append(_dir_bytes(table.current_path()))
            self.feed_bytes.append(os.path.getsize(path))
            self.rows_in.append(feeds.rows_per_feed)
            self._control(feeds.feed_path(k), k, snap_dir, truth, out)
            if tracer.enabled:
                with tracer.span("count", "trace.count") as cnt:
                    cnt["rows_kept"] = txns.count()
                    cnt["rows_out"] = enriched.count()

    def warm_up(self, spark, tracer, out: Outcome) -> None:
        """One whole stream, checked like every other: its commits into an
        empty table and over a snapshot are the two paths every pass takes."""
        self._stream(spark, tracer, out, -1)

    def timed(self, spark, tracer, seconds: float, seed: int, out: Outcome) -> None:
        start = time.perf_counter()
        out.first_request_at = start
        while out.passes == 0 or time.perf_counter() - start < seconds:
            self._stream(spark, tracer, out, out.passes)
            out.passes += 1

    def _control(self, feed: str, k: int, snap_dir: str, truth: dict, out: Outcome) -> None:
        """Replay feed ``k`` through the same cleaning, join, copy-on-write
        parquet snapshot and aggregate read in DuckDB, right after the Spark
        request, and check the replayed snapshot against the ground truth.
        A disagreement there is a harness bug, so it stops the run."""
        prev = os.path.join(snap_dir, f"v{k - 1}.parquet")
        snap = os.path.join(snap_dir, f"v{k}.parquet")
        keep = (
            f"SELECT * FROM read_parquet('{prev}') "
            "WHERE order_id NOT IN (SELECT order_id FROM batch) UNION ALL "
            if k else ""
        )
        for _ in range(CONTROL_REPEATS):
            t0 = time.perf_counter()
            self.duck.execute(_DUCK_BATCH.format(feed=feed))
            self.duck.execute(f"COPY ({keep}SELECT * FROM batch) TO '{snap}' (FORMAT parquet)")
            rows = self.duck.execute(
                "SELECT store_id, count(*), sum(sale) FROM read_parquet(?) GROUP BY 1", [snap]
            ).fetchall()
            out.control_samples.setdefault(f"feed{k}", []).append(time.perf_counter() - t0)
        if {sid: (n, Decimal(s)) for sid, n, s in rows} != truth:
            raise RuntimeError("DuckDB ETL control disagrees with the ground truth")


_DUCK_DIMS = """
CREATE OR REPLACE TEMP TABLE cust_raw AS
SELECT * FROM read_csv('{customers}', header = true, all_varchar = true,
                       null_padding = true, quote = '"', escape = '"');
CREATE OR REPLACE TEMP TABLE cust AS
SELECT customer_id FROM (
  SELECT trim(customer_id) AS customer_id,
         row_number() OVER (PARTITION BY trim(customer_id) ORDER BY rowid DESC) AS rn
  FROM cust_raw
  WHERE trim(coalesce(customer_id, '')) <> '' AND trim(coalesce(customer_name, '')) <> ''
) WHERE rn = 1;
CREATE OR REPLACE TEMP TABLE prod_raw AS
SELECT * FROM read_csv('{products}', header = true, all_varchar = true,
                       null_padding = true, quote = '"', escape = '"');
CREATE OR REPLACE TEMP TABLE prod AS
SELECT product_id, store_id, price FROM (
  SELECT trim(product_id) AS product_id, trim(store_id) AS store_id, price,
         row_number() OVER (PARTITION BY trim(product_id) ORDER BY ord DESC) AS rn
  FROM (
    SELECT rowid AS ord, *, coalesce(
             TRY_CAST(regexp_replace(product_price, '[^0-9.\\-]', '', 'g') AS DECIMAL(10, 2)),
             0.00::DECIMAL(10, 2)) AS price
    FROM prod_raw)
  WHERE price >= 0
    AND trim(coalesce(product_id, '')) <> '' AND trim(coalesce(product_name, '')) <> ''
    AND trim(coalesce(supplier_id, '')) <> '' AND trim(coalesce(supplier_name, '')) <> ''
    AND trim(coalesce(store_id, '')) <> '' AND trim(coalesce(store_name, '')) <> ''
) WHERE rn = 1;
"""

_DUCK_BATCH = """
CREATE OR REPLACE TEMP TABLE raw AS
SELECT * FROM read_csv('{feed}', header = true, all_varchar = true,
                       null_padding = true, quote = '"', escape = '"');
CREATE OR REPLACE TEMP TABLE batch AS
WITH t AS (
  SELECT rowid AS ord, trim(order_id) AS order_id, trim(product_id) AS product_id,
         trim(customer_id) AS customer_id, TRY_CAST(trim(quantity) AS INTEGER) AS quantity,
         split_part(trim(order_date), ' ', 1) AS d
  FROM raw WHERE trim(coalesce(order_id, '')) <> ''
), c AS (
  SELECT * FROM t
  WHERE quantity >= 0 AND coalesce(
    try_strptime(d, '%Y-%-m-%-d'), try_strptime(d, '%-m/%-d/%Y'),
    try_strptime(d, '%-d-%-m-%Y'), try_strptime(d, '%Y/%-m/%-d')) IS NOT NULL
), l AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (PARTITION BY order_id ORDER BY ord DESC) AS rn FROM c
  ) WHERE rn = 1
)
SELECT l.order_id, p.store_id, CAST(l.quantity * p.price AS DECIMAL(10, 2)) AS sale
FROM l JOIN cust USING (customer_id) JOIN prod p USING (product_id);
"""
