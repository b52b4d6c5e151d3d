"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload query_mix --seed 1 --seconds 5 --trace 0

Run from the repository root. ``query_mix`` reads the sf0.01 tables in
``perfbench/data/``; ``etl_ingest`` generates its inputs from ``--seed``
under ``.perfbench_work/`` (removed at the end). The engine is driven only
through its public entry points. The last line of standard output is one JSON
object ``{"correct", "attempted", "failed", "metrics"}``: the end-to-end
metrics of ``BENCHMARK.json`` with ``--trace 0``, the per-layer metrics with
``--trace 1``. The line before it carries the run facts and detail numbers.
See ``perfbench/README.md``.
"""

from __future__ import annotations

import time

PROCESS_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shlex  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE = "datawarehouse_project_spark"

#: query_mix input: the repository's test tables at this scale (TPC-H-ish
#: star schema plus events, documents and embeddings; 60k lineitem rows).
STAR_SF = 0.01
STAR_DIR = os.path.join(HERE, "data", f"sf{STAR_SF}")
#: Dirty rows per transactions feed in etl_ingest.
FEED_ROWS = 10_000

BUILDER_LAYERS = [
    "plans.olap",
    "plans.olap_extra",
    "operators.dedup",
    "operators.similarity",
    "operators.retrieval",
    "operators.textstats",
    "operators.events",
]
BUILDER_METRICS = {
    "build_s": "s", "build_jobs": "count", "exec_s": "s", "jobs": "count",
    "tasks": "count", "shuffle_bytes": "B", "spill_bytes": "B", "scan_bytes": "B",
}
EXEC_METRICS = {
    "exec.scan_time_ms": ("scan time", "ms"),
    "exec.agg_time_ms": ("time in aggregation build", "ms"),
    "exec.sort_time_ms": ("sort time", "ms"),
    "exec.join_build_ms": ("time to build", "ms"),
    "exec.shuffle_write_ms": ("shuffle write time", "ms"),
    "exec.fetch_wait_ms": ("fetch wait time", "ms"),
    "exec.aqe_partitions": ("aqe partitions", "count"),
}


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True,
                   choices=["query_mix", "etl_ingest"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return p.parse_args(argv)


def prepare_environment(work: str, cores: int) -> None:
    """Run Spark on ``cores`` cores and keep every file the run writes
    inside ``work``: Python temp dirs (the engine's served-state roots),
    Spark's scratch, the JVM's temp. All of it goes through the
    environment, so the session itself is the one ``session.get_spark``
    builds."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    # the launcher JVM that spark-submit starts would write its perf-data
    # file to the system temp directory
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    java_opts = shlex.quote(f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData")
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options {java_opts} "
        "--conf spark.ui.showConsoleProgress=false pyspark-shell"
    )


def jvm_peak_rss_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status", encoding="ascii") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("no VmHWM in /proc status")


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM child to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait(timeout=60)


# -- per-layer metrics (traced run) ------------------------------------------


def _descendants(spans: list[dict]) -> dict[int, list[dict]]:
    children: dict[int, list[dict]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append(s)
    return children


def layer_metrics(spans: list[dict], passes: int, served_root: str):
    """Per-pass totals of every timed request's spans, by layer, and the
    served-state locations (engine temp roots under ``served_root``) each
    request read."""
    children = _descendants(spans)
    out: dict[str, tuple[float, str]] = {}
    for layer in BUILDER_LAYERS:
        for name, unit in BUILDER_METRICS.items():
            out[f"{layer}.{name}"] = (0.0, unit)
    exec_totals = {k: 0.0 for k in EXEC_METRICS}
    peak_mem = 0.0
    scans = scan_rows = served = input_requests = 0
    served_by: dict[str, set[str]] = {}
    scans_by: dict[str, int] = {}

    def add(key: str, value: float) -> None:
        v, unit = out[key]
        out[key] = (v + value / passes, unit)

    for req in spans:
        if req.get("kind") != "request" or req.get("pass_no", -1) < 0:
            continue
        stack, phases = [req], []
        while stack:
            s = stack.pop()
            phases.append(s)
            stack.extend(children.get(s["id"], []))
        for s in phases:
            for ex in s.get("executions", []):
                for key, (metric, _) in EXEC_METRICS.items():
                    exec_totals[key] += ex["metrics"].get(metric, 0.0) / passes
                exec_totals["exec.join_build_ms"] += ex["metrics"].get(
                    "time to build hash map", 0.0) / passes
                peak_mem = max(peak_mem, ex["peak_memory"])
                for loc in ex["locations"]:
                    if served_root in loc:
                        served += 1
                        served_by.setdefault(req["name"], set()).add(loc)
        # build-time jobs count too: q08's builder reads the fact itself
        executions = [ex for s in phases for ex in s.get("executions", [])]
        scans_by[req["name"]] = sum(ex["scans"] for ex in executions)
        if req["layer"].startswith("plans.") and req["name"] not in served_by:
            input_requests += 1
            scans += scans_by[req["name"]]
            scan_rows += sum(ex["scan_rows"] for ex in executions)
        layer = req["layer"]
        if layer not in BUILDER_LAYERS:
            continue
        for s in phases:
            add(f"{layer}.jobs", s.get("jobs", 0))
            add(f"{layer}.tasks", s.get("tasks", 0))
            for ex in s.get("executions", []):
                add(f"{layer}.shuffle_bytes", ex["metrics"].get("shuffle bytes written", 0.0))
                add(f"{layer}.spill_bytes", ex["metrics"].get("spill size", 0.0))
                add(f"{layer}.scan_bytes", ex["scan_bytes"])
            if s.get("phase") == "build":
                add(f"{layer}.build_s", s["end"] - s["start"])
                add(f"{layer}.build_jobs", s.get("jobs", 0))
            elif s.get("phase") == "exec":
                add(f"{layer}.exec_s", s["end"] - s["start"])
    for key, (_, unit) in EXEC_METRICS.items():
        out[key] = (exec_totals[key], unit)
    out["exec.peak_mem_bytes"] = (peak_mem, "B")
    # star-fact requests that read input tables only, not served state
    out["io.scans_per_request"] = (scans / input_requests if input_requests else 0.0, "count")
    out["io.scan_rows"] = (scan_rows / input_requests if input_requests else 0.0, "rows")
    out["served.store_scans"] = (served / passes, "count")
    out["served.requests"] = (float(len(served_by)), "count")
    return out, {
        "served_state_by_request": {k: sorted(v) for k, v in served_by.items()},
        "scans_by_request": scans_by,
    }


ETL_LAYER_UNITS = {
    "sources.csv_ingest.build_s": "s", "sources.csv_ingest.rows_in": "rows",
    "sources.csv_ingest.rows_kept": "rows", "sources.csv_ingest.kept_ratio": "ratio",
    "streaming.meshjoin.rows_out": "rows", "streaming.meshjoin.match_ratio": "ratio",
    "sources.sinks.upsert_s": "s", "sources.sinks.bytes_written": "B",
    "sources.sinks.write_amp": "ratio", "sources.sinks.live_bytes": "B",
    "sources.sinks.read_s": "s",
}


def etl_layer_metrics(spans: list[dict], etl) -> dict[str, float]:
    """Per-feed means of the timed feeds' ingest, join and sink layers."""
    timed = {s["id"] for s in spans if s.get("kind") == "request" and s.get("pass_no", -1) >= 0}
    seconds: dict[str, list[float]] = {}
    for s in spans:
        if s["parent"] in timed:
            seconds.setdefault(s["name"], []).append(s["end"] - s["start"])
    counts = [s for s in spans if s["name"] == "count"]

    def mean(xs):
        return statistics.fmean(xs) if xs else 0.0

    rows_in = mean(etl.rows_in)
    kept = mean([c["rows_kept"] for c in counts])
    out_rows = mean([c["rows_out"] for c in counts])
    return {
        "sources.csv_ingest.build_s": mean(seconds.get("ingest", [])),
        "sources.csv_ingest.rows_in": rows_in,
        "sources.csv_ingest.rows_kept": kept,
        "sources.csv_ingest.kept_ratio": kept / rows_in,
        "streaming.meshjoin.rows_out": out_rows,
        "streaming.meshjoin.match_ratio": out_rows / kept,
        "sources.sinks.upsert_s": mean(seconds.get("upsert", [])),
        # copy-on-write: each commit writes the whole new snapshot
        "sources.sinks.bytes_written": mean(etl.bytes_written),
        "sources.sinks.write_amp": sum(etl.bytes_written) / sum(etl.feed_bytes),
        "sources.sinks.live_bytes": float(etl.bytes_written[-1]),
        "sources.sinks.read_s": mean(seconds.get("read", [])),
    }


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, ENGINE)):
        print(f"perfbench: {ENGINE}/ not found under {ROOT}; run from a full checkout",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    import stats
    import workloads
    from tracing import Tracer

    base = os.path.join(ROOT, ".perfbench_work")
    shutil.rmtree(base, ignore_errors=True)
    work = os.path.join(base, f"{args.workload}-{args.seed}")
    cores = len(os.sched_getaffinity(0))
    prepare_environment(work, cores)

    gen_start = time.perf_counter()
    if args.workload == "etl_ingest":
        wl = workloads.EtlWorkload(work, args.seed, FEED_ROWS, cores)
    gen_s = time.perf_counter() - gen_start
    if args.workload == "query_mix":
        wl = workloads.QueryWorkload(workloads.QUERY_MIX, STAR_DIR, cores)

    from datawarehouse_project_spark import session

    session_start = time.perf_counter()
    spark = session.get_spark("perfbench")
    session_s = time.perf_counter() - session_start
    jvm_pid = int(spark._jvm.java.lang.ProcessHandle.current().pid())
    tracer = Tracer(spark, enabled=bool(args.trace))
    out = workloads.Outcome()
    try:
        if args.workload == "etl_ingest":
            wl.setup(spark)
        wl.warm_up(spark, tracer, out)
        wl.timed(spark, tracer, args.seconds, args.seed, out)
        rss_mb = jvm_peak_rss_mb(jvm_pid)
        collect_start = time.perf_counter()
        tracer.collect()
        collect_s = time.perf_counter() - collect_start
        facts = {
            "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "trace": args.trace, "nproc": os.cpu_count(), "local_cores": cores,
            "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
            "sf": STAR_SF, "feed_rows": FEED_ROWS,
            "spark": spark.version,
            "java": spark._jvm.java.lang.System.getProperty("java.version"),
            "duckdb": workloads.duckdb.__version__, "python": sys.version.split()[0],
            "input_gen_s": round(gen_s, 4), "passes": out.passes,
        }
    finally:
        stop_session(spark)

    if not out.latencies:
        print(f"perfbench: no request succeeded: {out.failures}", file=sys.stderr)
        return 1
    pct, tail_s = stats.tail(out.latencies)
    e2e = {
        "setup_s": (out.first_request_at - PROCESS_START - gen_s, "s"),
        "spark_over_duck": (out.spark_over_duck(), "ratio"),
    }
    request_p50_s = statistics.median(out.latencies)
    detail = {
        "samples": len(out.latencies),
        "request_p50_s": request_p50_s,
        "pass_s": out.pass_s(),
        "request_tail_s": tail_s,
        "tail_percentile": pct,
        "failed_ratio": out.failed / out.attempted,
        "request_median_s": {k: statistics.median(v) for k, v in sorted(out.by_request.items())},
        "control_median_s": {
            k: statistics.median(v) for k, v in sorted(out.control_samples.items())},
        "jvm_peak_rss_mb": rss_mb,
        "failures": out.failures,
    }
    if args.workload == "etl_ingest":
        detail.update({
            "commit_p50_s": statistics.median(wl.commit_s),
            "commit_tail_s": stats.tail(wl.commit_s)[1],
            "read_after_write_p50_s": statistics.median(wl.read_s),
            "rows_per_s": sum(wl.rows_in) / sum(out.latencies),
            "stored_bytes_per_input_byte":
                wl.bytes_written[-1] / sum(wl.feed_bytes[-workloads.STREAM_FEEDS:]),
            "snapshot_bytes_by_feed": wl.bytes_written,
        })
    if args.trace:
        metrics, trace_detail = layer_metrics(
            tracer.spans, out.passes, os.path.join(work, "tmp"))
        etl = etl_layer_metrics(tracer.spans, wl) if args.workload == "etl_ingest" else {}
        metrics.update({k: (etl.get(k, 0.0), u) for k, u in ETL_LAYER_UNITS.items()})
        metrics["session.start_s"] = (session_s, "s")
        metrics["trace.request_p50_s"] = (request_p50_s, "s")
        metrics["trace.collect_s"] = (collect_s, "s")
        detail.update(trace_detail)
        tracer.dump(os.path.join(base, f"spans-{args.workload}-{args.seed}.json"))
    else:
        metrics = e2e
    shutil.rmtree(work, ignore_errors=True)

    print(json.dumps({"facts": facts, "detail": detail}, default=float))
    print(json.dumps({
        "correct": out.failed == 0,
        "attempted": out.attempted,
        "failed": out.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
