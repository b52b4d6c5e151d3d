"""Spans at the benchmark's own layer boundaries, and the Spark-side
counters read back for them after the run.

A span records name, layer, start, end and its parent. In a traced run each
span also runs under its own Spark job group, whose description Spark copies
onto every SQL execution the span starts. After the run, :meth:`Tracer.collect`
reads jobs, stages and tasks per group from ``statusTracker()`` and per-node
SQL metrics per execution from the SQL status store
(``executionsList`` / ``executionMetrics`` / ``planGraph``), which Spark
keeps with the UI disabled. Nothing is written until the run ends.

An untraced run keeps the spans (they time the requests) but makes no
Spark calls for them.
"""

from __future__ import annotations

import contextlib
import json
import re
import time

_SIZE = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}
_TIME_MS = {"ms": 1.0, "s": 1e3, "m": 6e4, "h": 3.6e6}
_VALUE_RE = re.compile(r"^\s*(-?[\d,]+(?:\.\d+)?)\s*([A-Za-z]+)?")
_LOCATION_RE = re.compile(r"Location: \w+(?:\([^)]*\))?\[([^\]]*)\]")


def metric_total(text: str) -> float:
    """Total of one SQL metric as the status store formats it: a plain
    count (``"6,000"``), or a size / duration optionally preceded by a
    ``total (min, med, max ...)`` header line. Sizes come back in bytes,
    durations in milliseconds."""
    line = text.strip().split("\n")[-1]
    m = _VALUE_RE.match(line)
    if m is None:
        return 0.0
    value = float(m.group(1).replace(",", ""))
    unit = m.group(2)
    if unit in _SIZE:
        return value * _SIZE[unit]
    if unit in _TIME_MS:
        return value * _TIME_MS[unit]
    return value


class Tracer:
    def __init__(self, spark, enabled: bool) -> None:
        self.spark = spark
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, layer: str, **tags):
        sid = len(self.spans)
        rec = {
            "id": sid,
            "parent": self._stack[-1] if self._stack else None,
            "name": name,
            "layer": layer,
            **tags,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        if self.enabled:
            self._set_group(sid)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if self.enabled:
                if self._stack:
                    self._set_group(self._stack[-1])
                else:
                    self.spark.sparkContext._jsc.clearJobGroup()

    def _set_group(self, sid: int) -> None:
        group = f"perfbench-span-{sid}"
        self.spark.sparkContext.setJobGroup(group, group)

    def collect(self) -> None:
        """Attach ``jobs``, ``tasks`` and ``executions`` (one summary per
        SQL execution) to every span; traced runs only."""
        if not self.enabled:
            return
        tracker = self.spark.sparkContext.statusTracker()
        by_group: dict[str, dict] = {}
        for rec in self.spans:
            group = f"perfbench-span-{rec['id']}"
            by_group[group] = rec
            jobs = tracker.getJobIdsForGroup(group)
            tasks = 0
            for job in jobs:
                info = tracker.getJobInfo(job)
                for stage in info.stageIds if info else []:
                    sinfo = tracker.getStageInfo(stage)
                    tasks += sinfo.numTasks if sinfo else 0
            rec["jobs"] = len(jobs)
            rec["tasks"] = tasks
            rec["executions"] = []
        jvm = self.spark._jvm
        store = self.spark._jsparkSession.sharedState().statusStore()
        mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        mapper.registerModule(jvm.com.fasterxml.jackson.module.scala.DefaultScalaModule())
        executions = jvm.scala.jdk.javaapi.CollectionConverters.asJava(store.executionsList())
        for ex in executions:
            rec = by_group.get(ex.description())
            if rec is None:
                continue
            eid = ex.executionId()
            values = json.loads(mapper.writeValueAsString(store.executionMetrics(eid)))
            nodes = json.loads(mapper.writeValueAsString(store.planGraph(eid).allNodes()))
            rec["executions"].append(summarize_execution(nodes, values))

    def dump(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as fh:
            json.dump(self.spans, fh)


def summarize_execution(nodes: list[dict], values: dict[str, str]) -> dict:
    """Per-execution totals: parquet scans (count, rows, bytes, locations)
    and the sum of every SQL metric by name, plus the largest single
    ``peak memory``."""
    out = {"scans": 0, "scan_rows": 0.0, "scan_bytes": 0.0, "locations": [],
           "metrics": {}, "peak_memory": 0.0}
    for node in nodes:
        node_metrics = {}
        for m in node.get("metrics", []):
            text = values.get(str(m["accumulatorId"]))
            if text is not None:
                node_metrics[m["name"]] = metric_total(text)
        name = node.get("name", "")
        if name.startswith("Scan parquet"):
            out["scans"] += 1
            out["scan_rows"] += node_metrics.get("number of output rows", 0.0)
            out["scan_bytes"] += node_metrics.get("size of files read", 0.0)
            loc = _LOCATION_RE.search(node.get("desc", ""))
            if loc:  # the store truncates long descriptions with "..."
                out["locations"].append(loc.group(1).split("...")[0])
        if name == "AQEShuffleRead":
            key = "aqe partitions"
            out["metrics"][key] = out["metrics"].get(key, 0.0) + node_metrics.get(
                "number of partitions", 0.0
            )
        out["peak_memory"] = max(out["peak_memory"], node_metrics.get("peak memory", 0.0))
        for k, v in node_metrics.items():
            out["metrics"][k] = out["metrics"].get(k, 0.0) + v
    return out
