"""Tests of the benchmark's own pieces: seeded ETL inputs, the percentile
rule, and the status-store metric parser. No Spark session is started.

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import os
import sys
from decimal import Decimal

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import datagen  # noqa: E402
import stats  # noqa: E402
from tracing import metric_total, summarize_execution  # noqa: E402


def _files(root: str) -> dict[str, bytes]:
    out = {}
    for dirpath, _, names in os.walk(root):
        for n in names:
            p = os.path.join(dirpath, n)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, root)] = fh.read()
    return out


def _feeds(root: str, seed: int, n: int = 3):
    dims = datagen.DirtyDims(os.path.join(root, "dims"), seed)
    feeds = datagen.DirtyFeeds(dims, os.path.join(root, "feeds"), seed, 0, 2000)
    for _ in range(n):
        feeds.write_feed()
    return feeds


def test_dirty_feeds_are_byte_identical_for_a_seed(tmp_path):
    a = _feeds(str(tmp_path / "a"), 9)
    b = _feeds(str(tmp_path / "b"), 9)
    c = _feeds(str(tmp_path / "c"), 10)
    assert _files(str(tmp_path / "a")) == _files(str(tmp_path / "b"))
    assert a.truth_by_store() == b.truth_by_store()
    assert _files(str(tmp_path / "a")) != _files(str(tmp_path / "c"))


def test_dirty_feeds_carry_the_reference_dirt(tmp_path):
    feeds = _feeds(str(tmp_path), 3)
    text = "".join(
        open(feeds.feed_path(k), encoding="utf-8").read() for k in range(feeds.feeds_written)
    )
    lines = text.splitlines()
    assert any(line.count(",") == 2 for line in lines)  # short rows
    assert '"' in text  # quoted embedded commas
    assert ",-3," in text and ",x," in text  # negative, unparsable quantity
    assert "not-a-date" in text
    assert "/" in text and ":00" in text  # slash layouts, time suffixes
    products = open(feeds.dims.products_path, encoding="utf-8").read()
    assert "$," in products and "N/A" in products and "-10.00" in products
    # last write wins: the fact holds fewer orders than valid rows written
    assert 0 < len(feeds.fact) < feeds.input_rows
    rows, sales = map(sum, zip(*feeds.truth_by_store().values()))
    assert rows == len(feeds.fact) and sales > Decimal(0)


def test_tail_percentile_keeps_ten_samples_beyond():
    assert stats.tail_percentile(10) is None
    assert stats.tail_percentile(19) is None  # would fall below the median
    assert stats.tail_percentile(20) == 50.0
    assert stats.tail_percentile(100) == 90.0
    for n in (20, 21, 37, 100, 1000):
        values = [float(v) for v in range(1, n + 1)]
        pct, value = stats.tail(values)
        assert pct == stats.tail_percentile(n)
        assert sum(1 for v in values if v > value) == stats.TAIL_SAMPLES_BEYOND
    assert stats.tail([3.0, 1.0, 2.0]) == (100.0, 3.0)
    assert stats.tail([float(v) for v in range(16)]) == (100.0, 15.0)


def test_spread_is_interquartile_share_of_median():
    assert stats.spread([10.0] * 10) == 0.0
    assert round(stats.spread([float(v) for v in range(1, 11)]), 4) == round(5.5 / 5.5, 4)


def test_metric_total_parses_status_store_strings():
    assert metric_total("6,000") == 6000
    assert metric_total("23 ms") == 23
    assert metric_total("total (min, med, max (stageId: taskId))\n1.2 s (0 ms, 1 ms, 3 ms)") == 1200
    assert metric_total("total (min, med, max)\n1.5 KiB (1 B, 2 B, 3 B)") == 1536


def test_summarize_execution_counts_scans_and_sums_metrics():
    nodes = [
        {"name": "Scan parquet ", "desc": "Location: InMemoryFileIndex(1 paths)[file:/d/x.parquet]",
         "metrics": [{"name": "number of output rows", "accumulatorId": 1},
                     {"name": "size of files read", "accumulatorId": 2}]},
        {"name": "AQEShuffleRead", "desc": "",
         "metrics": [{"name": "number of partitions", "accumulatorId": 3}]},
        {"name": "HashAggregate", "desc": "",
         "metrics": [{"name": "peak memory", "accumulatorId": 4}]},
    ]
    values = {"1": "1,000", "2": "2.0 KiB", "3": "4", "4": "total (min, med, max)\n1.0 MiB (x)"}
    ex = summarize_execution(nodes, values)
    assert ex["scans"] == 1 and ex["scan_rows"] == 1000 and ex["scan_bytes"] == 2048
    assert ex["locations"] == ["file:/d/x.parquet"]
    assert ex["metrics"]["aqe partitions"] == 4
    assert ex["peak_memory"] == 1 << 20
