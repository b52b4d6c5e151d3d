"""Seeded input generators for the ``etl_ingest`` workload.

Everything here is a pure function of the seed: the same seed gives
byte-identical files (pinned by ``test_perfbench.py``). The engine only ever
sees the files written here.

:class:`DirtyDims` and :class:`DirtyFeeds` write the reference's dirty CSVs:
the customer and product dimensions once, then one transactions feed per
call, and keep the ground truth (surviving rows and SUM(sale) per store
after last-write-wins) up to the latest feed.
"""

from __future__ import annotations

import csv
import datetime as dt
import io
import os
from decimal import Decimal

import numpy as np

#: Date layouts the engine's four strict formats accept.
_DATE_LAYOUTS = [
    lambda d: f"{d.year}-{d.month}-{d.day}",
    lambda d: f"{d.month}/{d.day}/{d.year}",
    lambda d: f"{d.day}-{d.month}-{d.year}",
    lambda d: f"{d.year}/{d.month:02d}/{d.day:02d}",
]
_BAD_DATES = ["not-a-date", "13/45/2019", "2019/13/40", ""]
_STORES = [(f"S{i}", f"Store {i}") for i in range(1, 11)]
TRANSACTIONS_HEADER = [
    "order_id", "order_date", "product_id", "quantity", "customer_id", "time_id",
]


def _write_csv(path: str, header: list[str], rows: list[list[str]]) -> None:
    buf = io.StringIO()
    w = csv.writer(buf, lineterminator="\n")
    w.writerow(header)
    w.writerows(rows)
    with open(path, "w", encoding="utf-8", newline="") as fh:
        fh.write(buf.getvalue())


class DirtyDims:
    """The customer and product dimension CSVs, and what survives their
    cleaning: later duplicates win, blank keys, short rows and negative
    prices are dropped, ``$``-suffixed and padded prices parse, an
    unparsable price is kept as 0.00, and some names carry quoted
    embedded commas."""

    def __init__(self, out_dir: str, seed: int, n_customers: int = 1000,
                 n_products: int = 200) -> None:
        os.makedirs(out_dir, exist_ok=True)
        self.customers_path = os.path.join(out_dir, "customers.csv")
        self.products_path = os.path.join(out_dir, "products.csv")
        rng = np.random.default_rng([seed, 2])
        #: customer ids that survive cleaning
        self.customers = self._write_customers(rng, n_customers)
        #: product_id -> (store_id, price) after cleaning
        self.products = self._write_products(rng, n_products)
        #: product ids that are in the file but dropped by cleaning
        self.dropped_products = [f"P{n_products:04d}", f"P{n_products + 1:04d}"]

    def _write_customers(self, rng, n: int) -> set[str]:
        rows, valid = [], set()
        for i in range(n):
            name = f"Last{i}, First{i}" if rng.random() < 0.2 else f"Customer {i}"
            rows.append([f"C{i:05d}", name, "MF"[int(rng.integers(0, 2))]])
            valid.add(f"C{i:05d}")
        for i in rng.choice(n, n // 20, replace=False):  # later duplicate wins
            rows.append([f" C{i:05d} ", f"Renamed {i}", "F"])
        rows.append([f"C{n + 1:05d}", ""])  # short row, blank name: dropped
        rows.append(["", "Nobody", "M"])  # blank key: dropped
        _write_csv(self.customers_path, ["customer_id", "customer_name", "gender"], rows)
        return valid

    def _write_products(self, rng, n: int) -> dict[str, tuple[str, Decimal]]:
        rows, truth = [], {}

        def product(pid: str, name: str) -> None:
            price = Decimal(int(rng.integers(100, 50_000))) / 100
            style = int(rng.integers(0, 10))
            if style == 0:
                raw, price = "N/A", Decimal("0.00")  # unparsable: kept at 0.00
            elif style <= 3:
                raw = f"{price}$"
            elif style == 4:
                raw = f" {price} "
            else:
                raw = str(price)
            sid, sname = _STORES[int(rng.integers(0, len(_STORES)))]
            supp = int(rng.integers(1, 21))
            rows.append([pid, name, raw, f"SP{supp}", f"Supplier {supp}", sid, sname])
            truth[pid] = (sid, price)

        for i in range(n):
            product(f"P{i:04d}", f"Widget {i}, large" if rng.random() < 0.2 else f"Widget {i}")
        for i in rng.choice(n, n // 10, replace=False):  # later duplicate wins
            product(f"P{i:04d}", f"Widget {i} v2")
        # negative price and a short row: dropped, so transactions that
        # reference these ids dangle
        rows.append([f"P{n:04d}", "Broken", "-10.00", "SP1", "Supplier 1", "S1", "Store 1"])
        rows.append([f"P{n + 1:04d}", "Short", "5.00"])
        _write_csv(
            self.products_path,
            ["product_id", "product_name", "product_price", "supplier_id",
             "supplier_name", "store_id", "store_name"],
            rows,
        )
        return truth


class DirtyFeeds:
    """A sequence of dirty transactions feeds for one fact table, with the
    ground truth after each.

    Dirt mix: duplicate PKs within a feed and across feeds (upserts), the
    four date formats with and without a time suffix, unparsable dates,
    negative and unparsable quantities, short rows, blank keys, padded
    fields, quoted embedded commas and dangling foreign keys. Every row that
    cleaning drops carries an order id used nowhere else, so the truth does
    not depend on whether the parser drops it before or after the PK dedup.
    """

    def __init__(self, dims: DirtyDims, out_dir: str, seed: int, stream: int,
                 rows_per_feed: int) -> None:
        os.makedirs(out_dir, exist_ok=True)
        self.dims = dims
        self.out_dir = out_dir
        self.seed = seed
        self.stream = stream
        self.rows_per_feed = rows_per_feed
        self.next_order = 0
        self.feeds_written = 0
        #: order_id -> (store_id, sale) of the committed fact after the
        #: latest feed (last write wins, inner join on both dims).
        self.fact: dict[str, tuple[str, Decimal]] = {}
        self.input_rows = 0

    def feed_path(self, k: int) -> str:
        return os.path.join(self.out_dir, f"transactions_{k}.csv")

    def write_feed(self) -> str:
        """Write the next transactions feed and advance the ground truth."""
        k = self.feeds_written
        n = self.rows_per_feed
        rng = np.random.default_rng([self.seed, 3, self.stream, k])
        customers, products = self.dims.customers, self.dims.products
        cust_ids, prod_ids = sorted(customers), sorted(products)
        dangling_products = self.dims.dropped_products
        kind = rng.random(n)
        pick = rng.random(n)
        days = rng.integers(0, 730, n)
        layout = rng.integers(0, len(_DATE_LAYOUTS), n)
        clock = rng.integers(0, 24 * 60, n)
        has_clock = rng.random(n) < 0.3
        cust = rng.integers(0, len(cust_ids), n)
        prod = rng.integers(0, len(prod_ids), n)
        qty = rng.integers(0, 21, n)
        time_ids = rng.integers(0, 1000, n)
        quoted = rng.random(n) < 0.05
        padded = rng.random(n) < 0.05
        aux = rng.integers(0, 1 << 30, n)
        committed = list(self.fact)
        rows: list[list[str]] = []
        # order_id -> (customer_id, product_id, quantity) of the last valid row
        batch: dict[str, tuple[str, str, int]] = {}
        batch_keys: list[str] = []
        for i in range(n):
            oid = f"O{self.next_order}"
            self.next_order += 1
            day = dt.date(2019, 1, 1) + dt.timedelta(days=int(days[i]))
            date = _DATE_LAYOUTS[layout[i]](day)
            if has_clock[i]:
                date += f" {clock[i] // 60:02d}:{clock[i] % 60:02d}:00"
            cid, pid, q = cust_ids[cust[i]], prod_ids[prod[i]], int(qty[i])
            time_id = f"T{time_ids[i]}"
            valid = True
            if kind[i] < 0.03:  # unparsable date: dropped
                date, valid = _BAD_DATES[aux[i] % len(_BAD_DATES)], False
            elif kind[i] < 0.05:  # negative or unparsable quantity: dropped
                rows.append([oid, date, pid, "-3" if aux[i] % 2 else "x", cid, time_id])
                continue
            elif kind[i] < 0.06:  # short row: dropped
                rows.append([oid, date, pid])
                continue
            elif kind[i] < 0.07:  # blank key: dropped
                oid, valid = "", False
            elif kind[i] < 0.10:  # dangling customer or product: the join drops it
                if aux[i] % 2:
                    cid = f"C9{aux[i] % 100_000:05d}"
                else:
                    pid = dangling_products[(aux[i] >> 1) % len(dangling_products)]
            elif pick[i] < 0.10 and committed:  # upsert of an earlier feed's order
                oid = committed[aux[i] % len(committed)]
            elif pick[i] < 0.15 and batch_keys:  # duplicate within this feed
                oid = batch_keys[aux[i] % len(batch_keys)]
            if quoted[i]:
                time_id = f"{time_id},{aux[i] % 60}"  # quoted embedded comma
            row = [oid, date, pid, str(q), cid, time_id]
            if padded[i]:
                row = [f" {v} " if j in (0, 3, 4) else v for j, v in enumerate(row)]
            rows.append(row)
            if valid:
                if oid not in batch:
                    batch_keys.append(oid)
                batch.pop(oid, None)  # re-insert: dict order = last write
                batch[oid] = (cid, pid, q)
        path = self.feed_path(k)
        _write_csv(path, TRANSACTIONS_HEADER, rows)
        for oid, (cid, pid, q) in batch.items():
            if cid in customers and pid in products:
                sid, price = products[pid]
                self.fact[oid] = (sid, price * q)
        self.feeds_written += 1
        self.input_rows += len(rows)
        return path

    def truth_by_store(self) -> dict[str, tuple[int, Decimal]]:
        """store_id -> (rows, SUM(sale)) of the committed fact."""
        out: dict[str, tuple[int, Decimal]] = {}
        for sid, sale in self.fact.values():
            n, s = out.get(sid, (0, Decimal(0)))
            out[sid] = (n + 1, s + sale)
        return out
