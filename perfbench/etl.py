"""Seeded daily gz-CSV deliveries for the etl_upsert workload, and the
expected lake state they must produce.

Each day gets two files cut from the fixture's ``orders`` table: a base
delivery of ``ROWS_PER_DAY`` rows, and a correction that re-delivers a
seeded ``CORRECTION_FRACTION`` of that day's keys with changed values and the
same ``dt``. Both are loaded by ``pipeline.run_load`` with landing ``append``
and curated ``upsert`` keyed on ``o_orderkey`` (+ ``dt``). The seed shuffles
the table and consecutive days take consecutive slices of it, so the first
``len(orders) // ROWS_PER_DAY`` days deliver disjoint keys; after that a new
shuffle starts, and a key delivered again on a later day is a new (key, dt)
row, which the upsert inserts.

``ROWS_PER_DAY`` follows the one measured prototype of this lifecycle: six
days covering sf0.1 ``orders`` (150,000 rows), about 25,000 rows a day. No
measured correction rate exists; ``CORRECTION_FRACTION`` is a benchmark
choice, not observed traffic.

The oracle is plain Python: curated = survivors ∪ latest delivery per
(key, dt), landing = every delivered row. ``Lake`` keeps that state and
checks the engine's read-back by row count plus an order-insensitive hash.
"""

from __future__ import annotations

import csv
import datetime as _dt
import gzip
import hashlib
import io
import json
import os

import numpy as np
import pyarrow.parquet as pq

ROWS_PER_DAY = 25_000
CORRECTION_FRACTION = 0.2
FIRST_DAY = _dt.date(2024, 1, 1)
ACTOR = "EMR-PySpark"  # transforms.DEFAULT_ACTOR, stamped on curated rows

COLUMNS = (
    "o_orderkey",
    "o_custkey",
    "o_orderstatus",
    "o_totalprice",
    "o_orderdate",
    "o_orderpriority",
)
CONFIG = {
    "table_name": "orders",
    "schema": {
        "o_orderkey": "long",
        "o_custkey": "long",
        "o_orderstatus": "string",
        "o_totalprice": "double",
        "o_orderdate": "string",
        "o_orderpriority": "string",
    },
    "primary_key": ["o_orderkey"],
    "select_columns": list(COLUMNS),
    "sort_columns": ["o_orderkey"],
    "delimiter": ",",
    "landing_load_strategy": "append",
    "curated_load_strategy": "upsert",
}
_STATUSES = ("F", "O", "P")


def row_digest(rows) -> tuple[int, int]:
    """(row count, order-insensitive hash) of tuples of canonical values."""
    acc = 0
    n = 0
    for r in rows:
        h = hashlib.blake2b(repr(r).encode(), digest_size=8).digest()
        acc = (acc + int.from_bytes(h, "little")) % (1 << 64)
        n += 1
    return n, acc


class Lake:
    """Delivers one day per call and tracks the state the lake must reach.

    ``root`` holds ``inbound/``, ``landing/`` and ``curated/``; the caller
    owns it. The same seed gives the same files and the same expectations.
    """

    def __init__(self, sf_dir: str, root: str, seed: int) -> None:
        orders = pq.read_table(
            os.path.join(sf_dir, "orders.parquet"), columns=list(COLUMNS)
        ).to_pydict()
        self._rows = list(
            zip(
                orders["o_orderkey"],
                orders["o_custkey"],
                orders["o_orderstatus"],
                orders["o_totalprice"],
                [d.strftime("%Y-%m-%d") for d in orders["o_orderdate"]],
                orders["o_orderpriority"],
            )
        )
        self.root = root
        self.inbound = os.path.join(root, "inbound", "orders")
        self.landing = os.path.join(root, "landing", "orders")
        self.curated = os.path.join(root, "curated", "orders")
        self.config_path = os.path.join(root, "orders_config.json")
        os.makedirs(self.inbound, exist_ok=True)
        with open(self.config_path, "w") as f:
            json.dump(CONFIG, f)
        if len(self._rows) < ROWS_PER_DAY:
            raise RuntimeError(f"orders has {len(self._rows)} rows, fewer than one day")
        self._seed = seed
        self._days_per_shuffle = len(self._rows) // ROWS_PER_DAY
        self._shuffled = None
        self.days = 0
        # (key, dt) -> canonical curated row, and landing rows per dt
        self.expected: dict[tuple[int, str], tuple] = {}
        self.landing_rows: dict[str, int] = {}
        self.rows_delivered = 0
        self.csv_bytes_delivered = 0

    def next_day(self) -> tuple[str, list[str]]:
        """Write the next day's base and correction files and fold them into
        the expected state. Returns (dt, [base_path, correction_path])."""
        day = FIRST_DAY + _dt.timedelta(days=self.days)
        shuffle, slot = divmod(self.days, self._days_per_shuffle)
        if slot == 0:
            self._shuffled = np.random.default_rng([self._seed, shuffle]).permutation(
                len(self._rows)
            )
        rng = np.random.default_rng([self._seed, self.days, 1])
        self.days += 1
        dt = day.isoformat()
        stamp = day.strftime("%Y%m%d")

        pick = self._shuffled[slot * ROWS_PER_DAY : (slot + 1) * ROWS_PER_DAY]
        base = [self._rows[i] for i in pick]
        n_fix = int(ROWS_PER_DAY * CORRECTION_FRACTION)
        fix_at = rng.choice(ROWS_PER_DAY, n_fix, replace=False)
        factors = rng.integers(80, 121, n_fix)
        statuses = rng.integers(0, len(_STATUSES), n_fix)
        fixes = [
            (
                k,
                cust,
                _STATUSES[s],
                round(price * int(f) / 100, 2),
                odate,
                prio,
            )
            for (k, cust, _, price, odate, prio), f, s in zip(
                (base[i] for i in fix_at), factors, statuses
            )
        ]

        paths = []
        for suffix, rows in (("", base), ("_correction", fixes)):
            path = os.path.join(self.inbound, f"orders_{stamp}{suffix}.csv.gz")
            self._write_csv(path, rows)
            paths.append(path)
            for r in rows:
                self.expected[(r[0], dt)] = r + (dt, ACTOR, ACTOR)
            self.landing_rows[dt] = self.landing_rows.get(dt, 0) + len(rows)
            self.rows_delivered += len(rows)
        return dt, paths

    def _write_csv(self, path: str, rows) -> None:
        buf = io.StringIO()
        w = csv.writer(buf, lineterminator="\n")
        w.writerow(COLUMNS)
        w.writerows(rows)
        data = buf.getvalue().encode()
        with gzip.open(path, "wb", compresslevel=6) as f:
            f.write(data)
        self.csv_bytes_delivered += len(data)

    def expected_digest(self, dt: str | None = None) -> tuple[int, int]:
        rows = (
            r for (_, d), r in self.expected.items() if dt is None or d == dt
        )
        return row_digest(rows)

    def stored_bytes(self) -> int:
        total = 0
        for zone in (self.landing, self.curated):
            for dirpath, _, files in os.walk(zone):
                total += sum(
                    os.path.getsize(os.path.join(dirpath, f)) for f in files
                )
        return total
