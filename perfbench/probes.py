"""In-process kernel probes of ``sqlite_types`` and the process-tree memory
sampler.

The decode probe times ``decode_cell`` per ``SQLiteType`` on a seeded
sample of cells fetched from the bulk-load table with plain ``sqlite3``
(so every storage class the table holds, dirty cells included, is
represented as SQLite returns it). The encode probe times ``encode_cell``
per Spark value type on values of the same sample.
"""

from __future__ import annotations

import datetime as dt
import os
import sqlite3
import statistics
import threading
import time

import numpy as np

from sqlitedataframe_spark.sqlite_types import SQLiteType, decode_cell, encode_cell

SAMPLE_ROWS = 4000
REPEATS = 5


def _ns_per_cell(fn, cells: list) -> float:
    times = []
    for _ in range(REPEATS):
        t0 = time.perf_counter_ns()
        for v in cells:
            fn(v)
        times.append((time.perf_counter_ns() - t0) / len(cells))
    return statistics.median(times)


def kernel_probes(db: str, rng: np.random.Generator) -> dict[str, float]:
    """``decode.ns_per_cell.<type>`` and ``encode.ns_per_cell.<type>``."""
    conn = sqlite3.connect(db)
    try:
        n = conn.execute("SELECT MAX(rowid) FROM wide").fetchone()[0]
        ids = ",".join(str(int(i)) for i in rng.choice(np.arange(1, n + 1), SAMPLE_ROWS, replace=False))
        rows = conn.execute(
            "SELECT l_quantity, l_extendedprice, l_comment, l_payload, l_is_late, l_shipdate, l_note "
            f"FROM wide WHERE rowid IN ({ids})"
        ).fetchall()
    finally:
        conn.close()
    qty, price, text, blob, flag, ship, note = (list(c) for c in zip(*rows))
    cells = {
        "int": (qty, SQLiteType.INT),
        "float": (price, SQLiteType.FLOAT),
        "text": (text, SQLiteType.TEXT),
        "blob": (blob, SQLiteType.BLOB),
        "bool": (flag, SQLiteType.BOOL),
        "date_text": ([v for v in ship if isinstance(v, str)], SQLiteType.DATE),
        "date_int": ([v for v in ship if isinstance(v, int)], SQLiteType.DATE),
        "date_real": ([v for v in ship if isinstance(v, float)], SQLiteType.DATE),
        "any": (note, SQLiteType.ANY),
    }
    out = {}
    for name, (values, t) in cells.items():
        out[f"decode.ns_per_cell.{name}"] = _ns_per_cell(lambda v, t=t: decode_cell(v, t), values)
    stamps = [dt.datetime(1970, 1, 1) + dt.timedelta(seconds=int(s)) for s in rng.integers(0, 2**31, len(rows))]
    values = {
        "long": [int(v) for v in price],
        "double": price,
        "string": text,
        "bool": [bool(v) for v in flag],
        "timestamp": stamps,
        "binary": blob,
    }
    for name, vals in values.items():
        out[f"encode.ns_per_cell.{name}"] = _ns_per_cell(encode_cell, vals)
    return out


def _tree_rss_bytes(root: int, page: int) -> int:
    parent: dict[int, int] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue  # exited while scanning
        parent[int(entry)] = int(stat[stat.rindex(")") + 2 :].split()[1])
    tree, frontier = {root}, [root]
    while frontier:
        p = frontier.pop()
        for pid, pp in parent.items():
            if pp == p and pid not in tree:
                tree.add(pid)
                frontier.append(pid)
    total = 0
    for pid in tree:
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * page
        except OSError:
            continue
    return total


class RssSampler:
    """Samples the summed RSS of this process and all its descendants (the
    Spark JVM and its Python workers) and keeps the peak."""

    def __init__(self, period_s: float = 0.2):
        self.period_s = period_s
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._page = os.sysconf("SC_PAGE_SIZE")

    def _loop(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            self.peak_bytes = max(self.peak_bytes, _tree_rss_bytes(me, self._page))
            self._stop.wait(self.period_s)

    def __enter__(self) -> RssSampler:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
