"""The workloads: decks of operations, each with its output check.

A workload hands out *decks*: a fixed mix of operations in a seeded order.
The client runs whole decks, as many as fit ``--seconds`` at the deck's
nominal duration (``deck_seconds``, measured on a 4-core machine), so every
run measures the same work whatever the speed of the program. Each operation is timed on its own; its check
(against plain ``sqlite3`` or DuckDB) runs after the timed region.

Layers called from here (the spans name them):
- ``sources.sqlite``: ``read_sql``, the action on its frame, ``write_sql``,
  ``upsert_sql``;
- ``functions.sql_rewrite``: ``translate_sqlite_sql``, ``sqlite_sql``;
- ``suite``/``operators``: a registry query's ``spark_fn`` and ``collect``.
"""

from __future__ import annotations

import datetime as dt
import sqlite3
import time
from collections.abc import Callable
from dataclasses import dataclass
from typing import Any

import duckdb
import numpy as np
from pyspark.sql import functions as F

from perfbench import fixtures
from perfbench.trace import Tracer, scan_output_rows
from sqlitedataframe_spark.functions.sql_rewrite import sqlite_sql, translate_sqlite_sql
from sqlitedataframe_spark.sources import read_sql, upsert_sql, write_sql
from sqlitedataframe_spark.suite import load_all
from tools.oracle_check import norm_cell, value_hash


@dataclass
class Op:
    kind: str
    run: Callable[[], Any]
    check: Callable[[Any], bool]
    rows: Callable[[Any], int]
    #: traced run only: raw ``sqlite3`` floor for the same work
    floor: Callable[[], None] | None = None


@dataclass
class Ctx:
    spark: Any
    paths: dict[str, str]
    rng: np.random.Generator
    tracer: Tracer


def _cell(v):
    if isinstance(v, dt.datetime):
        return v.strftime("%Y-%m-%d %H:%M:%S")
    return norm_cell(v)


def _rowset(rows) -> list[str]:
    return sorted("|".join(_cell(c) for c in r) for r in rows)


def _sqlite_rows(db: str, sql: str, params=()) -> list[tuple]:
    conn = sqlite3.connect(db)
    try:
        return conn.execute(sql, list(params)).fetchall()
    finally:
        conn.close()


class _Floors:
    """Plain ``sqlite3`` reference times, recorded as spans."""

    def __init__(self, ctx: Ctx):
        self.ctx = ctx

    def read(self, sql: str, params=()) -> None:
        conn = sqlite3.connect(self.ctx.paths["db"])
        try:
            t0 = time.perf_counter()
            cur = conn.execute(sql, list(params))
            cur.fetchone()
            t1 = time.perf_counter()
            cur.fetchall()
            t2 = time.perf_counter()
        finally:
            conn.close()
        self.ctx.tracer.add("floor.first_row", t0, t1)
        self.ctx.tracer.add("floor.read", t0, t2)

    def write(self, table: str, decls: str, rows: list[tuple]) -> None:
        conn = sqlite3.connect(self.ctx.paths["scratch_db"])
        try:
            conn.execute(f'DROP TABLE IF EXISTS "{table}"')
            conn.execute(f'CREATE TABLE "{table}" ({decls})')
            marks = ", ".join("?" for _ in rows[0]) if rows else ""
            t0 = time.perf_counter()
            with conn:
                conn.executemany(f'INSERT INTO "{table}" VALUES ({marks})', rows)
            t1 = time.perf_counter()
        finally:
            conn.close()
        self.ctx.tracer.add("floor.write", t0, t1)


def _parquet_rows(path: str, where: str = "", cols: str = "*") -> list[tuple]:
    """Rows of a parquet slice as SQLite bind values (timestamps as text)."""
    rel = duckdb.sql(f"SELECT {cols} FROM read_parquet('{path}') {where}")
    out = []
    for r in rel.fetchall():
        out.append(tuple(v.strftime("%Y-%m-%d %H:%M:%S") if isinstance(v, dt.datetime) else v for v in r))
    return out


# ===========================================================================
# bulk: volume reads
# ===========================================================================
def _wide_agg_spark() -> list:
    """Aggregates over every column of ``wide`` (built per call: Column
    objects need a live session)."""
    return [
        F.count(F.lit(1)),
        F.sum("l_orderkey"),
        F.sum("l_partkey"),
        F.sum("l_suppkey"),
        F.sum("l_linenumber"),
        F.sum("l_quantity"),
        F.sum(F.round(F.col("l_extendedprice") * 100).cast("long")),
        F.sum(F.round(F.col("l_discount") * 100).cast("long")),
        F.sum(F.round(F.col("l_tax") * 100).cast("long")),
        F.sum(F.ascii("l_returnflag")),
        F.sum(F.ascii("l_linestatus")),
        F.sum(F.unix_seconds("l_shipdate")),
        F.sum(F.length("l_comment")),
        F.sum(F.length("l_payload")),
        F.sum(F.col("l_is_late").cast("int")),
        F.sum(F.length("l_note")),
    ]

#: The same aggregates in SQLite, following the bridge's decode rules
#: (TEXT in an INT column -> integer prefix, three date formats -> seconds).
_WIDE_AGG_SQLITE = """
SELECT COUNT(*), SUM(l_orderkey), SUM(l_partkey), SUM(l_suppkey), SUM(l_linenumber),
       SUM(CAST(l_quantity AS INTEGER)),
       SUM(CAST(round(l_extendedprice * 100) AS INTEGER)),
       SUM(CAST(round(l_discount * 100) AS INTEGER)),
       SUM(CAST(round(l_tax * 100) AS INTEGER)),
       SUM(unicode(l_returnflag)), SUM(unicode(l_linestatus)),
       SUM(CASE typeof(l_shipdate)
             WHEN 'integer' THEN l_shipdate
             WHEN 'real' THEN CAST(round((l_shipdate - 2440587.5) * 86400) AS INTEGER)
             ELSE CAST(strftime('%s', l_shipdate) AS INTEGER) END),
       SUM(length(l_comment)), SUM(length(l_payload)), SUM(l_is_late <> 0),
       SUM(length(CAST(l_note AS TEXT)))
FROM wide
"""

_WIDE_SCAN_SQL = "SELECT {} FROM wide".format(", ".join(c for c, _ in fixtures.WIDE_COLUMNS))

_JOIN_SQL = (
    "SELECT w.l_returnflag AS flag, o.o_orderpriority AS prio, COUNT(*) AS n, "
    "SUM(w.l_partkey) AS parts, MAX(o.o_totalprice) AS top "
    "FROM wide w JOIN orders o ON o.o_orderkey = w.l_orderkey "
    "WHERE o.o_custkey BETWEEN ? AND ? GROUP BY 1, 2"
)


class _Reads:
    """Volume reads: full scans of ``wide`` and JOIN/GROUP BY statements
    that run inside SQLite."""

    def __init__(self, ctx: Ctx):
        self.ctx = ctx
        self.floors = _Floors(ctx)
        self.expected_agg = tuple(_sqlite_rows(ctx.paths["db"], _WIDE_AGG_SQLITE)[0])

    def scan(self) -> Op:
        ctx = self.ctx

        def run():
            with ctx.tracer.span("read_sql"):
                df = read_sql(ctx.spark, ctx.paths["db"], table="wide")
            with ctx.tracer.span("read.action"):
                return tuple(df.agg(*_wide_agg_spark()).collect()[0])

        return Op(
            "table_scan",
            run,
            check=lambda r: r == self.expected_agg,
            rows=lambda r: r[0],
            floor=lambda: self.floors.read(_WIDE_SCAN_SQL),
        )

    def statement(self) -> Op:
        ctx = self.ctx
        lo = int(ctx.rng.integers(0, fixtures.N_CUSTOMER // 2))
        params = [lo, lo + fixtures.N_CUSTOMER // 2 - 1]  # half the customers

        def run():
            with ctx.tracer.span("read_sql"):
                df = read_sql(ctx.spark, ctx.paths["db"], statement=_JOIN_SQL, params=params)
            with ctx.tracer.span("read.action"):
                return df.collect()

        return Op(
            "statement_scan",
            run,
            check=lambda r: _rowset(r) == _rowset(_sqlite_rows(ctx.paths["db"], _JOIN_SQL, params)),
            rows=len,
            floor=lambda: self.floors.read(_JOIN_SQL, params),
        )


# ===========================================================================
# bulk: volume writes
# ===========================================================================
_LINEITEM_DDL = (
    '"l_orderkey" INT, "l_partkey" INT, "l_suppkey" INT, "l_linenumber" INT, '
    '"l_quantity" DOUBLE, "l_extendedprice" DOUBLE, "l_discount" DOUBLE, "l_tax" DOUBLE, '
    '"l_returnflag" TEXT, "l_linestatus" TEXT, "l_shipdate" DATE'
)

#: Per-column checksums of a lineitem table: SQLite read-back form and the
#: DuckDB form over the source parquet. Money columns are compared in
#: integer cents so the sums are exact on both sides.
_LI_SUM_SQLITE = (
    "SELECT COUNT(*), SUM(l_orderkey), SUM(l_partkey), SUM(l_suppkey), SUM(l_linenumber), "
    "SUM(CAST(round(l_quantity) AS INTEGER)), SUM(CAST(round(l_extendedprice * 100) AS INTEGER)), "
    "SUM(CAST(round(l_discount * 100) AS INTEGER)), SUM(CAST(round(l_tax * 100) AS INTEGER)), "
    "SUM(unicode(l_returnflag)), SUM(unicode(l_linestatus)), "
    "SUM(CAST(strftime('%s', l_shipdate) AS INTEGER)) FROM \"{table}\""
)
_LI_SUM_DUCK = (
    "SELECT COUNT(*), SUM(l_orderkey), SUM(l_partkey), SUM(l_suppkey), SUM(l_linenumber), "
    "SUM(CAST(round(l_quantity) AS BIGINT)), SUM(CAST(round(l_extendedprice * 100) AS BIGINT)), "
    "SUM(CAST(round(l_discount * 100) AS BIGINT)), SUM(CAST(round(l_tax * 100) AS BIGINT)), "
    "SUM(unicode(l_returnflag)), SUM(unicode(l_linestatus)), "
    "SUM(CAST(epoch(l_shipdate) AS BIGINT)) FROM read_parquet('{path}') {where}"
)
#: Logical bytes of a lineitem row as the bridge binds it: 8 per number,
#: the text length, 19 per date text.
_LI_BYTES_DUCK = (
    "SELECT SUM(8 * 8 + length(l_returnflag) + length(l_linestatus) + 19) "
    "FROM read_parquet('{path}') {where}"
)

_KV_SUM_SQLITE = (
    "SELECT COUNT(*), SUM(k), SUM(v), SUM(length(s)), SUM(CAST(strftime('%s', d) AS INTEGER)) "
    "FROM kv WHERE k IN ({keys})"
)
_KV_SUM_DUCK = (
    "SELECT COUNT(*), SUM(k), SUM(v), SUM(length(s)), SUM(CAST(epoch(d) AS BIGINT)) "
    "FROM read_parquet('{path}') WHERE batch = {batch} AND pos < {n}"
)


def _ints(row) -> tuple:
    return tuple(int(v) if v is not None else None for v in row)


class _Writes:
    """Volume writes: ``write_sql`` replace/append of lineitem slices into
    their own SQLite file and ``upsert_sql`` batches into ``kv``."""

    def __init__(self, ctx: Ctx):
        self.ctx = ctx
        self.floors = _Floors(ctx)
        self.li_path = f"{ctx.paths['pq_dir']}/lineitem.parquet"
        self.kv_path = f"{ctx.paths['pq_dir']}/kv_updates.parquet"
        self.expected = None  # running checksums of lineitem_w
        self.batch = 0

    def _duck(self, where: str = "") -> tuple:
        return _ints(duckdb.sql(_LI_SUM_DUCK.format(path=self.li_path, where=where)).fetchone())

    def _readback(self, db: str, table: str) -> tuple:
        return _ints(_sqlite_rows(db, _LI_SUM_SQLITE.format(table=table))[0])

    def _lineitem(self, where: str | None):
        df = self.ctx.spark.read.parquet(self.li_path)
        return df.where(where) if where else df

    def _write(self, kind: str, table: str, where: str | None, if_exists: str) -> Op:
        ctx = self.ctx
        db = ctx.paths["wb_db"]
        sql_where = f"WHERE {where}" if where else ""
        spans = []

        def run():
            with ctx.tracer.span("write_sql") as span:
                write_sql(self._lineitem(where), db, table=table, if_exists=if_exists)
            spans.append(span)

        def check(_):
            delta = self._duck(sql_where)
            if if_exists == "replace" or self.expected is None or table != "lineitem_w":
                want = delta
            else:
                want = tuple(a + b for a, b in zip(self.expected, delta))
            got = self._readback(db, table)
            if table == "lineitem_w":
                self.expected = got if got == want else None
            return got == want

        def floor():
            if if_exists == "replace" and spans:
                spans[0].attrs.update(self._footprint(db, sql_where))
            rows = _parquet_rows(self.li_path, sql_where)
            self.floors.write(table, _LINEITEM_DDL, rows)

        def n_rows(_):
            return duckdb.sql(f"SELECT COUNT(*) FROM read_parquet('{self.li_path}') {sql_where}").fetchone()[0]

        return Op(kind, run, check, n_rows, floor)

    def _footprint(self, db: str, sql_where: str) -> dict:
        """SQLite bytes in use per row and per logical byte written; the
        target file holds only the replaced table."""
        conn = sqlite3.connect(db)
        try:
            pages = conn.execute("PRAGMA page_count").fetchone()[0]
            free = conn.execute("PRAGMA freelist_count").fetchone()[0]
            size = conn.execute("PRAGMA page_size").fetchone()[0]
            rows = sum(
                conn.execute(f'SELECT COUNT(*) FROM "{t}"').fetchone()[0]
                for (t,) in conn.execute("SELECT name FROM sqlite_master WHERE type = 'table'").fetchall()
            )
        finally:
            conn.close()
        used = (pages - free) * size
        logical = duckdb.sql(_LI_BYTES_DUCK.format(path=self.li_path, where=sql_where)).fetchone()[0]
        return {"bytes_per_row": used / rows, "bytes_per_user_byte": used / logical}

    def replace(self) -> Op:
        half = f"l_orderkey < {fixtures.N_ORDERS // 2}"
        return self._write("replace", "lineitem_w", half, "replace")

    def _slice(self) -> str:
        lo = int(self.ctx.rng.integers(0, fixtures.N_ORDERS - 400))
        return f"l_orderkey >= {lo} AND l_orderkey < {lo + 400}"

    def append(self) -> Op:
        return self._write("append", "lineitem_w", self._slice(), "append")

    def upsert(self, n: int = fixtures.KV_BATCH_ROWS, kind: str = "upsert") -> Op:
        ctx = self.ctx
        b = self.batch % fixtures.KV_BATCHES
        self.batch += 1
        db = ctx.paths["db"]

        def run():
            df = (
                ctx.spark.read.parquet(self.kv_path)
                .where(f"batch = {b} AND pos < {n}")
                .drop("batch", "pos")
            )
            with ctx.tracer.span("upsert_sql"):
                upsert_sql(df, db, "kv", ["k"])

        def check(_):
            keys = [
                int(k)
                for (k,) in duckdb.sql(
                    f"SELECT k FROM read_parquet('{self.kv_path}') WHERE batch = {b} AND pos < {n}"
                ).fetchall()
            ]
            got = _ints(_sqlite_rows(db, _KV_SUM_SQLITE.format(keys=",".join(map(str, keys))))[0])
            want = _ints(duckdb.sql(_KV_SUM_DUCK.format(path=self.kv_path, batch=b, n=n)).fetchone())
            return got == want

        def floor():
            rows = _parquet_rows(self.kv_path, f"WHERE batch = {b} AND pos < {n}", "k, v, s, d")
            self.floors.write("kv_floor", '"k" INTEGER PRIMARY KEY, "v" INT, "s" TEXT, "d" DATE', rows)

        return Op(kind, run, check, lambda _: n, floor)

    def probe_write(self) -> Op:
        """A replace of a slice into a table of its own (used by the probe
        sweep of the other workloads)."""
        return self._write("probe_write", "lineitem_probe", self._slice(), "replace")


class Bulk:
    """Row volume through the bridge: scans into Spark and whole-frame
    write-back, each op moving thousands of rows."""

    name = "bulk"
    deck_seconds = 4.5

    def __init__(self, ctx: Ctx):
        self.ctx = ctx
        self.reads = _Reads(ctx)
        self.writes = _Writes(ctx)

    def deck(self) -> list[Op]:
        r, w = self.reads, self.writes
        ops = [r.scan(), r.statement(), w.replace(), w.append(), w.upsert()]
        return [ops[i] for i in self.ctx.rng.permutation(len(ops))]

    def warmup(self) -> list[Op]:
        return [self.reads.scan(), self.writes.append(), self.writes.upsert()]

    def probe(self) -> list[Op]:
        return [self.reads.statement(), self.writes.probe_write(), self.writes.upsert()]


# ===========================================================================
# interactive
# ===========================================================================
_POINT_SQL = "SELECT * FROM orders WHERE o_orderkey = ?"
_RANGE_SQL = (
    "SELECT o_orderkey, o_custkey, o_totalprice, o_orderdate FROM orders "
    "WHERE o_orderkey BETWEEN ? AND ?"
)
#: SQLite-dialect queries for ``sqlite_sql`` over the parquet views; plain
#: ``sqlite3`` runs the same text over the SQLite copies of those tables.
_DIALECT_SQL = (
    "SELECT strftime('%Y', o_orderdate) AS yr, COUNT(*) AS n, total(o_custkey) AS tc, "
    "printf('%d-%s', MIN(o_orderkey), MAX(o_orderpriority)) AS tag FROM orders "
    "WHERE o_custkey BETWEEN {a} AND {b} GROUP BY strftime('%Y', o_orderdate)",
    "SELECT c_mktsegment AS seg, iif(c_nationkey < 12, 'lo', 'hi') AS half, COUNT(*) AS n, "
    "SUM(c_custkey) AS s FROM customer WHERE c_custkey % {m} = {r} GROUP BY 1, 2",
    "SELECT c.c_name AS name, n.n_name AS nation, substr(c.c_name, 10) AS tail "
    "FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey "
    "WHERE c.c_name GLOB 'Customer#000000{d}*'",
)


class Interactive:
    name = "interactive"
    deck_seconds = 6.5

    def __init__(self, ctx: Ctx):
        self.ctx = ctx
        self.floors = _Floors(ctx)
        self.writes = _Writes(ctx)
        self.free_slices = [int(x) for x in ctx.rng.permutation(fixtures.N_ORDERS // 50)]
        pq = ctx.paths["pq_dir"]
        for view in ("orders", "customer", "nation"):
            ctx.spark.read.parquet(f"{pq}/{view}.parquet").createOrReplaceTempView(view)

    def _statement(self, kind: str, sql: str, params: list) -> Op:
        ctx = self.ctx

        def run():
            with ctx.tracer.span("read_sql"):
                df = read_sql(ctx.spark, ctx.paths["db"], statement=sql, params=params)
            with ctx.tracer.span("read.action"):
                return df.collect()

        return Op(
            kind,
            run,
            check=lambda r: _rowset(r) == _rowset(_sqlite_rows(ctx.paths["db"], sql, params)),
            rows=len,
            floor=lambda: self.floors.read(sql, params),
        )

    def point(self) -> Op:
        return self._statement("point_lookup", _POINT_SQL, [int(self.ctx.rng.integers(0, fixtures.N_ORDERS))])

    def range(self) -> Op:
        k = int(self.ctx.rng.integers(0, fixtures.N_ORDERS - 50))
        return self._statement("range_lookup", _RANGE_SQL, [k, k + 49])

    def pushdown(self, by_key: bool) -> Op:
        ctx = self.ctx
        if by_key:
            k = int(ctx.rng.integers(0, fixtures.N_ORDERS - 20))
            cond = (F.col("o_orderkey") >= k) & (F.col("o_orderkey") < k + 20)
            sql, params = "SELECT * FROM orders WHERE o_orderkey >= ? AND o_orderkey < ?", [k, k + 20]
        else:
            c = int(ctx.rng.integers(0, fixtures.N_CUSTOMER))
            cond = F.col("o_custkey") == c
            sql, params = "SELECT * FROM orders WHERE o_custkey = ?", [c]

        def run():
            with ctx.tracer.span("read_sql"):
                df = read_sql(ctx.spark, ctx.paths["db"], table="orders").filter(cond)
            with ctx.tracer.span("read.action") as span:
                rows = df.collect()
            if span is not None:
                scanned = scan_output_rows(df)
                if scanned is not None:
                    span.attrs["rows_transferred_per_row_returned"] = scanned / max(1, len(rows))
            return rows

        return Op(
            "pushdown_read",
            run,
            check=lambda r: _rowset(r) == _rowset(_sqlite_rows(ctx.paths["db"], sql, params)),
            rows=len,
            floor=lambda: self.floors.read(sql, params),
        )

    def dialect(self, template: int) -> Op:
        ctx = self.ctx
        rng = ctx.rng
        c = int(rng.integers(0, fixtures.N_CUSTOMER - 100))
        sql = _DIALECT_SQL[template].format(
            a=c, b=c + 100, m=int(rng.integers(3, 9)), r=int(rng.integers(0, 3)),
            d=int(rng.integers(1, 10)),  # GLOB 'Customer#000000<d>*': 100 customers
        )

        def run():
            with ctx.tracer.span("sqlite_sql"):
                df = sqlite_sql(ctx.spark, sql)
            with ctx.tracer.span("sqlite_sql.action"):
                return df.collect()

        def floor():
            with ctx.tracer.span("translate_sqlite_sql"):
                translate_sqlite_sql(sql)

        return Op(
            "sqlite_sql",
            run,
            check=lambda r: _rowset(r) == _rowset(_sqlite_rows(ctx.paths["db"], sql)),
            rows=len,
            floor=floor,
        )

    def small_upsert(self) -> Op:
        """An ``upsert_sql`` of 80 keys (half updates, half inserts)."""
        return self.writes.upsert(n=80, kind="small_upsert")

    def small_append(self) -> Op:
        """A ``write_sql`` append of 50 orders."""
        ctx = self.ctx
        lo = 50 * self.free_slices.pop()  # each slice is appended once
        where = f"o_orderkey >= {lo} AND o_orderkey < {lo + 50}"
        db = ctx.paths["db"]
        path = f"{ctx.paths['pq_dir']}/orders.parquet"
        sums = (
            "SELECT COUNT(*), SUM(o_orderkey), SUM(o_custkey), "
            "SUM(CAST(round(o_totalprice * 100) AS {t})) FROM {src} WHERE " + where
        )

        def run():
            df = ctx.spark.read.parquet(path).where(where)
            with ctx.tracer.span("write_sql"):
                write_sql(df, db, table="ia_orders", if_exists="append")

        def check(_):
            got = _ints(_sqlite_rows(db, sums.format(t="INTEGER", src="ia_orders"))[0])
            want = _ints(duckdb.sql(sums.format(t="BIGINT", src=f"read_parquet('{path}')")).fetchone())
            return got == want

        def floor():
            rows = _parquet_rows(path, "WHERE " + where)
            self.floors.write(
                "ia_floor",
                '"o_orderkey" INT, "o_custkey" INT, "o_orderstatus" TEXT, '
                '"o_totalprice" DOUBLE, "o_orderdate" DATE, "o_orderpriority" TEXT',
                rows,
            )

        return Op("small_append", run, check, lambda _: 50, floor)

    def deck(self) -> list[Op]:
        ops = [
            self.point(), self.point(), self.point(), self.point(), self.range(),
            self.pushdown(True), self.pushdown(False),
            self.dialect(0), self.dialect(1), self.dialect(2),
            self.small_append(), self.small_upsert(),
        ]  # fmt: skip
        return [ops[i] for i in self.ctx.rng.permutation(len(ops))]

    def warmup(self) -> list[Op]:
        """One op of every code path, so no first call lands in the window."""
        return [
            self.point(), self.pushdown(True), self.pushdown(False),
            self.dialect(0), self.dialect(1), self.dialect(2),
            self.small_append(), self.small_upsert(),
        ]  # fmt: skip

    def probe(self) -> list[Op]:
        return [self.pushdown(False), self.dialect(int(self.ctx.rng.integers(0, 3)))]


# ===========================================================================
# analytic
# ===========================================================================
#: The mix, with the fixture tables each query reads (for rows_per_s).
#: ``q01_pricing_summary`` and ``q03_shipping_priority`` are left out: they
#: round float sums of 4-decimal products to cents with ``F.round``, and on
#: a sum whose exact value ends in a half cent Spark (HALF_UP on the exact
#: double) and DuckDB (``ROUND`` of the scaled double) can round apart, so
#: their oracle check fails on some seeds (see NOTES.md, "Open defects").
#: ``agg_decimal_ledger`` (the same scan and grouping as q01, in exact
#: integer cents) and ``q12_late_priority`` (an orders-lineitem join) take
#: their places.
ANALYTIC_MIX = {
    "agg_decimal_ledger": ("lineitem",),
    "q12_late_priority": ("orders", "lineitem"),
    "q18_large_orders": ("customer", "orders", "lineitem"),
    "q21_waiting_supplier": ("supplier", "orders", "lineitem"),
    "window_topk_per_group": ("orders",),
    "asof_join_events_orders": ("events", "orders"),
    "events_sessionize": ("events",),
    "dedup_exact": ("documents",),
    "text_tfidf_topk": ("documents",),
    "agg_hll_sketch": ("lineitem",),
    "sim_bruteforce_topk": ("embeddings",),
    "graph_pagerank": ("orders", "lineitem"),
}

_TABLE_ROWS = {
    "customer": fixtures.N_CUSTOMER,
    "supplier": fixtures.N_SUPPLIER,
    "orders": fixtures.N_ORDERS,
    "lineitem": fixtures.N_LINEITEM,
    "events": fixtures.N_EVENTS,
    "documents": fixtures.N_DOCUMENTS,
    "embeddings": fixtures.N_EMBEDDINGS,
}


class Analytic:
    name = "analytic"
    deck_seconds = 17.0

    def __init__(self, ctx: Ctx):
        self.ctx = ctx
        self.registry = load_all()
        self.duck = duckdb.connect()
        for t in ("region", "nation", "customer", "supplier", "part", "orders", "lineitem",
                  "events", "documents", "embeddings"):  # fmt: skip
            self.duck.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{ctx.paths['pq_dir']}/{t}.parquet')"
            )
        self.oracle_hash: dict[str, str] = {}

    def _oracle(self, name: str) -> str:
        if name not in self.oracle_hash:
            res = self.duck.sql(self.registry[name].oracle)
            self.oracle_hash[name] = value_hash(list(res.columns), res.fetchall())
        return self.oracle_hash[name]

    def query(self, name: str) -> Op:
        ctx = self.ctx
        q = self.registry[name]

        def run():
            with ctx.tracer.span("analytic.plan", query=name):
                df = q.spark_fn(ctx.spark, ctx.paths["pq_dir"])
            with ctx.tracer.span("analytic.exec", query=name):
                rows = [tuple(r) for r in df.collect()]
            return df.columns, rows

        return Op(
            name,
            run,
            check=lambda r: value_hash(r[0], r[1]) == self._oracle(name),
            rows=lambda _: sum(_TABLE_ROWS[t] for t in ANALYTIC_MIX[name]),
        )

    def deck(self) -> list[Op]:
        return [self.query(n) for n in ANALYTIC_MIX]

    def warmup(self) -> list[Op]:
        return [self.query("agg_decimal_ledger")]

    def probe(self) -> list[Op]:
        return [self.query("agg_decimal_ledger")]


WORKLOADS = {w.name: w for w in (Bulk, Interactive, Analytic)}
