"""Seeded benchmark inputs: a TPC-H-like parquet star schema plus the SQLite
files the bridge workloads read and write.

Everything is derived from one ``numpy`` generator seeded by ``--seed``, so
the same seed rebuilds byte-identical parquet and row-identical SQLite
files. The SQLite files are filled with plain ``sqlite3`` from the parquet
tables, never through the bridge, so neither their content nor the set-up
time depends on the write path under test.

Sizes are fixed (they do not depend on the seed) so that run-to-run spread
comes from the program, not from the inputs: ``lineitem`` has exactly
``N_LINEITEM`` rows and the bulk-load table ``wide`` its first ``N_WIDE``.
``wide`` (about 3 MB of SQLite pages) is larger than SQLite's default
per-connection page cache (2 MB) and fits the OS page cache.
"""

from __future__ import annotations

import os
import shutil
import sqlite3

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

N_CUSTOMER = 1500
N_SUPPLIER = 100
N_PART = 2000
N_ORDERS = 15_000
N_LINEITEM = 60_000
N_WIDE = 30_000
N_EVENTS = 10_000
N_DOCUMENTS = 500
N_EMBEDDINGS = 500
EMBED_DIM = 64
N_KV = 20_000
KV_BATCHES = 24
KV_BATCH_ROWS = 1000

SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
EVENT_TYPES = ("view", "click", "purchase", "error", "signup")
WORDS = (
    "a the key agg row scan slow fast table value part hash merge batch spark "
    "line sort window order data column join small customer query big stream "
    "group filter"
).split()
P_TYPES = ("ECONOMY", "STANDARD", "PROMO", "LARGE", "MEDIUM", "SMALL")
P_WORDS = ("small", "red", "ring", "widget", "green", "bolt", "large", "blue")

#: Declared types of the bulk-load table: every affinity the bridge knows
#: (INT, REAL, TEXT, BLOB, BOOL, DATE and an undeclared column -> ``.any``).
WIDE_COLUMNS = (
    ("l_orderkey", "INTEGER"),
    ("l_partkey", "INT"),
    ("l_suppkey", "BIGINT"),
    ("l_linenumber", "SMALLINT"),
    ("l_quantity", "INT"),
    ("l_extendedprice", "REAL"),
    ("l_discount", "DOUBLE"),
    ("l_tax", "FLOAT"),
    ("l_returnflag", "CHAR(1)"),
    ("l_linestatus", "TEXT"),
    ("l_shipdate", "DATE"),
    ("l_comment", "VARCHAR(44)"),
    ("l_payload", "BLOB"),
    ("l_is_late", "BOOLEAN"),
    ("l_note", ""),
)

_JULIAN_UNIX_EPOCH = 2440587.5


def _ts(values_us: np.ndarray) -> pa.Array:
    return pa.array(values_us.astype("datetime64[us]"), type=pa.timestamp("us"))


def _days(start: str, n: np.ndarray) -> np.ndarray:
    return np.datetime64(start, "D") + n.astype("timedelta64[D]")


def _words(rng: np.random.Generator, n_rows: int, lo: int, hi: int) -> list[str]:
    lens = rng.integers(lo, hi + 1, n_rows).tolist()
    words = np.array(WORDS)[rng.integers(0, len(WORDS), sum(lens))].tolist()
    out, pos = [], 0
    for k in lens:
        out.append(" ".join(words[pos : pos + k]))
        pos += k
    return out


def _date_text(values) -> list[str]:
    """datetime64 values -> SQLite date text 'YYYY-MM-DD HH:MM:SS'."""
    text = np.datetime_as_string(np.asarray(values).astype("datetime64[s]"), unit="s")
    return np.char.replace(text, "T", " ").tolist()


def _line_counts(rng: np.random.Generator) -> np.ndarray:
    """Lines per order in 1..7 summing to exactly N_LINEITEM."""
    counts = rng.integers(1, 8, N_ORDERS)
    while (diff := N_LINEITEM - int(counts.sum())) != 0:
        can = np.flatnonzero(counts < 7) if diff > 0 else np.flatnonzero(counts > 1)
        pick = rng.choice(can, min(abs(diff), len(can)), replace=False)
        counts[pick] += 1 if diff > 0 else -1
    return counts


def make_tables(seed: int) -> tuple[dict[str, pa.Table], dict[str, list]]:
    """Build every parquet table of the fixture in memory, plus the columns
    of the SQLite bulk-load table ``wide``."""
    rng = np.random.default_rng(seed)
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({"r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS})
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    t["customer"] = pa.table(
        {
            "c_custkey": pa.array(range(N_CUSTOMER), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(N_CUSTOMER)],
            "c_nationkey": pa.array(rng.integers(0, 25, N_CUSTOMER), pa.int32()),
            "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, N_CUSTOMER), 2),
            "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, N_CUSTOMER)],
        }
    )
    t["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(range(N_SUPPLIER), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(N_SUPPLIER)],
            "s_nationkey": pa.array(rng.integers(0, 25, N_SUPPLIER), pa.int32()),
            "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, N_SUPPLIER), 2),
        }
    )
    pk = np.arange(N_PART)
    retail = (90000 + (pk // 10) % 20001 + 100 * (pk % 1000)) / 100.0
    t["part"] = pa.table(
        {
            "p_partkey": pa.array(pk, pa.int64()),
            "p_name": [
                f"{P_WORDS[a]} {P_WORDS[b]}"
                for a, b in zip(rng.integers(0, 8, N_PART), rng.integers(0, 8, N_PART))
            ],
            "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, N_PART)],
            "p_type": [P_TYPES[i] for i in rng.integers(0, len(P_TYPES), N_PART)],
            "p_size": pa.array(rng.integers(1, 51, N_PART), pa.int32()),
            "p_retailprice": retail,
        }
    )

    # orders + lineitem -----------------------------------------------------
    odate = _days("1992-01-01", rng.integers(0, 2405, N_ORDERS))
    counts = _line_counts(rng)
    l_order = np.repeat(np.arange(N_ORDERS), counts)
    l_line = np.concatenate([np.arange(1, c + 1) for c in counts])
    l_part = rng.integers(0, N_PART, N_LINEITEM)
    l_qty = rng.integers(1, 51, N_LINEITEM).astype(float)
    l_price = np.round(l_qty * retail[l_part], 2)
    l_disc = rng.integers(0, 11, N_LINEITEM) / 100.0
    l_tax = rng.integers(0, 9, N_LINEITEM) / 100.0
    l_ship = odate[l_order] + rng.integers(1, 122, N_LINEITEM).astype("timedelta64[D]")
    cutoff = np.datetime64("1995-06-17", "D")
    shipped = l_ship <= cutoff
    l_flag = np.where(shipped, np.where(rng.random(N_LINEITEM) < 0.5, "R", "A"), "N")
    l_status = np.where(shipped, "F", "O")
    charge = l_price * (1 + l_tax) * (1 - l_disc)
    o_total = np.round(np.bincount(l_order, weights=charge, minlength=N_ORDERS), 2)
    n_f = np.bincount(l_order, weights=shipped.astype(float), minlength=N_ORDERS)
    o_status = np.where(n_f == counts, "F", np.where(n_f == 0, "O", "P"))
    t["orders"] = pa.table(
        {
            "o_orderkey": pa.array(range(N_ORDERS), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, N_CUSTOMER, N_ORDERS), pa.int64()),
            "o_orderstatus": o_status.tolist(),
            "o_totalprice": o_total,
            "o_orderdate": _ts(odate),
            "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, N_ORDERS)],
        }
    )
    perm = rng.permutation(N_LINEITEM)  # physical order is not key order
    t["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(l_order[perm], pa.int64()),
            "l_partkey": pa.array(l_part[perm], pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, N_SUPPLIER, N_LINEITEM)[perm], pa.int64()),
            "l_linenumber": pa.array(l_line[perm], pa.int32()),
            "l_quantity": l_qty[perm],
            "l_extendedprice": l_price[perm],
            "l_discount": l_disc[perm],
            "l_tax": l_tax[perm],
            "l_returnflag": l_flag[perm].tolist(),
            "l_linestatus": l_status[perm].tolist(),
            "l_shipdate": _ts(l_ship[perm]),
        }
    )

    # events / documents / embeddings -------------------------------------
    gaps = np.maximum(1, rng.exponential(60e6, N_EVENTS)).astype(np.int64)
    ev_ts = np.datetime64("2024-01-01T00:00:00", "us") + np.cumsum(gaps).astype("timedelta64[us]")
    t["events"] = pa.table(
        {
            "event_id": pa.array(range(N_EVENTS), pa.int64()),
            "ts": _ts(ev_ts),
            "user_id": pa.array(rng.integers(0, 100, N_EVENTS), pa.int64()),
            "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, N_EVENTS)],
            "value": np.round(rng.uniform(0, 100, N_EVENTS), 2),
            "props": [f'{{"k": {i}}}' for i in rng.integers(0, 100, N_EVENTS)],
        }
    )
    texts = _words(rng, N_DOCUMENTS, 20, 80)
    dup_of = rng.integers(0, N_DOCUMENTS, N_DOCUMENTS)
    for i in np.flatnonzero(rng.random(N_DOCUMENTS) < 0.1):
        if dup_of[i] < i:
            texts[i] = texts[dup_of[i]]
    t["documents"] = pa.table(
        {
            "doc_id": pa.array(range(N_DOCUMENTS), pa.int64()),
            "text": texts,
            "lang": [("en", "de", "fr", "es")[i] for i in rng.integers(0, 4, N_DOCUMENTS)],
            "source": [f"src{i % 5}" for i in range(N_DOCUMENTS)],
            "n_chars": pa.array([len(s) for s in texts], pa.int64()),
        }
    )
    vecs = rng.normal(0, 1, (N_EMBEDDINGS, EMBED_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table(
        {
            "vec_id": pa.array(range(N_EMBEDDINGS), pa.int64()),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 5, N_EMBEDDINGS), pa.int32()),
        }
    )

    # keyed upsert target and its seeded update/insert batches -------------
    t["kv_init"] = _kv_table(rng, np.arange(N_KV))
    batches = []
    live = N_KV
    half = KV_BATCH_ROWS // 2
    for b in range(KV_BATCHES):
        upd = rng.choice(live, half, replace=False)
        new = np.arange(live, live + KV_BATCH_ROWS - half)
        live += len(new)
        keys = rng.permutation(np.concatenate([upd, new]))
        part = _kv_table(rng, keys)
        part = part.append_column("batch", pa.array([b] * len(keys), pa.int32()))
        part = part.append_column("pos", pa.array(range(len(keys)), pa.int32()))
        batches.append(part)
    t["kv_updates"] = pa.concat_tables(batches)
    return t, _wide_columns(rng, t["lineitem"].slice(0, N_WIDE), odate)


def _kv_table(rng: np.random.Generator, keys: np.ndarray) -> pa.Table:
    n = len(keys)
    return pa.table(
        {
            "k": pa.array(keys, pa.int64()),
            "v": pa.array(rng.integers(-1_000_000, 1_000_000, n), pa.int64()),
            "s": _words(rng, n, 1, 4),
            "d": _ts(_days("2020-01-01", rng.integers(0, 1500, n))),
        }
    )


def _wide_columns(rng: np.random.Generator, li: pa.Table, odate: np.ndarray) -> dict[str, list]:
    """``lineitem`` plus the columns the other affinities need, in the
    storage classes SQLite will hold (dates in three formats, a seeded share
    of TEXT cells in the INT column, ints and text in the untyped column).
    Kept as Python lists: mixed storage classes fit no single arrow type."""
    n = li.num_rows
    cols = {c: li.column(c).to_numpy().tolist() for c in li.column_names if c != "l_shipdate"}
    qty = [int(q) for q in cols["l_quantity"]]
    for i in rng.choice(n, n // 100, replace=False).tolist():
        qty[i] = f"{qty[i]} pcs"  # dirty TEXT in an INT column
    ship_days = (
        li.column("l_shipdate").to_numpy().astype("datetime64[D]") - np.datetime64("1970-01-01", "D")
    ).astype(np.int64)
    # storage format per cell: exactly half TEXT, a quarter unix INT, a
    # quarter Julian REAL, at seeded positions
    fmt = rng.permutation(np.repeat([0, 1, 2], [n - 2 * (n // 4), n // 4, n // 4]))
    text = _date_text(li.column("l_shipdate").to_numpy())
    ship: list = []
    for i, (d, f) in enumerate(zip(ship_days.tolist(), fmt.tolist())):
        if f == 0:
            ship.append(text[i])
        elif f == 1:
            ship.append(d * 86400)
        else:
            ship.append(_JULIAN_UNIX_EPOCH + d)  # midnight: exact in binary
    order_day = odate[li.column("l_orderkey").to_numpy()]
    late = (li.column("l_shipdate").to_numpy().astype("datetime64[D]") - order_day) > np.timedelta64(90, "D")
    note_int = rng.random(n) < 0.7
    note_val = rng.integers(0, 100_000, n)
    payload_len = rng.integers(8, 25, n)
    payload = rng.integers(0, 256, int(payload_len.sum()), dtype=np.uint8).tobytes()
    offs = np.concatenate([[0], np.cumsum(payload_len)])
    return {
        "l_orderkey": cols["l_orderkey"],
        "l_partkey": cols["l_partkey"],
        "l_suppkey": cols["l_suppkey"],
        "l_linenumber": cols["l_linenumber"],
        "l_quantity": qty,
        "l_extendedprice": cols["l_extendedprice"],
        "l_discount": cols["l_discount"],
        "l_tax": cols["l_tax"],
        "l_returnflag": cols["l_returnflag"],
        "l_linestatus": cols["l_linestatus"],
        "l_shipdate": ship,
        "l_comment": _words(rng, n, 1, 6),
        "l_payload": [payload[offs[i] : offs[i + 1]] for i in range(n)],
        "l_is_late": late.astype(int).tolist(),
        "l_note": [v if is_int else f"n{v}" for v, is_int in zip(note_val.tolist(), note_int.tolist())],
    }


PARQUET_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
    "kv_init",
    "kv_updates",
)


def _create(conn: sqlite3.Connection, table: str, decls: list[tuple[str, str]], rows) -> None:
    body = ", ".join(f'"{c}" {d}'.rstrip() for c, d in decls)
    conn.execute(f'CREATE TABLE "{table}" ({body})')
    marks = ", ".join("?" for _ in decls)
    conn.executemany(f'INSERT INTO "{table}" VALUES ({marks})', rows)


def _sqlite_from_parquet(pq_dir: str, name: str) -> list[tuple]:
    tb = pq.read_table(os.path.join(pq_dir, f"{name}.parquet"))
    cols = []
    for f, c in zip(tb.schema, tb.columns):
        cols.append(_date_text(c.to_numpy()) if pa.types.is_timestamp(f.type) else c.to_pylist())
    return list(zip(*cols))


def build_sqlite(pq_dir: str, db_path: str, wide: dict[str, list]) -> None:
    """Fill ``db_path`` from the parquet tables with plain ``sqlite3``."""
    conn = sqlite3.connect(db_path)
    try:
        with conn:
            names = [c for c, _ in WIDE_COLUMNS]
            _create(conn, "wide", list(WIDE_COLUMNS), zip(*(wide[c] for c in names)))
            _create(
                conn,
                "orders",
                [
                    ("o_orderkey", "INTEGER PRIMARY KEY"),
                    ("o_custkey", "BIGINT"),
                    ("o_orderstatus", "TEXT"),
                    ("o_totalprice", "REAL"),
                    ("o_orderdate", "DATE"),
                    ("o_orderpriority", "TEXT"),
                ],
                _sqlite_from_parquet(pq_dir, "orders"),
            )
            conn.execute('CREATE INDEX orders_cust ON orders ("o_custkey")')
            _create(
                conn,
                "customer",
                [
                    ("c_custkey", "INTEGER PRIMARY KEY"),
                    ("c_name", "TEXT"),
                    ("c_nationkey", "INT"),
                    ("c_acctbal", "REAL"),
                    ("c_mktsegment", "TEXT"),
                ],
                _sqlite_from_parquet(pq_dir, "customer"),
            )
            _create(
                conn,
                "nation",
                [("n_nationkey", "INTEGER PRIMARY KEY"), ("n_name", "TEXT"), ("n_regionkey", "INT")],
                _sqlite_from_parquet(pq_dir, "nation"),
            )
            _create(
                conn,
                "kv",
                [("k", "INTEGER PRIMARY KEY"), ("v", "INT"), ("s", "TEXT"), ("d", "DATE")],
                _sqlite_from_parquet(pq_dir, "kv_init"),
            )
    finally:
        conn.close()


def build(seed: int, root: str) -> dict[str, str]:
    """(Re)create ``root`` holding the parquet tables and ``bridge.db``.

    Returns the paths the workloads use: ``pq_dir`` (one ``<table>.parquet``
    per table, the layout ``sqlitedataframe_spark.io`` reads), ``db``
    (the SQLite bridge fixture), ``wb_db`` (write-back target, created
    empty) and ``scratch_db`` (raw-floor inserts).
    """
    shutil.rmtree(root, ignore_errors=True)
    pq_dir = os.path.join(root, "parquet")
    os.makedirs(pq_dir)
    tables, wide = make_tables(seed)
    for name in PARQUET_TABLES:
        pq.write_table(tables[name], os.path.join(pq_dir, f"{name}.parquet"))
    db = os.path.join(root, "bridge.db")
    build_sqlite(pq_dir, db, wide)
    return {
        "pq_dir": pq_dir,
        "db": db,
        "wb_db": os.path.join(root, "writeback.db"),
        "scratch_db": os.path.join(root, "floor.db"),
    }
