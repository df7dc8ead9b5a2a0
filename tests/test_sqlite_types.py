"""Unit tests for the value/type model (SURVEY §1.3/§1.4) — pure Python,
no Spark. Mirrors the reference's affinity rules (SQLiteDataFrame.swift:
171-194), typed decode switch (:454-527), and writeItem encode (:593-650).
"""

from __future__ import annotations

import datetime as dt
from decimal import Decimal

import pytest

from pyspark.sql import types as ST

from sqlitedataframe_spark.sqlite_types import (
    INT64_MAX,
    SQLiteType,
    affinity,
    ddl_decl,
    decode_cell,
    decode_date,
    encode_cell,
    spark_schema,
)


@pytest.mark.parametrize(
    "decl,expected",
    [
        # documented SQLite affinity algorithm + BOOL/DATE extensions
        ("INTEGER", SQLiteType.INT),
        ("int", SQLiteType.INT),
        ("BIGINT", SQLiteType.INT),
        ("UNSIGNED BIG INT", SQLiteType.INT),
        ("VARCHAR(255)", SQLiteType.TEXT),
        ("NCHAR(55)", SQLiteType.TEXT),
        ("CLOB", SQLiteType.TEXT),
        ("TEXT", SQLiteType.TEXT),
        ("BLOB", SQLiteType.BLOB),
        ("REAL", SQLiteType.FLOAT),
        ("DOUBLE PRECISION", SQLiteType.FLOAT),
        ("FLOAT", SQLiteType.FLOAT),
        ("BOOLEAN", SQLiteType.BOOL),
        ("DATE", SQLiteType.DATE),
        ("DATETIME", SQLiteType.DATE),
        ("", SQLiteType.ANY),
        (None, SQLiteType.ANY),
        ("STRING", SQLiteType.ANY),
        # precedence: first matching rule wins — INT before anything else,
        # so "CHARINT"→TEXT? No: rule order is INT first (reference :171-179)
        ("CHARINT", SQLiteType.INT),
        # FLOATING DATE: "FLOA" precedes "DATE"
        ("FLOATING DATE", SQLiteType.FLOAT),
        # POINT contains "INT" (documented SQLite quirk)
        ("POINT", SQLiteType.INT),
    ],
)
def test_affinity(decl, expected):
    assert affinity(decl) is expected


def test_spark_schema_types():
    sch = spark_schema(
        ["i", "f", "t", "b", "bo", "d", "a"],
        {
            "i": SQLiteType.INT,
            "f": SQLiteType.FLOAT,
            "t": SQLiteType.TEXT,
            "b": SQLiteType.BLOB,
            "bo": SQLiteType.BOOL,
            "d": SQLiteType.DATE,
        },
    )
    got = [type(f.dataType) for f in sch.fields]
    assert got == [
        ST.LongType,
        ST.DoubleType,
        ST.StringType,
        ST.BinaryType,
        ST.BooleanType,
        ST.TimestampType,
        ST.StringType,  # ANY fallback
    ]
    assert all(f.nullable for f in sch.fields)  # README.md:60


# --------------------------------------------------------------------------
# decode (reference :454-527)
# --------------------------------------------------------------------------
def test_decode_int():
    assert decode_cell(42, SQLiteType.INT) == 42
    assert decode_cell(42.9, SQLiteType.INT) == 42
    assert decode_cell("17", SQLiteType.INT) == 17
    assert decode_cell(None, SQLiteType.INT) is None


def test_decode_bool():
    # bool = int64 != 0 (reference :455-456)
    assert decode_cell(1, SQLiteType.BOOL) is True
    assert decode_cell(0, SQLiteType.BOOL) is False
    assert decode_cell(-3, SQLiteType.BOOL) is True


def test_decode_date_three_formats():
    # TEXT 'yyyy-MM-dd HH:mm:ss', INTEGER unix seconds, REAL Julian day
    # (reference :491-511)
    want = dt.datetime(2021, 1, 1, 10, 0, 0)
    assert decode_date("2021-01-01 10:00:00") == want
    assert decode_date(int(want.replace(tzinfo=dt.timezone.utc).timestamp())) == want
    jd = want.replace(tzinfo=dt.timezone.utc).timestamp() / 86400.0 + 2440587.5
    got = decode_date(jd)
    assert abs((got - want).total_seconds()) < 1e-3


def test_decode_blob_and_text():
    assert decode_cell(b"\x01\x02", SQLiteType.BLOB) == b"\x01\x02"
    assert decode_cell("s", SQLiteType.BLOB) == b"s"
    assert decode_cell(b"hi", SQLiteType.TEXT) == "hi"
    assert decode_cell(5, SQLiteType.TEXT) == "5"


def test_decode_any_is_lossless_string():
    assert decode_cell(7, SQLiteType.ANY) == "7"
    assert decode_cell("x", SQLiteType.ANY) == "x"


# --------------------------------------------------------------------------
# encode (reference :593-650)
# --------------------------------------------------------------------------
def test_encode_bool_as_int():
    assert encode_cell(True) == 1
    assert encode_cell(False) == 0


def test_encode_uint64_overflow_to_text():
    # beyond-int64 → decimal TEXT (reference :617-623)
    assert encode_cell(INT64_MAX) == INT64_MAX
    assert encode_cell(INT64_MAX + 1) == str(INT64_MAX + 1)
    assert encode_cell(Decimal(2**64 - 1)) == str(2**64 - 1)
    # a scaled decimal: exact plain text, integral values included
    assert encode_cell(Decimal("12.50")) == "12.50"
    assert encode_cell(Decimal("7.00")) == "7.00"
    assert encode_cell(Decimal("1.00000000000E-7")) == "0.000000100000000000"


def test_encode_date_as_text():
    # always TEXT 'yyyy-MM-dd HH:mm:ss' (reference :636-640)
    assert encode_cell(dt.datetime(2021, 1, 2, 3, 4, 5)) == "2021-01-02 03:04:05"
    assert encode_cell(dt.date(2021, 1, 2)) == "2021-01-02 00:00:00"


def test_encode_description_fallback():
    # CGPoint-style round-trip as string (reference :642-647, test :101-107)
    assert encode_cell((1.0, 1.0)) == "(1.0, 1.0)"


def test_ddl_decl():
    # DDL type map (reference :741-768); unknown type → bare column name
    assert ddl_decl(ST.StructField("s", ST.StringType())) == '"s" TEXT'
    assert ddl_decl(ST.StructField("n", ST.LongType())) == '"n" INT'
    assert ddl_decl(ST.StructField("d", ST.TimestampType())) == '"d" DATE'
    assert ddl_decl(ST.StructField("x", ST.ArrayType(ST.LongType()))) == '"x"'


def test_decode_int_coerces_bad_text():
    """SQLite dynamic typing: TEXT in an INT column coerces (atoi), never
    raises — one bad cell must not kill a read task."""
    assert decode_cell("abc", SQLiteType.INT) == 0
    assert decode_cell("42abc", SQLiteType.INT) == 42
    assert decode_cell("  -7xyz", SQLiteType.INT) == -7
    assert decode_cell("3.9", SQLiteType.INT) == 3
    assert decode_cell("", SQLiteType.INT) == 0


def test_decode_float_coerces_bad_text():
    assert decode_cell("abc", SQLiteType.FLOAT) == 0.0
    assert decode_cell("2.5x", SQLiteType.FLOAT) == 2.5
    assert decode_cell("-1e3garbage", SQLiteType.FLOAT) == -1000.0
    assert decode_cell("1.25", SQLiteType.FLOAT) == 1.25
