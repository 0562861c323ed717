"""SQLite value & type model: the reference's 5-tag value model, 7-type
column model, affinity-based schema inference, and the type maps in both
directions (SURVEY §1.3/§1.4).

Reference: SQLiteValue (SQLiteDataFrame.swift:77-83), SQLiteType (:161-169),
affinity rules (:171-194), DDL type map (:741-768).
"""

from __future__ import annotations

import datetime as dt
import math
import re
from collections.abc import Callable
from decimal import Decimal
from enum import Enum

from pyspark.sql import types as ST

#: Largest signed 64-bit value — the UInt64-overflow-to-TEXT boundary
#: (reference encode at SQLiteDataFrame.swift:617-623).
INT64_MAX = (1 << 63) - 1

SQLITE_DATE_FORMAT = "%Y-%m-%d %H:%M:%S"

#: Days between the Julian epoch and the Unix epoch (decode at :504-508).
JULIAN_UNIX_EPOCH_DAYS = 2440587.5


class SQLiteType(Enum):
    """The reference's 7 logical column types (SQLiteDataFrame.swift:161-169):
    the 4 standard affinities plus nonstandard bool/date and the `any`
    fallback."""

    INT = "int"
    FLOAT = "float"
    TEXT = "text"
    BLOB = "blob"
    BOOL = "bool"
    DATE = "date"
    ANY = "any"


#: Affinity substring rules, first match wins, case-insensitive — the
#: documented SQLite algorithm plus the reference's BOOL/DATE extensions
#: (SQLiteDataFrame.swift:171-193, README.md:62-72).
_AFFINITY_RULES = (
    ("INT", SQLiteType.INT),
    ("CHAR", SQLiteType.TEXT),
    ("CLOB", SQLiteType.TEXT),
    ("TEXT", SQLiteType.TEXT),
    ("BLOB", SQLiteType.BLOB),
    ("REAL", SQLiteType.FLOAT),
    ("FLOA", SQLiteType.FLOAT),
    ("DOUB", SQLiteType.FLOAT),
    ("BOOL", SQLiteType.BOOL),
    ("DATE", SQLiteType.DATE),
)


def affinity(decltype: str | None) -> SQLiteType:
    """Declared-type string -> SQLiteType via substring affinity rules;
    no declared type or no match -> ANY (SQLiteDataFrame.swift:182-193)."""
    if not decltype:
        return SQLiteType.ANY
    upper = decltype.upper()
    for needle, t in _AFFINITY_RULES:
        if needle in upper:
            return t
    return SQLiteType.ANY


#: Tagged-union Spark form of the reference's 5-tag ``SQLiteValue``
#: (SQLiteDataFrame.swift:77-83): the lossless runtime-typed representation
#: of a dynamically typed (`.any`) cell. ``kind`` in {'int','real','text',
#: 'blob'}; a NULL cell is a NULL struct. Used when ``any_mode='struct'``.
ANY_STRUCT_TYPE = ST.StructType(
    [
        ST.StructField("kind", ST.StringType(), False),
        ST.StructField("int_value", ST.LongType(), True),
        ST.StructField("real_value", ST.DoubleType(), True),
        ST.StructField("text_value", ST.StringType(), True),
        ST.StructField("blob_value", ST.BinaryType(), True),
    ]
)


def any_struct_cell(value):
    """Non-NULL runtime SQLite value -> tagged-union tuple for ANY_STRUCT_TYPE."""
    if isinstance(value, bool):
        return ("int", int(value), None, None, None)
    if isinstance(value, int):
        if -(1 << 63) <= value <= INT64_MAX:
            return ("int", value, None, None, None)
        return ("text", None, None, str(value), None)
    if isinstance(value, float):
        return ("real", None, value, None, None)
    if isinstance(value, (bytes, bytearray)):
        return ("blob", None, None, None, bytes(value))
    return ("text", None, None, str(value), None)


#: Spark type -> SQL decl for generated DDL (reference :741-768). Unknown
#: types produce a bare column (no decl) — legal in SQLite, affinity "none".
DDL_TYPE: dict[type, str] = {
    ST.StringType: "TEXT",
    ST.BooleanType: "BOOLEAN",
    ST.ByteType: "INT",
    ST.ShortType: "INT",
    ST.IntegerType: "INT",
    ST.LongType: "INT",
    ST.FloatType: "FLOAT",
    ST.DoubleType: "DOUBLE",
    ST.TimestampType: "DATE",
    ST.DateType: "DATE",
    ST.BinaryType: "BLOB",
}


def spark_schema(
    names: list[str], types: dict[str, SQLiteType], any_mode: str = "string"
) -> ST.StructType:
    # All nullable: the reference keeps every frame column nullable even for
    # NOT NULL SQL columns (README.md:60).
    fields = [(n, resolve_type(types.get(n, SQLiteType.ANY), any_mode)[0]) for n in names]
    return ST.StructType([ST.StructField(n, t, True) for n, t in fields])


def ddl_decl(field: ST.StructField) -> str:
    """One column declaration for generated CREATE TABLE DDL."""
    decl = DDL_TYPE.get(type(field.dataType))
    quoted = f'"{field.name}"'
    return f"{quoted} {decl}" if decl else quoted


# --------------------------------------------------------------------------
# Cell decode: SQLite runtime value -> Python value of the declared type.
# Mirrors the reference's typed decode switch (SQLiteDataFrame.swift:454-527)
# including the 3-format date rule (:491-511) and bool != 0 (:455-456).
# --------------------------------------------------------------------------
def _decode_int(value) -> int | None:
    if isinstance(value, float) and not math.isfinite(value):
        return None  # SQLite stores 1e999 as REAL inf: beyond int64
    if isinstance(value, (int, float)):
        v = int(value)
    else:
        # SQLite dynamic typing: TEXT can live in an INT-affinity column.
        # sqlite3_column_int64 coerces (atoi semantics: longest numeric
        # prefix, else 0) — one bad cell must not kill the read task.
        v = _coerce_int(str(value))
    # beyond-int64 values round-trip via text in the reference; surface
    # them as string is lossy for LongType, so clamp-free passthrough and
    # let callers use a Decimal override for UInt64 semantics.
    return v if -(1 << 63) <= v <= INT64_MAX else None


def _decode_float(value) -> float | None:
    if isinstance(value, (bytes, bytearray)):
        return None
    if isinstance(value, (int, float)):
        return float(value)
    # sqlite3_column_double coercion for TEXT (prefix parse, else 0.0).
    return _coerce_float(str(value))


def _decode_text(value) -> str:
    if isinstance(value, (bytes, bytearray)):
        return bytes(value).decode("utf-8", "replace")
    return str(value)


def _decode_blob(value) -> bytes:
    if isinstance(value, (bytes, bytearray)):
        return bytes(value)
    return str(value).encode("utf-8")


def _decode_bool(value) -> bool | None:
    if isinstance(value, (int, float)):
        return value != 0
    return None


_INT_PREFIX = re.compile(r"^\s*[+-]?\d+")
_FLOAT_PREFIX = re.compile(r"^\s*[+-]?(?:\d+\.?\d*|\.\d+)(?:[eE][+-]?\d+)?")


def _coerce_int(text: str) -> int:
    """SQLite TEXT->INTEGER coercion (sqlite3_column_int64 / CAST semantics):
    longest leading integer prefix; else longest float prefix truncated;
    else 0. Never raises."""
    m = _INT_PREFIX.match(text)
    if m:
        return int(m.group())
    m = _FLOAT_PREFIX.match(text)
    if m:
        try:
            return int(float(m.group()))
        except (ValueError, OverflowError):
            return 0
    return 0


def _coerce_float(text: str) -> float:
    """SQLite TEXT->REAL coercion: longest numeric prefix, else 0.0."""
    m = _FLOAT_PREFIX.match(text)
    if m:
        try:
            return float(m.group())
        except ValueError:
            return 0.0
    return 0.0


def decode_date(value) -> dt.datetime | None:
    """3-format date decode: TEXT 'yyyy-MM-dd HH:mm:ss' (or ISO), INTEGER
    unix seconds, REAL Julian day (SQLiteDataFrame.swift:491-511). A number
    outside the datetime range is undecodable: None."""
    if isinstance(value, (int, float)):
        secs = value if isinstance(value, int) else (value - JULIAN_UNIX_EPOCH_DAYS) * 86400.0
        try:
            return dt.datetime.fromtimestamp(secs, dt.timezone.utc).replace(tzinfo=None)
        except (OverflowError, ValueError, OSError):
            return None
    if isinstance(value, (bytes, bytearray)):
        value = bytes(value).decode("utf-8", "replace")
    if isinstance(value, str):
        for fmt in (SQLITE_DATE_FORMAT, "%Y-%m-%d %H:%M:%S.%f", "%Y-%m-%dT%H:%M:%S", "%Y-%m-%d"):
            try:
                return dt.datetime.strptime(value, fmt)
            except ValueError:
                continue
    return None


#: SQLiteType -> (Spark type, decoder of a non-NULL cell) (SURVEY §1.4).
#: There is no true dynamic column in Spark: ANY materializes as string, the
#: lossless common representation (SURVEY §1.4 `.any` row), decoded as TEXT.
_COLUMN_TYPES: dict[SQLiteType, tuple[ST.DataType, Callable]] = {
    SQLiteType.INT: (ST.LongType(), _decode_int),
    SQLiteType.FLOAT: (ST.DoubleType(), _decode_float),
    SQLiteType.TEXT: (ST.StringType(), _decode_text),
    SQLiteType.BLOB: (ST.BinaryType(), _decode_blob),
    SQLiteType.BOOL: (ST.BooleanType(), _decode_bool),
    SQLiteType.DATE: (ST.TimestampType(), decode_date),
    SQLiteType.ANY: (ST.StringType(), _decode_text),
}


def resolve_type(t: SQLiteType, any_mode: str = "string") -> tuple[ST.DataType, Callable]:
    """A column's Spark type and the decoder of its non-NULL cells, resolved
    once per column; ``any_mode='struct'`` turns .any into ANY_STRUCT_TYPE."""
    if t is SQLiteType.ANY and any_mode == "struct":
        return ANY_STRUCT_TYPE, any_struct_cell
    return _COLUMN_TYPES[t]


def decode_cell(value, t: SQLiteType, any_mode: str = "string"):
    """One SQLite runtime value -> Python value of column type ``t``."""
    return None if value is None else resolve_type(t, any_mode)[1](value)


# --------------------------------------------------------------------------
# Cell encode: Python value -> SQLite bind value. Mirrors writeItem
# (SQLiteDataFrame.swift:593-650): bool -> 1/0, date -> TEXT
# 'yyyy-MM-dd HH:mm:ss', int beyond int64 -> decimal TEXT, fallback -> str().
# --------------------------------------------------------------------------
def encode_cell(value):
    if value is None:
        return None
    # Tagged-union round-trip (any_mode='struct'): a Row/tuple shaped like
    # ANY_STRUCT_TYPE binds its underlying runtime value back, so mixed
    # storage classes survive read->write unchanged.
    kind = getattr(value, "kind", None)
    if kind in ("int", "real", "text", "blob"):
        field = {"int": "int_value", "real": "real_value",
                 "text": "text_value", "blob": "blob_value"}[kind]
        return encode_cell(getattr(value, field, None))
    if isinstance(value, bool):
        return 1 if value else 0
    if isinstance(value, int):
        return value if -(1 << 63) <= value <= INT64_MAX else str(value)
    if isinstance(value, float):
        return value
    if isinstance(value, Decimal):
        i = int(value)
        return i if -(1 << 63) <= i <= INT64_MAX else str(i)
    if isinstance(value, (dt.datetime,)):
        return value.strftime(SQLITE_DATE_FORMAT)
    if isinstance(value, dt.date):
        return dt.datetime(value.year, value.month, value.day).strftime(SQLITE_DATE_FORMAT)
    if isinstance(value, (bytes, bytearray)):
        return bytes(value)
    if isinstance(value, str):
        return value
    # description fallback (SQLiteDataFrame.swift:642-647): CGPoint-style
    # values round-trip as their string form.
    return str(value)
