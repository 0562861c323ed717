"""SQLite SQL-dialect shims as native Spark Column expressions.

The reference exposes SQLite's whole SQL dialect by pass-through
(SQLiteDataFrame.swift:295-304, README.md:48-56). Spark SQL covers almost all
of it natively (SURVEY §2 Tier B); this module provides the handful of
SQLite-specific spellings that have no same-named Spark function. All are
pure Column expressions — no Python UDFs — so they run inside whole-stage
codegen and scale with the cluster.
"""

from __future__ import annotations

import re

from pyspark.sql import Column
from pyspark.sql import functions as F

from sqlitedataframe_spark.sqlite_types import JULIAN_UNIX_EPOCH_DAYS


def glob_to_rlike(pattern: str) -> str:
    """Translate a SQLite GLOB pattern to an anchored Java regex.

    GLOB: ``*`` any run, ``?`` one char, ``[...]`` char class, case-sensitive
    (SQLite core; exposed by reference pass-through).
    """
    out = ["^"]
    i = 0
    while i < len(pattern):
        c = pattern[i]
        if c == "*":
            out.append(".*")
        elif c == "?":
            out.append(".")
        elif c == "[":
            j = i + 1
            if j < len(pattern) and pattern[j] in "^!":
                j += 1
            if j < len(pattern) and pattern[j] == "]":
                j += 1
            while j < len(pattern) and pattern[j] != "]":
                j += 1
            cls = pattern[i : j + 1].replace("[!", "[^")
            out.append(cls)
            i = j
        else:
            out.append(re.escape(c))
        i += 1
    out.append("$")
    return "".join(out)


def sqlite_glob(col: Column | str, pattern: str) -> Column:
    """``col GLOB pattern`` as a Column predicate."""
    c = F.col(col) if isinstance(col, str) else col
    return c.rlike(glob_to_rlike(pattern))


def julianday(ts: Column | str) -> Column:
    """SQLite ``julianday(ts)``: fractional days since the Julian epoch.

    Inverse of the reference's REAL-date decode (SQLiteDataFrame.swift:504-508).
    """
    c = F.col(ts) if isinstance(ts, str) else ts
    # cast handles TIMESTAMP_NTZ inputs (parquet naive timestamps); session
    # tz is pinned UTC (session.tune) so the instant is unchanged.
    return (F.unix_micros(c.cast("timestamp")) / F.lit(86400.0 * 1e6)) + F.lit(
        JULIAN_UNIX_EPOCH_DAYS
    )


def from_julianday(jd: Column | str) -> Column:
    """Julian-day REAL -> timestamp — the reference's decode expression
    ``(jd - 2440587.5) * 86400`` seconds (SQLiteDataFrame.swift:504-508)."""
    c = F.col(jd) if isinstance(jd, str) else jd
    return F.timestamp_seconds((c - F.lit(JULIAN_UNIX_EPOCH_DAYS)) * F.lit(86400.0))


#: strftime -> date_format directive translation (the common subset).
_STRFTIME_MAP = {
    "%Y": "yyyy",
    "%m": "MM",
    "%d": "dd",
    "%H": "HH",
    "%M": "mm",
    "%S": "ss",
    "%j": "DDD",
    "%W": "ww",
    "%%": "%",
}


def strftime_to_date_format(fmt: str) -> str:
    """A SQLite strftime format as a ``date_format`` pattern: directives are
    translated, literal letters quoted and a literal ``'`` doubled."""
    out = []
    i = 0
    while i < len(fmt):
        if fmt[i] == "%" and i + 1 < len(fmt):
            d = fmt[i : i + 2]
            if d not in _STRFTIME_MAP:
                raise ValueError(f"unsupported strftime directive {d!r}")
            out.append(_STRFTIME_MAP[d])
            i += 2
        else:
            ch = fmt[i]
            if ch == "'":
                out.append("''")  # Java pattern: literal quote is ''
            elif ch.isalpha():
                out.append(f"'{ch}'")  # Java pattern: quote literal letters
            else:
                out.append(ch)
            i += 1
    return "".join(out)


def strftime(fmt: str, ts: Column | str) -> Column:
    """SQLite ``strftime(fmt, ts)`` for the common directives."""
    c = F.col(ts) if isinstance(ts, str) else ts
    if fmt == "%s":
        return F.unix_timestamp(c)
    return F.date_format(c, strftime_to_date_format(fmt))


def unixepoch(ts: Column | str) -> Column:
    """SQLite ``unixepoch(ts)`` -> seconds since epoch (integer)."""
    c = F.col(ts) if isinstance(ts, str) else ts
    return F.unix_timestamp(c)


def group_concat(col: Column | str, sep: str = ",", sort: bool = True) -> Column:
    """SQLite ``group_concat(x, sep)`` as an aggregate Column.

    SQLite's concatenation order is arbitrary; for deterministic distributed
    results we sort the collected values (sort=False reproduces the
    arbitrary-order behavior). Map-side partial aggregation still applies to
    collect_list, then one array sort per group — scales as long as per-group
    cardinality is bounded, same contract as SQLite's in-memory aggregate.
    """
    c = F.col(col) if isinstance(col, str) else col
    arr = F.collect_list(c)
    if sort:
        arr = F.array_sort(arr)
    return F.array_join(arr, sep)

