"""The reference's 3-format SQLite date codec as Column expressions.

Reference decode (SQLiteDataFrame.swift:491-511): a ``date``-typed column
accepts, per cell,
  - TEXT  ``"yyyy-MM-dd HH:mm:ss"`` (ISO-8601-ish),
  - INTEGER unix seconds,
  - REAL   Julian day  -> ``(jd - 2440587.5) * 86400`` seconds.
Reference encode (SQLiteDataFrame.swift:636-640): always TEXT
``"yyyy-MM-dd HH:mm:ss"``.

Spark columns are homogeneous, so the dynamic per-cell dispatch becomes a
coalesce-of-casts over a string-normalized input: a value that parses as a
timestamp wins; else an integral string is unix seconds; else a fractional
string is a Julian day. Pure Column expressions — codegen-friendly.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from sqlitedataframe_spark.sqlite_types import JULIAN_UNIX_EPOCH_DAYS

SQLITE_DATE_FORMAT = "yyyy-MM-dd HH:mm:ss"


def sqlite_decode_date(col: Column | str) -> Column:
    """Decode a SQLite date cell of any of the 3 storage representations."""
    c = F.col(col) if isinstance(col, str) else col
    s = c.cast("string")
    as_text = F.try_to_timestamp(s)  # handles "yyyy-MM-dd HH:mm:ss" and ISO
    as_int = F.when(s.rlike(r"^-?\d+$"), F.timestamp_seconds(s.cast("long")))
    as_julian = F.when(
        s.rlike(r"^-?\d+\.\d+$"),
        F.timestamp_seconds((s.cast("double") - F.lit(JULIAN_UNIX_EPOCH_DAYS)) * F.lit(86400.0)),
    )
    return F.coalesce(as_text, as_int, as_julian)


def sqlite_encode_date(col: Column | str) -> Column:
    """Encode a timestamp the way the reference writes dates: TEXT
    ``yyyy-MM-dd HH:mm:ss`` (SQLiteDataFrame.swift:636-640)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.date_format(c, SQLITE_DATE_FORMAT)
