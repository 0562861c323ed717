"""Property-based tests (hypothesis) for the value model: encode → SQLite
storage → decode round-trips across the type lattice, affinity rules, and
the column pass against the per-cell decoder. No Spark session — pure
Python, so hundreds of cases run in milliseconds.
"""

from __future__ import annotations

import datetime as dt
import math
import re
import sqlite3

from hypothesis import given, settings
from hypothesis import strategies as st

import pyarrow as pa
from pyspark.sql.pandas.types import to_arrow_schema

from sqlitedataframe_spark.sources.sqlite import _bind_param_count, _decode_batch
from sqlitedataframe_spark.sqlite_types import (
    INT64_MAX,
    SQLiteType,
    affinity,
    decode_cell,
    encode_cell,
    resolve_type,
    spark_schema,
)

I64 = st.integers(min_value=-(1 << 63), max_value=INT64_MAX)


@given(I64)
def test_int_roundtrip(x):
    assert decode_cell(encode_cell(x), SQLiteType.INT) == x


@given(st.integers(min_value=INT64_MAX + 1, max_value=(1 << 70)))
def test_beyond_int64_encodes_as_text(x):
    # the UInt64-overflow rule: stored as decimal TEXT, reparseable
    enc = encode_cell(x)
    assert isinstance(enc, str) and int(enc) == x


@given(st.floats(allow_nan=False, allow_infinity=False))
def test_float_roundtrip(x):
    assert decode_cell(encode_cell(x), SQLiteType.FLOAT) == x


@given(st.text(max_size=200))
def test_text_roundtrip(s):
    assert decode_cell(encode_cell(s), SQLiteType.TEXT) == s


@given(st.binary(max_size=200))
def test_blob_roundtrip(b):
    assert decode_cell(encode_cell(b), SQLiteType.BLOB) == b


@given(st.booleans())
def test_bool_roundtrip(b):
    enc = encode_cell(b)
    assert enc in (0, 1)
    assert decode_cell(enc, SQLiteType.BOOL) is b


@given(
    st.datetimes(
        min_value=dt.datetime(1900, 1, 1),
        max_value=dt.datetime(2200, 1, 1),
    ).map(lambda d: d.replace(microsecond=0))
)
def test_date_roundtrip(d):
    # encode is always TEXT 'yyyy-MM-dd HH:mm:ss' (second precision)
    assert decode_cell(encode_cell(d), SQLiteType.DATE) == d


@settings(max_examples=30)
@given(st.text(min_size=0, max_size=30))
def test_affinity_total(decl):
    # affinity never throws and always lands in the enum
    assert affinity(decl) in SQLiteType


@given(I64, st.text(max_size=50), st.floats(allow_nan=False, allow_infinity=False))
def test_through_real_sqlite(i, s, f):
    """Encoded cells must be bindable by the real sqlite3 driver and come
    back equal after storage (the actual storage-class contract)."""
    conn = sqlite3.connect(":memory:")
    conn.execute("CREATE TABLE t (i INT, s TEXT, f DOUBLE)")
    conn.execute(
        "INSERT INTO t VALUES (?, ?, ?)",
        (encode_cell(i), encode_cell(s), encode_cell(f)),
    )
    row = conn.execute("SELECT i, s, f FROM t").fetchone()
    assert decode_cell(row[0], SQLiteType.INT) == i
    assert decode_cell(row[1], SQLiteType.TEXT) == s
    assert decode_cell(row[2], SQLiteType.FLOAT) == f
    conn.close()


#: One stored cell as sqlite3 returns it, from any storage class, with the
#: corners the decoders coerce: TEXT in INT, REAL beyond int64, BLOB in
#: FLOAT, invalid UTF-8, REAL booleans, the three date formats and junk.
_DATES = st.datetimes(min_value=dt.datetime(1900, 1, 1), max_value=dt.datetime(2200, 1, 1))
STORED_CELL = st.one_of(
    st.none(),
    I64,
    st.floats(allow_nan=False, allow_infinity=False),
    st.sampled_from([0.0, -0.0, 1.0, 0.5, -2.0, 9.3e18, -9.3e18, 1e19, 1.8e19]),
    st.text(max_size=12),
    st.sampled_from(["12abc", " -7", "3.5e2x", "+.5", "abc", "", "99999999999999999999"]),
    st.binary(max_size=12),
    st.sampled_from([b"\xff\xfe", b"\xc3\x28", b"42", b"2021-01-01"]),
    _DATES.map(lambda d: d.strftime("%Y-%m-%d %H:%M:%S")),
    _DATES.map(lambda d: d.strftime("%Y-%m-%dT%H:%M:%S")),
    _DATES.map(lambda d: d.strftime("%Y-%m-%d %H:%M:%S.%f")),
    _DATES.map(lambda d: d.strftime("%Y-%m-%d")),
    st.integers(min_value=-(2**31), max_value=2**33),
    st.floats(min_value=2_300_000.0, max_value=2_600_000.0),
    st.sampled_from(["2021-13-45", "2021-01-01 25:00:00", "not a date", "01/02/2021"]),
    # out of range: REAL inf (SQLite's 1e999), dates past year 9999 or before 1
    st.sampled_from([math.inf, -math.inf, 1e19, 253402300800, -62135596801]),
)


def _outcome(decode):
    """The decoded value, or the type of the exception decoding raised."""
    try:
        return decode()
    except Exception as e:  # noqa: BLE001 (the two paths must fail alike)
        return type(e)


@settings(max_examples=150, deadline=None)
@given(st.lists(STORED_CELL, max_size=30))
def test_column_pass_matches_decode_cell(cells):
    """``_decode_batch`` (one decoder per column, resolved once) decodes a
    mixed-storage column exactly as ``decode_cell`` does cell by cell, for
    every SQLiteType in both any_modes."""
    rows = [(v,) for v in cells]
    for t in SQLiteType:
        for mode in ("string", "struct"):
            schema = to_arrow_schema(spark_schema(["c"], {"c": t}, mode))
            got = _outcome(
                lambda: _decode_batch(rows, [(0, resolve_type(t, mode)[1])], schema).column(0)
            )
            want = _outcome(
                lambda: pa.array([decode_cell(v, t, mode) for v in cells], type=schema[0].type)
            )
            if isinstance(want, pa.Array):
                assert isinstance(got, pa.Array) and got.equals(want), (t, mode, cells)
            else:
                assert got is want, (t, mode, cells)


#: One select-list item, the text after it and the gap before the next: bind
#: markers (bare, numbered and named), literals and "…" aliases holding ``?``
#: and ``''``, and ``--``/``/* */`` comments holding ``?`` and apostrophes.
_BIND_ITEM = st.tuples(
    st.one_of(
        st.just("?"),
        st.integers(1, 12).map(lambda n: f"?{n}"),
        st.sampled_from([":a", ":b", "@a", "$a", ":a1", "$b$"]),
        st.sampled_from(["'?'", "'it''s?'", "''", "'?1'", "1", "':a'"]),
    ),
    st.sampled_from(["", ' AS "a?"', ' AS "o\'k"']),
    st.sampled_from([" ", " -- ?, it's ?2\n", " /* ?1 '? */ ", "\n"]),
)


@settings(max_examples=200, deadline=None)
@given(st.lists(_BIND_ITEM, min_size=1, max_size=8))
def test_bind_param_count_matches_sqlite(items):
    """``_bind_param_count`` agrees with SQLite's own count, which its
    "The current statement uses N" error reports."""
    stmt = "SELECT " + ",".join(f"{e}{alias}{gap}" for e, alias, gap in items)
    conn = sqlite3.connect(":memory:")
    try:
        conn.execute(stmt, [])
        uses = 0
    except sqlite3.ProgrammingError as e:
        uses = int(re.search(r"uses (\d+)", str(e))[1])
    finally:
        conn.close()
    assert _bind_param_count(stmt) == uses, stmt


# ---------------------------------------------------------------------------
# Round-4b operator invariants
# ---------------------------------------------------------------------------
def test_psi_is_symmetric(spark):
    """(p-q)ln(p/q) == (q-p)ln(q/p): swapping ref and cur must not change
    the statistic."""
    from pyspark.sql import functions as F

    from sqlitedataframe_spark.operators.profiling import psi_drift

    ref = spark.createDataFrame(
        [("g", float(v % 17)) for v in range(120)], "grp string, v double"
    )
    cur = spark.createDataFrame(
        [("g", float((v * 3) % 23)) for v in range(90)], "grp string, v double"
    )
    a = psi_drift(ref, cur, "grp", "v", 2.0, 12).collect()[0]["psi"]
    b = psi_drift(cur, ref, "grp", "v", 2.0, 12).collect()[0]["psi"]
    assert abs(a - b) < 1e-9
    assert a >= 0  # PSI is a sum of (p-q)ln(p/q) terms, each non-negative


def test_containment_bounded_and_directional(spark):
    from sqlitedataframe_spark.operators.dedup import containment_pairs

    docs = spark.createDataFrame(
        [(i, " ".join(f"w{(i * 7 + j) % 25}" for j in range(30))) for i in range(12)],
        "doc_id long, text string",
    )
    rows = containment_pairs(docs, n=3, max_df=12, min_containment=0.0).collect()
    assert rows, "rotating windows over a 25-word vocab must overlap"
    for r in rows:
        assert 0.0 <= r["containment"] <= 1.0 + 1e-9, r


def test_scd2_intervals_partition_the_timeline(spark):
    import random

    from sqlitedataframe_spark.operators.relational import scd2_history

    rng = random.Random(11)
    rows = []
    for k in range(6):
        for t in range(10):
            rows.append((k, t, rng.choice(["A", "B", "C"])))
    df = spark.createDataFrame(rows, "k long, t long, attr string")
    out = scd2_history(df, ["k"], "t", ["attr"], tiebreak_col="t").collect()
    by_key = {}
    for r in out:
        by_key.setdefault(r["k"], []).append(r)
    for k, vs in by_key.items():
        vs.sort(key=lambda r: r["version"])
        assert vs[0]["valid_from"] == 0  # first interval starts at min order
        assert vs[-1]["valid_to"] is None and vs[-1]["is_current"]
        for prev, nxt in zip(vs, vs[1:]):
            assert prev["valid_to"] == nxt["valid_from"]  # half-open chain
            assert prev["attr"] != nxt["attr"]  # versions only on change


def test_phash_hamming_symmetric_and_bounded(spark):
    from pyspark.sql import functions as F

    from sqlitedataframe_spark.operators.multimodal import attach_media, phash_pairs

    docs = spark.createDataFrame(
        [(i, f"payload number {i} with shared prefix content") for i in range(8)],
        "doc_id long, text string",
    )
    media = attach_media(docs, "doc_id", "text")
    for r in phash_pairs(media, max_bucket=None).collect():
        assert 0 <= r["hamming"] <= 64
        assert r["id_a"] < r["id_b"]
