"""SQLite bridge end-to-end tests — port of the reference's 12 XCTests
(SQLiteDataFrameTests.swift, SURVEY §5) onto read_sql/write_sql.
"""

from __future__ import annotations

import datetime as dt
import sqlite3

import pytest

import json

from pyspark.sql import Row, functions as F, types as ST

from sqlitedataframe_spark.errors import TableExistsError, UnknownColumnError
from sqlitedataframe_spark.sources.sqlite import (
    exec_sql,
    read_sql,
    table_exists,
    upsert_sql,
    write_sql,
)


# -- read paths (reference testDataFrame :39-47, testTextStatement :74-80,
#    testTable :82-87) -------------------------------------------------------
def test_read_statement(spark, tasks_db):
    df = read_sql(
        spark,
        tasks_db,
        statement="SELECT rowid, description, done, date FROM tasks ORDER BY rowid",
    )
    rows = df.collect()
    assert df.columns == ["rowid", "description", "done", "date"]
    assert [r.rowid for r in rows] == [1, 2, 3]
    assert rows[0].description == "write code"
    assert rows[0].done is True and rows[1].done is False
    assert rows[0].date == dt.datetime(2021, 1, 1, 10, 0, 0)


def test_read_table(spark, tasks_db):
    df = read_sql(spark, tasks_db, table="tasks")
    assert df.count() == 3
    assert df.columns == ["description", "done", "date"]


def test_read_decodes_out_of_range_cells_to_null(spark, tmp_path):
    """One storable but undecodable cell reads as NULL in both read forms,
    not a failed task: REAL inf (SQLite's 1e999) in an INT column, and a
    REAL Julian day or unix seconds beyond year 9999 in a DATE column."""
    db = str(tmp_path / "edge.db")
    exec_sql(
        db,
        "CREATE TABLE edge (k INT, i INT, d DATE);"
        "INSERT INTO edge VALUES (1, 1e999, 1e19), (2, -1e999, 253402300800),"
        " (3, 7, 0);",
    )
    want = [
        (1, None, None),
        (2, None, None),
        (3, 7, dt.datetime(1970, 1, 1)),
    ]
    for df in (
        read_sql(spark, db, table="edge"),
        read_sql(spark, db, statement="SELECT k, i, d FROM edge"),
    ):
        assert sorted((r.k, r.i, r.d) for r in df.collect()) == want


def test_read_statement_with_params(spark, tasks_db):
    # prepared-statement entry point with caller binds (reference A3 :346-397)
    df = read_sql(
        spark,
        tasks_db,
        statement="SELECT description FROM tasks WHERE done = ?",
        params=[0],
    )
    assert sorted(r.description for r in df.collect()) == ["ship code", "test code"]


# -- column allowlist (reference :49-57, :89-94) ----------------------------
def test_statement_columns_filter_ignores_unknown(spark, tasks_db):
    # statement path: unknown names silently ignored (reference :354-363)
    df = read_sql(
        spark,
        tasks_db,
        statement="SELECT rowid, description, done FROM tasks",
        columns=["description", "bogus"],
    )
    assert df.columns == ["description"]
    assert df.count() == 3


def test_table_columns_unknown_raises(spark, tasks_db):
    # table path: unknown requested columns are an error (reference :214-220)
    with pytest.raises(UnknownColumnError):
        read_sql(spark, tasks_db, table="tasks", columns=["description", "bogus"])


# -- type overrides (reference testDataFrameSpecifyTypes :59-72) ------------
def test_types_override_and_bogus_key(spark, tasks_db):
    df = read_sql(
        spark,
        tasks_db,
        statement="SELECT done, date FROM tasks ORDER BY rowid",
        types={"done": "int", "bogus": "text"},  # bogus keys ignored
    )
    assert dict(df.dtypes)["done"] == "bigint"
    assert df.collect()[0].done == 1


def test_affinity_inference(spark, db_path):
    exec_sql(
        db_path,
        """
        CREATE TABLE t (i INTEGER, f REAL, s VARCHAR(10), b BLOB, bo BOOLEAN, d DATE);
        INSERT INTO t VALUES (1, 1.5, 'x', x'0102', 1, '2021-06-01 00:00:00');
        """,
    )
    df = read_sql(spark, db_path, table="t")
    assert dict(df.dtypes) == {
        "i": "bigint",
        "f": "double",
        "s": "string",
        "b": "binary",
        "bo": "boolean",
        "d": "timestamp",
    }
    r = df.collect()[0]
    assert r.i == 1 and r.f == 1.5 and r.s == "x"
    assert bytes(r.b) == b"\x01\x02" and r.bo is True
    assert r.d == dt.datetime(2021, 6, 1)


def test_date_three_representations(spark, db_path):
    # one date column holding TEXT / INTEGER unix / REAL julian cells
    # (dynamic typing, reference :491-511)
    want = dt.datetime(2021, 1, 1, 10, 0, 0)
    unix = int(want.replace(tzinfo=dt.timezone.utc).timestamp())
    julian = unix / 86400.0 + 2440587.5
    exec_sql(db_path, "CREATE TABLE d (v DATE);")
    conn = sqlite3.connect(db_path)
    with conn:
        conn.execute("INSERT INTO d VALUES (?)", ("2021-01-01 10:00:00",))
        conn.execute("INSERT INTO d VALUES (?)", (unix,))
        conn.execute("INSERT INTO d VALUES (?)", (julian,))
    conn.close()
    vals = [r.v for r in read_sql(spark, db_path, table="d").collect()]
    assert all(abs((v - want).total_seconds()) < 1e-3 for v in vals)


def test_rowid_partitioned_read(spark, tasks_db):
    df = read_sql(spark, tasks_db, table="tasks", columns=["rowid", "description"],
                  num_partitions=2)
    assert df.rdd.getNumPartitions() == 2
    assert sorted(r.rowid for r in df.collect()) == [1, 2, 3]


def test_table_read_sees_rows_outside_the_first_rowid_range(spark, db_path):
    """A table read is lazy: rows inserted above the largest or below the
    smallest rowid after read_sql() are read by the next action."""
    exec_sql(db_path, "CREATE TABLE t (v INTEGER)")
    conn = sqlite3.connect(db_path)
    with conn:
        conn.executemany("INSERT INTO t (v) VALUES (?)", [(i,) for i in range(30)])
    df = read_sql(spark, db_path, table="t", num_partitions=3)
    with_rowid = read_sql(spark, db_path, table="t", columns=["rowid", "v"], num_partitions=3)
    assert df.count() == 30
    with conn:
        conn.executemany("INSERT INTO t (v) VALUES (?)", [(i,) for i in range(5)])
        conn.execute("INSERT INTO t (rowid, v) VALUES (-7, 0)")
        conn.execute("DELETE FROM t WHERE rowid <= 10 AND rowid > 0")
    (n,) = conn.execute("SELECT COUNT(*) FROM t").fetchone()
    conn.close()
    assert n == 26 and df.count() == n
    assert df.rdd.getNumPartitions() == 3
    # rowid filters prune to the slices they meet; bounds beyond the range
    # read_sql() saw keep the open end slices
    for cond, rowids, parts in [
        ("rowid > 30", [31, 32, 33, 34, 35], 1),
        ("rowid = -7", [-7], 1),
        ("rowid IN (-7, 35)", [-7, 35], 2),
        ("rowid BETWEEN 12 AND 14", [12, 13, 14], 1),
    ]:
        pruned = with_rowid.filter(cond)
        assert sorted(r.rowid for r in pruned.collect()) == rowids, cond
        assert pruned.rdd.getNumPartitions() == parts, cond


# -- write paths (reference testWriteSQL :96-111, testWriteTable :113-127,
#    exists-policies :129-172, round-trip :175-198) -------------------------
def _frame(spark):
    return spark.createDataFrame(
        [
            Row(description="a", done=True, date=dt.datetime(2021, 3, 1, 1, 2, 3)),
            Row(description="b", done=False, date=dt.datetime(2021, 3, 2, 4, 5, 6)),
        ],
        schema=ST.StructType(
            [
                ST.StructField("description", ST.StringType()),
                ST.StructField("done", ST.BooleanType()),
                ST.StructField("date", ST.TimestampType()),
            ]
        ),
    )


def test_write_table_and_roundtrip(spark, db_path):
    df = _frame(spark)
    write_sql(df, db_path, table="out")
    assert table_exists(db_path, "out")
    back = read_sql(spark, db_path, table="out")
    assert dict(back.dtypes) == dict(df.dtypes)
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, df.collect()))


def test_write_if_exists_policies(spark, db_path):
    df = _frame(spark)
    write_sql(df, db_path, table="t")

    with pytest.raises(TableExistsError):
        write_sql(df, db_path, table="t", if_exists="fail")

    write_sql(df, db_path, table="t", if_exists="ignore")
    assert read_sql(spark, db_path, table="t").count() == 2

    write_sql(df, db_path, table="t", if_exists="append")
    assert read_sql(spark, db_path, table="t").count() == 4

    write_sql(df, db_path, table="t", if_exists="replace")
    assert read_sql(spark, db_path, table="t").count() == 2


def test_write_dml_statement(spark, tasks_db):
    # arbitrary parameterized DML sink (reference A8 :572-591): UPDATE rows
    upd = spark.createDataFrame([(True, "test code")], ["done", "description"])
    write_sql(upd, tasks_db, statement="UPDATE tasks SET done = ? WHERE description = ?")
    df = read_sql(spark, tasks_db, statement="SELECT done FROM tasks WHERE description = 'test code'")
    assert df.collect()[0].done is True


def test_write_dml_extra_params_bind_null(spark, db_path):
    # extra statement params → NULL; extra DF columns truncated (ref :578-584)
    exec_sql(db_path, "CREATE TABLE p (a INT, b INT);")
    df = spark.createDataFrame([(1,)], ["a"])
    write_sql(df, db_path, statement="INSERT INTO p (a, b) VALUES (?, ?)")
    rows = read_sql(spark, db_path, table="p").collect()
    assert rows[0].a == 1 and rows[0].b is None


def test_upsert(spark, db_path):
    # MERGE-style upsert: conflict rows update, new rows insert
    exec_sql(db_path, "CREATE TABLE kv (k INT PRIMARY KEY, v TEXT);"
                      "INSERT INTO kv VALUES (1, 'old'), (2, 'keep');")
    df = spark.createDataFrame([(1, "new"), (3, "ins")], ["k", "v"])
    upsert_sql(df, db_path, "kv", ["k"])
    got = {r.k: r.v for r in read_sql(spark, db_path, table="kv").collect()}
    assert got == {1: "new", 2: "keep", 3: "ins"}


def test_auto_partition_sizing(spark, tasks_db):
    # tiny table + default partitioning -> ONE cursor, not 8
    df = read_sql(spark, tasks_db, table="tasks")
    assert df.rdd.getNumPartitions() == 1
    # explicit request still honored
    df2 = read_sql(spark, tasks_db, table="tasks", num_partitions=2)
    assert df2.rdd.getNumPartitions() == 2


def test_exists_probe_and_exec(db_path):
    exec_sql(db_path, "CREATE TABLE x (a INT); CREATE TABLE y (b TEXT);")
    assert table_exists(db_path, "x") and table_exists(db_path, "y")
    assert not table_exists(db_path, "z")


# -- single-execution statement reads (VERDICT r1 "What's wrong" #3) ---------
def test_statement_runs_once_on_driver(spark, tasks_db, monkeypatch):
    """The user's statement may be expensive or non-idempotent: the driver
    must execute it exactly once (names + type sniff from one cursor)."""
    import sqlitedataframe_spark.sources.sqlite as S

    executed = []
    real_connect = S._connect

    def counting_connect(path):
        conn = real_connect(path)

        class Wrap:
            def execute(self, sql, *a):
                executed.append(sql)
                return conn.execute(sql, *a)

            def __getattr__(self, name):
                return getattr(conn, name)

        return Wrap()

    monkeypatch.setattr(S, "_connect", counting_connect)
    stmt = "SELECT description, done FROM tasks"
    df = read_sql(spark, tasks_db, statement=stmt)
    assert executed.count(stmt) == 1  # driver-side: exactly one execution
    # the result is a snapshot: no action runs the statement again, in
    # this process or in a worker (emptying the table would show it)
    conn = sqlite3.connect(tasks_db)
    with conn:
        conn.execute("DELETE FROM tasks")
    conn.close()
    assert df.count() == 3
    assert len(df.collect()) == 3
    assert executed.count(stmt) == 1


def test_bind_param_count_ignores_literals():
    from sqlitedataframe_spark.sources.sqlite import _bind_param_count

    assert _bind_param_count("INSERT INTO t VALUES (?, ?)") == 2
    assert _bind_param_count("INSERT INTO t VALUES (?, 'what?')") == 1
    assert _bind_param_count("UPDATE t SET a = '??' WHERE b = ?") == 1
    assert _bind_param_count('SELECT "odd?col" FROM t WHERE x = ?') == 1
    assert _bind_param_count("SELECT 1 -- really?\n WHERE x = ?") == 1
    assert _bind_param_count("SELECT /* eh? */ ? || 'it''s?'") == 1
    # SQLite's numbering: ?NNN takes index NNN, a bare ? the largest so far + 1
    assert _bind_param_count("INSERT INTO t VALUES (?1, ?1)") == 1
    assert _bind_param_count("SELECT ?2, ?") == 3
    assert _bind_param_count("SELECT ?3, ?1") == 3
    assert _bind_param_count("SELECT ?, ?1, ?") == 2
    assert _bind_param_count("SELECT '?9' AS \"?8\", ?2 -- ?7") == 2
    # a new name takes the largest index so far + 1, a repeated one its own
    assert _bind_param_count("SELECT :a, :b") == 2
    assert _bind_param_count("SELECT :a, @a, $a, :a") == 3
    assert _bind_param_count("SELECT ?5, :a") == 6
    assert _bind_param_count("SELECT ':a', a$b, \"@c\" -- $d") == 0


def test_write_statement_numbered_params(spark, tmp_path):
    """``?1`` used twice is one bind parameter: one column fills both."""
    db = str(tmp_path / "n.db")
    exec_sql(db, "CREATE TABLE pairs (a TEXT, b TEXT)")
    df = spark.createDataFrame([("x",), ("y",)], ["v"])
    write_sql(df, db, statement="INSERT INTO pairs VALUES (?1, ?1)")
    conn = sqlite3.connect(db)
    rows = sorted(conn.execute("SELECT a, b FROM pairs").fetchall())
    conn.close()
    assert rows == [("x", "x"), ("y", "y")]


def test_write_statement_named_params(spark, tmp_path):
    """Named parameters bind by SQLite's index: a repeated name is one
    parameter, and mixing names with ``?`` is refused."""
    db = str(tmp_path / "named.db")
    exec_sql(db, "CREATE TABLE t (a TEXT, b INTEGER, c TEXT)")
    df = spark.createDataFrame([("x", 1), ("y", 2)], ["s", "n"])
    write_sql(df, db, statement="INSERT INTO t VALUES (:s, @n, :s)")
    conn = sqlite3.connect(db)
    rows = sorted(conn.execute("SELECT a, b, c FROM t").fetchall())
    conn.close()
    assert rows == [("x", 1, "x"), ("y", 2, "y")]
    with pytest.raises(ValueError, match="VALUES"):
        write_sql(df, db, statement="INSERT INTO t VALUES (:s, ?, NULL)")
    # the driver would look :s and @s up under one key, s
    with pytest.raises(ValueError, match="VALUES"):
        write_sql(df, db, statement="INSERT INTO t VALUES (:s, @s, NULL)")


def test_write_statement_with_question_in_literal(spark, tmp_path):
    """A '?' inside a string literal must not shift the bind positions."""
    db = str(tmp_path / "q.db")
    exec_sql(db, "CREATE TABLE notes (body TEXT, tag TEXT)")
    df = spark.createDataFrame([("hello",), ("world",)], ["tag"])
    write_sql(df, db, statement="INSERT INTO notes VALUES ('why?', ?)")
    conn = sqlite3.connect(db)
    rows = sorted(conn.execute("SELECT body, tag FROM notes").fetchall())
    conn.close()
    assert rows == [("why?", "hello"), ("why?", "world")]


def test_table_write_stores_what_the_statement_sink_stores(spark, tmp_path):
    """A table write is the generated DDL plus the statement sink with the
    generated INSERT (reference :773-775): both forms store every cell with
    the same storage class and value, NULLs included."""
    from decimal import Decimal

    from sqlitedataframe_spark.sqlite_types import ANY_STRUCT_TYPE

    db = str(tmp_path / "parity.db")
    exec_sql(
        db,
        "CREATE TABLE mixed (id INTEGER PRIMARY KEY, v);"
        "INSERT INTO mixed VALUES (1, 42), (2, 2.5), (3, 'word'), (4, x'0102'), (5, NULL);",
    )
    anys = read_sql(spark, db, table="mixed", any_mode="struct")
    assert anys.schema["v"].dataType == ANY_STRUCT_TYPE
    ts = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)
    typed = spark.createDataFrame(
        [
            (1, 7, 1.5, "x", b"\x00\x01", True, ts, dt.date(2024, 1, 2), Decimal(10**20), [1, 2]),
            (2, -1, -0.25, "", b"", False, ts, dt.date(1999, 12, 31), Decimal(5), []),
        ]
        + [(k, None, None, None, None, None, None, None, None, None) for k in (3, 4, 5)],
        "id long, l long, d double, s string, b binary, bo boolean, ts timestamp, "
        "dt date, dec decimal(38,0), arr array<long>",
    )
    df = typed.join(anys, "id")
    write_sql(df, db, table="by_table")
    conn = sqlite3.connect(db)
    ddl = conn.execute("SELECT sql FROM sqlite_master WHERE name = 'by_table'").fetchone()[0]
    conn.execute(ddl.replace('"by_table"', '"by_stmt"'))
    conn.commit()
    names = ", ".join(f'"{c}"' for c in df.columns)
    marks = ", ".join("?" for _ in df.columns)
    write_sql(df, db, statement=f"INSERT INTO by_stmt ({names}) VALUES ({marks})")

    cells = ", ".join(f'typeof("{c}"), "{c}"' for c in df.columns)
    by_table, by_stmt = (
        sorted(conn.execute(f"SELECT {cells} FROM {t}").fetchall()) for t in ("by_table", "by_stmt")
    )
    conn.close()
    assert by_table == by_stmt
    utc = ("text", "2024-01-01 00:00:00")  # the instant's UTC wall clock
    nulls = ("null", None) * 9
    assert by_table == [
        ("integer", 1, "integer", 7, "real", 1.5, "text", "x", "blob", b"\x00\x01",
         "integer", 1, *utc, "text", "2024-01-02 00:00:00",
         "text", "100000000000000000000", "text", "[1, 2]", "integer", 42),
        ("integer", 2, "integer", -1, "real", -0.25, "text", "", "blob", b"",
         "integer", 0, *utc, "text", "1999-12-31 00:00:00",
         "integer", 5, "text", "[]", "real", 2.5),
        ("integer", 3, *nulls, "text", "word"),
        ("integer", 4, *nulls, "blob", b"\x01\x02"),
        ("integer", 5, *nulls, "null", None),
    ]


def test_dml_sink_applies_every_row_once_across_batches(spark, db_path):
    """One partition of more than _WRITE_BATCH rows commits in several
    executemany batches; every row is applied exactly once."""
    from sqlitedataframe_spark.sources.sqlite import _WRITE_BATCH

    n = 2 * _WRITE_BATCH + 7
    exec_sql(db_path, "CREATE TABLE log (k INT, v TEXT)")
    df = spark.range(n).selectExpr("id AS k", "CAST(id AS STRING) AS v").coalesce(1)
    assert df.rdd.getNumPartitions() == 1
    write_sql(df, db_path, statement="INSERT INTO log (k, v) VALUES (?, ?)")
    conn = sqlite3.connect(db_path)
    got = conn.execute(
        "SELECT COUNT(*), COUNT(DISTINCT k), MIN(k), MAX(k), SUM(CAST(v AS INT) = k) FROM log"
    ).fetchone()
    conn.close()
    assert got == (n, n, 0, n - 1, n)


def test_statement_sink_refuses_a_row_returning_statement(spark, db_path):
    """The sink runs the statement through executemany, which refuses a
    statement that returns rows (the old per-row loop ran and ignored it)."""
    df = spark.createDataFrame([(1,)], ["a"])
    with pytest.raises(Exception, match="DML"):
        write_sql(df, db_path, statement="SELECT ?")

# -- runtime-typed .any cells (reference SQLiteValue parity) ------------------
def test_any_struct_mode_roundtrip(spark, tmp_path):
    """A decltype-less column holding four storage classes reads as the
    tagged union (any_mode='struct') and writes back with the ORIGINAL
    storage class per cell — the reference's .any/SQLiteValue semantics
    (SQLiteDataFrame.swift:77-83, 512-527), which the default string mode
    flattens."""
    db = str(tmp_path / "any.db")
    conn = sqlite3.connect(db)
    conn.execute("CREATE TABLE mixed (id INTEGER PRIMARY KEY, v)")  # no decltype
    conn.executemany(
        "INSERT INTO mixed (id, v) VALUES (?, ?)",
        [(1, 42), (2, 2.5), (3, "word"), (4, b"\x01\x02"), (5, None)],
    )
    conn.commit()
    conn.close()

    df = read_sql(spark, db, table="mixed", any_mode="struct")
    rows = {r.id: r.v for r in df.collect()}
    assert rows[1].kind == "int" and rows[1].int_value == 42
    assert rows[2].kind == "real" and rows[2].real_value == 2.5
    assert rows[3].kind == "text" and rows[3].text_value == "word"
    assert rows[4].kind == "blob" and bytes(rows[4].blob_value) == b"\x01\x02"
    assert rows[5] is None

    out = str(tmp_path / "any_out.db")
    write_sql(df, out, table="mixed2", if_exists="replace")
    conn = sqlite3.connect(out)
    back = dict(conn.execute("SELECT id, typeof(v) FROM mixed2").fetchall())
    conn.close()
    assert back == {1: "integer", 2: "real", 3: "text", 4: "blob", 5: "null"}


def test_any_string_mode_unchanged(spark, tmp_path):
    """Default mode keeps the SURVEY §1.4 lossless-string policy."""
    db = str(tmp_path / "any2.db")
    conn = sqlite3.connect(db)
    conn.execute("CREATE TABLE mixed (id INTEGER PRIMARY KEY, v)")
    conn.executemany(
        "INSERT INTO mixed (id, v) VALUES (?, ?)", [(1, 42), (2, "word")]
    )
    conn.commit()
    conn.close()
    rows = {r.id: r.v for r in read_sql(spark, db, table="mixed").collect()}
    assert rows == {1: "42", 2: "word"}


# ---------------------------------------------------------------------------
# filter pushdown (r2): SQLite pre-filters a SUPERSET, Spark re-applies —
# results must be identical to the unpushed read under every storage mess.
# ---------------------------------------------------------------------------
def test_partitions_prune_to_pushed_rowid_bounds():
    """partitions() keeps the rowid slices that meet every integer filter on
    rowid or its alias; the end slices stay open."""
    from pyspark.sql import datasource as dsf

    from sqlitedataframe_spark.sources.sqlite import SQLiteReader

    def slices(*filters):
        r = SQLiteReader(
            {
                "path": "/nonexistent",
                "table": "t",
                "columns": json.dumps(["id", "v"]),
                "types": json.dumps({"id": "int", "v": "int"}),
                "rowid_alias": "id",
                "rowid_min": "1",
                "rowid_max": "100",
                "num_partitions": "4",
            },
            None,
        )
        if filters:
            assert list(r.pushFilters(list(filters))) == list(filters)
        return [(p.lo, p.hi) for p in r.partitions()]

    every = [(None, 25), (26, 50), (51, 75), (76, None)]
    assert slices() == every
    assert slices(dsf.EqualTo(("rowid",), 30)) == [(26, 50)]
    assert slices(dsf.EqualTo(("id",), 60)) == [(51, 75)]
    assert slices(dsf.In(("id",), (3, 80))) == [(None, 25), (76, None)]
    assert slices(dsf.GreaterThan(("id",), 40), dsf.LessThanOrEqual(("id",), 60)) == [
        (26, 50),
        (51, 75),
    ]
    assert slices(dsf.GreaterThanOrEqual(("rowid",), 51), dsf.LessThan(("rowid",), 76)) == [
        (51, 75)
    ]
    # bounds beyond the range read_sql() saw keep that end slice
    assert slices(dsf.GreaterThan(("rowid",), 500)) == [(76, None)]
    assert slices(dsf.LessThan(("id",), -3)) == [(None, 25)]
    assert slices(dsf.In(("rowid",), (-9, 900))) == [(None, 25), (76, None)]
    # not an integer key comparison: nothing pruned
    assert slices(dsf.EqualTo(("v",), 30)) == every
    assert slices(dsf.GreaterThan(("rowid",), 80.5)) == every
    assert slices(dsf.Not(dsf.EqualTo(("rowid",), 30))) == every
    # bounds no slice meets at once select nothing: one slice remains
    assert slices(dsf.EqualTo(("id",), 3), dsf.EqualTo(("id",), 80)) == [(None, 25)]


def test_pushdown_translation_units():
    from pyspark.sql import datasource as dsf

    from sqlitedataframe_spark.sources.sqlite import SQLiteReader

    r = SQLiteReader(
        {
            "path": "/nonexistent",
            "table": "t",
            "columns": json.dumps(["i", "f", "s", "b", "d"]),
            "types": json.dumps(
                {"i": "int", "f": "float", "s": "text", "b": "bool", "d": "date"}
            ),
        },
        None,
    )
    frag = r._translate_filter(dsf.GreaterThan(("i",), 5))
    assert frag and "CAST" in frag[0] and "typeof" in frag[0] and frag[1] == [5]
    frag = r._translate_filter(dsf.EqualTo(("s",), "x"))
    assert frag and "AS TEXT" in frag[0]
    # TEXT range predicates must NOT push (UTF-8 vs UTF-16 ordering)
    assert r._translate_filter(dsf.GreaterThan(("s",), "x")) is None
    # DATE never pushes (3-format decode)
    assert r._translate_filter(dsf.EqualTo(("d",), 1)) is None
    assert r._translate_filter(dsf.IsNotNull(("d",))) == ("\"d\" IS NOT NULL", [])
    # IsNull only safe on TEXT
    assert r._translate_filter(dsf.IsNull(("i",))) is None
    assert r._translate_filter(dsf.IsNull(("s",))) == ("\"s\" IS NULL", [])
    # rowid holds only integers: compared bare (no CAST, no typeof guard)
    # so SQLite can search the rowid B-tree
    frag = r._translate_filter(dsf.LessThan(("rowid",), 10))
    assert frag == ("(rowid < ?)", [10])
    # pushFilters returns EVERY filter (Spark re-applies: superset contract)
    # while the translated fragments land in the partition queries
    fs = [dsf.GreaterThan(("i",), 5), dsf.EqualTo(("d",), 1)]
    back = list(r.pushFilters(fs))
    assert back == fs
    from sqlitedataframe_spark.sources.sqlite import SQLiteRangePartition

    q, params = r._query(SQLiteRangePartition(0, 99))
    assert "rowid >= ? AND rowid <= ?" in q and "CAST(\"i\" AS INTEGER) > ?" in q
    assert params == [0, 99, 5]


def test_pushdown_results_match_dirty_storage(spark, db_path):
    """Mixed-storage table: TEXT in an INT column, blob in a FLOAT column,
    ints in a TEXT column. Filtered reads with pushdown must equal the
    Spark-side-only semantics (decode coercion then filter)."""
    conn = sqlite3.connect(db_path)
    conn.execute("CREATE TABLE mess (i INT, f FLOAT, s TEXT)")
    rows = [
        (1, 1.5, "alpha"),
        ("42abc", 2.5, 7),            # text-in-int (coerces 42), int-in-text
        ("junk", b"\x00\x01", "beta"), # coerces 0; blob-in-float -> null
        (None, None, None),
        (99, 0.5, "alphabet"),
    ]
    conn.executemany("INSERT INTO mess VALUES (?, ?, ?)", rows)
    conn.commit()
    conn.close()

    df = read_sql(spark, db_path, table="mess")
    got = sorted(
        (r.i, r.s) for r in df.filter(F.col("i") > 5).select("i", "s").collect()
    )
    assert got == [(42, "7"), (99, "alphabet")]
    # blob-in-float decodes to NULL: IS NOT NULL must drop it
    assert df.filter(F.col("f").isNotNull()).count() == 3
    # TEXT equality with int storage ('7' after decode)
    assert df.filter(F.col("s") == "7").count() == 1
    # prefix pushdown
    assert df.filter(F.col("s").startswith("alpha")).count() == 2
    # conjunction of pushable + unpushable filters ('7' < 'a': only
    # "alphabet" survives the unpushed string-range predicate)
    assert df.filter((F.col("i") > 5) & (F.col("s") > "a")).count() == 1


# ---------------------------------------------------------------------------
# statement reads are driver snapshots; table reads stay lazy
# ---------------------------------------------------------------------------
_JAN1_UNIX = 1609495200  # 2021-01-01 10:00:00 UTC


def _mixed_db(path):
    """One table holding every storage mess the decoder handles. ``late`` is
    NULL in the first 100 rows, so a statement read's sample leaves it .any;
    ``v`` is untyped with mixed storage classes from the first row on."""
    conn = sqlite3.connect(path)
    conn.execute(
        "CREATE TABLE mix (id INTEGER PRIMARY KEY, i INT, f REAL, s TEXT, "
        "bl BLOB, bo BOOL, d DATE, v, late)"
    )
    julian = _JAN1_UNIX / 86400.0 + 2440587.5
    special = [
        # TEXT-in-INT, REAL-in-TEXT, TEXT- and INT-in-BLOB, 3-format DATE
        ("42abc", 2.5, 3.25, "x", 1, "2021-01-01 10:00:00", 7),
        (7, "3.5x", 9, b"\x00\xff", 0, _JAN1_UNIX, 2.5),
        (None, b"\x01", None, 7, 2.5, julian, "word"),
        (-3, None, "z", None, "yes", None, b"\x01\x02"),
        (1, 0.0, "", b"", None, "not a date", None),
    ]
    rows = [(k, k * 0.5, f"s{k}", bytes([k]), k % 2, k * 86400, k) for k in range(100)]
    conn.executemany(
        "INSERT INTO mix (i, f, s, bl, bo, d, v) VALUES (?, ?, ?, ?, ?, ?, ?)", special + rows
    )
    # beyond int64: INTEGER affinity stores the literal as REAL, decoded NULL
    conn.execute("INSERT INTO mix (i, v, late) VALUES (18446744073709551616, NULL, 5)")
    conn.executemany(
        "INSERT INTO mix (late) VALUES (?)", [(1.5,), ("t",), (b"\x09",), (None,)]
    )
    conn.commit()
    conn.close()


@pytest.mark.parametrize("any_mode", ["string", "struct"])
def test_statement_read_matches_table_read(spark, db_path, monkeypatch, any_mode):
    """A statement read decodes on the driver, a table read in workers: the
    same table must come back identical, schema included, whatever the
    process time zone."""
    import time

    _mixed_db(db_path)
    monkeypatch.setenv("TZ", "America/New_York")
    time.tzset()
    try:
        types = {"v": "any"}  # untyped and mixed: .any on both paths
        table = read_sql(spark, db_path, table="mix", types=types, any_mode=any_mode)
        stmt = read_sql(
            spark, db_path, statement="SELECT * FROM mix", types=types, any_mode=any_mode
        )
        assert stmt.schema == table.schema
        got = {r.id: r for r in stmt.collect()}
        assert got == {r.id: r for r in table.collect()}
        assert len(got) == 110
        assert stmt.rdd.getNumPartitions() == 1  # below 10k rows

        # instants are UTC wall clock on both paths, not process-local time
        micros = F.unix_micros("d").alias("us")
        for df in (stmt, table):
            us = {r.id: r.us for r in df.select("id", micros).collect()}
            assert us[1] == us[2] == _JAN1_UNIX * 10**6
            assert abs(us[3] - _JAN1_UNIX * 10**6) < 1000  # Julian REAL
            assert us[4] is None and us[5] is None
        assert got[1].i == 42 and got[2].f == 3.5 and got[3].f is None
        assert got[106].i is None  # beyond int64
        assert got[1].s == "3.25" and got[1].bl == b"x" and got[3].bl == b"7"
        assert got[3].bo is True and got[4].bo is None

        empty = read_sql(
            spark, db_path, statement="SELECT * FROM mix WHERE 0", types=types, any_mode=any_mode
        )
        assert empty.schema == table.schema
        assert empty.count() == 0 and empty.collect() == []
    finally:
        monkeypatch.undo()
        time.tzset()


def test_rowid_column_on_integer_primary_key(spark, db_path):
    """SQLite names a selected rowid after its INTEGER PRIMARY KEY alias;
    the table reader projects by position, so the names do not matter."""
    exec_sql(
        db_path,
        "CREATE TABLE k (id INTEGER PRIMARY KEY, v TEXT);"
        "INSERT INTO k VALUES (3, 'c'), (1, 'a'), (2, 'b');",
    )
    df = read_sql(spark, db_path, table="k", columns=["rowid", "v", "id"])
    assert df.columns == ["rowid", "v", "id"]
    assert sorted(map(tuple, df.collect())) == [(1, "a", 1), (2, "b", 2), (3, "c", 3)]
    assert [tuple(r) for r in df.filter(F.col("rowid") == 2).collect()] == [(2, "b", 2)]


def test_rowid_alias_filters_search_the_rowid_btree(spark, db_path):
    from pyspark.sql import datasource as dsf

    from sqlitedataframe_spark.sources.sqlite import (
        SQLiteRangePartition,
        SQLiteReader,
        _rowid_alias,
    )

    exec_sql(
        db_path,
        "CREATE TABLE k (id INTEGER PRIMARY KEY, n INT);"
        "CREATE TABLE desc_pk (id INTEGER PRIMARY KEY DESC, n INT);"
        "CREATE TABLE no_rowid (id INTEGER PRIMARY KEY, n INT) WITHOUT ROWID;"
        "CREATE TABLE int_pk (id INT PRIMARY KEY, n INT);"
        "CREATE TABLE two_pk (id INTEGER, n INTEGER, PRIMARY KEY (id, n));"
        "WITH RECURSIVE c(x) AS (SELECT 1 UNION ALL SELECT x + 1 FROM c WHERE x < 500)"
        "  INSERT INTO k SELECT x, x % 7 FROM c;",
    )
    conn = sqlite3.connect(db_path)
    try:
        def alias(t):
            return _rowid_alias(conn, t, conn.execute(f"PRAGMA table_info({t})").fetchall())

        assert alias("k") == "id"
        assert [alias(t) for t in ("desc_pk", "no_rowid", "int_pk", "two_pk")] == [None] * 4

        r = SQLiteReader(
            {
                "path": db_path,
                "table": "k",
                "rowid_alias": "id",
                "columns": json.dumps(["id", "n"]),
                "types": json.dumps({"id": "int", "n": "int"}),
            },
            None,
        )
        assert r._translate_filter(dsf.EqualTo(("id",), 5)) == ('("id" = ?)', [5])
        assert r._translate_filter(dsf.In(("id",), (1, 2))) == ('("id" IN (?, ?))', [1, 2])
        # an ordinary INT column keeps the guard
        assert "typeof" in r._translate_filter(dsf.EqualTo(("n",), 5))[0]
        for f in (dsf.EqualTo(("id",), 5), dsf.In(("id",), (5, 9)), dsf.EqualTo(("rowid",), 5)):
            r.pushFilters([f])
            q, params = r._query(SQLiteRangePartition(None, None))
            plan = " ".join(row[3] for row in conn.execute("EXPLAIN QUERY PLAN " + q, params))
            assert "SEARCH k USING INTEGER PRIMARY KEY" in plan, plan
    finally:
        conn.close()

    df = read_sql(spark, db_path, table="k")
    assert [tuple(r) for r in df.filter(F.col("id") == 9).collect()] == [(9, 2)]
    assert df.filter(F.col("id").isin(3, 4, 999)).count() == 2
    assert df.filter(F.col("id") < 11).count() == 10


def test_data_source_registered_once(spark, tasks_db, monkeypatch):
    from pyspark.sql.datasource import DataSourceRegistration

    read_sql(spark, tasks_db, table="tasks")
    calls = []
    monkeypatch.setattr(DataSourceRegistration, "register", lambda *a: calls.append(a))
    read_sql(spark, tasks_db, table="tasks").collect()
    write_sql(_frame(spark), tasks_db, table="again")
    read_sql(spark, tasks_db, statement="SELECT 1 AS one").collect()
    assert calls == []


def test_workers_import_the_package_from_any_cwd(tmp_path):
    """A driver started outside the repository, with no PYTHONPATH: table
    reads, table writes and the DML sink run in Python workers, which must
    still import this package. The process time zone is not UTC: both write
    forms store a timestamp as the instant's UTC wall clock, also one inside
    an array or a struct, and a read gives the same instant back."""
    import os
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    script = tmp_path / "drive.py"
    script.write_text(
        f"""
import sys
sys.path.insert(0, {repo!r})
import sqlite3
from pyspark.sql import SparkSession, functions as F
from sqlitedataframe_spark.sources.sqlite import exec_sql, read_sql, write_sql

spark = (SparkSession.builder.master("local[1]")
         .config("spark.ui.enabled", "false")
         .config("spark.driver.memory", "1g").getOrCreate())
exec_sql("w.db", "CREATE TABLE kv (k INTEGER PRIMARY KEY, v TEXT, ts DATE, a, s)")
ts = F.timestamp_seconds(F.lit(1704067200) + F.col("k"))
df = spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string").select(
    "k", "v", ts.alias("ts"), F.array(ts).alias("a"), F.struct(ts.alias("t")).alias("s"))
write_sql(df, "w.db", table="t")
write_sql(df, "w.db", statement="INSERT INTO kv VALUES (?, ?, ?, ?, ?)")
conn = sqlite3.connect("w.db")
print("STORED", [conn.execute(f"SELECT ts, a, s FROM {{t}} ORDER BY k").fetchall()
                 for t in ("t", "kv")])
got = [
    sorted(map(tuple, read_sql(spark, "w.db", table=t)
                      .select("k", "v", F.unix_seconds("ts")).collect()))
    for t in ("t", "kv")
]
print("RESULT", got)
spark.stop()
"""
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["TZ"] = "America/New_York"
    out = subprocess.run(
        [sys.executable, str(script)], cwd=tmp_path, env=env,
        capture_output=True, text=True, timeout=600,
    )
    stored = [
        (
            f"2024-01-01 00:00:0{k}",
            f"[datetime.datetime(2024, 1, 1, 0, 0, {k})]",
            f"Row(t=datetime.datetime(2024, 1, 1, 0, 0, {k}))",
        )
        for k in (1, 2)
    ]
    assert f"STORED {[stored, stored]}" in out.stdout, out.stderr[-3000:]
    rows = [(1, "a", 1704067201), (2, "b", 1704067202)]
    assert f"RESULT {[rows, rows]}" in out.stdout, out.stderr[-3000:]
