"""SQLite-dialect SQL string rewriting tests: pure translation assertions +
end-to-end execution on Spark views.
"""

from __future__ import annotations

import pytest

from sqlitedataframe_spark.functions.sql_rewrite import (
    sqlite_sql,
    translate_sqlite_sql,
)
from sqlitedataframe_spark.io import register_views


def test_translate_glob():
    assert (
        translate_sqlite_sql("SELECT * FROM t WHERE name GLOB 'ab*'")
        == "SELECT * FROM t WHERE name RLIKE '^ab.*$'"
    )


def test_translate_julianday_and_unixepoch():
    out = translate_sqlite_sql("SELECT julianday(ts), unixepoch(ts) FROM t")
    assert "2440587.5" in out and "unix_timestamp(ts)" in out


def test_translate_strftime():
    out = translate_sqlite_sql("SELECT strftime('%Y-%m', ts) FROM t")
    assert out == "SELECT date_format(ts, 'yyyy-MM') FROM t"
    assert translate_sqlite_sql("SELECT strftime('%s', ts) FROM t") == (
        "SELECT unix_timestamp(ts) FROM t"
    )


def test_translate_group_concat_and_printf():
    out = translate_sqlite_sql("SELECT group_concat(x), group_concat(y, ';') FROM t GROUP BY k")
    assert "array_join(array_sort(collect_list(x)), ',')" in out
    assert "array_join(array_sort(collect_list(y)), ';')" in out
    assert translate_sqlite_sql("SELECT printf('%d-%s', a, b) FROM t") == (
        "SELECT format_string('%d-%s', a, b) FROM t"
    )


def test_nested_calls_survive():
    out = translate_sqlite_sql("SELECT group_concat(upper(trim(x)), '|') FROM t")
    assert "array_join(array_sort(collect_list(upper(trim(x)))), '|')" in out


def test_untouched_sql_passes_through():
    q = "SELECT a || b AS ab, ifnull(c, 0) FROM t WHERE d LIKE 'x%'"
    assert translate_sqlite_sql(q) == q


@pytest.fixture(scope="module")
def views(spark, sf_dir):
    register_views(spark, sf_dir, ["region", "nation", "orders"])
    return spark


def test_end_to_end_glob(views):
    rows = sqlite_sql(
        views, "SELECT r_name FROM region WHERE r_name GLOB 'A*A' ORDER BY r_name"
    ).collect()
    assert [r.r_name for r in rows] == ["AFRICA", "AMERICA", "ASIA"]


def test_end_to_end_group_concat(views):
    rows = sqlite_sql(
        views,
        "SELECT n_regionkey, group_concat(n_name, '|') AS names "
        "FROM nation GROUP BY n_regionkey ORDER BY n_regionkey",
    ).collect()
    assert len(rows) == 5
    names0 = rows[0].names.split("|")
    assert names0 == sorted(names0) and len(names0) == 5


def test_end_to_end_strftime_julianday(views):
    row = sqlite_sql(
        views,
        "SELECT strftime('%Y-%m', o_orderdate) AS ym, "
        "CAST(julianday(o_orderdate) AS BIGINT) AS jd "
        "FROM orders WHERE o_orderkey = 1",
    ).collect()[0]
    assert len(row.ym) == 7 and row.jd > 2_400_000


def test_translate_strftime_literal_letters():
    """Literal letters in the format must be quoted AND the quotes escaped
    when spliced into the single-quoted SQL literal."""
    out = translate_sqlite_sql("SELECT strftime('%YT%H', ts) FROM t")
    assert "date_format(ts, 'yyyy''T''HH')" in out


def test_translate_strftime_literal_letters_runs(spark):
    from sqlitedataframe_spark.functions.sql_rewrite import sqlite_sql

    spark.sql("SELECT timestamp'2024-03-05 07:00:00' AS ts").createOrReplaceTempView(
        "one_ts"
    )
    row = sqlite_sql(spark, "SELECT strftime('%YT%H', ts) AS s FROM one_ts").first()
    assert row.s == "2024T07"


# ---------------------------------------------------------------------------
# round-2 rewrites: iif, scalar min/max, total, char, unicode, date modifiers
# ---------------------------------------------------------------------------
def test_translate_iif_and_hints():
    out = translate_sqlite_sql("SELECT iif(a > 1, 'y', 'n'), likely(b) FROM t")
    assert "if(a > 1, 'y', 'n')" in out and "(b)" in out and "likely" not in out


def test_translate_scalar_min_max_keeps_aggregate():
    out = translate_sqlite_sql("SELECT min(a), min(a, b), max(a, b, c) FROM t")
    assert "min(a)" in out  # 1-arg aggregate untouched
    assert "least(a, b)" in out and "greatest(a, b, c)" in out
    assert "is null" in out  # SQLite any-NULL guard


def test_translate_total_char_unicode():
    out = translate_sqlite_sql("SELECT total(x), char(65, 66), unicode(s) FROM t")
    assert "coalesce(sum(cast(x as double))" in out
    assert "concat(chr(65), chr(66))" in out
    assert "ascii(s)" in out


def test_translate_date_modifiers():
    out = translate_sqlite_sql(
        "SELECT date(d, '+3 days', 'start of month'), datetime(d, '-1 hour') FROM t"
    )
    assert "timestampadd(DAY, +3" in out
    assert "date_trunc('MONTH'" in out
    assert "timestampadd(HOUR, -1" in out
    assert "date_format" in out


def test_translate_varchar_cast_untouched():
    out = translate_sqlite_sql("SELECT CAST(a AS varchar(10)) FROM t")
    assert "varchar(10)" in out


def test_scalar_minmax_null_semantics(spark):
    from sqlitedataframe_spark.functions.sql_rewrite import sqlite_sql

    row = sqlite_sql(
        spark, "SELECT min(1, 2) AS a, max(1, NULL) AS b, min(3, NULL, 1) AS c"
    ).first()
    assert row.a == 1 and row.b is None and row.c is None


def test_date_functions_run(spark):
    from sqlitedataframe_spark.functions.sql_rewrite import sqlite_sql

    row = sqlite_sql(
        spark,
        "SELECT date(timestamp'2024-03-05 07:08:09', '+3 days') AS d, "
        "datetime(timestamp'2024-03-05 07:08:09', 'start of month') AS dt, "
        "time(timestamp'2024-03-05 07:08:09', '+90 minutes') AS t, "
        "total(x) AS tot, char(72, 105) AS hi "
        "FROM (SELECT CAST(NULL AS DOUBLE) AS x)",
    ).first()
    assert row.d == "2024-03-08"
    assert row.dt == "2024-03-01 00:00:00"
    assert row.t == "08:38:09"
    assert row.tot == 0.0
    assert row.hi == "Hi"


def test_rewriter_ignores_string_literals():
    sql = "SELECT 'start time (sec)' AS label, 'min(x)' AS t2 FROM t"
    assert translate_sqlite_sql(sql) == sql


def test_rewriter_ignores_char_type_in_cast():
    sql = "SELECT CAST(a AS CHAR(10)), CAST(b AS varchar(5)) FROM t"
    assert translate_sqlite_sql(sql) == sql
    sql = "SELECT CAST(a AS\n  CHAR(10)), CAST(b as\tchar (5)) FROM t"
    assert translate_sqlite_sql(sql) == sql
    # a word ending in "as" is not AS: char() there is SQLite's function
    assert translate_sqlite_sql("SELECT alias char(65)") != "SELECT alias char(65)"


def test_unsupported_date_modifiers_pass_through():
    # outside the supported subset: left untouched (surfaces as a normal
    # analysis error downstream), never a translation-time crash
    sql = "SELECT date(d, 'localtime'), datetime(d, 'weekday 1') FROM t"
    assert translate_sqlite_sql(sql) == sql


def test_date_now(spark):
    from sqlitedataframe_spark.functions.sql_rewrite import sqlite_sql

    row = sqlite_sql(spark, "SELECT date('now') AS d, datetime('NOW') AS dt").first()
    assert len(row.d) == 10 and row.d[4] == "-"
    assert len(row.dt) == 19


def test_glob_inside_string_literal_untouched():
    sql = "SELECT 'a GLOB ''*x*'' pattern' AS doc, name FROM t WHERE name GLOB 'ab*'"
    out = translate_sqlite_sql(sql)
    assert "'a GLOB ''*x*'' pattern'" in out  # literal intact
    assert "RLIKE" in out  # real GLOB still rewritten


def test_rewriter_reads_comments_and_quoted_identifiers_as_sqlite_does():
    """An apostrophe in a comment or a quoted identifier is not a literal's
    start, so the calls after it are still rewritten."""
    out = translate_sqlite_sql("SELECT x -- don't\n, julianday(d) FROM t")
    assert "julianday" not in out and "2440587.5" in out
    out = translate_sqlite_sql("SELECT \"o'neil\", iif(a,1,2) FROM t")
    assert out == "SELECT \"o'neil\", if(a, 1, 2) FROM t"
    out = translate_sqlite_sql("SELECT a /* it's */, min(a, b) FROM t")
    assert "least(a, b)" in out and "min(" not in out


def test_rewriter_leaves_calls_in_non_code_alone():
    sql = "SELECT [min(a, b)], \"iif(a, 1, 2)\" FROM t /* julianday(d) */ -- min(a, b)"
    assert translate_sqlite_sql(sql) == sql


def test_unterminated_literal_or_call_passes_through():
    # left for Spark's parser to report, never a translation-time crash
    for sql in ("SELECT iif(a, 'x, b)", "SELECT iif(a, 1, 2", "SELECT x GLOB 'a*"):
        assert translate_sqlite_sql(sql) == sql
