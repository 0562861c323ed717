"""String-level SQLite-dialect → Spark SQL rewriting.

The reference's second entry point accepts an arbitrary SQLite SQL string
(DataFrame.init(connection:statement:), SQLiteDataFrame.swift:295-304).
Spark SQL covers nearly the whole dialect already; this module rewrites the
handful of SQLite-specific spellings so such strings run unchanged on
``spark.sql`` — a thin, documented token rewrite, NOT a parser (SURVEY §4:
"a small translation layer ... at the string level, not a custom parser").

Rewrites (conservative — only unambiguous patterns are touched):
- ``expr GLOB 'pat'``        → ``expr RLIKE '<anchored regex>'``
- ``julianday(x)``           → fractional Julian-day expression
- ``unixepoch(x)``           → ``unix_timestamp(x)``
- ``strftime('%...', x)``    → ``date_format(x, '<translated>')``
                               (``%s`` → ``unix_timestamp(x)``)
- ``group_concat(x)`` / ``group_concat(x, 's')``
                             → ``array_join(array_sort(collect_list(x)),s)``
                               (sorted for deterministic distributed output)
- ``printf(fmt, ...)``       → ``format_string(fmt, ...)``
- ``iif(a, b, c)``           → ``if(a, b, c)``
- ``min/max(a, b, ...)``     → ``least/greatest`` with an any-NULL guard
                               (SQLite scalar form; 1-arg aggregates kept)
- ``total(x)``               → ``coalesce(sum(cast(x as double)), 0.0)``
- ``char(c1, c2, ...)``      → ``concat(chr(c1), chr(c2), ...)``
- ``unicode(x)``             → ``ascii(x)``
- ``likely/unlikely/likelihood`` → planner hints; pass the value through
- ``date/datetime/time(x, 'modifier'...)``
                             → ``date_format`` over ``timestampadd`` /
                               ``date_trunc`` folds ('+N days', '-N months',
                               'start of day/month/year', fractional
                               seconds)
- ``ifnull/instr/hex/abs/…`` need no rewrite (same-named in Spark).

Rewrites follow SQLite's lexical rules (``NON_CODE_SQL``): string literals,
quoted, backquoted and ``[…]`` identifiers, and ``--``/``/* */`` comments
are not code, so nothing inside them is rewritten — a call inside ``[…]``
included — and an apostrophe in a comment or identifier does not hide the
code after it. A call whose ``(`` is not closed in code is left unchanged.

Anything else passes through untouched and gets Spark SQL's (richer)
semantics; true incompatibilities (e.g. SQLite's dynamic typing) surface as
normal analysis errors.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession

from sqlitedataframe_spark.functions.dialect import glob_to_rlike, strftime_to_date_format
from sqlitedataframe_spark.sqlite_types import JULIAN_UNIX_EPOCH_DAYS

#: SQL text that is not code, as SQLite's tokenizer reads it: string
#: literals ('' escape), quoted, backquoted and bracketed identifiers, -- and
#: /* */ comments. An unterminated literal or comment runs to the end.
NON_CODE_SQL = re.compile(
    r"'[^']*(?:''[^']*)*'"
    r'|"[^"]*(?:""[^"]*)*"'
    r"|`[^`]*(?:``[^`]*)*`"
    r"|\[[^\]]*\]"
    r"|--[^\n]*"
    r"|/\*.*?\*/"
    r"|['\"`\[].*|/\*.*",
    re.S,
)


def _scan(sql: str) -> tuple[bytearray, dict[int, int]]:
    """SQLite's lexical view of ``sql``: ``code[i]`` is 1 where ``sql[i]`` is
    code, 0 inside a literal, quoted identifier or comment; ``close`` maps
    each ``(`` in code to its matching ``)``. An unclosed ``(`` has none."""
    code = bytearray(b"\1") * len(sql)
    for m in NON_CODE_SQL.finditer(sql):
        code[m.start() : m.end()] = bytes(m.end() - m.start())
    close, opens = {}, []
    for m in re.finditer(r"[()]", sql):
        i = m.start()
        if not code[i]:
            continue
        if sql[i] == "(":
            opens.append(i)
        elif opens:
            close[opens.pop()] = i
    return code, close


def _split_args(sql: str, code: bytearray, close: dict[int, int], i: int) -> list[str]:
    """The arguments of the call whose ``(`` is at ``i``: its text split on
    the commas in code outside nested parens."""
    out, start, end = [], i + 1, close[i]
    while (i := i + 1) < end:
        if not code[i]:
            continue
        if sql[i] == "(":
            i = close[i]
        elif sql[i] == ",":
            out.append(sql[start:i].strip())
            start = i + 1
    if start < end:
        out.append(sql[start:end].strip())
    return out


#: type-name context: ``CAST(x AS CHAR(10))`` etc. must not be rewritten
_AS = re.compile(r"(?i)\bas")


def _after_as(sql: str, i: int) -> bool:
    """Whether ``sql[:i]`` ends in the word ``AS`` and optional whitespace.
    Walks back over that whitespace only, not the whole prefix."""
    while i and sql[i - 1].isspace():
        i -= 1
    return _AS.match(sql, i - 2, i) is not None


def _rewrite_call(sql: str, fname: str, render) -> str:
    """Replace every ``fname(args)`` call with ``render(args_list)``.
    A render may return ``None`` to leave that call unchanged (e.g.
    aggregate ``min(x)`` vs scalar ``min(x, y)``). Calls that are not code,
    not closed in code, or in type-name position (directly after ``AS``,
    i.e. ``CAST(x AS CHAR(10))``) are never rewritten."""
    pat = re.compile(rf"\b{fname}\s*\(", re.IGNORECASE)
    pos, scan = 0, None
    while m := pat.search(sql, pos):
        code, close = scan = scan or _scan(sql)
        i = m.end() - 1
        if i not in close or _after_as(sql, m.start()):
            pos = m.end()
            continue
        repl = render(_split_args(sql, code, close, i))
        if repl is None:
            pos = close[i] + 1
            continue
        # resume at the replacement start: same-name calls nested inside the
        # argument text (now part of repl) still get rewritten — safe because
        # no render emits its own function name
        sql = sql[: m.start()] + repl + sql[close[i] + 1 :]
        pos, scan = m.start(), None
    return sql


def _render_julianday(args: list[str]) -> str:
    (x,) = args
    return f"(unix_micros(cast({x} as timestamp)) / 86400000000.0 + {JULIAN_UNIX_EPOCH_DAYS})"


def _render_unixepoch(args: list[str]) -> str:
    (x,) = args
    return f"unix_timestamp({x})"


def _render_strftime(args: list[str]) -> str:
    fmt, x = args[0], args[1]
    if not (fmt.startswith("'") and fmt.endswith("'")):
        raise ValueError("strftime format must be a string literal")
    body = fmt[1:-1].replace("''", "'")  # un-escape the SQL literal
    if body == "%s":
        return f"unix_timestamp({x})"
    # re-escape for splicing into a single-quoted SQL literal: a pattern
    # like yyyy'T'HH must read date_format(x, 'yyyy''T''HH')
    pattern_sql = strftime_to_date_format(body).replace("'", "''")
    return f"date_format({x}, '{pattern_sql}')"


def _render_group_concat(args: list[str]) -> str:
    x = args[0]
    sep = args[1] if len(args) > 1 else "','"
    return f"array_join(array_sort(collect_list({x})), {sep})"


def _render_printf(args: list[str]) -> str:
    return f"format_string({', '.join(args)})"


def _render_iif(args: list[str]) -> str:
    a, b, c = args
    return f"if({a}, {b}, {c})"


def _render_scalar_minmax(spark_fn: str):
    # SQLite min/max with 2+ args is the SCALAR form; 1-arg stays the
    # aggregate and must be left alone (render None). SQLite returns NULL
    # if ANY argument is NULL, whereas Spark least/greatest skip NULLs —
    # wrap with an explicit any-null guard for faithful semantics.
    def render(args: list[str]) -> str | None:
        if len(args) < 2:
            return None
        null_guard = " or ".join(f"(({a}) is null)" for a in args)
        return f"if({null_guard}, null, {spark_fn}({', '.join(args)}))"

    return render


_render_scalar_min = _render_scalar_minmax("least")
_render_scalar_max = _render_scalar_minmax("greatest")


def _render_total(args: list[str]) -> str:
    # SQLite total(): SUM over doubles that yields 0.0 (never NULL) on
    # empty/all-NULL input.
    (x,) = args
    return f"coalesce(sum(cast({x} as double)), cast(0.0 as double))"


def _render_char(args: list[str]) -> str:
    # SQLite char(c1, c2, ...) concatenates code points; Spark chr is 1-arg.
    return f"concat({', '.join(f'chr({a})' for a in args)})"


def _render_unicode(args: list[str]) -> str:
    (x,) = args
    return f"ascii({x})"


def _render_hint_passthrough(args: list[str]) -> str:
    # likely/unlikely/likelihood are planner hints; value is the first arg.
    return f"({args[0]})"


#: SQLite date-modifier units → Spark timestampadd units.
_DATE_UNITS = {
    "year": "YEAR", "years": "YEAR",
    "month": "MONTH", "months": "MONTH",
    "day": "DAY", "days": "DAY",
    "hour": "HOUR", "hours": "HOUR",
    "minute": "MINUTE", "minutes": "MINUTE",
    "second": "SECOND", "seconds": "SECOND",
}

_MOD_SHIFT = re.compile(r"^([+-]?\d+(?:\.\d+)?)\s+([a-z]+)$")


def _apply_date_modifiers(expr: str, mods: list[str]) -> str | None:
    """Fold SQLite date modifiers ('+3 days', 'start of month', ...) over a
    timestamp expression, left to right (SQLite applies them in order).
    Returns None for modifiers outside the supported subset (non-literal,
    'localtime'/'utc'/'weekday N', ...) — the caller then leaves the call
    untouched, per the module contract ("anything else passes through;
    incompatibilities surface as normal analysis errors")."""
    for raw in mods:
        if not (raw.startswith("'") and raw.endswith("'")):
            return None
        mod = raw[1:-1].replace("''", "'").strip().lower()
        m = _MOD_SHIFT.match(mod)
        if m:
            n, unit = m.group(1), m.group(2)
            if unit not in _DATE_UNITS:
                return None
            if "." in n:
                # fractional shifts only make sense for seconds (SQLite
                # allows e.g. '+1.5 seconds'); scale to micros
                if _DATE_UNITS[unit] != "SECOND":
                    return None
                micros = int(round(float(n) * 1_000_000))
                expr = f"timestampadd(MICROSECOND, {micros}, {expr})"
            else:
                expr = f"timestampadd({_DATE_UNITS[unit]}, {n}, {expr})"
        elif mod == "start of day":
            expr = f"date_trunc('DAY', {expr})"
        elif mod == "start of month":
            expr = f"date_trunc('MONTH', {expr})"
        elif mod == "start of year":
            expr = f"date_trunc('YEAR', {expr})"
        else:
            return None
    return expr


def _render_date_fn(out_fmt: str):
    def render(args: list[str]) -> str | None:
        if not args:
            return None
        # date('now') / datetime('now', ...): SQLite's current-moment form
        base = (
            "current_timestamp()"
            if args[0].strip().lower() == "'now'"
            else f"cast({args[0]} as timestamp)"
        )
        shifted = _apply_date_modifiers(base, args[1:])
        if shifted is None:
            return None
        return f"date_format({shifted}, '{out_fmt}')"

    return render


_render_date = _render_date_fn("yyyy-MM-dd")
_render_datetime = _render_date_fn("yyyy-MM-dd HH:mm:ss")
_render_time = _render_date_fn("HH:mm:ss")


def _rewrite_glob(sql: str) -> str:
    # <operand> GLOB '<pattern>' — operand is an identifier/qualified name
    # or a parenthesized expression immediately before GLOB.
    pat = re.compile(r"(?P<lhs>[A-Za-z_][\w.]*|\))\s+GLOB\s+(?=')", re.IGNORECASE)
    if not pat.search(sql):
        return sql
    code, _ = _scan(sql)
    out, pos = [], 0
    for m in pat.finditer(sql):
        lit = NON_CODE_SQL.match(sql, m.end()).group()
        if not code[m.start()] or len(lit) < 2 or not lit.endswith("'"):
            continue  # not code, or an unterminated pattern
        glob = lit[1:-1].replace("''", "'")
        regex = glob_to_rlike(glob).replace("\\", "\\\\").replace("'", "''")
        out += [sql[pos : m.start()], f"{m['lhs']} RLIKE '{regex}'"]
        pos = m.end() + len(lit)
    return "".join(out) + sql[pos:]


#: SQLite storage-class names Spark's type parser rejects or narrows →
#: their Spark spelling. Found by the differential fuzz (r6): CAST(x AS
#: TEXT) is everyday SQLite and parse-errored before this. INTEGER maps to
#: BIGINT (SQLite integers are 64-bit; Spark's INTEGER is 32). NUMERIC has
#: no dynamic Spark analogue — DOUBLE is the documented approximation
#: (SQLite returns an int when the value is integral, Spark won't).
_CAST_TYPE_MAP = {
    "TEXT": "STRING",
    "CLOB": "STRING",
    "INTEGER": "BIGINT",
    "INT": "BIGINT",
    "REAL": "DOUBLE",
    "BLOB": "BINARY",
    "NUMERIC": "DOUBLE",
}


def _rewrite_cast_types(sql: str) -> str:
    # only the `AS <type> )` tail whose `)` closes a CAST( — an alias named
    # e.g. `text` at the end of a parenthesized subquery (`(SELECT 1 AS
    # text)`) closes a paren whose opener is not a CAST call, so it survives
    pat = re.compile(
        r"\bAS\s+(" + "|".join(_CAST_TYPE_MAP) + r")\s*\)", re.IGNORECASE
    )
    if not pat.search(sql):
        return sql
    code, close = _scan(sql)
    cast_closes = {close.get(m.end() - 1) for m in re.finditer(r"(?i)\bCAST\s*\(", sql)}

    def sub(m: re.Match) -> str:
        if not code[m.start()] or m.end() - 1 not in cast_closes:
            return m.group(0)
        return f"AS {_CAST_TYPE_MAP[m.group(1).upper()]})"

    return pat.sub(sub, sql)


def translate_sqlite_sql(statement: str) -> str:
    """SQLite-dialect SQL string → Spark SQL string."""
    sql = _rewrite_glob(statement)
    sql = _rewrite_cast_types(sql)
    sql = _rewrite_call(sql, "julianday", _render_julianday)
    sql = _rewrite_call(sql, "unixepoch", _render_unixepoch)
    sql = _rewrite_call(sql, "strftime", _render_strftime)
    sql = _rewrite_call(sql, "group_concat", _render_group_concat)
    sql = _rewrite_call(sql, "printf", _render_printf)
    sql = _rewrite_call(sql, "iif", _render_iif)
    sql = _rewrite_call(sql, "min", _render_scalar_min)
    sql = _rewrite_call(sql, "max", _render_scalar_max)
    sql = _rewrite_call(sql, "total", _render_total)
    sql = _rewrite_call(sql, "char", _render_char)
    sql = _rewrite_call(sql, "unicode", _render_unicode)
    for hint in ("likelihood", "likely", "unlikely"):
        sql = _rewrite_call(sql, hint, _render_hint_passthrough)
    # datetime/time/date: longest name first so `datetime(` is not half-
    # matched as `time(`... it isn't (the \b + literal name anchors each),
    # but date must not re-match the date_format() output of datetime —
    # date_format survives because \bdate\s*\( requires '(' right after
    # 'date'.
    sql = _rewrite_call(sql, "datetime", _render_datetime)
    sql = _rewrite_call(sql, "time", _render_time)
    sql = _rewrite_call(sql, "date", _render_date)
    return sql


def sqlite_sql(spark: SparkSession, statement: str) -> DataFrame:
    """Run a SQLite-dialect SQL string on Spark — the native replacement for
    the reference's pass-through entry point (A2)."""
    return spark.sql(translate_sqlite_sql(statement))
