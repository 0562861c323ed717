"""SQLite <-> Spark DataFrame bridge — the reference's entire Tier A surface,
re-expressed on Spark 4's Python Data Source API (pure Python: no JDBC jar).

Read path (reference A1-A7):
- ``read_sql(spark, db, table=...)`` — lazy full-table scan through the
  ``sqlite`` data source, rowid-range partitioned so executors read disjoint
  slices in parallel, with filter pushdown
  (DataFrame.init(connection:table:), SQLiteDataFrame.swift:248-253).
- ``read_sql(spark, db, statement=...)`` — arbitrary SQL (A2) and the
  prepared statement with ``params`` binds (A3, :346-397) are a driver
  snapshot: the statement runs once when ``read_sql()`` is called, as in the
  reference (:295-304), and its rows become an Arrow-backed in-memory
  DataFrame held by the JVM — no data source, no Python worker, no second
  execution.
- Schema inference: decltype -> affinity -> typed column, caller ``types``
  override, ``columns`` allowlist, ``.any`` fallback (:354-394, §1.3).
- Cell decode incl. bool !=0, 3-format dates, `.any`->string (:432-531).

Write path (reference A8-A11), one worker sink for every form:
- ``write_sql(df, db, statement=...)`` — arbitrary parameterized DML run once
  per row (positional binds; extra params NULL, extra columns truncated —
  :572-591), partition-parallel via foreachPartition.
- ``write_sql(df, db, table=..., if_exists=...)`` — DDL generated from the
  Spark schema (:741-771) on the driver, then the statement sink with the
  generated ``INSERT`` (:773-775); the four exists-policies map 1:1 to Spark
  SaveMode (:197-206).
- ``upsert_sql`` — the statement sink with ``INSERT ... ON CONFLICT``.

Scale note: a single SQLite file is an inherently single-node sink/source;
the bridge parallelizes reads via rowid ranges and commits writes in
transactions of ``_WRITE_BATCH`` rows (the reference steps one row per
implicit transaction — its known perf cliff, §3). On a cluster the db file
must be on a shared filesystem; the parquet path is the 100 TB path.
"""

from __future__ import annotations

import datetime as dt
import json
import re
import sqlite3
from collections.abc import Callable, Iterator, Sequence
from itertools import islice
from operator import itemgetter

import pyarrow as pa
from pyspark.sql import DataFrame, Row, SparkSession
from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import ArrayType, DataType, MapType, StructType, TimestampType

from sqlitedataframe_spark.errors import (
    SQLiteOperationalError,
    TableExistsError,
    UnknownColumnError,
)
from sqlitedataframe_spark.functions.sql_rewrite import NON_CODE_SQL
from sqlitedataframe_spark.session import ensure_worker_imports, tune
from sqlitedataframe_spark.sqlite_types import (
    SQLiteType,
    affinity,
    ddl_decl,
    encode_cell,
    resolve_type,
    spark_schema,
)

_DEFAULT_READ_PARTITIONS = 8
#: Minimum rowid-range width per read partition: splitting a small table
#: across many cursors pays connection/open cost per partition for no
#: parallelism gain. 10k rows per slice keeps executor tasks meaningful at
#: scale while tiny tables collapse to one cursor.
_MIN_ROWS_PER_PARTITION = 10_000
_WRITE_BATCH = 1000


def _connect(path: str) -> sqlite3.Connection:
    conn = sqlite3.connect(path, timeout=60.0)
    conn.execute("PRAGMA busy_timeout = 60000")
    return conn


# ===========================================================================
# Cell decode into Arrow (shared by the table reader and statement reads)
# ===========================================================================
def _decode_batch(
    rows: list[tuple], cols: Sequence[tuple[int, Callable]], arrow_schema: pa.Schema
) -> pa.RecordBatch:
    """Decode ``rows`` column by column: result position ``i`` through
    ``decoder`` for each ``(i, decoder)`` of ``cols``, one call per non-NULL
    cell. Naive datetimes go into the UTC timestamp type as UTC wall clock,
    so instants never depend on the process time zone."""
    arrays = [
        pa.array([None if v is None else dec(v) for v in map(itemgetter(i), rows)], type=t)
        for (i, dec), t in zip(cols, arrow_schema.types)
    ]
    return pa.RecordBatch.from_arrays(arrays, schema=arrow_schema)


def _fetch_batches(
    cur: sqlite3.Cursor,
    head: list[tuple],
    cols: Sequence[tuple[int, Callable]],
    arrow_schema: pa.Schema,
) -> Iterator[pa.RecordBatch]:
    """``head`` (rows already fetched) and the rest of ``cur``, decoded in
    batches of ``_MIN_ROWS_PER_PARTITION`` rows."""
    rows = head + cur.fetchmany(_MIN_ROWS_PER_PARTITION - len(head))
    while rows:
        yield _decode_batch(rows, cols, arrow_schema)
        rows = cur.fetchmany(_MIN_ROWS_PER_PARTITION)


# ===========================================================================
# Python Data Source
# ===========================================================================
class SQLiteRangePartition(InputPartition):
    """Rows with ``lo <= rowid <= hi``; a None bound is open."""

    def __init__(self, lo: int | None, hi: int | None):
        self.lo = lo
        self.hi = hi


class SQLiteReader(DataSourceReader):
    def __init__(self, options: dict, schema: StructType):
        self.schema = schema
        self.path = options["path"]
        self.table = options["table"]
        self.rowid_alias = options.get("rowid_alias")
        self.columns = json.loads(options["columns"])
        self.types = {k: SQLiteType(v) for k, v in json.loads(options["types"]).items()}
        any_mode = options.get("any_mode") or "string"
        self.cols = [
            (i, resolve_type(self.types.get(c, SQLiteType.ANY), any_mode)[1])
            for i, c in enumerate(self.columns)
        ]
        self.num_partitions = options.get("num_partitions")
        self.rowid_min = options.get("rowid_min")
        self.rowid_max = options.get("rowid_max")

    # -- filter pushdown ---------------------------------------------------
    # Spark 4.1 Python DataSource pushdown. Design: SQLite evaluates a
    # SUPERSET pre-filter (rows it keeps >= rows Spark's exact filter
    # keeps) and ALL filters are returned to Spark for re-application.
    # Under SQLite dynamic typing a column can hold any storage class, and
    # decode_cell's coercions (TEXT-in-INT atoi, blob handling, >int64 ->
    # NULL) cannot be reproduced bit-exactly by SQLite comparisons alone —
    # so cleanly-stored rows are filtered inside SQLite (CAST mirrors the
    # coercion) while dirty-storage rows pass through the guard and get the
    # exact Spark-side decode+filter. Transfer shrinks by the filter's
    # selectivity on clean data; correctness never depends on the pushdown.
    def pushFilters(self, filters):  # noqa: N802 (Spark API name)
        self.pushed_sql: list[str] = []
        self.pushed_params: list = []
        for f in filters:
            frag = self._translate_filter(f)
            if frag is not None:
                self.pushed_sql.append(frag[0])
                self.pushed_params.extend(frag[1])
        # Everything is re-applied by Spark (superset contract above).
        return filters

    _OPS = {
        "EqualTo": "=",
        "GreaterThan": ">",
        "GreaterThanOrEqual": ">=",
        "LessThan": "<",
        "LessThanOrEqual": "<=",
    }

    def _translate_filter(self, f) -> tuple[str, list] | None:
        """One Spark Filter -> (sql_fragment, params), or None if the
        filter is not worth pre-evaluating inside SQLite."""
        name = type(f).__name__
        attr = getattr(f, "attribute", None)
        if not attr or len(attr) != 1:
            return None
        col = attr[0]
        if col != "rowid" and col not in self.columns:
            return None
        q = "rowid" if col == "rowid" else f'"{col}"'
        t = SQLiteType.INT if col == "rowid" else self.types.get(col, SQLiteType.ANY)
        # rowid and its INTEGER PRIMARY KEY alias hold only integers
        key = t is SQLiteType.INT and col in ("rowid", self.rowid_alias)
        dirty = f"typeof({q}) IN ('text', 'blob')"  # rows Spark must judge
        if name == "IsNotNull":
            # decoded non-null implies storage non-null for every type
            return f"{q} IS NOT NULL", []
        if name == "IsNull" and t is SQLiteType.TEXT:
            # TEXT decode is None iff storage NULL; other types can decode
            # non-null storage to None (coercion corners) — not superset.
            return f"{q} IS NULL", []
        if t in (SQLiteType.INT, SQLiteType.FLOAT):
            cast = "INTEGER" if t is SQLiteType.INT else "REAL"
            # a key compares bare, so SQLite searches the rowid B-tree
            # instead of scanning every row through the CAST
            lhs = q if key else f"{dirty} OR CAST({q} AS {cast})"
            if name in self._OPS:
                return f"({lhs} {self._OPS[name]} ?)", [encode_cell(f.value)]
            if name == "In" and f.value:
                marks = ", ".join("?" for _ in f.value)
                return f"({lhs} IN ({marks}))", [encode_cell(v) for v in f.value]
            return None
        if t is SQLiteType.TEXT:
            # equality/prefix only: SQLite orders TEXT by UTF-8 bytes,
            # Spark by UTF-16 code units — range predicates disagree on
            # supplementary-plane strings, equality never does.
            blob = f"typeof({q}) = 'blob'"
            if name == "EqualTo":
                return f"({blob} OR CAST({q} AS TEXT) = ?)", [str(f.value)]
            if name == "In" and f.value:
                marks = ", ".join("?" for _ in f.value)
                return (
                    f"({blob} OR CAST({q} AS TEXT) IN ({marks}))",
                    [str(v) for v in f.value],
                )
            if name == "StringStartsWith" and f.value:
                return (
                    f"({blob} OR substr(CAST({q} AS TEXT), 1, ?) = ?)",
                    [len(f.value), f.value],
                )
            return None
        if t is SQLiteType.BOOL and name == "EqualTo":
            want = "<> 0" if f.value else "= 0"
            return f"({dirty} OR CAST({q} AS NUMERIC) {want})", []
        return None  # DATE (3-format decode), BLOB, ANY: Spark-side only

    def partitions(self) -> Sequence[InputPartition]:
        # Split the rowid keyspace into disjoint ranges so each executor
        # core reads its own slice. The range is the one read_sql() saw;
        # the first slice is open below and the last open above, so rows
        # added outside it since are still read.
        if self.rowid_min is not None and self.rowid_max is not None:
            lo, hi = int(self.rowid_min), int(self.rowid_max)
            span = hi - lo + 1
            if self.num_partitions:
                cap = int(self.num_partitions)
            else:
                # default sizing: no slice narrower than _MIN_ROWS_PER_PARTITION
                cap = min(_DEFAULT_READ_PARTITIONS, span // _MIN_ROWS_PER_PARTITION or 1)
            n = max(1, min(cap, span))
            step = (span + n - 1) // n
            cuts = [lo + i * step for i in range(1, n)]
            return [
                SQLiteRangePartition(a, None if b is None else b - 1)
                for a, b in zip([None, *cuts], [*cuts, None])
            ]
        return [SQLiteRangePartition(None, None)]

    def _query(self, partition: SQLiteRangePartition) -> tuple[str, list]:
        cols = ", ".join(f'"{c}"' if c != "rowid" else "rowid" for c in self.columns)
        q = f'SELECT {cols} FROM "{self.table}"'
        where: list[str] = []
        params: list = []
        if partition.lo is not None:
            where.append("rowid >= ?")
            params.append(partition.lo)
        if partition.hi is not None:
            where.append("rowid <= ?")
            params.append(partition.hi)
        where.extend(getattr(self, "pushed_sql", []))
        params.extend(getattr(self, "pushed_params", []))
        if where:
            return q + " WHERE " + " AND ".join(where), params
        return q, []

    def read(self, partition: SQLiteRangePartition) -> Iterator[pa.RecordBatch]:
        # The query selects self.columns in order, so cells are decoded by
        # position: SQLite names a selected rowid after its INTEGER PRIMARY
        # KEY alias, if the table has one.
        conn = _connect(self.path)
        try:
            q, params = self._query(partition)
            cur = conn.execute(q, params)
            yield from _fetch_batches(cur, [], self.cols, to_arrow_schema(self.schema))
        finally:
            conn.close()


class SQLiteDataSource(DataSource):
    """``spark.read.format("sqlite")``: the lazy table read. Read-only —
    every write goes through the worker sink of ``write_sql``."""

    @classmethod
    def name(cls) -> str:
        return "sqlite"

    def schema(self):
        names = json.loads(self.options["columns"])
        types = {k: SQLiteType(v) for k, v in json.loads(self.options["types"]).items()}
        return spark_schema(names, types, self.options.get("any_mode") or "string")

    def reader(self, schema: StructType) -> SQLiteReader:
        return SQLiteReader(self.options, schema)


def _register(spark: SparkSession) -> None:
    """Register the data source once per session.

    A registration snapshots the context's python includes, so the package
    zip is shipped first: workers then import this module whatever the
    driver's cwd."""
    if getattr(spark, "_sdf_sqlite_registered", False):
        return
    ensure_worker_imports(spark)
    spark.dataSource.register(SQLiteDataSource)
    spark._sdf_sqlite_registered = True


# ===========================================================================
# Schema inference (reference A4, §1.3)
# ===========================================================================
def _rowid_alias(conn: sqlite3.Connection, table: str, info: list[tuple]) -> str | None:
    """The column that aliases the rowid, if any: the table's only
    primary-key column, declared exactly ``INTEGER``, with no index behind
    the key (a WITHOUT ROWID table and ``INTEGER PRIMARY KEY DESC`` both
    carry a 'pk' index and no alias)."""
    pks = [r for r in info if r[5]]
    if len(pks) != 1 or (pks[0][2] or "").upper() != "INTEGER":
        return None
    if any(r[3] == "pk" for r in conn.execute(f'PRAGMA index_list("{table}")')):
        return None
    return pks[0][1]


#: sqlite3 storage class -> the type a sampled cell implies.
_SNIFFED = {int: SQLiteType.INT, float: SQLiteType.FLOAT, bytes: SQLiteType.BLOB}


def _sniff(cells) -> SQLiteType:
    """Type of the first non-NULL sampled cell; NULL-only stays .any
    (SQLite's dynamic typing makes any inference per-statement — reference
    falls back to .any, SQLiteDataFrame.swift:373)."""
    for v in cells:
        if v is not None:
            return _SNIFFED.get(type(v), SQLiteType.TEXT)
    return SQLiteType.ANY


def _column_type(
    name: str, overrides: dict[str, SQLiteType], decls: dict[str, str], sample=()
) -> SQLiteType:
    """Resolution priority (reference :364-374): caller override -> rowid
    (the implicit INTEGER PK) -> decltype affinity -> runtime sniff of the
    ``sample`` cells -> .any. Table reads pass no sample."""
    if name in overrides:
        return overrides[name]
    if name == "rowid":
        return SQLiteType.INT
    t = affinity(decls.get(name))
    return t if t is not SQLiteType.ANY else _sniff(sample)


def _catalog_decltypes(conn: sqlite3.Connection) -> dict[str, str]:
    """Column name -> decltype across every table in the db; names declared
    with conflicting types in different tables are dropped (ambiguous).

    The Python sqlite3 driver does not expose sqlite3_column_decltype, so the
    statement path recovers the reference's decltype-affinity inference
    (SQLiteDataFrame.swift:370-372) by name-matching result columns against
    the catalog; computed/renamed columns fall back to runtime sniffing.
    """
    out: dict[str, str] = {}
    ambiguous: set[str] = set()
    tables = [
        r[0]
        for r in conn.execute("SELECT name FROM sqlite_master WHERE type IN ('table','view')")
    ]
    for t in tables:
        for r in conn.execute(f'PRAGMA table_info("{t}")'):
            name, decl = r[1], r[2]
            if name in out and out[name].upper() != (decl or "").upper():
                ambiguous.add(name)
            out[name] = decl or ""
    for name in ambiguous:
        out.pop(name, None)
    return out


# ===========================================================================
# Public API (mirrors the reference's three inits + write, SURVEY §7)
# ===========================================================================
def read_sql(
    spark: SparkSession,
    db_path: str,
    table: str | None = None,
    statement: str | None = None,
    params: Sequence | None = None,
    columns: Sequence[str] | None = None,
    types: dict[str, SQLiteType | str] | None = None,
    num_partitions: int | None = None,
    any_mode: str = "string",
) -> DataFrame:
    """Read a SQLite table or SQL statement into a Spark DataFrame.

    Mirrors DataFrame.init(connection:table:columns:types:) (table path,
    reference :248-253) and init(connection:statement:...) (:295-304) with
    the same type-resolution priority: caller override -> decltype affinity
    -> .any (:364-374).

    A table read is lazy: every action scans the table again, partitioned by
    rowid range (``num_partitions``) with Spark filters pushed into SQLite.
    A statement read is a snapshot: the statement runs exactly once, here,
    and the result is held in memory like the reference's (one partition
    per 10k rows; ``num_partitions`` does not apply).

    ``any_mode`` controls how dynamically typed (`.any`) cells materialize:
    ``"string"`` (default, SURVEY §1.4 lossless-string policy) or
    ``"struct"`` — the tagged union ``ANY_STRUCT_TYPE`` mirroring the
    reference's runtime-typed SQLiteValue (SQLiteDataFrame.swift:77-83,
    512-527); struct cells round-trip through write_sql with their original
    storage class.
    """
    if (table is None) == (statement is None):
        raise ValueError("exactly one of table= or statement= is required")
    if any_mode not in ("string", "struct"):
        raise ValueError("any_mode must be 'string' or 'struct'")
    tune(spark)
    overrides = {
        k: (SQLiteType(v) if isinstance(v, str) else v) for k, v in (types or {}).items()
    }
    if statement is not None:
        return _read_statement(spark, db_path, statement, params, columns, overrides, any_mode)

    conn = _connect(db_path)
    try:
        info = conn.execute(f'PRAGMA table_info("{table}")').fetchall()
        if not info:
            raise SQLiteOperationalError(f"no such table: {table}")
        decls = {r[1]: r[2] for r in info}
        if columns:
            # table path: unknown requested columns are an error
            # (reference contract :214-220); rowid is the implicit PK.
            unknown = [c for c in columns if c not in decls and c != "rowid"]
            if unknown:
                raise UnknownColumnError(f"unknown columns {unknown} in table {table!r}")
            names = list(columns)
        else:
            names = list(decls)
        col_types = {n: _column_type(n, overrides, decls) for n in names}
        alias = _rowid_alias(conn, table, info)
        rowid_range = conn.execute(f'SELECT MIN(rowid), MAX(rowid) FROM "{table}"').fetchone()
    finally:
        conn.close()

    _register(spark)
    reader = (
        spark.read.format("sqlite")
        .option("path", db_path)
        .option("table", table)
        .option("columns", json.dumps(names))
        .option("types", json.dumps({k: v.value for k, v in col_types.items()}))
        .option("any_mode", any_mode)
    )
    if num_partitions:
        reader = reader.option("num_partitions", str(num_partitions))
    if alias is not None:
        reader = reader.option("rowid_alias", alias)
    if rowid_range and rowid_range[0] is not None:
        reader = reader.option("rowid_min", str(rowid_range[0])).option(
            "rowid_max", str(rowid_range[1])
        )
    return reader.load()


def _read_statement(
    spark: SparkSession,
    db_path: str,
    statement: str,
    params: Sequence | None,
    columns: Sequence[str] | None,
    overrides: dict[str, SQLiteType],
    any_mode: str,
) -> DataFrame:
    """Run ``statement`` once and return its rows as an in-memory DataFrame.

    The reference reads column names and runtime types from the prepared
    statement it then steps (sqlite3_column_name / sqlite3_column_type); here
    the names come from the cursor's description and the runtime types from
    its first rows, and the same cursor is read to the end. The statement may
    be expensive or non-idempotent, so it never runs a second time.
    """
    conn = _connect(db_path)
    try:
        cur = conn.execute(statement, list(params or []))
        result_names = [d[0] for d in cur.description or []]
        # allowlist filters result columns, unknown names silently ignored
        # (reference :354-363); cells are taken by position
        if columns:
            picked = [(result_names.index(c), c) for c in columns if c in result_names]
        else:
            picked = list(enumerate(result_names))
        head = cur.fetchmany(100)  # the sample that types untyped columns
        decls = _catalog_decltypes(conn)
        col_types = {
            n: _column_type(n, overrides, decls, (r[i] for r in head)) for i, n in picked
        }
        schema = spark_schema([n for _, n in picked], col_types, any_mode)
        arrow_schema = to_arrow_schema(schema)
        cols = [(i, resolve_type(col_types[n], any_mode)[1]) for i, n in picked]
        batches = list(_fetch_batches(cur, head, cols, arrow_schema))
    finally:
        conn.close()
    if not batches:
        # createDataFrame needs one chunk per column, even an empty one
        batches = [_decode_batch([], cols, arrow_schema)]
    df = spark.createDataFrame(pa.Table.from_batches(batches), schema=schema)
    # an in-memory relation is split across every core; a result that
    # fits one fetch batch stays one partition, like a small table read
    return df.coalesce(1) if len(batches) == 1 else df


_IF_EXISTS = ("fail", "ignore", "replace", "append")

#: A bind parameter marker: ``?``, ``?NNN``, or a name ``:AAA``, ``@AAA``,
#: ``$AAA`` (not the ``$`` inside an identifier such as ``a$b``).
_BIND_MARKER = re.compile(r"\?(\d*)|(?<![\w$])[:@$][\w$]+")


def _bind_params(statement: str) -> tuple[int, dict[str, int], bool]:
    """The bind parameters of ``statement``, numbered as SQLite numbers
    them: their count, the index of each name, and whether any is ``?``.

    The reference asks the prepared statement (sqlite3_bind_parameter_count,
    SQLiteDataFrame.swift:572-591); the Python driver doesn't expose that, so
    blank every literal, quoted identifier and comment first — a ``?`` inside
    ``'text?'`` is data, not a parameter — then number what remains: ``?NNN``
    takes index NNN, a bare ``?`` or a new name the largest index so far
    plus 1, and a repeated name its first index.
    """
    n, names, positional = 0, {}, False
    for m in _BIND_MARKER.finditer(NON_CODE_SQL.sub(" ", statement)):
        if m[0][0] != "?":
            if m[0] not in names:
                n += 1
                names[m[0]] = n
        else:
            positional = True
            n = max(n, int(m[1])) if m[1] else n + 1
    return n, names, positional


def _bind_param_count(statement: str) -> int:
    """Number of bind parameters of ``statement`` (see :func:`_bind_params`)."""
    return _bind_params(statement)[0]


def _opt(f: Callable | None, value):
    return value if f is None or value is None else f(value)


def _to_utc(data_type: DataType) -> Callable | None:
    """Map a non-NULL cell of ``data_type`` to the same value with every
    ``TimestampType`` value in it, at any depth, turned from the worker's
    local wall clock into the instant's naive UTC wall clock, as reads take
    stored text as UTC. None when ``data_type`` holds no timestamp."""
    if isinstance(data_type, TimestampType):
        # fromtimestamp sets fold, so the repeated DST hour converts exactly
        return lambda v: v.astimezone(dt.timezone.utc).replace(tzinfo=None)
    if isinstance(data_type, ArrayType):
        el = _to_utc(data_type.elementType)
        if el:
            return lambda v: [_opt(el, x) for x in v]
    elif isinstance(data_type, MapType):
        k, x = _to_utc(data_type.keyType), _to_utc(data_type.valueType)
        if k or x:
            return lambda v: {_opt(k, a): _opt(x, b) for a, b in v.items()}
    elif isinstance(data_type, StructType):
        fields = [_to_utc(f.dataType) for f in data_type.fields]
        if any(fields):
            row = Row(*data_type.names)
            return lambda v: row(*map(_opt, fields, v))
    return None


def _encoder(data_type: DataType) -> Callable:
    """The bind encoder of a column, chosen once from its Spark type."""
    to_utc = _to_utc(data_type)
    return encode_cell if to_utc is None else lambda v: encode_cell(_opt(to_utc, v))


def _run_sink(df: DataFrame, db_path: str, statement: str) -> None:
    """The one write core: run ``statement`` for every row of ``df`` in the
    Python workers, binding the row's cells by position. Extra statement
    params bind NULL, extra columns are dropped (reference :572-591).

    Each task encodes ``_WRITE_BATCH`` rows before it takes SQLite's file
    lock, then commits them with one ``executemany`` transaction, so tasks
    encode in parallel and only the commits queue on the lock. A statement
    that returns rows (``SELECT``) is refused by ``executemany`` and raises.

    Named parameters (``:a``, ``@a``, ``$a``) bind by their SQLite index
    too; when every parameter is named, each row goes to the driver as a
    mapping, as it expects for names.
    """
    n_params, names, positional = _bind_params(statement)
    if names and positional:
        raise ValueError(f"statement mixes ? and named parameters: {statement!r}")
    # the driver looks a name up without its prefix, so :a and @a would clash
    keys = [name[1:] for name in names]
    if len(set(keys)) < len(keys):
        raise ValueError(f"statement binds two names as one: {statement!r}")
    encoders = [_encoder(f.dataType) for f in df.schema.fields][:n_params]
    pad = [None] * (n_params - len(encoders))

    def write_partition(rows: Iterator) -> None:
        conn = _connect(db_path)
        try:
            while batch := [
                [enc(v) for enc, v in zip(encoders, row)] + pad
                for row in islice(rows, _WRITE_BATCH)
            ]:
                if keys:
                    batch = [dict(zip(keys, cells)) for cells in batch]
                with conn:
                    conn.executemany(statement, batch)
        finally:
            conn.close()

    # the closure refers to this module's helpers by reference
    ensure_worker_imports(df.sparkSession)
    df.foreachPartition(write_partition)


def write_sql(
    df: DataFrame,
    db_path: str,
    table: str | None = None,
    statement: str | None = None,
    if_exists: str = "fail",
) -> None:
    """Write a DataFrame to SQLite.

    Table form (reference A10/A11, :721-776): generate DDL from the Spark
    schema, honoring if_exists in {fail, ignore, replace, append} = Spark
    SaveMode {errorifexists, ignore, overwrite, append}, then insert every
    row with the generated ``INSERT INTO "t" ("c1", ...) VALUES (?, ...)``
    through the statement form (:773-775).

    Statement form (reference A8, :572-591): execute an arbitrary
    parameterized DML once per row with positional binds; extra statement
    params bind NULL, extra DataFrame columns are dropped. Column i binds
    parameter index i, also for ``:name``, ``@name`` and ``$name``, which
    SQLite numbers in order of first use; a statement that mixes ``?`` and
    names raises ``ValueError``. A statement that returns rows, such as
    ``SELECT ?``, raises.

    Both forms commit every ``_WRITE_BATCH`` rows of a partition, so a failed
    job leaves the batches committed before the failure. ``TimestampType``
    values, also inside arrays, maps and structs, are stored as UTC wall
    clock, whatever the process time zone.
    """
    if (table is None) == (statement is None):
        raise ValueError("exactly one of table= or statement= is required")

    if table is not None:
        if if_exists not in _IF_EXISTS:
            raise ValueError(f"if_exists must be one of {_IF_EXISTS}")
        conn = _connect(db_path)
        try:
            exists = _exists(conn, table)
            if exists:
                if if_exists == "fail":
                    raise TableExistsError(f"table {table!r} already exists")
                if if_exists == "ignore":
                    return
                if if_exists == "replace":
                    with conn:
                        conn.execute(f'DROP TABLE "{table}"')
                    exists = False
            if not exists:
                decls = ", ".join(ddl_decl(f) for f in df.schema.fields)
                with conn:
                    conn.execute(f'CREATE TABLE "{table}" ({decls})')
        finally:
            conn.close()
        cols = ", ".join(f'"{c}"' for c in df.columns)
        marks = ", ".join("?" for _ in df.columns)
        statement = f'INSERT INTO "{table}" ({cols}) VALUES ({marks})'

    _run_sink(df, db_path, statement)


def upsert_sql(df: DataFrame, db_path: str, table: str, key_cols: Sequence[str]) -> None:
    """MERGE-style upsert into an existing SQLite table: INSERT each row,
    ON CONFLICT on ``key_cols`` update the remaining columns — SQLite's
    native upsert through the arbitrary-DML sink (reference A8 documents
    the statement form powering INSERT/UPDATE/DELETE, SQLiteDataFrame.swift
    :541-545; this is the composed idiom).

    Requires a UNIQUE index / PK on ``key_cols`` (SQLite's ON CONFLICT
    contract). Runs on the same partition-parallel sink as ``write_sql``,
    committing every ``_WRITE_BATCH`` rows.
    """
    cols = df.columns
    missing = [k for k in key_cols if k not in cols]
    if missing:
        raise ValueError(f"key columns {missing} not in DataFrame")
    non_keys = [c for c in cols if c not in key_cols]
    col_list = ", ".join(f'"{c}"' for c in cols)
    placeholders = ", ".join("?" for _ in cols)
    conflict = ", ".join(f'"{k}"' for k in key_cols)
    if non_keys:
        updates = ", ".join(f'"{c}" = excluded."{c}"' for c in non_keys)
        action = f"DO UPDATE SET {updates}"
    else:
        action = "DO NOTHING"
    stmt = (
        f'INSERT INTO "{table}" ({col_list}) VALUES ({placeholders}) '
        f"ON CONFLICT ({conflict}) {action}"
    )
    write_sql(df, db_path, statement=stmt)


def table_exists(db_path: str, table: str) -> bool:
    """Catalog probe via sqlite_master (reference A12, :43-47)."""
    conn = _connect(db_path)
    try:
        return _exists(conn, table)
    finally:
        conn.close()


def _exists(conn: sqlite3.Connection, table: str) -> bool:
    cur = conn.execute(
        "SELECT COUNT(*) FROM sqlite_master WHERE type IN ('table','view') AND name = ?",
        (table,),
    )
    return cur.fetchone()[0] > 0


def exec_sql(db_path: str, script: str) -> None:
    """Multi-statement DDL/DML execution (reference A13 exec, :52-54)."""
    conn = _connect(db_path)
    try:
        with conn:
            conn.executescript(script)
    except sqlite3.Error as e:
        raise SQLiteOperationalError(str(e), script) from e
    finally:
        conn.close()
