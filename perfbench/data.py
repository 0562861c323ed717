"""Seeded inputs for every workload, and the values the program must return.

Everything here is plain Python, ``sqlite3``, NumPy and PyArrow: no call
into the program under test. Expected values are written from the
reference's decode rules (SQLite affinity, bool != 0, three date formats,
``.any`` as text), not computed by the program.
"""

from __future__ import annotations

import bisect
import datetime as dt
import math
import random
import sqlite3
import zlib

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EPOCH = dt.datetime(1970, 1, 1)
JULIAN_UNIX_EPOCH_DAYS = 2440587.5
INT64_MAX = (1 << 63) - 1

WORDS = (
    "spark sqlite frame column table index cursor page cache batch commit "
    "query plan scan filter join window order group merge stream shard "
    "value row type date blob text real bool any schema decode encode "
    "bridge driver worker task stage job partition range point upsert sink"
).split()
ACCENTED = "éèàùçôîâêë"


def crc(s: str | bytes | None) -> int:
    if s is None:
        return 0
    return zlib.crc32(s.encode("utf-8") if isinstance(s, str) else s)


def micros(t: dt.datetime) -> int:
    return (t - EPOCH) // dt.timedelta(microseconds=1)


def fmt_ts(t: dt.datetime) -> str:
    return t.strftime("%Y-%m-%d %H:%M:%S")


# ==========================================================================
# bridge, bulk ops: one wide table covering every type of the reference's model
# ==========================================================================
BULK_ROWS = 15_000
BULK_WRITE_ROWS = 8_000
BULK_COLUMNS = (
    "id INTEGER PRIMARY KEY, i INT, f REAL, s TEXT, b BLOB, flag BOOL, "
    "d DATE, a, pt TEXT"
)


def _text(rng: random.Random, lo: int, hi: int) -> str:
    words = [rng.choice(WORDS) for _ in range(rng.randrange(lo, hi))]
    if rng.random() < 0.05:
        words.append(rng.choice(ACCENTED) + "中")
    return " ".join(words)


def _ascii_blob(rng: random.Random, n: int) -> bytes:
    return bytes(rng.randrange(32, 127) for _ in range(n))


def bulk_rows(seed: int, n: int = BULK_ROWS):
    """(stored row, decoded row) pairs. Stored values are what plain
    sqlite3 writes; decoded values are what read_sql must return."""
    rng = random.Random(seed * 7919 + 1)
    for rid in range(1, n + 1):
        # INT with dirty storage: TEXT with a numeric prefix stays TEXT and
        # decodes to the prefix; an integer literal beyond int64 is stored as
        # REAL by the column's INTEGER affinity and decodes to NULL
        r = rng.random()
        iv = rng.randrange(-10**6, 10**6)
        if r < 0.02:
            i_store, i_dec = None, None
        elif r < 0.025:
            i_store, i_dec = f"{iv}abc", iv
        elif r < 0.03:
            i_store, i_dec = str(rng.randrange(INT64_MAX + 1, 1 << 64)), None
        else:
            i_store, i_dec = iv, iv
        f = None if rng.random() < 0.02 else rng.uniform(-1e3, 1e3)
        s = None if rng.random() < 0.02 else _text(rng, 4, 14)
        b = rng.randbytes(rng.randrange(300, 900))
        flag = rng.choice((0, 1, 1, 2, None))
        secs = rng.randrange(946684800, 1893456000)  # 2000 .. 2030
        fmt = rid % 3
        if fmt == 0:
            d_store = fmt_ts(EPOCH + dt.timedelta(seconds=secs))
            d_dec = EPOCH + dt.timedelta(seconds=secs)
        elif fmt == 1:
            d_store = secs
            d_dec = EPOCH + dt.timedelta(seconds=secs)
        else:
            d_store = secs / 86400.0 + JULIAN_UNIX_EPOCH_DAYS
            if d_store.is_integer():
                # DATE has NUMERIC affinity: SQLite stores an integral REAL
                # as INTEGER, which then decodes as unix seconds
                d_dec = EPOCH + dt.timedelta(seconds=int(d_store))
            else:
                d_dec = dt.datetime.fromtimestamp(
                    (d_store - JULIAN_UNIX_EPOCH_DAYS) * 86400.0, dt.timezone.utc
                ).replace(tzinfo=None)
        kind = rng.randrange(5)
        if kind == 0:
            a = rng.randrange(-(10**9), 10**9)
            a_dec = str(a)
        elif kind == 1:
            a = rng.uniform(-10, 10)
            a_dec = str(a)
        elif kind == 2:
            a = _text(rng, 1, 4)
            a_dec = a
        elif kind == 3:
            a = _ascii_blob(rng, 12)
            a_dec = a.decode("ascii")
        else:
            a = a_dec = None
        x, y = rng.randrange(-1000, 1000), rng.randrange(-1000, 1000)
        pt = f"{x}:{y}"
        yield (
            (rid, i_store, f, s, b, flag, d_store, a, pt),
            (rid, i_dec, f, s, b, None if flag is None else flag != 0, d_dec, a_dec, (x, y)),
        )


def bulk_expected(decoded) -> dict:
    """Per-column checksums of the decoded bulk table, in the shape of the
    aggregate the scan op computes."""
    e = dict(rows=0, id=0, i=0, i_n=0, f=0.0, f_n=0, s=0, b_len=0, b=0,
             flag=0, flag_n=0, d=0, d_n=0, a=0, a_n=0, pt=0, x=0.0, y=0.0)
    for rid, i, f, s, b, flag, d, a, (x, y) in decoded:
        e["rows"] += 1
        e["id"] += rid
        if i is not None:
            e["i"] += i
            e["i_n"] += 1
        if f is not None:
            e["f"] += f
            e["f_n"] += 1
        e["s"] += crc(s)
        e["b_len"] += len(b)
        e["b"] += crc(b)
        if flag is not None:
            e["flag"] += int(flag)
            e["flag_n"] += 1
        e["d"] += micros(d)
        e["d_n"] += 1
        if a is not None:
            e["a"] += crc(a)
            e["a_n"] += 1
        e["pt"] += crc(f"{x}:{y}")
        e["x"] += x
        e["y"] += y
    return e


def write_bulk_db(path: str, stored) -> None:
    conn = sqlite3.connect(path)
    try:
        with conn:
            conn.execute(f"CREATE TABLE bulk ({BULK_COLUMNS})")
            conn.executemany("INSERT INTO bulk VALUES (?, ?, ?, ?, ?, ?, ?, ?, ?)", stored)
    finally:
        conn.close()


def bulk_write_rows(seed: int, n: int = BULK_WRITE_ROWS) -> list[tuple]:
    """Rows of the DataFrame the write ops store: (k, x, s, b, flag, ts, pt)."""
    rng = random.Random(seed * 104729 + 2)
    rows = []
    for k in range(n):
        ts = EPOCH + dt.timedelta(seconds=rng.randrange(946684800, 1893456000))
        flag = rng.choice((True, False, None))
        pt = [float(rng.randrange(-1000, 1000)), float(rng.randrange(-1000, 1000))]
        rows.append((k, rng.uniform(-1e6, 1e6), _text(rng, 3, 10), rng.randbytes(rng.randrange(100, 400)), flag, ts, pt))
    return rows


def stored_write_row(row: tuple) -> tuple:
    """What write_sql must store for one bulk write row (reference encode:
    bool -> 1/0, timestamp -> 'yyyy-MM-dd HH:mm:ss', codec -> 'x:y')."""
    k, x, s, b, flag, ts, pt = row
    return (k, x, s, b, None if flag is None else int(flag), fmt_ts(ts), point_text(pt))


def point_text(pt) -> str:
    return f"{pt[0]!r}:{pt[1]!r}"


def rows_digest(rows) -> tuple[int, int]:
    """(row count, order-insensitive digest) of stored SQLite rows."""
    total = 0
    n = 0
    for row in rows:
        n += 1
        total += crc(repr(tuple(row)))
    return n, total


# ==========================================================================
# bridge, small ops: a key-value table with a UNIQUE TEXT key, and a rowid table
# ==========================================================================
KV_ROWS = 20_000
KV_COLUMNS = "id INTEGER PRIMARY KEY, key TEXT NOT NULL UNIQUE, val REAL, n INT, note TEXT, d DATE"


def kv_key(i: int) -> str:
    return f"key-{i:07d}"


def kv_rows(seed: int, n: int = KV_ROWS) -> dict[int, tuple]:
    rng = random.Random(seed * 15485863 + 3)
    out = {}
    for i in range(1, n + 1):
        d = EPOCH + dt.timedelta(seconds=rng.randrange(946684800, 1893456000))
        out[i] = (i, kv_key(i), round(rng.uniform(0, 1e4), 3), rng.randrange(0, 1000), _text(rng, 2, 6), fmt_ts(d))
    return out


def note_rows(seed: int, n: int = KV_ROWS) -> list[tuple]:
    """Rows of ``notes``, a table addressed by its implicit rowid (1..n)."""
    rng = random.Random(seed * 32452843 + 8)
    return [(kv_key(rng.randrange(1, n + 1)), _text(rng, 3, 9)) for _ in range(n)]


def write_kv_db(path: str, rows: dict[int, tuple], notes: list[tuple]) -> None:
    conn = sqlite3.connect(path)
    try:
        with conn:
            conn.execute(f"CREATE TABLE kv ({KV_COLUMNS})")
            conn.executemany("INSERT INTO kv VALUES (?, ?, ?, ?, ?, ?)", rows.values())
            # no INTEGER PRIMARY KEY: rowid is not aliased to a named column
            conn.execute("CREATE TABLE notes (owner TEXT, body TEXT)")
            conn.executemany("INSERT INTO notes VALUES (?, ?)", notes)
    finally:
        conn.close()


class Zipf:
    """Zipf(s) over ranks 1..n mapped through a seeded permutation of ids:
    YCSB's scrambled Zipfian, whose default constant is 0.99."""

    def __init__(self, rng: random.Random, n: int, s: float = 0.99):
        w = [1.0 / (r ** s) for r in range(1, n + 1)]
        total = sum(w)
        acc = 0.0
        self.cdf = []
        for x in w:
            acc += x / total
            self.cdf.append(acc)
        self.ids = list(range(1, n + 1))
        rng.shuffle(self.ids)
        self.rng = rng

    def draw(self) -> int:
        r = bisect.bisect_left(self.cdf, self.rng.random())
        return self.ids[min(r, len(self.ids) - 1)]


# ==========================================================================
# spark_native: parquet fixtures (orders-like facts and a document corpus)
# ==========================================================================
ORDERS_ROWS = 150_000
DOC_BASES = 1_000
STOPWORDS = ("the", "a", "an", "and", "or", "of", "to", "in", "is", "it")


def write_orders(path: str, seed: int, n: int = ORDERS_ROWS) -> None:
    g = np.random.default_rng(seed * 31 + 4)
    start = np.datetime64("1992-01-01T00:00:00", "us")
    secs = g.integers(0, 7 * 365 * 86400, n)
    table = pa.table({
        "o_orderkey": pa.array(np.arange(1, n + 1, dtype=np.int64)),
        "o_custkey": pa.array(g.integers(1, 15001, n, dtype=np.int64)),
        "o_orderstatus": pa.array(g.choice(np.array(["F", "O", "P"]), n)),
        "o_totalprice": pa.array(np.round(g.uniform(800.0, 500000.0, n), 2)),
        "o_orderdate": pa.array(start + secs.astype("timedelta64[s]")),
        "o_orderpriority": pa.array(g.choice(np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]), n)),
    })
    pq.write_table(table, path)


def documents(seed: int, bases: int = DOC_BASES):
    """Document corpus with planted duplicate families.

    Returns (rows, families, langs): rows are (doc_id, text, source); a
    family is the doc ids of one base text and its copies (exact copies,
    and near copies whose last word differs); langs maps doc_id to the
    language the text was written in.
    """
    rng = random.Random(seed * 7 + 5)
    vocab = [f"{w}{j}" for w in WORDS for j in range(40)]
    rows, families, langs = [], [], {}
    doc_id = 0
    for _ in range(bases):
        lang = rng.choice(("en", "en", "fr", "zh", "unknown"))
        n = rng.randrange(30, 70)
        words = [rng.choice(vocab) for _ in range(n)]
        # language markers stay off the last word, which near copies replace
        if lang == "en":
            for j in range(0, n - 1, 4):
                words[j] = rng.choice(STOPWORDS)
        elif lang == "fr":
            words[rng.randrange(n - 1)] += rng.choice(ACCENTED)
        elif lang == "zh":
            words[rng.randrange(n - 1)] += "数据"
        text = " ".join(words)
        family = [doc_id]
        rows.append((doc_id, text, f"src{rng.randrange(8)}"))
        langs[doc_id] = lang
        doc_id += 1
        r = rng.random()
        copies = 0 if r < 0.8 else (1 if r < 0.95 else 2)
        for _ in range(copies):
            if rng.random() < 0.5:
                copy = text
            else:
                copy = " ".join(words[:-1] + [rng.choice(vocab)])
            rows.append((doc_id, copy, f"src{rng.randrange(8)}"))
            langs[doc_id] = lang
            family.append(doc_id)
            doc_id += 1
        if len(family) > 1:
            families.append(family)
    return rows, families, langs


def write_documents(path: str, rows) -> None:
    table = pa.table({
        "doc_id": pa.array([r[0] for r in rows], pa.int64()),
        "text": pa.array([r[1] for r in rows], pa.string()),
        "source": pa.array([r[2] for r in rows], pa.string()),
    })
    pq.write_table(table, path)


def hll_estimates(keys_by_group: dict[str, list], p: int = 8) -> dict[str, float]:
    """HyperLogLog over md5 of the key text, as the sketch operator
    documents it: bucket = first p/4 hex digits, rho from the next 32
    bits, linear counting below 2.5 m."""
    import hashlib

    m = 1 << p
    alpha = 0.7213 / (1.0 + 1.079 / m)
    out = {}
    for g, keys in keys_by_group.items():
        reg: dict[int, int] = {}
        for k in keys:
            h = hashlib.md5(str(k).encode()).hexdigest()
            bucket = int(h[: p // 4], 16)
            v = int(h[p // 4 : p // 4 + 8], 16)
            rho = 33 if v == 0 else 33 - v.bit_length()
            reg[bucket] = max(reg.get(bucket, 0), rho)
        s = sum(2.0 ** -r for r in reg.values()) + (m - len(reg))
        e = alpha * m * m / s
        empty = m - len(reg)
        if e <= 2.5 * m and empty > 0:
            e = m * math.log(m / empty)
        out[g] = round(e, 4)
    return out
