"""The SQLite-bridge workload: bulk scans and writes interleaved with many
small interactive calls, on one database file. Each op is a call a user of
the bridge makes, wrapped in spans named after the public function it
calls.

Traffic parameters. The key skew, the read:write mix and the range length
follow the Yahoo! Cloud Serving Benchmark (Cooper et al., "Benchmarking
Cloud Serving Systems with YCSB", SoCC 2010): keys are drawn from a
scrambled Zipfian with YCSB's constant 0.99; reads and writes are 1 : 1 by
op count, as in YCSB core workload A (50 % reads, 50 % updates); a range
read covers 50 rows, the mean of workload E's scan length (uniform, at most
100), fixed so that the rows per op repeat exactly. The upsert batch of 8
rows and the DML sink of 3 rows have no published source.
"""

from __future__ import annotations

import datetime as dt
import math
import os
import random
import sqlite3

from perfbench import data


def _close(a: float, b: float) -> bool:
    return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-6)


class Bridge:
    """Both traffic shapes in one closed loop: each cycle runs every op
    kind once, bulk and small ops interleaved."""

    kinds = {
        "scan": "bulk_read", "codec_read": "bulk_read",
        "write_replace": "bulk_write", "write_append": "bulk_write",
        "point_rowid": "small_read", "point_pk": "small_read", "point_key": "small_read",
        "range_stmt": "small_read", "upsert_one": "small_write", "upsert_batch": "small_write",
        "dml_sink": "small_write", "exists": "small_write",
    }
    cycle = (
        "scan", "point_rowid", "upsert_one", "codec_read", "point_pk", "upsert_batch",
        "write_replace", "point_key", "dml_sink", "write_append", "range_stmt", "exists",
    )
    RANGE = 50
    BATCH = 8
    DML_ROWS = 3

    def __init__(self, seed: int, workdir: str):
        self.db = os.path.join(workdir, "bridge.db")
        # bulk table, and the expected results of the bulk ops
        pairs = list(data.bulk_rows(seed))
        data.write_bulk_db(self.db, [p[0] for p in pairs])
        self.expected = data.bulk_expected(p[1] for p in pairs)
        self.write_rows = data.bulk_write_rows(seed)
        self.write_digest = data.rows_digest(data.stored_write_row(r) for r in self.write_rows)
        # small tables, and the model of them the small ops keep up to date
        self.model = data.kv_rows(seed)
        self.note_rows = data.note_rows(seed)
        data.write_kv_db(self.db, self.model, self.note_rows)
        self.rng = random.Random(seed * 1299709 + 6)
        self.zipf = data.Zipf(self.rng, len(self.model))
        self.next_id = len(self.model) + 1
        self.n_exists = 0
        self.last_df = self.read_df = None

    # -- spark-side set-up (part of setup_s) --------------------------------
    def start(self, spark, tracer, cpus: int) -> None:
        import pandas as pd
        from pyspark.sql import types as T

        from sqlitedataframe_spark.codecs import register_codec
        from perfbench.codec import point_decode, point_encode

        self.spark, self.tr, self.parts = spark, tracer, cpus
        register_codec("point", point_decode, point_encode, T.ArrayType(T.DoubleType()), T.StringType())
        schema = T.StructType([
            T.StructField("k", T.LongType()),
            T.StructField("x", T.DoubleType()),
            T.StructField("s", T.StringType()),
            T.StructField("b", T.BinaryType()),
            T.StructField("flag", T.BooleanType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("pt", T.ArrayType(T.DoubleType())),
        ])
        # one partition: concurrent writers would serialize on SQLite's
        # file lock through busy_timeout backoff
        pdf = pd.DataFrame(self.write_rows, columns=schema.fieldNames())
        self.write_df = spark.createDataFrame(pdf, schema).coalesce(1).cache()
        self.write_df.count()

    def rows_written(self, kind: str) -> int:
        if kind.startswith("write"):
            return len(self.write_rows)
        return {"upsert_one": 1, "upsert_batch": self.BATCH, "dml_sink": self.DML_ROWS}.get(kind, 0)

    def op(self, kind: str):
        return getattr(self, f"_{kind}")()

    def notes(self) -> list[str]:
        return []

    # -- bulk reads -------------------------------------------------------------
    def _scan(self):
        from pyspark.sql import functions as F

        from sqlitedataframe_spark.sources import read_sql

        tr = self.tr
        with tr.span("sources.read_sql.define"):
            df = read_sql(self.spark, self.db, table="bulk", num_partitions=self.parts)
        self.read_df = df
        crc = lambda c: F.sum(F.crc32(F.col(c).cast("binary")))  # noqa: E731
        agg = df.agg(
            F.count(F.lit(1)), F.sum("id"), F.sum("i"), F.count("i"), F.sum("f"), F.count("f"),
            crc("s"), F.sum(F.length("b")), crc("b"), F.sum(F.col("flag").cast("int")),
            F.count("flag"), F.sum(F.unix_micros("d").cast("decimal(38,0)")), F.count("d"), crc("a"), F.count("a"), crc("pt"),
        )
        self.last_df = agg
        with tr.span("sources.read.collect"):
            got = agg.collect()[0]

        def check():
            e = self.expected
            want = (e["rows"], e["id"], e["i"], e["i_n"], e["f"], e["f_n"], e["s"], e["b_len"],
                    e["b"], e["flag"], e["flag_n"], e["d"], e["d_n"], e["a"], e["a_n"], e["pt"])
            names = ("rows", "id", "i", "i_n", "f", "f_n", "s", "b_len", "b", "flag", "flag_n",
                     "d", "d_n", "a", "a_n", "pt")
            bad = [n for n, g, w in zip(names, got, want)
                   if not (_close(g, w) if n == "f" else g == w)]
            return f"column checksums differ: {bad}" if bad else None

        return self.expected["rows"], check

    def _codec_read(self):
        from pyspark.sql import functions as F

        from sqlitedataframe_spark.codecs import apply_decoders
        from sqlitedataframe_spark.sources import read_sql

        tr = self.tr
        with tr.span("sources.read_sql.define"):
            df = read_sql(self.spark, self.db, table="bulk", columns=["id", "pt"], num_partitions=self.parts)
        self.read_df = df
        with tr.span("codecs.apply_decoders"):
            dec = apply_decoders(df, {"pt": "point"})
        agg = dec.agg(F.count("pt"), F.sum(F.col("pt")[0]), F.sum(F.col("pt")[1]))
        self.last_df = agg
        with tr.span("sources.read.collect"):
            got = tuple(agg.collect()[0])

        def check():
            e = self.expected
            want = (e["rows"], e["x"], e["y"])
            return None if got == want else f"decoded points {got} != {want}"

        return self.expected["rows"], check

    # -- bulk writes ------------------------------------------------------------
    def _write(self, table: str, if_exists: str):
        from sqlitedataframe_spark.codecs import apply_encoders
        from sqlitedataframe_spark.sources import write_sql

        tr = self.tr
        before = self._max_rowid(table)
        with tr.span("codecs.apply_encoders"):
            enc = apply_encoders(self.write_df, {"pt": "point"})
        self.last_df = enc
        with tr.span("sources.write_sql"):
            write_sql(enc, self.db, table=table, if_exists=if_exists)

        def check():
            conn = sqlite3.connect(self.db)
            try:
                rows = conn.execute(
                    f'SELECT k, x, s, b, flag, ts, pt FROM "{table}" WHERE rowid > ?', (before,)
                ).fetchall()
            finally:
                conn.close()
            got = data.rows_digest(rows)
            return None if got == self.write_digest else f"{table}: stored (rows, digest) {got} != {self.write_digest}"

        return len(self.write_rows), check

    def _write_replace(self):
        return self._write("out_replace", "replace")

    def _write_append(self):
        return self._write("out_append", "append")

    def _max_rowid(self, table: str) -> int:
        conn = sqlite3.connect(self.db)
        try:
            exists = conn.execute(
                "SELECT 1 FROM sqlite_master WHERE type = 'table' AND name = ?", (table,)
            ).fetchone()
            # a replaced table starts again from rowid 1
            if not exists or table == "out_replace":
                return 0
            return conn.execute(f'SELECT COALESCE(MAX(rowid), 0) FROM "{table}"').fetchone()[0]
        finally:
            conn.close()

    # -- small reads --------------------------------------------------------------
    def _expect(self, i: int) -> tuple:
        r = self.model[i]
        return r[:5] + (dt.datetime.strptime(r[5], "%Y-%m-%d %H:%M:%S"),)

    def _point(self, table: str, columns, column: str, value, want: tuple):
        from pyspark.sql import functions as F

        from sqlitedataframe_spark.sources import read_sql

        tr = self.tr
        with tr.span("sources.read_sql.define"):
            df = read_sql(self.spark, self.db, table=table, columns=columns)
        self.read_df = df
        q = df.filter(F.col(column) == value)
        self.last_df = q
        with tr.span("sources.read.collect"):
            got = [tuple(r) for r in q.collect()]
        return 1, (lambda: None if got == [want] else f"{table}.{column}={value!r}: {got} != {[want]}")

    def _point_rowid(self):
        i = self.zipf.draw()
        return self._point("notes", ["rowid", "owner", "body"], "rowid", i, (i,) + self.note_rows[i - 1])

    def _point_pk(self):
        i = self.zipf.draw()
        return self._point("kv", None, "id", i, self._expect(i))

    def _point_key(self):
        i = self.zipf.draw()
        return self._point("kv", None, "key", data.kv_key(i), self._expect(i))

    def _range_stmt(self):
        from sqlitedataframe_spark.sources import read_sql

        tr = self.tr
        lo = min(self.zipf.draw(), data.KV_ROWS - self.RANGE + 1)
        hi = lo + self.RANGE - 1
        with tr.span("sources.read_sql.define"):
            df = read_sql(
                self.spark, self.db,
                statement="SELECT id, key, val, n FROM kv WHERE id BETWEEN ? AND ?",
                params=[lo, hi],
            )
        self.read_df = self.last_df = df
        with tr.span("sources.read.collect"):
            got = sorted(tuple(r) for r in df.collect())
        want = [self.model[i][:4] for i in range(lo, hi + 1)]
        return len(want), (lambda: None if got == want else f"range {lo}..{hi} differs")

    # -- small writes -------------------------------------------------------------
    def _distinct_ids(self, n: int) -> list[int]:
        ids: list[int] = []
        while len(ids) < n:
            i = self.zipf.draw()
            if i not in ids:
                ids.append(i)
        return ids

    def _upsert(self, n: int):
        from sqlitedataframe_spark.sources import upsert_sql

        tr = self.tr
        rows = []
        for i in self._distinct_ids(n - 1) + [self.next_id]:
            old = self.model.get(i)
            key = old[1] if old else data.kv_key(i)
            d = dt.datetime(2024, 1, 1) + dt.timedelta(seconds=self.rng.randrange(0, 10**8))
            rows.append((i, key, round(self.rng.uniform(0, 1e4), 3), self.rng.randrange(0, 1000), f"upsert {i}", d))
        self.next_id += 1
        with tr.span("spark.create_df"):
            df = self.spark.createDataFrame(
                rows, "id long, key string, val double, n long, note string, d timestamp"
            ).coalesce(1)
        self.last_df = df
        with tr.span("sources.upsert_sql"):
            upsert_sql(df, self.db, "kv", ["id"])
        for r in rows:
            self.model[r[0]] = (r[0], r[1], r[2], r[3], r[4], data.fmt_ts(r[5]))
        ids = [r[0] for r in rows]
        return len(rows), (lambda: self._check_stored(ids))

    def _upsert_one(self):
        return self._upsert(1)

    def _upsert_batch(self):
        return self._upsert(self.BATCH)

    def _dml_sink(self):
        from sqlitedataframe_spark.sources import write_sql

        tr = self.tr
        ids = self._distinct_ids(self.DML_ROWS)
        rows = [(self.rng.randrange(1, 10), data.kv_key(i)) for i in ids]
        with tr.span("spark.create_df"):
            df = self.spark.createDataFrame(rows, "delta long, key string").coalesce(1)
        self.last_df = df
        with tr.span("sources.dml_sink"):
            write_sql(df, self.db, statement="UPDATE kv SET n = n + ? WHERE key = ?")
        for (delta, _), i in zip(rows, ids):
            r = self.model[i]
            self.model[i] = r[:3] + (r[3] + delta,) + r[4:]
        return len(rows), (lambda: self._check_stored(ids))

    def _exists(self):
        from sqlitedataframe_spark.sources import table_exists

        self.n_exists += 1
        name, want = ("kv", True) if self.n_exists % 2 else (f"missing_{self.n_exists}", False)
        with self.tr.span("sources.table_exists"):
            got = table_exists(self.db, name)
        self.last_df = None
        return 0, (lambda: None if got is want else f"table_exists({name!r}) = {got}")

    def _check_stored(self, ids: list[int]):
        conn = sqlite3.connect(self.db)
        try:
            marks = ", ".join("?" for _ in ids)
            got = {r[0]: r for r in conn.execute(f"SELECT * FROM kv WHERE id IN ({marks})", ids)}
        finally:
            conn.close()
        bad = [i for i in ids if got.get(i) != self.model[i]]
        return f"stored rows differ for ids {bad}" if bad else None
