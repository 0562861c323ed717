"""Operator-level tests: dedup (exact / fingerprint / minhash / simhash),
dialect shims, codecs — each against a small hand-computable oracle.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import functions as F
from pyspark.sql.types import StringType

from sqlitedataframe_spark import codecs
from sqlitedataframe_spark.functions.dialect import (
    glob_to_rlike,
    group_concat,
    julianday,
    from_julianday,
    sqlite_glob,
    strftime,
)
from sqlitedataframe_spark.operators import dedup as D
from sqlitedataframe_spark.operators import text as X


# -- exact dedup ------------------------------------------------------------
def test_dedup_exact_keeps_min_id(spark):
    df = spark.createDataFrame(
        [(1, "a"), (2, "a"), (3, "b"), (4, "b"), (5, "c")], ["id", "v"]
    )
    kept = D.dedup_exact(df, ["v"], "id")
    assert sorted(r.id for r in kept.collect()) == [1, 3, 5]


# -- fingerprint ------------------------------------------------------------
def test_fingerprint_permutation_invariant(spark):
    df = spark.createDataFrame(
        [(1, "the cat sat"), (2, "sat the cat"), (3, "sat the cat sat"), (4, "a dog")],
        ["id", "text"],
    )
    fps = {r.id: r.fp for r in df.select("id", X.fingerprint("text").alias("fp")).collect()}
    assert fps[1] == fps[2] == fps[3]  # permutation + repetition invariant
    assert fps[4] != fps[1]


# -- minhash / LSH ----------------------------------------------------------
def test_minhash_finds_planted_near_dup(spark):
    base = " ".join(f"w{i}" for i in range(60))
    near = " ".join(f"w{i}" for i in range(59)) + " zz"  # ~0.93 shingle overlap
    far = " ".join(f"x{i}" for i in range(60))
    df = spark.createDataFrame(
        [(1, base), (2, near), (3, far)], ["doc_id", "text"]
    )
    pairs = D.minhash_lsh_pairs(df, min_jaccard=0.5).collect()
    assert [(p.id_a, p.id_b) for p in pairs] == [(1, 2)]
    assert pairs[0].est_jaccard >= 0.5


def test_minhash_identical_docs_est_one(spark):
    t = "alpha beta gamma delta epsilon zeta eta theta"
    df = spark.createDataFrame([(1, t), (2, t)], ["doc_id", "text"])
    pairs = D.minhash_lsh_pairs(df, min_jaccard=0.9).collect()
    assert len(pairs) == 1 and pairs[0].est_jaccard == 1.0


def test_minhash_hot_bucket_suppression(spark):
    # 30 identical docs put all their bands in the same buckets: with the
    # skew guard tight they are suppressed (0 pairs); without it the join
    # yields the full 30*29/2 quadratic blow-up
    t = "alpha beta gamma delta epsilon zeta eta theta"
    df = spark.createDataFrame([(i, t) for i in range(30)], ["doc_id", "text"])
    assert D.minhash_lsh_pairs(df, max_bucket=5).count() == 0
    assert D.minhash_lsh_pairs(df, max_bucket=None).count() == 30 * 29 // 2


def test_minhash_estimates_track_half_jaccard(spark):
    # 20 token-set pairs with Jaccard exactly 40/80 = 0.5: each estimate
    # from 64 slots has sd ~0.06, so [0.25, 0.75] is a 4-sd band. A family
    # whose slots all pick the same minimum estimates ~0 or ~1 instead.
    rows = []
    for p in range(20):
        shared = [f"p{p}s{k}" for k in range(40)]
        rows.append((2 * p, shared + [f"p{p}a{k}" for k in range(20)]))
        rows.append((2 * p + 1, shared + [f"p{p}b{k}" for k in range(20)]))
    df = spark.createDataFrame(rows, "doc_id long, sh array<string>")
    sigs = {r.doc_id: r._sig for r in D.minhash_signatures(df, "doc_id", "sh").collect()}
    ests = [
        sum(x == y for x, y in zip(sigs[2 * p], sigs[2 * p + 1])) / 64
        for p in range(20)
    ]
    assert all(0.25 <= e <= 0.75 for e in ests), ests


def test_spark_and_duckdb_share_one_minhash_family(spark):
    # The suite's DuckDB oracles run suite.pipeline.minhash_ctes; it must
    # give the Spark signatures and band buckets slot for slot.
    import duckdb

    from sqlitedataframe_spark.suite.pipeline import minhash_ctes

    words = [f"w{i}" for i in range(30)]
    docs = [
        (d, [" ".join(words[(d * 7 + k) % 30 : (d * 7 + k) % 30 + 3]) for k in range(d + 3)])
        for d in range(20)
    ]
    df = spark.createDataFrame(docs, "doc_id long, sh array<string>")
    sig = D.minhash_signatures(df, "doc_id", "sh").withColumnRenamed("doc_id", "_id")
    spark_sig = {r._id: list(r._sig) for r in sig.collect()}
    spark_band = {(r._id, r.band): r.bucket for r in D.minhash_band_table(sig).collect()}

    con = duckdb.connect()
    con.execute("CREATE TABLE src (doc_id BIGINT, s VARCHAR)")
    con.executemany(
        "INSERT INTO src VALUES (?, ?)", [(d, s) for d, sh in docs for s in set(sh)]
    )
    ctes = "WITH" + minhash_ctes("src")
    duck_sig: dict[int, list[int]] = {}
    for d, i, mh in con.sql(ctes + " SELECT doc_id, i, mh FROM sig ORDER BY doc_id, i").fetchall():
        duck_sig.setdefault(d, []).append(mh)
    duck_band = {
        (d, band): bucket
        for d, band, bucket in con.sql(ctes + " SELECT doc_id, band, bucket FROM banded").fetchall()
    }
    assert len(spark_sig) == 20 and all(len(v) == 64 for v in duck_sig.values())
    assert duck_sig == spark_sig
    assert duck_band == spark_band


# -- simhash ----------------------------------------------------------------
def test_simhash_identical_distance_zero(spark):
    t = "one two three four five six seven eight nine ten"
    df = spark.createDataFrame([(1, t), (2, t), (3, "other words here")], ["doc_id", "text"])
    pairs = D.simhash_pairs(df, max_hamming=3).collect()
    assert [(p.id_a, p.id_b, p.hamming) for p in pairs] == [(1, 2, 0)]


def test_hamming64(spark):
    df = spark.createDataFrame([(0b1011, 0b0010)], ["a", "b"])
    got = df.select(D.hamming64(F.col("a"), F.col("b")).alias("h")).collect()[0].h
    assert got == 2


# -- jaccard ----------------------------------------------------------------
def test_jaccard_tokens(spark):
    df = spark.createDataFrame([(["a", "b", "c"], ["b", "c", "d"])], ["x", "y"])
    got = df.select(D.jaccard_tokens(F.col("x"), F.col("y")).alias("j")).collect()[0].j
    assert abs(got - 2 / 4) < 1e-9


# -- dialect shims ----------------------------------------------------------
def test_glob_to_rlike():
    assert glob_to_rlike("abc") == "^abc$"
    assert glob_to_rlike("a*c") == "^a.*c$"
    assert glob_to_rlike("a?c") == "^a.c$"
    assert glob_to_rlike("[abc]*") == "^[abc].*$"
    assert glob_to_rlike("[!ab]x") == "^[^ab]x$"
    assert glob_to_rlike("a.c") == r"^a\.c$"


def test_sqlite_glob_matches(spark):
    df = spark.createDataFrame([("apple",), ("apricot",), ("banana",)], ["s"])
    got = sorted(r.s for r in df.filter(sqlite_glob("s", "ap*")).collect())
    assert got == ["apple", "apricot"]


def test_julianday_roundtrip(spark):
    df = spark.createDataFrame([("2021-06-01 12:00:00",)], ["s"])
    out = df.select(
        julianday(F.to_timestamp("s")).alias("jd"),
        from_julianday(julianday(F.to_timestamp("s"))).cast("string").alias("back"),
    ).collect()[0]
    # 2021-06-01T12:00Z is JD 2459367.0 exactly
    assert abs(out.jd - 2459367.0) < 1e-9
    assert out.back == "2021-06-01 12:00:00"


def test_strftime(spark):
    df = spark.createDataFrame([("2021-06-01 12:34:56",)], ["s"])
    got = df.select(
        strftime("%Y-%m-%d %H:%M:%S", F.to_timestamp("s")).alias("f")
    ).collect()[0].f
    assert got == "2021-06-01 12:34:56"
    quoted = df.select(strftime("%Y'%m", F.to_timestamp("s")).alias("f")).first().f
    assert quoted == "2021'06"


def test_group_concat(spark):
    df = spark.createDataFrame([(1, "b"), (1, "a"), (2, "c")], ["k", "v"])
    got = {
        r.k: r.g
        for r in df.groupBy("k").agg(group_concat("v", ",").alias("g")).collect()
    }
    assert got == {1: "a,b", 2: "c"}


# -- codecs (reference A17, IntThing example) -------------------------------
def test_codec_roundtrip(spark):
    codecs.register_codec(
        "hexint",
        decode=lambda s: int(s, 16) if s is not None else None,
        encode=lambda i: format(i, "x") if i is not None else None,
        spark_type="bigint",
        storage_type=StringType(),
    )
    df = spark.createDataFrame([("ff",), ("10",)], ["v"])
    dec = codecs.apply_decoders(df, {"v": "hexint"})
    assert [r.v for r in dec.collect()] == [255, 16]
    enc = codecs.apply_encoders(dec, {"v": "hexint"})
    assert [r.v for r in enc.collect()] == ["ff", "10"]


# -- text -------------------------------------------------------------------
def test_token_counts(spark):
    df = spark.createDataFrame([("The cat, sat on 42 mats!",)], ["text"])
    r = df.select(
        X.token_count_ws("text").alias("ws"),
        X.token_count_bpe("text").alias("bpe"),
        X.char_count("text").alias("ch"),
    ).collect()[0]
    assert r.ws == 6
    # [The][cat][,][sat][on][42][mats][!]
    assert r.bpe == 8
    assert r.ch == 24


def test_quality_and_langid(spark):
    en = "the cat is on the mat and it is a fine day in the sun of it all"
    df = spark.createDataFrame([(1, en), (2, "zzz qqq")], ["id", "text"])
    out = {r.id: (r.q, r.lang) for r in df.select(
        "id", X.quality_score("text").alias("q"), X.lang_id("text").alias("lang")
    ).collect()}
    assert out[1][1] == "en" and out[2][1] == "unknown"
    assert 0.0 <= out[2][0] <= out[1][0] <= 1.0


def test_multimodal_sha_and_features(spark):
    from sqlitedataframe_spark.operators.multimodal import attach_media, extract_features

    df = spark.createDataFrame([(1, "hello")], ["id", "text"])
    media = attach_media(df, "id", "text")
    r = media.collect()[0]
    assert r.n_bytes == 5
    assert r.sha256 == hashlib.sha256(b"hello").hexdigest()
    f = extract_features(media).collect()[0]
    assert (f.width, f.height, f.n_frames) == (5 % 640 + 1, 5 % 480 + 1, 5 % 30 + 1)


def test_multimodal_sample_frames(spark):
    from sqlitedataframe_spark.operators.multimodal import attach_media, sample_frames

    text = "x" * 40  # 40 bytes -> n_frames = 40 % 30 + 1 = 11, width = 3
    df = spark.createDataFrame([(7, text)], ["id", "text"])
    rows = sample_frames(attach_media(df, "id", "text"), every_n=5, max_frames=4).collect()
    assert [(r.media_id, r.frame_idx) for r in rows] == [(7, 0), (7, 5), (7, 10)]
    assert all(len(bytes(r.frame_bytes)) == 3 for r in rows)


# -- scale-safe rowid -------------------------------------------------------
def test_with_rowid_matches_global_order(spark):
    from sqlitedataframe_spark.operators.relational import with_rowid

    # Multi-partition frame with ties in a prefix of the order key: rowids
    # must be exactly 1..N following the total order.
    rows = [(i % 7, i, f"v{i}") for i in range(1000)]
    df = spark.createDataFrame(rows, ["grp", "seq", "v"]).repartition(8)
    got = with_rowid(df, "grp", "seq").select("rowid", "grp", "seq").collect()
    expect = sorted(rows, key=lambda r: (r[0], r[1]))
    assert sorted(r.rowid for r in got) == list(range(1, 1001))
    by_rowid = {r.rowid: (r.grp, r.seq) for r in got}
    for i, (g, s, _) in enumerate(expect, start=1):
        assert by_rowid[i] == (g, s)


def test_with_rowid_empty_frame(spark):
    from sqlitedataframe_spark.operators.relational import with_rowid

    df = spark.createDataFrame([], "a int, b string")
    assert with_rowid(df, "a").count() == 0


# -- bucketed global range frame --------------------------------------------
def test_global_range_frame_matches_bruteforce(spark):
    from sqlitedataframe_spark.operators.windows import global_range_frame

    import random

    rng = random.Random(42)
    vals = [round(rng.uniform(-1000, 1000), 2) for _ in range(500)]
    df = spark.createDataFrame([(i, v) for i, v in enumerate(vals)], ["id", "val"])
    got = {
        r.id: (r.peers, r.tot)
        for r in global_range_frame(
            df,
            "val",
            -75,
            30,  # asymmetric bounds
            {
                "peers": lambda w: F.count(F.lit(1)).over(w),
                "tot": lambda w: F.round(F.sum("val").over(w), 2),
            },
        ).collect()
    }
    for i, v in enumerate(vals):
        frame = [u for u in vals if v - 75 <= u <= v + 30]
        assert got[i][0] == len(frame), (i, v)
        assert abs(got[i][1] - round(sum(frame), 2)) < 1e-6, (i, v)


def test_global_range_frame_rejects_degenerate(spark):
    from sqlitedataframe_spark.operators.windows import global_range_frame

    import pytest

    df = spark.createDataFrame([(1, 1.0)], ["id", "val"])
    with pytest.raises(ValueError):
        global_range_frame(df, "val", 0, 0, {"c": lambda w: F.count(F.lit(1)).over(w)})
    with pytest.raises(ValueError):
        global_range_frame(df, "val", -1, 1, {})


def test_dedup_exact_null_keys_kept(spark):
    """NULL dedup keys must group together and keep their min-id
    representative, not vanish (ADVICE r1: semi-join dropped NULL-keyed
    rows via non-null-safe equality)."""
    from sqlitedataframe_spark.operators import dedup as D

    df = spark.createDataFrame(
        [(1, "a"), (2, None), (3, None), (4, "a"), (5, None)],
        ["id", "v"],
    )
    kept = sorted(r.id for r in D.dedup_exact(df, ["v"], "id").collect())
    assert kept == [1, 2]


def test_spread_avoids_rdd_probe(spark):
    """spread() must not touch df.rdd (RDD bridge materialization)."""
    from sqlitedataframe_spark.operators.util import spread
    from pyspark.sql import DataFrame as DF

    df = spark.range(10).withColumnRenamed("id", "k")
    import unittest.mock as mock

    with mock.patch.object(
        DF, "rdd", property(lambda self: (_ for _ in ()).throw(AssertionError("rdd touched")))
    ):
        out = spread(df, "k")
    assert out.count() == 10


def test_groups_frame_matches_bruteforce(spark):
    from sqlitedataframe_spark.operators.windows import groups_frame

    import random

    rng = random.Random(7)
    # many ties (order key 0..5) and some NULL values
    rows = [
        (i, i % 3, rng.randint(0, 5), None if i % 11 == 0 else float(rng.randint(1, 9)))
        for i in range(300)
    ]
    df = spark.createDataFrame(rows, ["id", "p", "o", "v"])

    def brute(exclude, agg, lo, hi):
        out = {}
        for i, p, o, v in rows:
            peers = [r for r in rows if r[1] == p]
            dr = sorted({r[2] for r in peers})
            g = dr.index(o) + 1
            frame = [r for r in peers if g + lo <= dr.index(r[2]) + 1 <= g + hi]
            if exclude == "current row":
                frame = [r for r in frame if r[0] != i]
            elif exclude == "group":
                frame = [r for r in frame if r[2] != o]
            elif exclude == "ties":
                frame = [r for r in frame if r[2] == o and r[0] == i or r[2] != o]
            vals = [r[3] for r in frame if r[3] is not None]
            if agg == "sum":
                out[i] = sum(vals) if vals else None
            elif agg == "count":
                out[i] = len(vals)
            elif agg == "avg":
                out[i] = sum(vals) / len(vals) if vals else None
            elif agg == "min":
                out[i] = min(vals) if vals else None
            else:
                out[i] = max(vals) if vals else None
        return out

    cases = [
        ("no others", "sum", -1, 1),
        ("current row", "sum", -1, 1),
        ("group", "avg", -2, 0),
        ("ties", "count", 0, 2),
        ("no others", "min", -1, 1),
        ("no others", "max", -1, 0),
    ]
    for exclude, agg, lo, hi in cases:
        got = {
            r.id: r.res
            for r in groups_frame(
                df, ["p"], "o", lo, hi, agg, "v", "res", exclude=exclude
            ).collect()
        }
        exp = brute(exclude, agg, lo, hi)
        for i in got:
            if exp[i] is None:
                assert got[i] is None, (exclude, agg, i)
            else:
                assert got[i] is not None and abs(got[i] - exp[i]) < 1e-9, (
                    exclude, agg, i, got[i], exp[i],
                )


def test_groups_frame_rejects_bad_args(spark):
    from sqlitedataframe_spark.operators.windows import groups_frame

    import pytest

    df = spark.createDataFrame([(1, 1, 1.0)], ["p", "o", "v"])
    with pytest.raises(ValueError):
        groups_frame(df, ["p"], "o", -1, 1, "median", "v", "x")
    with pytest.raises(ValueError):
        groups_frame(df, ["p"], "o", -1, 1, "sum", "v", "x", exclude="everything")
    # min/max + EXCLUDE is supported since r2 (prefix/suffix decomposition):
    # a single-row frame excluding its own group has nothing left -> NULL
    (row,) = groups_frame(df, ["p"], "o", -1, 1, "min", "v", "x", exclude="ties").collect()
    assert row.x == 1.0  # ties-excluded frame keeps the current row itself


def test_groups_frames_multi_spec_single_pass(spark):
    """Multiple specs share one dense_rank + one group-level pass + one
    join; results must equal the one-at-a-time calls."""
    from sqlitedataframe_spark.operators.windows import groups_frame, groups_frames
    from sqlitedataframe_spark.plans import scan_count

    df = spark.createDataFrame(
        [(i, i % 2, i % 4, float(i)) for i in range(40)], ["id", "p", "o", "v"]
    )
    multi = groups_frames(
        df,
        ["p"],
        "o",
        [
            (-1, 1, "sum", "v", "s", "no others"),
            (0, 0, "count", "v", "c", "ties"),
        ],
    )
    lone_s = groups_frame(df, ["p"], "o", -1, 1, "sum", "v", "s")
    lone_c = groups_frame(df, ["p"], "o", 0, 0, "count", "v", "c", exclude="ties")
    got = {r.id: (r.s, r.c) for r in multi.collect()}
    exp_s = {r.id: r.s for r in lone_s.collect()}
    exp_c = {r.id: r.c for r in lone_c.collect()}
    assert got == {i: (exp_s[i], exp_c[i]) for i in got}


def test_groups_frame_matches_sqlite_reference(spark):
    """groups_frames vs the REFERENCE engine itself: SQLite's native GROUPS
    window frames with every EXCLUDE mode, including min/max (prefix/suffix
    decomposition) and frames that do not cover the current group (EXCLUDE
    is pure removal — SQLite semantics; DuckDB's RANGE+EXCLUDE differs
    there and is NOT the parity target)."""
    import random
    import sqlite3

    from pyspark.sql import Row

    from sqlitedataframe_spark.operators.windows import groups_frames

    random.seed(7)
    rows = [
        Row(
            p=i % 2,
            o=random.randint(0, 5),
            v=None if random.random() < 0.2 else float(random.randint(0, 9)),
            rid=i,
        )
        for i in range(60)
    ]
    df = spark.createDataFrame(rows)
    con = sqlite3.connect(":memory:")
    con.execute("CREATE TABLE t (rid INT, p INT, o INT, v REAL)")
    con.executemany(
        "INSERT INTO t VALUES (?,?,?,?)", [(r.rid, r.p, r.o, r.v) for r in rows]
    )

    def bound(n):
        if n < 0:
            return f"{abs(n)} PRECEDING"
        return "CURRENT ROW" if n == 0 else f"{n} FOLLOWING"

    cases = [
        (agg, excl, sqlx, lo, up)
        for agg in ("min", "max", "sum", "count", "avg")
        for excl, sqlx in [
            ("group", "EXCLUDE GROUP"),
            ("ties", "EXCLUDE TIES"),
            ("current row", "EXCLUDE CURRENT ROW"),
            ("no others", ""),
        ]
        for lo, up in [(-1, 1), (1, 2), (-2, -1)]  # covering + both-sided gaps
    ]
    # r13: all 60 cases evaluated in ONE multi-spec groups_frames pass
    # (the single-pass capability test_groups_frames_multi_spec_single_pass
    # pins) instead of 60 separate Spark jobs — same cases, same
    # assertions, ~10x less wall (this was the test suite's #2 offender
    # and part of why the driver's pytest window timed out in r12).
    specs = [
        (lo, up, agg, "v", f"res_{i}", excl)
        for i, (agg, excl, sqlx, lo, up) in enumerate(cases)
    ]
    got_rows = {
        r.rid: r for r in groups_frames(df, ["p"], "o", specs).collect()
    }
    for i, (agg, excl, sqlx, lo, up) in enumerate(cases):
        fn = "COUNT" if agg == "count" else agg.upper()
        want = dict(
            con.execute(
                f"SELECT rid, {fn}(v) OVER (PARTITION BY p ORDER BY o "
                f"GROUPS BETWEEN {bound(lo)} AND {bound(up)} {sqlx}) FROM t"
            ).fetchall()
        )
        for k, w in want.items():
            g = got_rows[k][f"res_{i}"]
            if g is None and w is None:
                continue
            assert g is not None and w is not None and abs(g - w) < 1e-9, (
                f"{agg} {excl} ({lo},{up}) rid={k}: got {g}, sqlite {w}"
            )


def test_ngram_set_edges(spark):
    df = spark.createDataFrame(
        [("a b c d e",), ("a b",), ("a b c a b c",)], ["text"]
    )
    rows = df.select(X.ngram_set("text", 3).alias("g")).collect()
    assert rows[0].g == ["a b c", "b c d", "c d e"]
    assert rows[1].g == []  # shorter than n: no partial grams
    # duplicates collapse (array_distinct)
    assert sorted(rows[2].g) == sorted(["a b c", "b c a", "c a b"])


def test_ngram_contamination_counts(spark):
    train = spark.createDataFrame(
        [(1, "w x y z q"), (2, "no overlap here at all"), (3, "w x y z w x y z")],
        ["doc_id", "text"],
    )
    test = spark.createDataFrame([(100, "p p w x y z p")], ["doc_id", "text"])
    got = {
        r.doc_id: r.n_shared_grams
        for r in X.ngram_contamination(train, test, n=4).collect()
    }
    # test grams (distinct): {"p p w x","p w x y","w x y z","x y z p"}
    # doc1 grams: {"w x y z","x y z q"} -> 1 shared
    # doc3 grams: {"w x y z","x y z w","y z w x","z w x y"} -> 1 shared
    assert got == {1: 1, 3: 1}


def test_repetition_fold_matches_counter(spark):
    """The sorted-run fold must equal the brute-force per-doc gram count
    (Counter) for adversarial token patterns: all-same, all-distinct,
    interleaved repeats, shorter-than-n."""
    from collections import Counter

    docs = [
        "a a a a a a",                # one gram repeated
        "a b c d e f g",              # all distinct
        "a b a b a b a b",            # interleaved: "a b a" x3, "b a b" x3
        "x y",                        # shorter than n=3: one whole-text gram
        "q q q w q q q w q q q",      # runs with separators
    ]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(docs)], ["doc_id", "text"])
    got = {r.id: (r.n_grams, r.top_count) for r in X.repetition_stats(df, n=3).collect()}
    for i, t in enumerate(docs):
        toks = t.split()
        if len(toks) < 3:
            grams = [" ".join(toks)]
        else:
            grams = [" ".join(toks[j : j + 3]) for j in range(len(toks) - 2)]
        c = Counter(grams)
        assert got[i] == (len(grams), max(c.values())), (i, t, got[i], c)
