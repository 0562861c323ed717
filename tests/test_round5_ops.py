"""Round-5 operators: BM25 retrieval, vocabulary OOV coverage, curriculum
quantile buckets."""

from __future__ import annotations

import math

from pyspark.sql import functions as F


def test_bm25_hand_checked(spark):
    """3-doc corpus, 1-term query — verify the closed form by hand:
    idf = ln((N - df + 0.5)/(df + 0.5) + 1), score = idf*tf*(k1+1)/
    (tf + k1*(1 - b + b*dl/avgdl))."""
    from sqlitedataframe_spark.operators.text import bm25_topk

    df = spark.createDataFrame(
        [
            (1, "spark spark fast"),          # tf=2, dl=3
            (2, "slow engine"),               # tf=0 -> dropped
            (3, "spark"),                     # tf=1, dl=1
        ],
        ["doc_id", "text"],
    )
    rows = {r["doc_id"]: r["bm25"] for r in bm25_topk(df, ["spark"], k=10).collect()}
    assert set(rows) == {1, 3}
    n, dfreq, avgdl, k1, b = 3, 2, 2.0, 1.2, 0.75
    idf = math.log((n - dfreq + 0.5) / (dfreq + 0.5) + 1.0)
    s1 = idf * 2 * 2.2 / (2 + k1 * (1 - b + b * 3 / avgdl))
    s3 = idf * 1 * 2.2 / (1 + k1 * (1 - b + b * 1 / avgdl))
    assert rows[1] == round(s1, 6)
    assert rows[3] == round(s3, 6)


def test_bm25_topk_order_and_limit(spark):
    from sqlitedataframe_spark.operators.text import bm25_topk

    df = spark.createDataFrame(
        [(i, "term " + "pad " * (i % 5)) for i in range(30)], ["doc_id", "text"]
    )
    rows = bm25_topk(df, ["term"], k=7).collect()
    assert len(rows) == 7
    scores = [r["bm25"] for r in rows]
    assert scores == sorted(scores, reverse=True)
    # equal scores tie-break ascending by id
    for a, b2 in zip(rows, rows[1:]):
        if a["bm25"] == b2["bm25"]:
            assert a["doc_id"] < b2["doc_id"]


def test_vocab_oov_known_split(spark):
    """vocab_size=2 -> the two most frequent tokens are in-vocab; every
    other token is OOV at an exactly computable rate."""
    from sqlitedataframe_spark.operators.text import vocab_oov_stats

    df = spark.createDataFrame(
        [
            ("a", "top top top second second rare1"),   # 1/6 oov
            ("b", "top second"),                        # 0/2
            ("b", "rare2 rare3"),                       # 2/2
        ],
        ["source", "text"],
    )
    rows = {
        r["source"]: r
        for r in vocab_oov_stats(df, group_col="source", vocab_size=2).collect()
    }
    assert rows["a"]["n_docs"] == 1
    assert rows["a"]["avg_oov_rate"] == round(1 / 6, 6)
    assert rows["b"]["n_docs"] == 2
    assert rows["b"]["avg_oov_rate"] == 0.5  # mean(0, 1)


def test_curriculum_equal_buckets(spark):
    """1000 distinct uniform scores -> 4 buckets of 250."""
    from sqlitedataframe_spark.operators.sampling import curriculum_buckets

    df = spark.range(1000).select(
        F.col("id"), (F.col("id") / 1000.0).alias("q")
    )
    rows = curriculum_buckets(df, "q", n_buckets=4).collect()
    assert [r["bucket"] for r in rows] == [1, 2, 3, 4]
    assert [r["n_rows"] for r in rows] == [250, 250, 250, 250]


def test_curriculum_no_global_window(spark):
    from sqlitedataframe_spark.operators.sampling import curriculum_buckets
    from sqlitedataframe_spark.plans import global_window_count

    df = spark.range(100).select(F.col("id"), (F.col("id") % 13).alias("q"))
    assert global_window_count(curriculum_buckets(df, "q")) == 0


def test_compact_small_files_reduces_count_preserves_content(spark, tmp_path):
    """48 tiny files -> few size-targeted files; rows and content
    identical (the filesystem half of source_compact_small_files, which
    the SQL oracle can't see)."""
    from sqlitedataframe_spark.operators.layout import compact_small_files

    src, dst = str(tmp_path / "src"), str(tmp_path / "dst")
    df = spark.range(10_000).selectExpr("id", "repeat('x', 50) as pad")
    df.repartition(48).write.mode("overwrite").parquet(src)
    n_src = len(spark.read.parquet(src).inputFiles())
    out = compact_small_files(spark, src, dst, target_bytes=64 << 20)
    n_dst = len(out.inputFiles())
    assert n_src >= 40 and n_dst < n_src / 4, (n_src, n_dst)
    assert out.count() == 10_000
    assert out.exceptAll(df).count() == 0 and df.exceptAll(out).count() == 0


def test_session_item_pairs_hand_checked(spark):
    """One user's stream a b c a: lookahead-2 pairs are (a,b),(a,c),
    (b,c),(b,a),(c,a); a second user's isolated stream never crosses."""
    from sqlitedataframe_spark.operators.mining import session_item_pairs

    rows = [
        (1, 1, "a"), (1, 2, "b"), (1, 3, "c"), (1, 4, "a"),
        (2, 1, "z"), (2, 2, "z"),
    ]
    df = spark.createDataFrame(rows, ["user_id", "event_id", "event_type"])
    got = {
        (r["a"], r["b"]): r["n"]
        for r in session_item_pairs(
            df, "user_id", ["event_id"], "event_type", lookahead=2, k=50
        ).collect()
    }
    assert got == {
        ("a", "b"): 1, ("a", "c"): 1, ("b", "c"): 1, ("b", "a"): 1,
        ("c", "a"): 1, ("z", "z"): 1,
    }


def test_token_entropy_hand_checked(spark):
    """'a a b b' -> ln 2; 'a a a a' -> 0; 'a b c d' -> ln 4."""
    import math

    from sqlitedataframe_spark.operators.text import token_entropy

    df = spark.createDataFrame(
        [(1, "a a b b"), (2, "a a a a"), (3, "a b c d")], ["i", "text"]
    )
    got = {
        r["i"]: round(r["h"], 9)
        for r in df.select("i", token_entropy("text").alias("h")).collect()
    }
    assert got[1] == round(math.log(2), 9)
    assert got[2] == 0.0
    assert got[3] == round(math.log(4), 9)


def test_rfm_segments_shape(spark):
    """8 customers engineered into distinct quartiles: recency inversion
    holds (most recent + most orders + most spend -> 444) and counts sum
    to the customer count."""
    import datetime as dt

    from sqlitedataframe_spark.operators.profiling import rfm_segments

    rows = []
    base = dt.datetime(2024, 1, 1)
    for c in range(8):
        for o in range(c + 1):  # customer c has c+1 orders
            rows.append(
                (c * 100 + o, c, base + dt.timedelta(days=10 * c + o),
                 100.0 * (c + 1))
            )
    df = spark.createDataFrame(
        rows, ["o_orderkey", "o_custkey", "o_orderdate", "o_totalprice"]
    )
    out = {r["rfm"]: r["n_customers"] for r in rfm_segments(df).collect()}
    assert sum(out.values()) == 8
    assert out.get(444) == 2  # customers 6 and 7: latest, most, biggest
    assert min(out) >= 111 and max(out) <= 444


def test_activity_streaks_hand_checked(spark):
    """User 1: days 1-3 then 5 -> streaks (3, 1); user 2: one day."""
    import datetime as dt

    from sqlitedataframe_spark.operators.relational import activity_streaks

    base = dt.datetime(2024, 3, 1, 12, 0)
    rows = [
        (1, base), (1, base + dt.timedelta(hours=1)),  # same day dedups
        (1, base + dt.timedelta(days=1)), (1, base + dt.timedelta(days=2)),
        (1, base + dt.timedelta(days=4)),
        (2, base),
    ]
    df = spark.createDataFrame(rows, ["user_id", "ts"])
    got = sorted(
        (r["user"], r["streak_days"], str(r["streak_start"]))
        for r in activity_streaks(df, "user_id", "ts").collect()
    )
    assert got == [
        (1, 1, "2024-03-05"), (1, 3, "2024-03-01"), (2, 1, "2024-03-01")
    ]


def test_minhash_audience_identical_and_disjoint(spark):
    """Identical member sets -> est_jaccard 1.0; disjoint sets -> ~0;
    half-overlapping sets (true Jaccard 0.5) -> an estimate near 0.5, which
    only a working hash family gives."""
    from sqlitedataframe_spark.operators.sketch import (
        minhash_overlap_pairs,
        minhash_set_signatures,
    )

    rows = (
        [("a", u) for u in range(50)]
        + [("b", u) for u in range(50)]
        + [("c", u) for u in range(1000, 1050)]
        # 40 shared of 80 members
        + [("d", u) for u in range(2000, 2060)]
        + [("e", u) for u in range(2020, 2080)]
    )
    df = spark.createDataFrame(rows, ["seg", "member"])
    sigs = minhash_set_signatures(df, "seg", "member")
    got = {
        (r["grp_a"], r["grp_b"]): r["est_jaccard"]
        for r in minhash_overlap_pairs(sigs).collect()
    }
    assert got[("a", "b")] == 1.0
    assert got[("a", "c")] < 0.2 and got[("b", "c")] < 0.2
    assert 0.25 <= got[("d", "e")] <= 0.75, got[("d", "e")]
