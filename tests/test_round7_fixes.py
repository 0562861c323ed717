"""Round-7 fixes: the five ADVICE r6 findings plus the two automatic
skew guards from VERDICT r6 task #1 (blocked_levenshtein_pairs in-block
salt cap, neighbor_jaccard hub-degree cap)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from sqlitedataframe_spark.operators.graph import neighbor_jaccard
from sqlitedataframe_spark.operators.linkage import (
    blocked_levenshtein_pairs,
    blocked_pair_budget,
)


# ---------------------------------------------------------------------------
# ADVICE r6 (medium): neighbor_jaccard input hygiene
# ---------------------------------------------------------------------------
def _nj_rows(spark, edges, **kw):
    df = spark.createDataFrame(edges, ["src", "dst"])
    return sorted(
        (r["u"], r["v"], r["cn"], r["deg_u"], r["deg_v"], r["jaccard"])
        for r in neighbor_jaccard(df, **kw).collect()
    )


def test_neighbor_jaccard_orientation_invariant(spark):
    """An edge stored (hi, lo) must behave exactly like (lo, hi): same
    degrees, same predictions, and it must be excluded as a known edge."""
    base = [(1, 2), (2, 3), (3, 4), (1, 4), (1, 3)]
    flipped = [(2, 1), (2, 3), (4, 3), (1, 4), (3, 1)]
    assert _nj_rows(spark, base) == _nj_rows(spark, flipped)


def test_neighbor_jaccard_dup_and_self_loops_ignored(spark):
    """Duplicate edges, bidirectional storage, and self-loops must not
    inflate degrees or common-neighbor counts."""
    clean = [(1, 2), (2, 3), (3, 4), (1, 4)]
    dirty = clean + [(2, 1), (2, 3), (3, 3), (1, 1), (4, 3)]
    assert _nj_rows(spark, clean) == _nj_rows(spark, dirty)


def test_neighbor_jaccard_square_unchanged(spark):
    """The r6 fixture still scores the two diagonals of a 4-cycle."""
    rows = _nj_rows(spark, [(1, 2), (2, 3), (3, 4), (4, 1)])
    assert rows == [
        (1, 3, 2, 2, 2, 1.0),
        (2, 4, 2, 2, 2, 1.0),
    ]


# ---------------------------------------------------------------------------
# VERDICT r6 #1: neighbor_jaccard hub-degree cap
# ---------------------------------------------------------------------------
def test_neighbor_jaccard_hub_cap_drops_hub_wedges(spark):
    """A star hub (vertex 0 connected to 1..6) emits deg^2 wedges; with
    the cap below the hub degree, pairs whose only shared neighbor is
    the hub disappear, while pairs sharing a low-degree neighbor stay."""
    hub = [(0, i) for i in range(1, 7)]
    # 1 and 2 also share low-degree vertex 9
    extra = [(1, 9), (2, 9)]
    uncapped = _nj_rows(spark, hub + extra, max_center_degree=None)
    capped = _nj_rows(spark, hub + extra, max_center_degree=5)
    pairs_capped = {(u, v) for u, v, *_ in capped}
    pairs_uncapped = {(u, v) for u, v, *_ in uncapped}
    assert (1, 2) in pairs_capped  # survives via vertex 9
    assert (3, 4) in pairs_uncapped and (3, 4) not in pairs_capped
    # true degrees are never capped: deg(1) = 2 in both
    deg1 = {r[3] for r in capped if r[0] == 1}
    assert deg1 == {2}


def test_neighbor_jaccard_default_cap_is_noop_small(spark):
    edges = [(1, 2), (2, 3), (3, 4), (4, 1), (1, 5)]
    assert _nj_rows(spark, edges) == _nj_rows(spark, edges, max_center_degree=None)


def test_neighbor_jaccard_hub_cap_flat_at_scale(spark):
    """The skew scale check: wedge output through a hot hub grows
    quadratically uncapped and is eliminated capped. Counted, not timed
    (pair count IS the cost driver; wall clock is noise-bound here)."""
    n = 400
    star = spark.range(1, n + 1).select(
        F.lit(0).cast("long").alias("src"), F.col("id").alias("dst")
    )
    uncapped = neighbor_jaccard(star, top_k=10**9, max_center_degree=None)
    capped = neighbor_jaccard(star, top_k=10**9, max_center_degree=100)
    assert uncapped.count() == n * (n - 1) // 2
    assert capped.count() == 0


def test_top_k_above_threshold_plans_sort_and_limit(spark):
    """A limit above spark.sql.execution.topKSortFallbackThreshold (set by
    session.tune) plans a sort and a limit. TakeOrderedAndProject would
    hold 2·k slots per task, so top_k=10**9 above ran the heap out. The
    explode hides the row count, so the optimizer keeps the limit.

    get_spark leaves every runtime knob to tune; the session still has
    tune's values of the confs the builder no longer sets."""
    from sqlitedataframe_spark.session import BROADCAST_THRESHOLD

    assert {
        k: spark.conf.get(k)
        for k in (
            "spark.sql.session.timeZone",
            "spark.sql.adaptive.enabled",
            "spark.sql.adaptive.coalescePartitions.enabled",
            "spark.sql.adaptive.skewJoin.enabled",
            "spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.python.filterPushdown.enabled",
        )
    } == {
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.autoBroadcastJoinThreshold": BROADCAST_THRESHOLD,
        "spark.sql.python.filterPushdown.enabled": "true",
    }
    df = spark.range(20).select(F.explode(F.sequence(F.lit(0), F.col("id"))).alias("x"))

    def plan(k):
        return df.orderBy("x").limit(k)._jdf.queryExecution().executedPlan().toString()

    assert "TakeOrderedAndProject" in plan(10)
    assert "TakeOrderedAndProject" not in plan(10**9)
    assert df.orderBy("x").limit(10**9).count() == 210


# ---------------------------------------------------------------------------
# VERDICT r6 #1: blocked_levenshtein_pairs automatic in-block salt cap
# ---------------------------------------------------------------------------
def _lev_df(spark, rows):
    return spark.createDataFrame(rows, ["id", "name", "grp"])


def test_blocked_levenshtein_cap_noop_under_threshold(spark):
    """Blocks at or under max_block: n_sub = 1, salt 0 everywhere — the
    result is bit-identical with the guard on or off."""
    rows = [(i, f"widget number {i % 7}", "g") for i in range(50)] + [
        (100 + i, f"gadget item {i}", "h") for i in range(30)
    ]
    df = _lev_df(spark, rows)
    on = sorted(
        map(tuple, blocked_levenshtein_pairs(df, "id", "name", ["grp"], 3).collect())
    )
    off = sorted(
        map(
            tuple,
            blocked_levenshtein_pairs(
                df, "id", "name", ["grp"], 3, max_block=None
            ).collect(),
        )
    )
    assert on == off and len(on) > 0


def test_blocked_levenshtein_cap_engages_on_hot_block(spark):
    """A hot block above max_block is sub-split: every surviving pair has
    equal salt, the pair count drops below the uncapped count, and no
    pair outside the hot block is affected."""
    hot = [(i, f"same text {i % 3}", "hot") for i in range(300)]
    cold = [(1000, "alpha beta", "cold"), (1001, "alpha betb", "cold")]
    df = _lev_df(spark, hot + cold)
    capped = blocked_levenshtein_pairs(
        df, "id", "name", ["grp"], 3, max_block=50
    ).collect()
    uncapped = blocked_levenshtein_pairs(
        df, "id", "name", ["grp"], 3, max_block=None
    ).collect()
    assert {(r["id_a"], r["id_b"]) for r in capped if r["id_a"] >= 1000} == {
        (1000, 1001)
    }
    n_hot_capped = sum(1 for r in capped if r["id_a"] < 1000)
    n_hot_uncapped = sum(1 for r in uncapped if r["id_a"] < 1000)
    assert 0 < n_hot_capped < n_hot_uncapped
    # capped pairs are a SUBSET of uncapped pairs (the guard only removes)
    assert {(r["id_a"], r["id_b"]) for r in capped} <= {
        (r["id_a"], r["id_b"]) for r in uncapped
    }


def test_blocked_levenshtein_cap_bounds_quadratic(spark):
    """Skew scale check (counted): a block of n identical strings emits
    n(n-1)/2 pairs uncapped; with max_block=m the emission is bounded by
    ~n*m/2 — linear in n — so doubling n roughly doubles (not quadruples)
    the capped output."""
    def n_pairs(n, cap):
        df = _lev_df(spark, [(i, "constant text", "g") for i in range(n)])
        return blocked_levenshtein_pairs(
            df, "id", "name", ["grp"], 1, max_block=cap
        ).count()

    raw_1k = n_pairs(1000, None)
    assert raw_1k == 1000 * 999 // 2
    capped_1k = n_pairs(1000, 100)
    capped_2k = n_pairs(2000, 100)
    assert capped_1k <= 1000 * 110  # ~n * max_block/2 with hash imbalance slack
    assert capped_2k < capped_1k * 3  # linear-ish, not 4x


def test_blocked_pair_budget_reports_forgone(spark):
    df = _lev_df(spark, [(i, "x", "hot") for i in range(250)] + [(900, "y", "cold")])
    rows = {r["_bk0"]: r for r in blocked_pair_budget(df, ["grp"], max_block=100).collect()}
    hot = rows["hot"]
    assert hot["block_n"] == 250 and hot["n_sub"] == 3
    assert hot["raw_pairs"] == 250 * 249 // 2
    assert 0 < hot["capped_pairs"] < hot["raw_pairs"]
    assert hot["pairs_forgone"] == hot["raw_pairs"] - hot["capped_pairs"]
    assert rows["cold"]["n_sub"] == 1 and rows["cold"]["pairs_forgone"] == 0


def test_blocked_levenshtein_invalid_cap_raises(spark):
    df = _lev_df(spark, [(1, "a", "g")])
    with pytest.raises(ValueError, match="max_block"):
        blocked_levenshtein_pairs(df, "id", "name", ["grp"], 1, max_block=0)


# ---------------------------------------------------------------------------
# ADVICE r6 (low): rolling_percentile_daily pct validation
# ---------------------------------------------------------------------------
def test_rolling_percentile_validates_pct(spark, sf_dir):
    from sqlitedataframe_spark.io import load_table
    from sqlitedataframe_spark.operators.relational import rolling_percentile_daily

    ev = load_table(spark, sf_dir, "events")
    for bad in (0.0, -0.5, 1.5):
        with pytest.raises(ValueError, match="pct"):
            rolling_percentile_daily(ev, "ts", pct=bad)
    with pytest.raises(ValueError, match="window_days"):
        rolling_percentile_daily(ev, "ts", window_days=0)
    assert rolling_percentile_daily(ev, "ts", pct=1.0).count() > 0


# ---------------------------------------------------------------------------
# ADVICE r6 (low): minhash_lsh_pairs validates an injected signature table
# ---------------------------------------------------------------------------
def test_minhash_injected_sig_length_guard(spark, sf_dir):
    from sqlitedataframe_spark.io import load_table
    from sqlitedataframe_spark.operators.dedup import (
        minhash_lsh_pairs,
        minhash_signature_table,
    )

    docs = load_table(spark, sf_dir, "documents").limit(40)
    sig32 = minhash_signature_table(docs, n_hashes=32)
    # matching params: accepted
    ok = minhash_lsh_pairs(docs, n_hashes=32, bands=8, sig=sig32)
    ok.collect()
    # mismatched n_hashes: loud runtime error, not silent wrong banding.
    # Under AQE with concurrent task failures Spark may wrap the
    # USER_RAISED_EXCEPTION in a stage-materialization Py4JJavaError, so
    # match the message, not the exception class.
    bad = minhash_lsh_pairs(docs, n_hashes=64, bands=16, sig=sig32)
    with pytest.raises(Exception, match="n_hashes"):
        bad.collect()


def test_minhash_injected_band_table_guard(spark, sf_dir):
    """An injected band table built with more bands than the call's fails
    loudly, as a mismatched ``sig=`` does, instead of pairing wrong."""
    from sqlitedataframe_spark.io import load_table
    from sqlitedataframe_spark.operators.dedup import (
        minhash_band_table,
        minhash_lsh_pairs,
        minhash_signature_table,
    )

    docs = load_table(spark, sf_dir, "documents").limit(40)
    sig32 = minhash_signature_table(docs, n_hashes=32)
    ok = minhash_lsh_pairs(
        docs, n_hashes=32, bands=8, sig=sig32, banded=minhash_band_table(sig32, 32, 8)
    )
    ok.collect()
    bad = minhash_lsh_pairs(
        docs, n_hashes=32, bands=8, sig=sig32, banded=minhash_band_table(sig32, 32, 16)
    )
    with pytest.raises(Exception, match="injected band"):
        bad.collect()


# ---------------------------------------------------------------------------
# ADVICE r6 (low): perplexity_heldout supports string doc ids
# ---------------------------------------------------------------------------
def test_perplexity_heldout_string_ids(spark, sf_dir):
    from sqlitedataframe_spark.io import load_table
    from sqlitedataframe_spark.operators.text import perplexity_heldout

    docs = load_table(spark, sf_dir, "documents")
    numeric = perplexity_heldout(docs).collect()
    assert len(numeric) > 0 and all(r["perplexity"] > 0 for r in numeric)
    as_str = docs.withColumn("doc_id", F.concat(F.lit("doc-"), F.col("doc_id")))
    strres = perplexity_heldout(as_str).collect()
    assert len(strres) > 0 and all(r["perplexity"] > 0 for r in strres)


def test_perplexity_heldout_numeric_path_unchanged(spark, sf_dir):
    """The numeric-id split stays `id % holdout_mod` (the committed oracle
    contract): doc 0, 5, 10... land in the held-out slice."""
    from sqlitedataframe_spark.io import load_table
    from sqlitedataframe_spark.operators.text import perplexity_heldout

    docs = load_table(spark, sf_dir, "documents")
    r1 = sorted(map(tuple, perplexity_heldout(docs, holdout_mod=5).collect()))
    r2 = sorted(map(tuple, perplexity_heldout(docs, holdout_mod=5).collect()))
    assert r1 == r2 and len(r1) > 0


# ---------------------------------------------------------------------------
# ADVICE r6 (low): CAST-type rewrite anchored to a real CAST(
# ---------------------------------------------------------------------------
def test_cast_rewrite_skips_subquery_tail_alias():
    from sqlitedataframe_spark.functions.sql_rewrite import translate_sqlite_sql

    assert "AS int)" in translate_sqlite_sql("SELECT * FROM (SELECT 1 AS int)")
    assert "AS text)" in translate_sqlite_sql("SELECT * FROM (SELECT 'a' AS text)")


def test_cast_rewrite_still_rewrites_real_casts():
    from sqlitedataframe_spark.functions.sql_rewrite import translate_sqlite_sql

    out = translate_sqlite_sql("SELECT CAST(x AS INTEGER), CAST(y AS TEXT) FROM t")
    assert "AS BIGINT)" in out and "AS STRING)" in out
    # whitespace between CAST and ( is legal SQLite
    out2 = translate_sqlite_sql("SELECT CAST (x AS REAL) FROM t")
    assert "AS DOUBLE)" in out2


def test_cast_rewrite_nested_subquery_inside_cast():
    from sqlitedataframe_spark.functions.sql_rewrite import translate_sqlite_sql

    out = translate_sqlite_sql("SELECT CAST((SELECT 1 AS int) AS TEXT)")
    assert "AS int)" in out  # inner alias untouched
    assert "AS STRING)" in out  # outer CAST tail rewritten


def test_cast_rewrite_string_literals_untouched():
    from sqlitedataframe_spark.functions.sql_rewrite import translate_sqlite_sql

    out = translate_sqlite_sql("SELECT 'CAST(x AS INT)' AS s")
    assert "'CAST(x AS INT)'" in out


def test_cast_rewrite_word_boundary():
    """BROADCAST(x) or a udf named mycast( must not anchor the rewrite."""
    from sqlitedataframe_spark.functions.sql_rewrite import translate_sqlite_sql

    out = translate_sqlite_sql("SELECT broadcast(x AS INT) FROM t")
    assert "AS INT)" in out  # not a CAST call: left alone


# ---------------------------------------------------------------------------
# VERDICT r6 #3: stdlib PNG codec — real pixels, CI-provable without Pillow
# ---------------------------------------------------------------------------
def _gradient_rows(w, h, ch):
    return [
        bytearray(((x * 7 + y * 13 + c * 31) % 256) for x in range(w) for c in range(ch))
        for y in range(h)
    ]


def test_png_roundtrip_all_color_types():
    from sqlitedataframe_spark.operators.pngcodec import (
        png_decode,
        png_dims,
        png_encode,
    )

    for ch in (1, 2, 3, 4):
        rows = _gradient_rows(13, 7, ch)
        payload = png_encode(13, 7, ch, rows)
        assert png_dims(payload) == (13, 7)
        w, h, och, orows = png_decode(payload)
        assert (w, h, och) == (13, 7, ch)
        assert orows == rows


def test_png_decode_all_filter_types():
    """Hand-construct a PNG whose scanlines use every filter type (0-4)
    and check the unfilter recovers the exact pixels."""
    import struct
    import zlib

    from sqlitedataframe_spark.operators.pngcodec import _chunk, png_decode

    w, h, ch = 5, 5, 3
    rows = _gradient_rows(w, h, ch)
    stride = w * ch

    def paeth(a, b, c):
        p = a + b - c
        pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
        return a if pa <= pb and pa <= pc else (b if pb <= pc else c)

    raw = bytearray()
    prev = bytearray(stride)
    for y, line in enumerate(rows):
        ftype = y % 5
        raw.append(ftype)
        for i in range(stride):
            left = line[i - ch] if i >= ch else 0
            up = prev[i]
            ul = prev[i - ch] if i >= ch else 0
            if ftype == 0:
                raw.append(line[i])
            elif ftype == 1:
                raw.append((line[i] - left) & 0xFF)
            elif ftype == 2:
                raw.append((line[i] - up) & 0xFF)
            elif ftype == 3:
                raw.append((line[i] - ((left + up) >> 1)) & 0xFF)
            else:
                raw.append((line[i] - paeth(left, up, ul)) & 0xFF)
        prev = line
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    payload = (
        b"\x89PNG\r\n\x1a\n"
        + _chunk(b"IHDR", ihdr)
        + _chunk(b"IDAT", zlib.compress(bytes(raw)))
        + _chunk(b"IEND", b"")
    )
    assert png_decode(payload)[3] == rows


def test_png_thumbnail_nearest_neighbor():
    from sqlitedataframe_spark.operators.pngcodec import (
        png_decode,
        png_encode,
        png_thumbnail,
    )

    rows = _gradient_rows(12, 8, 3)
    thumb = png_thumbnail(png_encode(12, 8, 3, rows), stride=4)
    w, h, ch, trows = png_decode(thumb)
    assert (w, h, ch) == (3, 2, 3)
    for y in range(2):
        for x in range(3):
            for c in range(3):
                assert trows[y][x * 3 + c] == rows[y * 4][x * 4 * 3 + c]


# ---------------------------------------------------------------------------
# VERDICT r6 #6: SQLite write-back at partition scale — one file, N writers
# ---------------------------------------------------------------------------
def test_parallel_multipartition_write_roundtrip(spark, tmp_path):
    """32 partitions write concurrently into ONE SQLite file; SQLite
    serializes writers on the file lock and the busy_timeout retry makes
    that safe — the round-trip must be lossless (every row exactly once,
    no SQLITE_BUSY surfacing). Order across partitions is undefined by
    contract (see MIGRATION.md), so compare as sets."""
    from sqlitedataframe_spark.sources.sqlite import read_sql, write_sql

    db = str(tmp_path / "parallel.db")
    n = 50_000
    df = (
        spark.range(n)
        .repartition(32)
        .select(
            F.col("id").alias("k"),
            (F.col("id") * 2).alias("v"),
            F.concat(F.lit("row-"), F.col("id")).alias("s"),
        )
    )
    assert df.rdd.getNumPartitions() == 32
    write_sql(df, db, table="parallel_sink", if_exists="replace")
    back = read_sql(spark, db, table="parallel_sink")
    rows = back.collect()
    assert len(rows) == n
    assert {(r["k"], r["v"], r["s"]) for r in rows} == {
        (i, 2 * i, f"row-{i}") for i in range(n)
    }


def test_parallel_upsert_converges(spark, tmp_path):
    """Partition-parallel UPSERT into one file: later values win per key
    and replays are idempotent — the exactly-once-EFFECT contract the
    streaming sink relies on."""
    from sqlitedataframe_spark.sources.sqlite import read_sql, upsert_sql, write_sql

    db = str(tmp_path / "upsert.db")
    base = spark.range(2_000).select(
        F.col("id").alias("k"), F.lit(0).cast("long").alias("v")
    )
    write_sql(base.repartition(8), db, table="m", if_exists="replace")
    from sqlitedataframe_spark.sources.sqlite import exec_sql

    exec_sql(db, 'CREATE UNIQUE INDEX "idx_m" ON "m" (k)')
    upd = spark.range(2_000).select(
        F.col("id").alias("k"), (F.col("id") + 1).alias("v")
    )
    upsert_sql(upd.repartition(16), db, "m", ["k"])
    upsert_sql(upd.repartition(16), db, "m", ["k"])  # replay: idempotent
    rows = read_sql(spark, db, table="m").collect()
    assert len(rows) == 2_000
    assert all(r["v"] == r["k"] + 1 for r in rows)


def test_png_rejects_garbage_and_unsupported():
    from sqlitedataframe_spark.operators.pngcodec import png_decode, png_dims

    with pytest.raises(ValueError, match="signature"):
        png_dims(b"not a png at all")
    # 16-bit depth: out of scope, must refuse loudly
    import struct
    import zlib

    from sqlitedataframe_spark.operators.pngcodec import _chunk

    ihdr = struct.pack(">IIBBBBB", 2, 2, 16, 2, 0, 0, 0)
    payload = (
        b"\x89PNG\r\n\x1a\n"
        + _chunk(b"IHDR", ihdr)
        + _chunk(b"IDAT", zlib.compress(b"\x00" * 26))
        + _chunk(b"IEND", b"")
    )
    with pytest.raises(ValueError, match="unsupported"):
        png_decode(payload)


# ---------------------------------------------------------------------------
# Property tests: PNG codec round-trip; cap-replay parity when the cap FIRES
# ---------------------------------------------------------------------------
def test_png_roundtrip_property():
    """Randomized round-trip (fixed seeds): any 8-bit image content must
    survive encode->decode bit-exactly across sizes and channel counts."""
    import random

    from sqlitedataframe_spark.operators.pngcodec import png_decode, png_encode

    for seed in range(8):
        rng = random.Random(seed)
        w, h = rng.randint(1, 40), rng.randint(1, 30)
        ch = rng.choice([1, 2, 3, 4])
        rows = [
            bytearray(rng.randrange(256) for _ in range(w * ch))
            for _ in range(h)
        ]
        dw, dh, dch, drows = png_decode(png_encode(w, h, ch, rows))
        assert (dw, dh, dch) == (w, h, ch)
        assert drows == rows


def test_levenshtein_cap_oracle_replay_parity(spark):
    """The salt cap's oracle-replay contract, proven where the cap FIRES:
    a 1,500-row hot block (above max_block=1000) produces EXACTLY the
    pair set the DuckDB SQL replay of the salt computes — the property
    that keeps CORRECTNESS green at any scale factor."""
    import duckdb

    from sqlitedataframe_spark.operators.linkage import blocked_levenshtein_pairs

    rows = [(i, f"widget item {i % 5}", "hot") for i in range(1500)]
    df = spark.createDataFrame(rows, ["id", "name", "grp"])
    got = sorted(
        (r["id_a"], r["id_b"], r["lev"])
        for r in blocked_levenshtein_pairs(
            df, "id", "name", ["grp"], 1, max_block=1000
        ).collect()
    )
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE t AS SELECT * FROM (VALUES "
        + ", ".join(f"({i}, 'widget item {i % 5}', 'hot')" for i in range(1500))
        + ") AS v(id, name, grp)"
    )
    want = sorted(
        map(
            tuple,
            con.execute(
                """
        WITH p AS (
          SELECT *, CAST('0x' || substr(md5(CAST(id AS VARCHAR)), 1, 8)
                         AS BIGINT)
                    % CAST(CEIL(COUNT(*) OVER (PARTITION BY grp)
                                / 1000.0) AS BIGINT) AS _salt
          FROM t)
        SELECT a.id, b.id, levenshtein(a.name, b.name)
        FROM p a JOIN p b ON a.grp = b.grp AND a._salt = b._salt
                         AND a.id < b.id
        WHERE levenshtein(a.name, b.name) <= 1
        """
            ).fetchall(),
        )
    )
    assert got == want and len(got) > 0


def test_hub_cap_oracle_replay_parity(spark):
    """The hub-degree cap's oracle-replay contract where the cap FIRES:
    predictions over a graph with a 60-degree hub under
    max_center_degree=50 equal the SQL replay of the wedge filter."""
    import duckdb

    from sqlitedataframe_spark.operators.graph import neighbor_jaccard

    edges = [(0, i) for i in range(1, 61)]  # hub 0, degree 60
    edges += [(1, 100), (2, 100), (1, 101), (3, 101)]  # low-degree wedges
    df = spark.createDataFrame(edges, ["src", "dst"])
    got = sorted(
        (r["u"], r["v"], r["cn"], r["deg_u"], r["deg_v"], r["jaccard"])
        for r in neighbor_jaccard(
            df, top_k=10**6, max_center_degree=50
        ).collect()
    )
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE e0 AS SELECT * FROM (VALUES "
        + ", ".join(f"({a}, {b})" for a, b in edges)
        + ") AS v(src, dst)"
    )
    want = sorted(
        map(
            tuple,
            con.execute(
                """
        WITH e AS (
          SELECT DISTINCT LEAST(src, dst) AS u, GREATEST(src, dst) AS v
          FROM e0 WHERE src <> dst),
        adj AS (SELECT u, v FROM e UNION ALL SELECT v, u FROM e),
        deg AS (SELECT u, CAST(COUNT(*) AS BIGINT) AS deg FROM adj GROUP BY 1),
        wedge AS (
          SELECT u, v FROM (
            SELECT u, v, COUNT(*) OVER (PARTITION BY v) AS _wn FROM adj)
          WHERE _wn <= 50),
        cn AS (
          SELECT a.u AS x, b.u AS y, CAST(COUNT(*) AS BIGINT) AS cn
          FROM wedge a JOIN wedge b ON a.v = b.v AND a.u < b.u GROUP BY 1, 2),
        nonadj AS (
          SELECT cn.x, cn.y, cn.cn FROM cn
          ANTI JOIN e ON cn.x = e.u AND cn.y = e.v)
        SELECT x, y, cn, du.deg, dv.deg,
               ROUND(cn / CAST(du.deg + dv.deg - cn AS DOUBLE), 6)
        FROM nonadj JOIN deg du ON nonadj.x = du.u
                    JOIN deg dv ON nonadj.y = dv.u
        """
            ).fetchall(),
        )
    )
    assert got == want and len(got) > 0
