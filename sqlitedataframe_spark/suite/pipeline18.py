"""Round-11 wave (VERDICT r10 #3): the DDSketch-style EXACTLY-mergeable
relative-error rank sketch (merge == one-shot proven by construction and
by the driver); cross-snapshot INCREMENTAL curation — the funnel re-run
on a delta batch whose merged result must equal the batch funnel;
near-dup-aware eval-contamination per benchmark split; per-source
token-budget exhaustion forecasting; and an embedding-drift CUSUM over
ingestion order.

Determinism tools reused: all-integer bucket math (no libm log near a
bucket boundary), the fixed-order float fold for cross-group float sums,
ROUND(x + 1e-9, dp) on every published float, and 6-dp-rounded centroids
before any distance (the dedup_semantic anchor).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sqlitedataframe_spark.operators import dedup as D
from sqlitedataframe_spark.operators.sketch import (
    ddsketch_buckets,
    ddsketch_merge,
    ddsketch_quantiles,
)
from sqlitedataframe_spark.operators.text import (
    ngram_contamination,
    ngram_set,
    quality_score,
)
from sqlitedataframe_spark.suite import query
from sqlitedataframe_spark.suite.pipeline import (
    MH_EST_CTE,
    minhash_pair_ctes,
    shared_doc_banded,
    shared_doc_sigs,
)
from sqlitedataframe_spark.suite.relational import T


# ---------------------------------------------------------------------------
# DDSketch quantiles (exactly-mergeable relative-error rank sketch).
# ---------------------------------------------------------------------------
_DD_CTE = """
    WITH v AS (
      SELECT l_returnflag AS g,
             CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS v
      FROM lineitem
      WHERE CAST(ROUND(l_extendedprice * 100) AS BIGINT) >= 1),
    b AS (
      SELECT g, v, length(bin(v)) - 1 AS e,
             (CAST(1 AS BIGINT) << (length(bin(v)) - 1)) AS pw
      FROM v),
    s AS (SELECT g, e, pw, ((v - pw) * 32) // pw AS sub FROM b),
    bk AS (
      SELECT g, e * 32 + sub AS idx, pw + (sub * pw) // 32 AS lo FROM s),
    sk AS (
      SELECT g, idx, lo, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM bk GROUP BY 1, 2, 3)
"""


@query(
    "agg_ddsketch_quantiles",
    oracle=_DD_CTE
    + """,
    cum AS (
      SELECT g, idx, lo, cnt,
             SUM(cnt) OVER (PARTITION BY g ORDER BY idx
                            ROWS UNBOUNDED PRECEDING) AS cum
      FROM sk),
    tot AS (
      SELECT g, CAST(SUM(cnt) AS BIGINT) AS n,
             CAST(COUNT(*) AS BIGINT) AS n_buckets
      FROM sk GROUP BY g)
    SELECT t.g AS l_returnflag, t.n, t.n_buckets,
           CAST(MIN(CASE WHEN c.cum >= (1 * t.n + 1) // 2
                         THEN c.lo END) AS BIGINT) AS p50_lo,
           CAST(MIN(CASE WHEN c.cum >= (9 * t.n + 9) // 10
                         THEN c.lo END) AS BIGINT) AS p90_lo,
           CAST(MIN(CASE WHEN c.cum >= (99 * t.n + 99) // 100
                         THEN c.lo END) AS BIGINT) AS p99_lo
    FROM cum c JOIN tot t USING (g)
    GROUP BY t.g, t.n, t.n_buckets
    ORDER BY l_returnflag
    """,
)
def agg_ddsketch_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DDSketch-style quantile readout (VERDICT r10 #3a): p50/p90/p99 of
    the cent-quantized extended price per return flag, read off a
    log-linear integer bucket table with a PROVEN relative error <= 1/32
    — the accuracy-bounded, EXACTLY-mergeable sibling of the bottom-k
    sample (operators.sketch.ddsketch_buckets docstring has the law; the
    merge == one-shot property is driver-proven by agg_ddsketch_merge
    and bit-checked by tests/test_round11_ops.py).

    Shape at 100 TB: one scan -> map-side combinable (group, bucket)
    count — the sketch is <= |groups| * 32 * 64 rows no matter the
    input; the quantile walk windows over the SKETCH only. All-integer
    bucket math and integer rank arithmetic: no float ever crosses the
    hash.
    """
    li = T(spark, sf_dir, "lineitem")
    cents = F.round(F.col("l_extendedprice") * 100).cast("bigint")
    return ddsketch_quantiles(
        li.select("l_returnflag", cents.alias("_cents")),
        "l_returnflag",
        "_cents",
        m=32,
    )


@query(
    "agg_ddsketch_merge",
    oracle=_DD_CTE
    + """
    SELECT g AS l_returnflag, idx AS bucket_idx, lo AS bucket_lo, cnt
    FROM sk ORDER BY l_returnflag, bucket_idx
    """,
)
def agg_ddsketch_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE == ONE-SHOT, driver-proven: the Spark side builds FOUR
    per-shard DDSketches (sharded by l_linenumber % 4 — playing four
    ingestion days) and merges them by pointwise count SUM; the oracle
    builds ONE sketch over the whole table. The hashes must agree
    bit-for-bit because the sketch state is a pure additive function of
    the data — the property that makes the sketch safe for micro-batch
    / per-day rollups at 100 TB (re-aggregation never replays raw data).
    """
    li = T(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        "l_linenumber",
        F.round(F.col("l_extendedprice") * 100).cast("bigint").alias("_cents"),
    )
    shards = [
        ddsketch_buckets(
            li.filter(F.col("l_linenumber") % 4 == i),
            "l_returnflag",
            "_cents",
            m=32,
        )
        for i in range(4)
    ]
    return (
        ddsketch_merge(*shards)
        .select(
            "l_returnflag",
            F.col("_idx").alias("bucket_idx"),
            F.col("_lo").alias("bucket_lo"),
            F.col("_cnt").alias("cnt"),
        )
        .orderBy("l_returnflag", "bucket_idx")
    )


# ---------------------------------------------------------------------------
# Per-source token-budget exhaustion forecast.
# ---------------------------------------------------------------------------
@query(
    "mixture_epochs_exhaustion",
    oracle="""
    WITH per AS (
      SELECT source, CAST(SUM(n_chars // 4) AS BIGINT) AS toks
      FROM documents GROUP BY source),
    tot AS (
      SELECT CAST(SUM(toks) AS BIGINT) AS all_toks,
             list_reduce(list(sqrt(CAST(toks AS DOUBLE)) ORDER BY
                              sqrt(CAST(toks AS DOUBLE)), source),
                         (a, x) -> a + x) AS sum_sqrt
      FROM per)
    SELECT source, toks AS tokens_available,
           ROUND(sqrt(CAST(toks AS DOUBLE)) / sum_sqrt + 1e-9, 6) AS weight,
           ROUND(CAST(toks AS DOUBLE) * sum_sqrt
                 / (sqrt(CAST(toks AS DOUBLE)) * 0.25 * all_toks)
                 + 1e-9, 4) AS epochs_to_exhaustion,
           CAST(toks AS DOUBLE) * sum_sqrt
             < 4.0 * sqrt(CAST(toks AS DOUBLE)) * 0.25 * all_toks
             AS exhausts_within_4
    FROM per, tot ORDER BY source
    """,
)
def mixture_epochs_exhaustion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source token-budget forecasting (VERDICT r10 #3d): under a
    sqrt-proportional training mixture (the standard upweight-the-tail
    heuristic) and an epoch budget of 25% of the corpus, how many epochs
    until each source's unique tokens are exhausted — the readout that
    tells a data-mixture owner WHICH feed forces repetition first
    (epochs < 4 flags the sources that will see >= 4 repeats before the
    budget cycle ends).

    Exactness: tokens are exact integers; the one cross-source float
    reduction (sum of sqrt) is a FIXED-ORDER left fold (values sorted,
    0.0 seed — the pipeline17 anchor) so both engines fold the same IEEE
    sequence; the boolean flag compares the same exact products both
    sides instead of a rounded ratio. Shape: one scan -> |sources|-row
    state; everything after is literal arithmetic on a tiny frame.
    """
    per = (
        T(spark, sf_dir, "documents")
        .select("source", F.expr("n_chars div 4").alias("_t"))
        .groupBy("source")
        .agg(F.sum("_t").cast("bigint").alias("toks"))
    )
    sq = F.sqrt(F.col("toks").cast("double"))
    tot = per.select(
        F.sum("toks").cast("bigint").alias("_all"),
        F.aggregate(
            F.array_sort(F.collect_list(sq)),
            F.lit(0.0),
            lambda a, x: a + x,
        ).alias("_ss"),
    )
    return (
        per.join(F.broadcast(tot))
        .select(
            "source",
            F.col("toks").alias("tokens_available"),
            F.round(sq / F.col("_ss") + 1e-9, 6).alias("weight"),
            F.round(
                F.col("toks").cast("double")
                * F.col("_ss")
                / (sq * 0.25 * F.col("_all"))
                + 1e-9,
                4,
            ).alias("epochs_to_exhaustion"),
            (
                F.col("toks").cast("double") * F.col("_ss")
                < 4.0 * sq * 0.25 * F.col("_all")
            ).alias("exhausts_within_4"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# Embedding-drift CUSUM over ingestion order.
# ---------------------------------------------------------------------------
@query(
    "embed_drift_cusum",
    oracle="""
    WITH mx AS (SELECT MAX(vec_id) AS mid FROM embeddings),
    e AS (
      SELECT CAST((vec_id * 16) // (mid + 1) AS INT) AS b,
             generate_subscripts(embedding, 1) AS dim,
             CAST(ROUND(CAST(unnest(embedding) AS DOUBLE) * 1000000)
                  AS BIGINT) AS vq
      FROM embeddings, mx),
    cent AS (
      SELECT b, dim,
             CAST(ROUND(CAST(SUM(vq) AS DOUBLE) / COUNT(*)) AS BIGINT) AS cq
      FROM e GROUP BY 1, 2),
    ref AS (
      SELECT dim, CAST(ROUND(CAST(SUM(cq) AS DOUBLE) / 4) AS BIGINT) AS rq
      FROM cent WHERE b <= 3 GROUP BY dim),
    nv AS (
      SELECT CAST((vec_id * 16) // (mid + 1) AS INT) AS b,
             CAST(COUNT(*) AS BIGINT) AS n_vecs
      FROM embeddings, mx GROUP BY 1),
    d2 AS (
      SELECT c.b, CAST(SUM((c.cq - r.rq) * (c.cq - r.rq)) AS BIGINT) AS s2
      FROM cent c JOIN ref r USING (dim) GROUP BY c.b),
    dr AS (
      SELECT b, CAST(ROUND(sqrt(CAST(s2 AS DOUBLE))) AS BIGINT) AS dq
      FROM d2),
    mu AS (
      SELECT CAST(ROUND(CAST(SUM(dq) AS DOUBLE) / 4) AS BIGINT) AS muq
      FROM dr WHERE b <= 3),
    p AS (
      SELECT b, dq,
             SUM(dq - muq) OVER (ORDER BY b ROWS UNBOUNDED PRECEDING) AS ps
      FROM dr, mu),
    cu AS (
      SELECT b, dq,
             ps - MIN(ps) OVER (ORDER BY b ROWS UNBOUNDED PRECEDING) AS cq
      FROM p)
    SELECT c.b AS batch, n.n_vecs,
           ROUND(c.dq / 1000000.0 + 1e-9, 6) AS drift,
           ROUND(c.cq / 1000000.0 + 1e-9, 6) AS cusum_up,
           c.cq > 4 * mu.muq AS alarm
    FROM cu c JOIN nv n ON n.b = c.b, mu
    ORDER BY batch
    """,
)
def embed_drift_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-drift CUSUM over ingestion order (VERDICT r10 #3e): the
    corpus is cut into 16 ingestion batches by vec_id order, each
    batch's centroid is compared to the reference centroid (mean of the
    first four batches), and the per-batch centroid drift feeds the
    CUSUM drawup path (prefix-sum minus running min — the
    events_changepoint_cusum recursion-free form). A batch whose drawup
    exceeds 4x the reference mean drift raises the alarm — the "encoder
    version changed / feed mix shifted mid-ingest" tripwire a 100 TB
    embedding pipeline runs continuously.

    Exactness: every reduction is ORDER-FREE INTEGER arithmetic —
    embedding components quantize to micro-units (x1e6 -> BIGINT)
    scan-side, so centroid sums, squared distances, the CUSUM prefix
    path, and the alarm comparison are exact integers on both engines
    (the first draft's ROUND(SUM(double), 6) differed in the 6th dp
    between engines on ~400-element sums; integers cannot). Only the
    two published readout columns divide back to floats, after all
    comparisons are done.

    Shape: vectors posexplode to dim-keyed scalars ONCE (never shuffle
    whole), one map-side-combinable (batch, dim) integer mean, a
    dim-keyed join to the broadcast 64-row reference, then the CUSUM
    prefix path (prefix sum + running min) runs as two broadcast
    theta-joins over the 16-row batch frame — NOT as ordered windows:
    an unpartitioned Window is the single-task serialization class
    plan_audit hard-errors on, and the r11 version's two
    Window.orderBy('b') calls were only invisible to the audit through
    the ':' tree-bar parser gap ADVICE r11 #1 closed. The 16x16
    bounded cross is the adjudicated BENIGN_NESTED_LOOP pattern
    (plans/flags.py).
    """
    emb = T(spark, sf_dir, "embeddings")
    mx = emb.select(F.max("vec_id").alias("_mid"))
    bcol = F.expr("CAST((vec_id * 16) div (_mid + 1) AS INT)")
    e = (
        emb.join(F.broadcast(mx))
        .select(
            bcol.alias("b"),
            F.posexplode(
                F.transform(
                    F.col("embedding"),
                    lambda x: F.round(x.cast("double") * 1000000).cast(
                        "bigint"
                    ),
                )
            ).alias("dim0", "vq"),
        )
        .select("b", (F.col("dim0") + 1).alias("dim"), "vq")
    )
    cent = e.groupBy("b", "dim").agg(
        F.round(F.sum("vq").cast("double") / F.count(F.lit(1)))
        .cast("bigint")
        .alias("cq")
    )
    ref = (
        cent.filter(F.col("b") <= 3)
        .groupBy("dim")
        .agg(
            F.round(F.sum("cq").cast("double") / 4).cast("bigint").alias("rq")
        )
    )
    diff = F.col("cq") - F.col("rq")
    d2 = (
        cent.join(F.broadcast(ref), "dim")
        .groupBy("b")
        .agg(F.sum(diff * diff).cast("bigint").alias("s2"))
    )
    dr = d2.select(
        "b", F.round(F.sqrt(F.col("s2").cast("double"))).cast("bigint").alias("dq")
    )
    mu = (
        dr.filter(F.col("b") <= 3)
        .select(
            F.round(F.sum("dq").cast("double") / 4).cast("bigint").alias("muq")
        )
    )
    nv = (
        emb.join(F.broadcast(mx))
        .groupBy(bcol.alias("b"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_vecs"))
    )
    dm = dr.join(F.broadcast(mu))  # 16 rows: b, dq, muq
    # prefix sum over the 16-row frame via bounded theta-join (see above)
    p = (
        dm.alias("x")
        .join(
            F.broadcast(dm.select("b", "dq", "muq").alias("y")),
            F.expr("y.b <= x.b"),
        )
        .groupBy(F.col("x.b").alias("b"), F.col("x.dq").alias("dq"),
                 F.col("x.muq").alias("muq"))
        .agg(F.sum(F.col("y.dq") - F.col("y.muq")).cast("bigint").alias("ps"))
    )
    # running min of the prefix path, same bounded pattern
    cu = (
        p.alias("x")
        .join(F.broadcast(p.select("b", "ps").alias("y")), F.expr("y.b <= x.b"))
        .groupBy(F.col("x.b").alias("b"), F.col("x.dq").alias("dq"),
                 F.col("x.muq").alias("muq"), F.col("x.ps").alias("ps"))
        .agg(F.min(F.col("y.ps")).cast("bigint").alias("rm"))
        .withColumn("cq", F.col("ps") - F.col("rm"))
    )
    return (
        cu.join(nv, "b")
        .select(
            F.col("b").alias("batch"),
            "n_vecs",
            F.round(F.col("dq") / 1000000.0 + 1e-9, 6).alias("drift"),
            F.round(F.col("cq") / 1000000.0 + 1e-9, 6).alias("cusum_up"),
            (F.col("cq") > 4 * F.col("muq")).alias("alarm"),
        )
        .orderBy("batch")
    )


# ---------------------------------------------------------------------------
# Near-dup-aware eval-contamination report per benchmark split.
# ---------------------------------------------------------------------------
@query(
    "eval_contamination_splits",
    oracle=MH_EST_CTE
    + """,
    bench AS (
      SELECT doc_id, CAST((doc_id // 50) % 3 AS INT) AS split, md5(text) AS h
      FROM documents WHERE doc_id % 50 = 0),
    train AS (
      SELECT doc_id, md5(text) AS h FROM documents WHERE doc_id % 50 <> 0),
    ex AS (SELECT DISTINCT b.split, tr.doc_id FROM train tr JOIN bench b USING (h)),
    pr AS (SELECT id_a, id_b FROM est WHERE est_jaccard >= 0.5),
    nr0 AS (
      SELECT b.split, p.id_b AS doc_id
      FROM pr p JOIN bench b ON b.doc_id = p.id_a
      UNION
      SELECT b.split, p.id_a AS doc_id
      FROM pr p JOIN bench b ON b.doc_id = p.id_b),
    nr AS (
      SELECT DISTINCT n0.split, n0.doc_id
      FROM nr0 n0 JOIN train tr ON tr.doc_id = n0.doc_id),
    tk AS (SELECT doc_id, string_split(text, ' ') AS tt FROM documents),
    gr AS (
      SELECT doc_id, array_to_string(tt[i:i+3], ' ') AS gram
      FROM tk, UNNEST(generate_series(1, len(tt) - 3)) AS r(i)),
    bg AS (
      SELECT DISTINCT b.split, g.gram FROM gr g JOIN bench b USING (doc_id)),
    ng AS (
      SELECT DISTINCT bg.split, g.doc_id
      FROM gr g JOIN bg ON g.gram = bg.gram
      WHERE g.doc_id % 50 <> 0),
    anyc AS (
      SELECT split, doc_id FROM ex
      UNION SELECT split, doc_id FROM nr
      UNION SELECT split, doc_id FROM ng),
    nb AS (SELECT split, CAST(COUNT(*) AS BIGINT) AS n_bench
           FROM bench GROUP BY 1),
    ntr AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_train FROM train)
    SELECT nb.split, nb.n_bench, ntr.n_train,
           CAST(COALESCE(e.c, 0) AS BIGINT) AS n_exact_contam,
           CAST(COALESCE(n.c, 0) AS BIGINT) AS n_near_contam,
           CAST(COALESCE(g.c, 0) AS BIGINT) AS n_ngram_contam,
           CAST(COALESCE(a.c, 0) AS BIGINT) AS n_any_contam,
           ROUND(CAST(COALESCE(a.c, 0) AS DOUBLE) / ntr.n_train + 1e-9, 6)
             AS contam_rate
    FROM nb CROSS JOIN ntr
    LEFT JOIN (SELECT split, COUNT(*) AS c FROM ex GROUP BY 1) e USING (split)
    LEFT JOIN (SELECT split, COUNT(*) AS c FROM nr GROUP BY 1) n USING (split)
    LEFT JOIN (SELECT split, COUNT(*) AS c FROM ng GROUP BY 1) g USING (split)
    LEFT JOIN (SELECT split, COUNT(*) AS c FROM anyc GROUP BY 1) a USING (split)
    ORDER BY split
    """,
)
def eval_contamination_splits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup-AWARE eval-contamination report per benchmark split
    (VERDICT r10 #3c): every 50th doc plays the benchmark, cut into 3
    eval splits; for each split, how many TRAIN documents are
    contaminated by (a) an exact text match (md5 fingerprint), (b) an
    LSH near-duplicate at est_jaccard >= 0.5 (composed off the SHARED
    MinHash signature table), (c) a shared word 4-gram (the GPT-3-style
    overlap rule) — plus the union and the train contamination rate.
    Exact-only decontamination misses paraphrased benchmark leakage;
    this is the report that shows the gap (n_near_contam and
    n_ngram_contam exceed n_exact_contam wherever near-dups leak).

    Shape: fingerprints join on 32-char hashes (never text); near-dup
    pairs come from the session-shared signature table (bounded banded
    join, skew-suppressed); the benchmark gram set is split-tagged,
    distinct, and broadcast (benchmarks are inherently bounded); each
    contamination set is a distinct (split, doc_id) id-pair frame and
    the report is one |splits|-row rollup of four aggregates.
    """
    d = T(spark, sf_dir, "documents")
    split = F.expr("CAST((doc_id div 50) % 3 AS INT)").alias("split")
    bench = d.filter(F.col("doc_id") % 50 == 0).select(
        "doc_id", split, F.md5("text").alias("h"), "text"
    )
    train = d.filter(F.col("doc_id") % 50 != 0)
    th = train.select("doc_id", F.md5("text").alias("h"))
    ex = (
        th.join(F.broadcast(bench.select("split", "h").distinct()), "h")
        .select("split", "doc_id")
        .distinct()
    )
    pairs = D.minhash_lsh_pairs(
        d,
        min_jaccard=0.5,
        sig=shared_doc_sigs(spark, sf_dir),
        banded=shared_doc_banded(spark, sf_dir),
    ).select("id_a", "id_b")
    bid = bench.select(F.col("doc_id").alias("_bid"), "split")
    nr = (
        pairs.join(F.broadcast(bid), pairs.id_a == bid._bid)
        .select("split", F.col("id_b").alias("doc_id"))
        .unionByName(
            pairs.join(F.broadcast(bid), pairs.id_b == bid._bid).select(
                "split", F.col("id_a").alias("doc_id")
            )
        )
        .join(train.select("doc_id"), "doc_id", "semi")
        .select("split", "doc_id")
        .distinct()
    )
    bg = (
        bench.select("split", F.explode(ngram_set("text", 4)).alias("gram"))
        .distinct()
    )
    ng = (
        train.select("doc_id", F.explode(ngram_set("text", 4)).alias("gram"))
        .join(F.broadcast(bg), "gram")
        .select("split", "doc_id")
        .distinct()
    )
    anyc = ex.unionByName(nr).unionByName(ng).distinct()
    nb = bench.groupBy("split").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_bench")
    )
    ntr = train.select(F.count(F.lit(1)).cast("bigint").alias("n_train"))

    def c(frame: DataFrame, name: str) -> DataFrame:
        return frame.groupBy("split").agg(
            F.count(F.lit(1)).cast("bigint").alias(name)
        )

    out = nb.join(F.broadcast(ntr))
    for frame, name in [
        (ex, "n_exact_contam"),
        (nr, "n_near_contam"),
        (ng, "n_ngram_contam"),
        (anyc, "n_any_contam"),
    ]:
        out = out.join(c(frame, name), "split", "left")
    zeroed = [
        F.coalesce(F.col(n), F.lit(0)).cast("bigint").alias(n)
        for n in ("n_exact_contam", "n_near_contam", "n_ngram_contam",
                  "n_any_contam")
    ]
    return out.select("split", "n_bench", "n_train", *zeroed).select(
        "*",
        F.round(
            F.col("n_any_contam").cast("double") / F.col("n_train") + 1e-9, 6
        ).alias("contam_rate"),
    ).orderBy("split")


# ---------------------------------------------------------------------------
# Cross-snapshot incremental curation funnel.
# ---------------------------------------------------------------------------
#: The MH_EST_CTE pair chain WITHOUT hot-bucket suppression: the
#: incremental union == one-shot equivalence is only UNCONDITIONAL with
#: max_bucket=None on every side (the minhash_lsh_pairs ADVICE r4
#: caveat: suppression is evaluated against the corpus-so-far, so a
#: bucket that crosses the threshold only once the full corpus arrives
#: would break snapshot-merge equality). Both engines therefore pair
#: unsuppressed here.
_MH_EST_NOSUPP = minhash_pair_ctes(suppress=False)


@query(
    "pipeline_curation_incremental",
    oracle=_MH_EST_NOSUPP
    + """,
    d0 AS (
      SELECT doc_id, source, lang, n_chars, text FROM documents
      WHERE doc_id % 50 <> 0),
    gate AS (
      SELECT * FROM d0
      WHERE lang IN ('en', 'fr', 'es', 'de') AND n_chars BETWEEN 50 AND 5000),
    exact AS (
      SELECT * FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY md5(text)
                                     ORDER BY doc_id) AS _rn
        FROM gate) WHERE _rn = 1),
    near AS (
      SELECT e.* FROM exact e
      WHERE NOT EXISTS (
        SELECT 1 FROM est p
        JOIN exact a ON a.doc_id = p.id_a
        WHERE p.id_b = e.doc_id AND p.est_jaccard >= 0.5)),
    toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    grams AS (
      SELECT doc_id, array_to_string(t[i:i+3], ' ') AS gram
      FROM toks, UNNEST(generate_series(1, len(t) - 3)) AS r(i)),
    test_grams AS (SELECT DISTINCT gram FROM grams WHERE doc_id % 50 = 0),
    cont AS (
      SELECT DISTINCT g.doc_id FROM grams g JOIN test_grams USING (gram)
      WHERE g.doc_id % 50 <> 0),
    decon AS (
      SELECT n.* FROM near n
      WHERE NOT EXISTS (SELECT 1 FROM cont c WHERE c.doc_id = n.doc_id)),
    qual AS (
      SELECT doc_id, source FROM (
        SELECT doc_id, source,
               (LEAST(CAST(LENGTH(text) AS DOUBLE) / 200.0, 1.0)
                + LEAST(CAST(len(list_filter(string_split(lower(trim(text)),
                    ' '), x -> list_contains(['the','a','an','and','or','of',
                    'to','in','is','it'], x))) AS DOUBLE)
                    / len(string_split(lower(trim(text)), ' ')) * 4, 1.0)
                + GREATEST(0.0, 1.0 - CAST(LENGTH(regexp_replace(text,
                    '[^.,;:!?''"()\\[\\]{}-]', '', 'g')) AS DOUBLE)
                    / CAST(LENGTH(text) AS DOUBLE) * 5)) / 3 AS q
        FROM decon)
      WHERE ROUND(q, 6) >= 0.5),
    per AS (
      SELECT s.source,
             CAST(COUNT(*) AS BIGINT) AS n_raw,
             CAST(SUM(CASE WHEN g.doc_id IS NOT NULL THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_gate,
             CAST(SUM(CASE WHEN e.doc_id IS NOT NULL THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_exact,
             CAST(SUM(CASE WHEN n.doc_id IS NOT NULL THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_near,
             CAST(SUM(CASE WHEN dc.doc_id IS NOT NULL THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_decontam,
             CAST(SUM(CASE WHEN q.doc_id IS NOT NULL THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_quality,
             CAST(SUM(CASE WHEN q.doc_id IS NOT NULL AND s.doc_id % 7 = 3
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_delta_quality
      FROM d0 s
      LEFT JOIN gate g USING (doc_id)
      LEFT JOIN exact e ON e.doc_id = s.doc_id
      LEFT JOIN near n ON n.doc_id = s.doc_id
      LEFT JOIN decon dc ON dc.doc_id = s.doc_id
      LEFT JOIN qual q ON q.doc_id = s.doc_id
      GROUP BY s.source)
    SELECT source, n_raw, n_gate, n_exact, n_near, n_decontam, n_quality,
           n_delta_quality,
           ROUND(CAST(n_quality AS DOUBLE) / n_raw + 1e-9, 6) AS retention
    FROM per ORDER BY source
    """,
)
def pipeline_curation_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-snapshot INCREMENTAL curation (VERDICT r10 #3b): the
    curation funnel re-run after a DELTA batch arrives (every 7th train
    doc plays today's crawl; the rest is the T0 base snapshot), computed
    the way a production pipeline would — from T0 STATE plus delta-sized
    increments, never re-pairing the base corpus with itself:

      * gate / decontamination / quality are pointwise: delta rows are
        scored against the static rule set / eval-gram set and UNIONed
        with the T0 stage outputs;
      * exact dedup state is the (md5, min_id) fingerprint table: the
        delta's per-hash minima MERGE into the T0 table by a second MIN
        — a delta doc can DISPLACE a base keeper (smaller id, same hash)
        and the merge handles it, which a naive append would not;
      * near-dedup pairs come from the T0 pair list UNION the
        delta-touching pairs (minhash_lsh_pairs ``new_ids=`` — one
        banded side semi-joins to the delta, so pairing cost scales with
        the BATCH). Suppression is OFF on both sides (max_bucket=None),
        the documented requirement for unconditional snapshot-merge
        equality (ADVICE r4 / the operator docstring).

    The ORACLE is the ONE-SHOT batch funnel over base ∪ delta: driver
    hash equality IS the proof that funnel(base ∪ delta) ==
    merge(funnel(base), incr(delta)) — the incremental-correctness law
    this family needs before a 100 TB pipeline can afford daily deltas.
    Output = the funnel report plus n_delta_quality (today's survivors).
    """
    from pyspark.sql import Window

    d = T(spark, sf_dir, "documents")
    d0 = d.filter(F.col("doc_id") % 50 != 0)
    is_delta = F.col("doc_id") % 7 == 3
    base = d0.filter(~is_delta)
    delta = d0.filter(is_delta)
    gate_pred = F.col("lang").isin("en", "fr", "es", "de") & F.col(
        "n_chars"
    ).between(50, 5000)

    # --- pointwise gate: per-snapshot, then union (order irrelevant)
    gb = base.filter(gate_pred)
    gd = delta.filter(gate_pred)
    gate = gb.unionByName(gd)

    # --- exact-dedup state merge: (md5 -> min doc_id), T0 table + delta
    sb = gb.select(F.md5("text").alias("_h"), "doc_id").groupBy("_h").agg(
        F.min("doc_id").alias("_m")
    )
    sd = gd.select(F.md5("text").alias("_h"), "doc_id").groupBy("_h").agg(
        F.min("doc_id").alias("_m")
    )
    merged_state = (
        sb.unionByName(sd).groupBy("_h").agg(F.min("_m").alias("_m"))
    )
    from sqlitedataframe_spark.operators.util import register_cache

    exact_ids = register_cache(
        merged_state.select(F.col("_m").alias("doc_id")).persist()
    )
    # r12: stage frames lazily persisted — the rollup counts each stage
    # and every later stage's lineage embeds the earlier ones (exact's
    # state merge re-ran ~5x, the pair build ~4x unpersisted)
    exact = register_cache(gate.join(exact_ids, "doc_id", "semi").persist())

    # --- near-dedup pair state: T0 pairs (base corpus incl. the eval
    # docs, exactly what the T0 funnel run would have stored) + pairs
    # touching the delta against the GROWN corpus
    sig = shared_doc_sigs(spark, sf_dir)
    bnd = shared_doc_banded(spark, sf_dir)
    corpus_t0 = d.filter(~is_delta | (F.col("doc_id") % 50 == 0))
    pairs_t0 = D.minhash_lsh_pairs(
        corpus_t0, min_jaccard=0.5, sig=sig, max_bucket=None, banded=bnd
    ).select("id_a", "id_b")
    pairs_inc = D.minhash_lsh_pairs(
        d,
        min_jaccard=0.5,
        new_ids=delta.select("doc_id"),
        sig=sig,
        max_bucket=None,
        banded=bnd,
    ).select("id_a", "id_b")
    pairs = pairs_t0.unionByName(pairs_inc).distinct()
    drop_b = (
        pairs.join(
            exact_ids.withColumnRenamed("doc_id", "id_a"), "id_a", "semi"
        )
        .select(F.col("id_b").alias("doc_id"))
        .distinct()
    )
    near = register_cache(exact.join(drop_b, "doc_id", "anti").persist())

    # --- decontamination: static eval grams; per-snapshot increments
    test = d.filter(F.col("doc_id") % 50 == 0)
    cont_b = ngram_contamination(base, test, n=4).select("doc_id")
    cont_d = ngram_contamination(delta, test, n=4).select("doc_id")
    cont = cont_b.unionByName(cont_d)
    decon = register_cache(near.join(cont, "doc_id", "anti").persist())

    # --- pointwise quality gate (counted twice: total + delta slice)
    qual = register_cache(decon.filter(quality_score("text") >= 0.5).persist())

    def cnt(frame: DataFrame, name: str) -> DataFrame:
        return frame.groupBy("source").agg(
            F.count(F.lit(1)).cast("bigint").alias(name)
        )

    out = cnt(d0, "n_raw")
    for frame, name in [
        (gate, "n_gate"),
        (exact, "n_exact"),
        (near, "n_near"),
        (decon, "n_decontam"),
        (qual, "n_quality"),
        (qual.filter(is_delta), "n_delta_quality"),
    ]:
        out = out.join(cnt(frame, name), "source", "left")
    zeroed = [
        F.coalesce(F.col(c), F.lit(0)).cast("bigint").alias(c)
        for c in (
            "n_gate",
            "n_exact",
            "n_near",
            "n_decontam",
            "n_quality",
            "n_delta_quality",
        )
    ]
    return (
        out.select("source", "n_raw", *zeroed)
        .select(
            "*",
            F.round(
                F.col("n_quality").cast("double") / F.col("n_raw") + 1e-9, 6
            ).alias("retention"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# Streaming mergeable DDSketch rollup.
# ---------------------------------------------------------------------------
@query(
    "stream_ddsketch_rollup",
    oracle="""
    WITH v AS (
      SELECT event_type AS g,
             CAST(ROUND(value * 100) AS BIGINT) AS v
      FROM events WHERE CAST(ROUND(value * 100) AS BIGINT) >= 1),
    b AS (
      SELECT g, v, length(bin(v)) - 1 AS e,
             (CAST(1 AS BIGINT) << (length(bin(v)) - 1)) AS pw
      FROM v),
    s AS (SELECT g, e, pw, ((v - pw) * 32) // pw AS sub FROM b),
    bk AS (
      SELECT g, e * 32 + sub AS idx, pw + (sub * pw) // 32 AS lo FROM s),
    sk AS (
      SELECT g, idx, lo, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM bk GROUP BY 1, 2, 3),
    cum AS (
      SELECT g, idx, lo, cnt,
             SUM(cnt) OVER (PARTITION BY g ORDER BY idx
                            ROWS UNBOUNDED PRECEDING) AS cum
      FROM sk),
    tot AS (
      SELECT g, CAST(SUM(cnt) AS BIGINT) AS n,
             CAST(COUNT(*) AS BIGINT) AS n_buckets
      FROM sk GROUP BY g)
    SELECT t.g AS event_type, t.n, t.n_buckets,
           CAST(MIN(CASE WHEN c.cum >= (1 * t.n + 1) // 2
                         THEN c.lo END) AS BIGINT) AS p50_lo,
           CAST(MIN(CASE WHEN c.cum >= (9 * t.n + 9) // 10
                         THEN c.lo END) AS BIGINT) AS p90_lo,
           CAST(MIN(CASE WHEN c.cum >= (99 * t.n + 99) // 100
                         THEN c.lo END) AS BIGINT) AS p99_lo
    FROM cum c JOIN tot t USING (g)
    GROUP BY t.g, t.n, t.n_buckets
    ORDER BY event_type
    """,
)
def stream_ddsketch_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming DDSketch rollup through the SQLite bridge: each
    micro-batch reduces to its per-event-type bucket-count sketch
    (operators.sketch.ddsketch_buckets — EXACTLY mergeable: counts are
    additive), appends the tiny sketch to an append-only SQLite log,
    and the final answer merges the log by a SUM and reads off
    p50/p90/p99 of the cent-quantized value. The continuous-latency-
    profile pattern at 100 TB: raw events are touched once per batch,
    the log grows by at most |groups| * ~m*64 rows per batch, and the
    rollup NEVER replays the stream. Exactly oracle-checked against the
    one-shot sketch over the whole table — merge == one-shot is the
    sketch's defining law (the bottom-k rollup's accuracy-bounded
    sibling, VERDICT r10 #3a).
    """
    import os as _os
    import tempfile as _tempfile

    from sqlitedataframe_spark.operators.sketch import (
        ddsketch_buckets as _ddb,
        ddsketch_readout as _ddr,
    )
    from sqlitedataframe_spark.sources.sqlite import (
        read_sql,
        table_exists,
        write_sql,
    )
    from sqlitedataframe_spark.streaming.core import read_table_stream

    db = _os.path.join(
        _tempfile.gettempdir(),
        f"sdfspark_dd_{_os.path.basename(sf_dir)}.db",
    )
    if _os.path.exists(db):
        _os.remove(db)

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        sk = _ddb(
            batch_df.select(
                "event_type",
                F.round(F.col("value") * 100).cast("bigint").alias("_cents"),
            ),
            "event_type",
            "_cents",
            m=32,
        )
        mode = "append" if table_exists(db, "dd_log") else "replace"
        write_sql(sk, db, table="dd_log", if_exists=mode)

    s = read_table_stream(spark, sf_dir, "events").select(
        "event_type", "value"
    )
    with _tempfile.TemporaryDirectory() as ckpt:
        q = (
            s.writeStream.foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    log = read_sql(spark, db, table="dd_log")
    merged = log.groupBy("event_type", "_idx", "_lo").agg(
        F.sum("_cnt").cast("bigint").alias("_cnt")
    )
    return _ddr(merged, "event_type")


# ---------------------------------------------------------------------------
# Unbiased pass@k estimator per task family.
# ---------------------------------------------------------------------------
@query(
    "eval_pass_at_k",
    oracle="""
    WITH s AS (
      SELECT event_type AS task,
             user_id % 128 AS attempt_group,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CASE WHEN CAST(ROUND(value * 100) AS BIGINT) % 5 = 0
                           THEN 1 ELSE 0 END) AS BIGINT) AS c
      FROM events GROUP BY 1, 2),
    ks AS (SELECT UNNEST([1, 4, 16]) AS k),
    p AS (
      SELECT task, attempt_group, n, c, k,
             CASE WHEN n - c < k THEN 1.0
                  ELSE 1.0 - list_reduce(
                    list_transform(range(0, k),
                                   i -> (CAST(n - c - i AS DOUBLE))
                                        / (CAST(n - i AS DOUBLE))),
                    (a, x) -> a * x)
             END AS pak
      FROM s CROSS JOIN ks
      WHERE n >= k),
    agg AS (
      SELECT task, k,
             CAST(COUNT(*) AS BIGINT) AS n_groups,
             CAST(SUM(n) AS BIGINT) AS n_samples,
             CAST(SUM(c) AS BIGINT) AS n_correct,
             list_reduce(list(pak ORDER BY pak, attempt_group),
                         (a, x) -> a + x) AS s_pak
      FROM p GROUP BY 1, 2)
    SELECT task, k, n_groups, n_samples, n_correct,
           ROUND(s_pak / n_groups + 1e-9, 6) AS pass_at_k
    FROM agg ORDER BY task, k
    """,
)
def eval_pass_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unbiased pass@k per task family (Chen et al. 2021, "Evaluating
    Large Language Models Trained on Code", eq. 1): for each task and
    each attempt group (a problem), n sampled attempts with c successes
    give pass@k = 1 - C(n-c, k)/C(n, k), computed as the FIXED-ORDER
    product fold of (n-c-i)/(n-i) for i in [0, k) — numerically stable
    (never materializes a binomial) and bit-identical across engines
    (each factor is one exact-integer division; the fold order is the
    index order on both sides). Groups with n < k are excluded (the
    estimator is undefined), n - c < k short-circuits to 1.0 exactly.
    The events fixture plays the eval log: event_type = task family,
    user_id % 128 = problem, a value-derived deterministic success flag.

    Shape: one scan -> (task, problem) integer count cells (map-side
    combined) -> a 3-row k grid broadcast-crossed with the bounded cell
    frame -> one rollup whose float sum is a sorted fixed-order fold.
    The per-problem pass@k mean is the standard benchmark readout.
    """
    ev = T(spark, sf_dir, "events")
    s = ev.groupBy(
        F.col("event_type").alias("task"),
        (F.col("user_id") % 128).alias("attempt_group"),
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(
            F.when(
                F.round(F.col("value") * 100).cast("bigint") % 5 == 0, 1
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("c"),
    )
    ks = spark.createDataFrame([(1,), (4,), (16,)], "k int")
    pak = F.when(F.col("n") - F.col("c") < F.col("k"), F.lit(1.0)).otherwise(
        F.lit(1.0)
        - F.aggregate(
            F.transform(
                F.sequence(F.lit(0), F.col("k") - 1),
                lambda i: (F.col("n") - F.col("c") - i).cast("double")
                / (F.col("n") - i).cast("double"),
            ),
            F.lit(1.0),
            lambda a, x: a * x,
        )
    )
    p = (
        s.join(F.broadcast(ks))
        .filter(F.col("n") >= F.col("k"))
        .withColumn("pak", pak)
    )
    return (
        p.groupBy("task", "k")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_groups"),
            F.sum("n").cast("bigint").alias("n_samples"),
            F.sum("c").cast("bigint").alias("n_correct"),
            F.aggregate(
                F.array_sort(
                    F.collect_list(F.struct("pak", "attempt_group"))
                ),
                F.lit(0.0),
                lambda a, x: a + x["pak"],
            ).alias("_s"),
        )
        .select(
            "task",
            "k",
            "n_groups",
            "n_samples",
            "n_correct",
            F.round(F.col("_s") / F.col("n_groups") + 1e-9, 6).alias(
                "pass_at_k"
            ),
        )
        .orderBy("task", "k")
    )


# ---------------------------------------------------------------------------
# DDSketch error audit (sketch vs truth qualification).
# ---------------------------------------------------------------------------
@query(
    "agg_ddsketch_error_audit",
    oracle=_DD_CTE
    + """,
    cum AS (
      SELECT g, idx, lo, cnt,
             SUM(cnt) OVER (PARTITION BY g ORDER BY idx
                            ROWS UNBOUNDED PRECEDING) AS cum
      FROM sk),
    tot AS (SELECT g, CAST(SUM(cnt) AS BIGINT) AS n FROM sk GROUP BY g),
    est AS (
      SELECT t.g, t.n,
             CAST(MIN(CASE WHEN c.cum >= (1 * t.n + 1) // 2
                           THEN c.lo END) AS BIGINT) AS p50_lo,
             CAST(MIN(CASE WHEN c.cum >= (9 * t.n + 9) // 10
                           THEN c.lo END) AS BIGINT) AS p90_lo
      FROM cum c JOIN tot t USING (g) GROUP BY t.g, t.n),
    ex AS (
      SELECT g, ROUND(quantile_cont(v, 0.5) + 1e-9, 4) AS p50_exact,
             ROUND(quantile_cont(v, 0.9) + 1e-9, 4) AS p90_exact
      FROM v GROUP BY g)
    SELECT e.g AS l_returnflag, e.n, e.p50_lo, x.p50_exact,
           ROUND(ABS(e.p50_lo - x.p50_exact) / x.p50_exact + 1e-9, 6)
             AS p50_rel_err,
           e.p90_lo, x.p90_exact,
           ROUND(ABS(e.p90_lo - x.p90_exact) / x.p90_exact + 1e-9, 6)
             AS p90_rel_err
    FROM est e JOIN ex x USING (g) ORDER BY l_returnflag
    """,
)
def agg_ddsketch_error_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-vs-truth qualification for the DDSketch readout (the
    bottomk_quantiles pattern, VERDICT r9 #2d lineage): the p50/p90
    bucket lower bounds NEXT TO the exact interpolated percentiles and
    the realized relative error — the audit a 100 TB profile job runs
    once per corpus before letting the sketch replace the exact pass.
    The realized errors must sit under the 1/m = 3.125% guarantee
    (pytest-asserted; the fixture lands well under).

    Exactness: sketch cells are all-integer; the exact side is the
    engine-anchored interpolated percentile (Spark ``percentile`` ==
    DuckDB ``quantile_cont``) rounded at 4 dp; the error divides two
    already-published cells and rounds at 6.
    """
    li = T(spark, sf_dir, "lineitem")
    cents = F.round(F.col("l_extendedprice") * 100).cast("bigint")
    base = li.select("l_returnflag", cents.alias("_cents")).filter(
        F.col("_cents") >= 1
    )
    from sqlitedataframe_spark.operators.sketch import (
        ddsketch_buckets as _ddb,
        ddsketch_readout as _ddr,
    )

    est = _ddr(
        _ddb(base, "l_returnflag", "_cents", m=32),
        "l_returnflag",
        qs=((1, 2), (9, 10)),
    ).drop("n_buckets")
    ex = base.groupBy("l_returnflag").agg(
        F.round(F.percentile("_cents", F.lit(0.5)) + 1e-9, 4).alias(
            "p50_exact"
        ),
        F.round(F.percentile("_cents", F.lit(0.9)) + 1e-9, 4).alias(
            "p90_exact"
        ),
    )
    return (
        est.join(ex, "l_returnflag")
        .select(
            "l_returnflag",
            "n",
            "p50_lo",
            "p50_exact",
            F.round(
                F.abs(F.col("p50_lo") - F.col("p50_exact"))
                / F.col("p50_exact")
                + 1e-9,
                6,
            ).alias("p50_rel_err"),
            "p90_lo",
            "p90_exact",
            F.round(
                F.abs(F.col("p90_lo") - F.col("p90_exact"))
                / F.col("p90_exact")
                + 1e-9,
                6,
            ).alias("p90_rel_err"),
        )
        .orderBy("l_returnflag")
    )


# ---------------------------------------------------------------------------
# Incremental dedup clusters (the star-merge law).
# ---------------------------------------------------------------------------
@query(
    "dedup_clusters_incremental",
    oracle=_MH_EST_NOSUPP.replace("WITH t AS", "WITH RECURSIVE t AS", 1)
    + """,
    ed AS (SELECT id_a, id_b FROM est WHERE est_jaccard >= 0.5),
    nds AS (SELECT id_a AS id FROM ed UNION SELECT id_b FROM ed),
    sym AS (SELECT id_a AS src, id_b AS dst FROM ed
            UNION SELECT id_b, id_a FROM ed),
    walk(node, comp) AS (
      SELECT id, id FROM nds
      UNION
      SELECT s.dst, w.comp FROM walk w JOIN sym s ON s.src = w.node),
    comp AS (
      SELECT node AS doc_id, CAST(MIN(comp) AS BIGINT) AS component
      FROM walk GROUP BY node)
    SELECT c.component,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(DISTINCT d.source) AS BIGINT) AS n_sources,
           CAST(SUM(CASE WHEN c.doc_id % 50 <> 0 AND c.doc_id % 7 = 3
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_delta_docs,
           COUNT(DISTINCT d.source) > 1 AS cross_source
    FROM comp c JOIN documents d USING (doc_id)
    GROUP BY c.component ORDER BY c.component
    """,
)
def dedup_clusters_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental near-dup CLUSTERS after a delta batch — the
    STAR-MERGE law for connected components: with E_t0 the pairs among
    the T0 snapshot and E_inc the pairs touching today's delta,

        CC(E_t0 ∪ E_inc) == CC(star(CC(E_t0)) ∪ E_inc)

    because each T0 component's (node -> label) star edges preserve
    exactly its connectivity, so yesterday's clustering becomes
    node-sized STATE and only delta-touching pairs are generated today
    (``minhash_lsh_pairs new_ids=``; suppression off on both sides for
    the unconditional snapshot-merge equality, as in
    pipeline_curation_incremental). The ORACLE computes the clusters
    from the ONE-SHOT recursive walk over ALL pairs: driver hash
    equality proves the law. Per cluster: docs, sources, today's
    arrivals (n_delta_docs — a cluster whose delta count is high is an
    actively-syndicating feed), cross-source flag.

    Shape: E_t0 and CC(E_t0) are T0 state (id-sized); today's work is
    the delta-bounded banded join + pointer-jumped CC over (star ∪
    E_inc), which never touches corpus text.
    """
    from sqlitedataframe_spark.operators.graph import connected_components

    d = T(spark, sf_dir, "documents")
    sig = shared_doc_sigs(spark, sf_dir)
    is_delta = (F.col("doc_id") % 50 != 0) & (F.col("doc_id") % 7 == 3)
    corpus_t0 = d.filter(~is_delta)
    delta = d.filter(is_delta)

    from sqlitedataframe_spark.operators.util import register_cache

    # r12: both pair frames are lazily persisted — each is referenced 3-4
    # times (CC's edge symmetrization + the node-set unions), and every
    # unpersisted reference re-ran the banded join + verify
    edges_t0 = register_cache(
        D.minhash_lsh_pairs(
            corpus_t0, min_jaccard=0.5, sig=sig, max_bucket=None,
            banded=shared_doc_banded(spark, sf_dir),
        )
        .select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
        .persist()
    )
    nodes_t0 = (
        edges_t0.select(F.col("src").alias("doc_id"))
        .unionByName(edges_t0.select(F.col("dst").alias("doc_id")))
        .distinct()
    )
    comp_t0 = connected_components(
        edges_t0, nodes=nodes_t0, node_col="doc_id"
    )
    # T0 state as star edges: (node -> its T0 label) preserves exactly
    # the T0 connectivity with |nodes| edges
    star = comp_t0.filter(F.col("node") != F.col("comp")).select(
        F.col("node").alias("src"), F.col("comp").alias("dst")
    )
    edges_inc = register_cache(
        D.minhash_lsh_pairs(
            d,
            min_jaccard=0.5,
            new_ids=delta.select("doc_id"),
            sig=sig,
            max_bucket=None,
            banded=shared_doc_banded(spark, sf_dir),
        )
        .select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
        .persist()
    )
    merged_edges = star.unionByName(edges_inc)
    all_nodes = (
        comp_t0.select(F.col("node").alias("doc_id"))
        .unionByName(edges_inc.select(F.col("src").alias("doc_id")))
        .unionByName(edges_inc.select(F.col("dst").alias("doc_id")))
        .distinct()
    )
    comp = connected_components(
        merged_edges, nodes=all_nodes, node_col="doc_id"
    ).select(F.col("node").alias("doc_id"), F.col("comp").alias("component"))
    return (
        comp.join(d.select("doc_id", "source"), "doc_id")
        .groupBy("component")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.countDistinct("source").cast("bigint").alias("n_sources"),
            F.sum(is_delta.cast("int")).cast("bigint").alias("n_delta_docs"),
            (F.countDistinct("source") > 1).alias("cross_source"),
        )
        .orderBy("component")
    )
