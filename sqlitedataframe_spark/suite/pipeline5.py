"""Round-4 additions: substring-span dedup and span coverage, corpus
n-gram/BPE counting, SCD2 history, MAD anomaly screens, leakage-safe
splits, hard-negative mining, containment pairs, PSI drift, media
perceptual-hash near-dup, and audience overlap.

Like every suite module, each query pairs an idiomatic-Spark plan with a
DuckDB oracle the driver hash-compares at sf0.01.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sqlitedataframe_spark.operators import dedup as D
from sqlitedataframe_spark.operators import profiling as P
from sqlitedataframe_spark.operators import relational as R
from sqlitedataframe_spark.operators import text as X
from sqlitedataframe_spark.suite import query
from sqlitedataframe_spark.suite.pipeline import (
    MH_EST_CTE,
    shared_doc_banded,
    shared_doc_sigs,
)
from sqlitedataframe_spark.suite.relational import T


# ---------------------------------------------------------------------------
# Substring-level duplicate spans (ExactSubstr shingle approximation).
# ---------------------------------------------------------------------------
@query(
    "dedup_substring_spans",
    oracle="""
    WITH d AS (SELECT doc_id, text FROM documents WHERE length(text) >= 30),
    sh AS (
      SELECT doc_id, i AS pos, md5(substr(text, i, 30)) AS h
      FROM d, UNNEST(generate_series(1, length(text) - 29, 10)) AS r(i)),
    dup AS (SELECT h FROM sh GROUP BY h HAVING COUNT(DISTINCT doc_id) >= 2)
    SELECT sh.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_dup_spans,
           CAST(MIN(pos) AS BIGINT) AS first_pos
    FROM sh JOIN dup USING (h)
    GROUP BY sh.doc_id
    ORDER BY sh.doc_id
    """,
)
def dedup_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicated 30-char spans (stride 10) shared across >= 2 documents:
    the shingle approximation of suffix-array ExactSubstr dedup.

    operators.dedup.substring_span_stats: windows expand map-side
    (sequence + substr, scan-stage expressions); only (id, pos, digest)
    rows shuffle — never text.
    """
    return D.substring_span_stats(
        T(spark, sf_dir, "documents"), k=30, stride=10, min_docs=2
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# Corpus-wide most frequent n-grams (boilerplate radar / vocab counting).
# ---------------------------------------------------------------------------
@query(
    "text_ngram_topk",
    oracle="""
    WITH toks AS (SELECT string_split(text, ' ') AS t FROM documents),
    grams AS (
      SELECT array_to_string(t[i:i+2], ' ') AS gram
      FROM toks, UNNEST(generate_series(1, len(t) - 2)) AS r(i))
    SELECT gram, CAST(COUNT(*) AS BIGINT) AS n
    FROM grams GROUP BY gram
    ORDER BY n DESC, gram
    LIMIT 50
    """,
)
def text_ngram_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-50 corpus-wide word trigrams by occurrence count (ties broken
    on the gram text so both engines keep the same row set).

    operators.text.frequent_ngrams: map-side gram expansion, one partial-
    combined count aggregate, TakeOrderedAndProject top-k — no full sort.
    """
    return X.frequent_ngrams(T(spark, sf_dir, "documents"), n=3, k=50)


# ---------------------------------------------------------------------------
# SCD Type-2 dimension history over orders.
# ---------------------------------------------------------------------------
@query(
    "scd2_order_history",
    oracle="""
    WITH o AS (
      SELECT o_custkey, o_orderkey, o_orderpriority, o_orderdate,
             LAG(o_orderpriority) OVER w AS prev_p,
             ROW_NUMBER() OVER w AS rn
      FROM orders
      WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)),
    chg AS (
      SELECT * FROM o WHERE rn = 1 OR prev_p IS DISTINCT FROM o_orderpriority)
    SELECT o_custkey,
           o_orderpriority AS priority,
           CAST(ROW_NUMBER() OVER w2 AS BIGINT) AS version,
           o_orderdate AS valid_from,
           LEAD(o_orderdate) OVER w2 AS valid_to,
           (LEAD(o_orderdate) OVER w2 IS NULL) AS is_current
    FROM chg
    WINDOW w2 AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    ORDER BY o_custkey, version
    """,
)
def scd2_order_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD Type-2 history of each customer's order priority: consecutive
    unchanged-priority orders collapse, survivors get versioned
    [valid_from, valid_to) intervals.

    operators.relational.scd2_history: one shuffle on o_custkey; the
    change-detect and re-version windows share the partitioning, so the
    second window plans without a new exchange.
    """
    o = T(spark, sf_dir, "orders")
    return (
        R.scd2_history(
            o.select("o_custkey", "o_orderkey", "o_orderpriority", "o_orderdate"),
            key_cols=["o_custkey"],
            order_col="o_orderdate",
            attr_cols=["o_orderpriority"],
            tiebreak_col="o_orderkey",
        )
        .select(
            "o_custkey",
            F.col("o_orderpriority").alias("priority"),
            "version",
            "valid_from",
            "valid_to",
            "is_current",
        )
        .orderBy("o_custkey", "version")
    )


# ---------------------------------------------------------------------------
# Robust anomaly detection: MAD outliers per event type.
# ---------------------------------------------------------------------------
@query(
    "events_anomaly_mad",
    oracle="""
    WITH med AS (
      SELECT event_type, median(value) AS m FROM events GROUP BY event_type),
    mad AS (
      SELECT e.event_type, median(abs(e.value - med.m)) AS mad
      FROM events e JOIN med USING (event_type) GROUP BY e.event_type)
    SELECT e.event_id, e.event_type, e.value,
           ROUND(abs(e.value - med.m) / NULLIF(mad.mad, 0), 4) AS mad_score
    FROM events e JOIN med USING (event_type) JOIN mad USING (event_type)
    WHERE abs(e.value - med.m) > 5 * mad.mad
    ORDER BY e.event_id
    """,
)
def events_anomaly_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Events whose value deviates from their type's median by more than
    5 MADs — the robust (outlier-immune) anomaly screen.

    operators.profiling.mad_outliers: two tiny per-type aggregates
    broadcast back; the event stream is scanned, never shuffled. exact=True
    here for the bit-exact oracle; exact=False swaps in the mergeable
    approx-percentile sketch for unbounded groups.
    """
    return P.mad_outliers(
        T(spark, sf_dir, "events"),
        group_col="event_type",
        value_col="value",
        id_cols=["event_id"],
        thresh=5.0,
    ).orderBy("event_id")


# ---------------------------------------------------------------------------
# Duplicated-span coverage (interval union of cross-doc repeated windows).
# ---------------------------------------------------------------------------
@query(
    "dedup_span_coverage",
    oracle="""
    WITH d AS (SELECT doc_id, text FROM documents WHERE length(text) >= 30),
    sh AS (
      SELECT doc_id, i AS pos, md5(substr(text, i, 30)) AS h
      FROM d, UNNEST(generate_series(1, length(text) - 29, 10)) AS r(i)),
    dup AS (SELECT h FROM sh GROUP BY h HAVING COUNT(DISTINCT doc_id) >= 2),
    sp AS (SELECT doc_id, pos, pos + 29 AS e FROM sh JOIN dup USING (h)),
    m AS (
      SELECT doc_id, pos, e,
             MAX(e) OVER (PARTITION BY doc_id ORDER BY pos
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmax
      FROM sp),
    isl AS (
      SELECT doc_id, pos, e,
             SUM(CASE WHEN pmax IS NULL OR pos > pmax THEN 1 ELSE 0 END)
               OVER (PARTITION BY doc_id ORDER BY pos
                 ROWS UNBOUNDED PRECEDING) AS island
      FROM m),
    agg AS (
      SELECT doc_id, island, MIN(pos) AS s, MAX(e) AS e
      FROM isl GROUP BY doc_id, island),
    per AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_islands,
             CAST(SUM(e - s + 1) AS BIGINT) AS n_dup_chars
      FROM agg GROUP BY doc_id)
    SELECT per.doc_id, n_islands, n_dup_chars,
           ROUND(n_dup_chars / length(d.text) + 1e-9, 4) AS dup_ratio
    FROM per JOIN d ON per.doc_id = d.doc_id
    ORDER BY per.doc_id
    """,
)
def dedup_span_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """How much of each document is cross-corpus boilerplate: duplicated
    30-char windows unioned into maximal islands (merge-intervals), with
    per-doc island count, covered chars, and duplication ratio.

    operators.dedup.duplicate_span_coverage: the whole interval union —
    two windows + two aggregates — runs under ONE hash exchange on doc_id
    (grouping on (doc, island) reuses the doc partitioning).
    """
    return D.duplicate_span_coverage(
        T(spark, sf_dir, "documents"), k=30, stride=10, min_docs=2
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# Leakage-safe split: assign by GROUP (source), not by row.
# ---------------------------------------------------------------------------
def _split_case_sql() -> str:
    """The oracle-side CASE matching sampling.split_assign on `source` —
    thresholds derived from the same hex_threshold so the twins can't
    drift."""
    from sqlitedataframe_spark.operators.sampling import hex_threshold

    t80, t90 = hex_threshold(0.8), hex_threshold(0.9)
    return f"""CASE WHEN substr(md5(source), 1, 4) < '{t80}' THEN 'train'
             WHEN substr(md5(source), 1, 4) < '{t90}' THEN 'val'
             ELSE 'test' END"""


@query(
    "sample_split_by_group",
    oracle=f"""
    WITH s AS (
      SELECT doc_id, source, n_chars,
             {_split_case_sql()} AS split
      FROM documents)
    SELECT split,
           CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS sum_chars
    FROM s GROUP BY split ORDER BY split
    """,
)
def sample_split_by_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/val/test split assigned at the SOURCE level, not the document
    level: every document of a source lands in the same split, so
    within-source near-duplicates can never leak across the train/test
    boundary — the leakage-safe split a curation pipeline actually wants
    (row-level splitting puts one copy of a boilerplate family in train
    and another in test).

    sampling.split_assign keyed on the group column: a pure map-side CASE
    over a 4-hex md5 prefix — deterministic, disjoint, exhaustive, stable
    under corpus growth; no shuffle until the tiny report aggregate.
    """
    from sqlitedataframe_spark.operators.sampling import split_assign

    d = T(spark, sf_dir, "documents")
    return (
        d.withColumn(
            "split",
            split_assign(F.col("source"), {"train": 0.8, "val": 0.1, "test": 0.1}),
        )
        .groupBy("split")
        .agg(
            F.count_distinct("source").cast("bigint").alias("n_sources"),
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("sum_chars"),
        )
        .orderBy("split")
    )


# ---------------------------------------------------------------------------
# Label-noise screening: farthest-from-own-centroid embeddings per label.
# ---------------------------------------------------------------------------
@query(
    "embed_label_outliers",
    oracle="""
    WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
    cent AS (
      SELECT label, pos, ROUND(AVG(x) + 1e-9, 6) AS c
      FROM (SELECT label, unnest(v) AS x, generate_subscripts(v, 1) AS pos
            FROM e)
      GROUP BY label, pos),
    carr AS (
      SELECT label, list(c ORDER BY pos) AS cv FROM cent GROUP BY label),
    scored AS (
      SELECT e.vec_id, e.label,
             ROUND(list_dot_product(e.v, carr.cv)
                   / (sqrt(list_dot_product(e.v, e.v))
                      * sqrt(list_dot_product(carr.cv, carr.cv))),
                   6) AS cos_to_centroid
      FROM e JOIN carr USING (label)),
    ranked AS (
      SELECT label,
             CAST(ROW_NUMBER() OVER (PARTITION BY label
               ORDER BY cos_to_centroid, vec_id) AS BIGINT) AS rank_in_label,
             vec_id, cos_to_centroid
      FROM scored)
    SELECT label, rank_in_label, vec_id, cos_to_centroid
    FROM ranked WHERE rank_in_label <= 5
    ORDER BY label, rank_in_label
    """,
)
def embed_label_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 5 vectors per label farthest (lowest cosine) from their own
    label centroid — the cheap mislabel/outlier screen run over labeled
    corpora before training.

    operators.similarity.label_centroid_outliers: bounded centroid model
    broadcast back; the embedding side never shuffles until the per-label
    top-k window on the bounded label key.
    """
    from sqlitedataframe_spark.operators.similarity import label_centroid_outliers

    return label_centroid_outliers(
        T(spark, sf_dir, "embeddings"), per_label=5
    ).orderBy("label", "rank_in_label")


# ---------------------------------------------------------------------------
# BPE merge-step kernel: corpus-wide adjacent char-pair counts.
# ---------------------------------------------------------------------------
@query(
    "text_bpe_pairs",
    oracle="""
    WITH w AS (
      SELECT unnest(string_split(text, ' ')) AS word FROM documents),
    p AS (
      SELECT substr(word, i, 2) AS pair
      FROM w, UNNEST(generate_series(1, length(word) - 1)) AS r(i)
      WHERE length(word) >= 2)
    SELECT pair, CAST(COUNT(*) AS BIGINT) AS n
    FROM p GROUP BY pair
    ORDER BY n DESC, pair
    LIMIT 50
    """,
)
def text_bpe_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-50 adjacent character pairs within words — the counting kernel
    of a BPE merge iteration (the argmax row is the next merge).

    operators.text.bpe_pair_counts: map-side double explode; at most
    |alphabet|^2 partially-combined rows per partition cross the exchange.
    """
    return X.bpe_pair_counts(T(spark, sf_dir, "documents"), k=50)


# ---------------------------------------------------------------------------
# Hard-negative mining: nearest CROSS-label neighbor per vector.
# ---------------------------------------------------------------------------
def _knn_plane_values() -> str:
    from sqlitedataframe_spark.operators.similarity import random_hyperplanes

    return ",\n      ".join(
        "({}, [{}]::DOUBLE[])".format(i, ", ".join(repr(x) for x in p))
        for i, p in enumerate(random_hyperplanes(64, 32, seed=42))
    )


@query(
    "embed_hard_negatives",
    oracle=f"""
    WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
    planes(pid, p) AS (VALUES
      {{planes}}),
    sb AS (
      SELECT e.vec_id, pl.pid // 8 AS band,
             string_agg(CASE WHEN list_dot_product(e.v, pl.p) >= 0
                             THEN '1' ELSE '0' END, '' ORDER BY pl.pid) AS bucket
      FROM e CROSS JOIN planes pl
      GROUP BY e.vec_id, pl.pid // 8),
    cand AS (
      SELECT DISTINCT a.vec_id AS qid, b.vec_id AS nid
      FROM sb a JOIN sb b
        ON a.band = b.band AND a.bucket = b.bucket AND a.vec_id <> b.vec_id),
    scored AS (
      SELECT c.qid, c.nid, eb.label AS nn_label,
             ROUND(list_dot_product(ea.v, eb.v)
                   / (sqrt(list_dot_product(ea.v, ea.v))
                      * sqrt(list_dot_product(eb.v, eb.v))),
                   6) AS cos_sim
      FROM cand c
      JOIN e ea ON ea.vec_id = c.qid
      JOIN e eb ON eb.vec_id = c.nid
      WHERE ea.label <> eb.label),
    top1 AS (
      SELECT qid, nid, nn_label, cos_sim,
             ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos_sim DESC, nid)
               AS rank
      FROM scored
      QUALIFY rank <= 1)
    SELECT e.vec_id, e.label, t.nid AS nn_id, t.nn_label, t.cos_sim,
           CAST(t.rank AS INT) AS rank
    FROM e LEFT JOIN top1 t ON t.qid = e.vec_id
    ORDER BY e.vec_id
    """.replace("{planes}", _knn_plane_values()),
)
def embed_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for contrastive training: every vector's
    single most-similar neighbor with a DIFFERENT label, found through
    sign-LSH buckets + exact re-rank instead of an O(n^2) cross join.
    Vectors with no cross-label bucket mate keep a null row (coverage is
    visible, not silently overstated).

    operators.similarity.knn_join_lsh(label_col=...): same slim
    (id, band, bucket) candidate machinery as sim_knn_join; the label
    inequality filters candidates before the top-k window.
    """
    from sqlitedataframe_spark.operators.similarity import knn_join_lsh

    e = T(spark, sf_dir, "embeddings")
    return knn_join_lsh(
        e, dim=64, k=1, n_planes=32, bands=4, label_col="label"
    ).orderBy("vec_id")


# ---------------------------------------------------------------------------
# Asymmetric containment: excerpt/subset detection resemblance misses.
# ---------------------------------------------------------------------------
@query(
    "dedup_containment",
    oracle="""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    grams AS (
      SELECT DISTINCT doc_id, array_to_string(t[i:i+3], ' ') AS gram
      FROM toks, UNNEST(generate_series(1, len(t) - 3)) AS r(i)),
    dfreq AS (SELECT gram, COUNT(*) AS d FROM grams GROUP BY gram),
    kept AS (
      SELECT g.doc_id, g.gram FROM grams g JOIN dfreq USING (gram)
      WHERE dfreq.d <= 20),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM grams GROUP BY doc_id),
    shared AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS c
      FROM kept a JOIN kept b USING (gram)
      WHERE a.doc_id <> b.doc_id
      GROUP BY 1, 2)
    SELECT s.id_a, s.id_b,
           ROUND(s.c * 1.0 / za.n + 1e-9, 6) AS containment
    FROM shared s JOIN sizes za ON za.doc_id = s.id_a
    WHERE s.c * 1.0 / za.n >= 0.2
    ORDER BY id_a, id_b
    """,
)
def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directional n-gram containment pairs (Broder's containment, the
    asymmetric sibling of Jaccard): excerpts/quotes/subsets score near 1.0
    here while their resemblance stays low. Candidates blocked on word
    4-grams with a doc-frequency cap (<= 20 docs) — the blocking analogue
    of the LSH hot-bucket guard.

    operators.dedup.containment_pairs.
    """
    return D.containment_pairs(
        T(spark, sf_dir, "documents"), n=4, max_df=20, min_containment=0.2
    ).orderBy("id_a", "id_b")


# ---------------------------------------------------------------------------
# Drift monitoring: PSI between two time slices of the event stream.
# ---------------------------------------------------------------------------
@query(
    "events_drift_psi",
    oracle="""
    WITH base AS (
      SELECT event_type, value,
             CASE WHEN ts < TIMESTAMP '2024-01-15 00:00:00'
                  THEN 'ref' ELSE 'cur' END AS period
      FROM events),
    binned AS (
      SELECT event_type, period,
             LEAST(GREATEST(CAST(FLOOR(value / 25.0) AS INT), 0), 19) AS bin
      FROM base),
    grid AS (
      SELECT g.event_type, s.bin
      FROM (SELECT DISTINCT event_type FROM binned) g,
           (SELECT UNNEST(generate_series(0, 19)) AS bin) s),
    cnt AS (
      SELECT event_type, period, bin, COUNT(*) AS c
      FROM binned GROUP BY 1, 2, 3),
    dense AS (
      SELECT grid.event_type, grid.bin,
             COALESCE(r.c, 0) + 0.5 AS c_ref,
             COALESCE(u.c, 0) + 0.5 AS c_cur
      FROM grid
      LEFT JOIN (SELECT * FROM cnt WHERE period = 'ref') r
        USING (event_type, bin)
      LEFT JOIN (SELECT * FROM cnt WHERE period = 'cur') u
        USING (event_type, bin)),
    tot AS (
      SELECT event_type, SUM(c_ref) AS tr, SUM(c_cur) AS tc
      FROM dense GROUP BY event_type)
    SELECT d.event_type,
           ROUND(SUM((d.c_cur / t.tc - d.c_ref / t.tr)
                     * ln((d.c_cur / t.tc) / (d.c_ref / t.tr))) + 1e-9, 6)
             AS psi
    FROM dense d JOIN tot t USING (event_type)
    GROUP BY d.event_type
    ORDER BY d.event_type
    """,
)
def events_drift_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index of the event value distribution per
    type, first half of January (reference) vs the rest (current) — the
    standard train-vs-serve drift monitor.

    operators.profiling.psi_drift: each snapshot collapses to a
    |types| x 20 count grid map-side (input-size-independent exchange);
    the PSI arithmetic runs on the tiny dense grid.
    """
    e = T(spark, sf_dir, "events")
    cut = F.lit("2024-01-15 00:00:00").cast("timestamp")
    return P.psi_drift(
        e.filter(F.col("ts") < cut),
        e.filter(F.col("ts") >= cut),
        group_col="event_type",
        value_col="value",
        bin_width=25.0,
        n_bins=20,
    ).orderBy("event_type")


# ---------------------------------------------------------------------------
# Sequential-pattern mining: frequent in-session event paths.
# ---------------------------------------------------------------------------
@query(
    "events_top_paths",
    oracle="""
    WITH o AS (
      SELECT user_id, ts, event_id, event_type,
             CASE WHEN LAG(ts) OVER w IS NULL
                       OR ts - LAG(ts) OVER w > INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END AS brk
      FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
    s AS (
      SELECT user_id, ts, event_id, event_type,
             SUM(brk) OVER (PARTITION BY user_id ORDER BY ts
               ROWS UNBOUNDED PRECEDING) AS sess
      FROM o),
    tr AS (
      SELECT event_type || '>' || LEAD(event_type, 1) OVER w2
               || '>' || LEAD(event_type, 2) OVER w2 AS path,
             LEAD(event_type, 2) OVER w2 AS last_step
      FROM s WINDOW w2 AS (PARTITION BY user_id, sess ORDER BY ts, event_id))
    SELECT path, CAST(COUNT(*) AS BIGINT) AS n
    FROM tr WHERE last_step IS NOT NULL
    GROUP BY path ORDER BY n DESC, path
    LIMIT 20
    """,
)
def events_top_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 three-step event-type paths within 30-minute user sessions
    — the sequential-pattern view of the clickstream.

    operators.mining.top_paths: sessionize shuffles once on user_id; the
    path window reuses that partitioning ((user, session) is a superset);
    counting is a partially-combined aggregate on the path string with
    TakeOrderedAndProject top-k.
    """
    from sqlitedataframe_spark.operators.mining import top_paths

    e = T(spark, sf_dir, "events")
    return top_paths(
        e, "user_id", "ts", "event_type", n=3, k=20, tiebreak_col="event_id"
    )


# ---------------------------------------------------------------------------
# Market-basket mining: part pairs most often co-ordered.
# ---------------------------------------------------------------------------
@query(
    "basket_part_pairs",
    oracle="""
    WITH slim AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem)
    SELECT a.l_partkey AS item_a, b.l_partkey AS item_b,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM slim a JOIN slim b
      ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    GROUP BY 1, 2
    ORDER BY n DESC, item_a, item_b
    LIMIT 20
    """,
)
def basket_part_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 part pairs co-occurring in the same order — the
    "frequently bought together" 2-itemset support kernel.

    operators.mining.cooccurrence_pairs: one exchange on the basket key
    reused by both self-join sides; pairs bounded by basket size with a
    mega-basket guard; support partially combines map-side.
    """
    from sqlitedataframe_spark.operators.mining import cooccurrence_pairs

    li = T(spark, sf_dir, "lineitem")
    return cooccurrence_pairs(li, "l_orderkey", "l_partkey", k=20)


# ---------------------------------------------------------------------------
# Media near-dup: perceptual-hash banded candidate pairs.
# ---------------------------------------------------------------------------
@query(
    "multimodal_phash_pairs",
    oracle="""
    WITH m AS (
      SELECT doc_id AS media_id, text, length(text) AS n
      FROM documents
      WHERE length(text) >= 2 AND octet_length(encode(text)) = length(text)),
    arr AS (
      SELECT media_id,
             [ord(substr(text, 1 + CAST((i * (n - 1)) // 64 AS INT), 1))
              FOR i IN generate_series(0, 64)] AS s
      FROM m),
    bits AS (
      SELECT media_id, r.b,
             CASE WHEN s[r.b + 1] < s[r.b + 2] THEN 1 ELSE 0 END AS bit
      FROM arr, UNNEST(generate_series(0, 63)) AS r(b)),
    bands AS (
      SELECT media_id, b // 16 AS band,
             CAST(SUM(bit * (1 << (b % 16))) AS BIGINT) AS bucket
      FROM bits GROUP BY media_id, b // 16),
    live AS (
      SELECT * FROM bands
      QUALIFY COUNT(*) OVER (PARTITION BY band, bucket) <= 10000),
    cand AS (
      SELECT DISTINCT a.media_id AS id_a, b.media_id AS id_b
      FROM live a JOIN live b
        ON a.band = b.band AND a.bucket = b.bucket
       AND a.media_id < b.media_id),
    ham AS (
      SELECT c.id_a, c.id_b,
             CAST(SUM(CASE WHEN ba.bit <> bb.bit THEN 1 ELSE 0 END) AS INT)
               AS hamming
      FROM cand c
      JOIN bits ba ON ba.media_id = c.id_a
      JOIN bits bb ON bb.media_id = c.id_b AND bb.b = ba.b
      GROUP BY 1, 2)
    SELECT id_a, id_b, hamming FROM ham ORDER BY id_a, id_b
    """,
)
def multimodal_phash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Media near-dup candidates: banded LSH over a 64-bit dHash-shaped
    perceptual hash of each payload (the fake decode's fixed-grid byte
    sample stands in for the downsampled grayscale row), every candidate
    scored with its full Hamming distance — the image-pipeline twin of
    text SimHash dedup.

    operators.multimodal.phash_pairs: hashes compute scan-side, payloads
    never shuffle; banding/hot-bucket/pair machinery shared in shape with
    the text path and exactly re-derived by the oracle at bit level.

    Both sides restrict to ASCII payloads (octet_length == char length):
    phash_bits samples BYTES of the binary payload while a SQL oracle can
    only address CHARACTERS of the source text, and the two sampling grids
    coincide exactly when every character is one byte (ADVICE r4 — on a
    non-ASCII fixture the hashes would silently diverge). Real media
    payloads are opaque binary with no oracle at all; this predicate is
    purely the verification harness's alignment contract.
    """
    from sqlitedataframe_spark.operators.multimodal import attach_media, phash_pairs

    d = T(spark, sf_dir, "documents").filter(
        (F.length("text") >= 2)
        & (F.octet_length("text") == F.length("text"))
    )
    media = attach_media(d, "doc_id", "text")
    return phash_pairs(media).orderBy("id_a", "id_b")


# ---------------------------------------------------------------------------
# Audience overlap: exact Jaccard between event-type user sets.
# ---------------------------------------------------------------------------
@query(
    "events_audience_overlap",
    oracle="""
    WITH s AS (SELECT DISTINCT event_type, user_id FROM events),
    sz AS (SELECT event_type, COUNT(*) AS n FROM s GROUP BY event_type),
    inter AS (
      SELECT a.event_type AS type_a, b.event_type AS type_b, COUNT(*) AS i
      FROM s a JOIN s b
        ON a.user_id = b.user_id AND a.event_type < b.event_type
      GROUP BY 1, 2)
    SELECT inter.type_a, inter.type_b,
           CAST(inter.i AS BIGINT) AS n_shared,
           ROUND(inter.i * 1.0 / (za.n + zb.n - inter.i) + 1e-9, 6) AS jaccard
    FROM inter
    JOIN sz za ON za.event_type = inter.type_a
    JOIN sz zb ON zb.event_type = inter.type_b
    ORDER BY type_a, type_b
    """,
)
def events_audience_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audience-overlap matrix: for every pair of event types, how many
    users both audiences share and their exact Jaccard — the
    segment-overlap analysis behind campaign planning and the exact twin
    of what theta/HLL sketches estimate at planetary scale.

    Plan shape: ONE distinct over slim (type, user) rows, then a
    self-join on user_id — both sides the same frame and partitioning
    (ReuseExchange) — aggregated to at most |types|^2 rows with map-side
    combine; set sizes broadcast back onto the tiny pair matrix.
    """
    e = T(spark, sf_dir, "events")
    s = e.select("event_type", "user_id").distinct()
    sz = s.groupBy("event_type").agg(F.count(F.lit(1)).alias("_n"))
    a = s.select(F.col("event_type").alias("type_a"), "user_id")
    b = s.select(F.col("event_type").alias("type_b"), "user_id")
    inter = (
        a.join(b, "user_id")
        .filter(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_shared"))
    )
    za = F.broadcast(sz.select(F.col("event_type").alias("type_a"), F.col("_n").alias("_na")))
    zb = F.broadcast(sz.select(F.col("event_type").alias("type_b"), F.col("_n").alias("_nb")))
    return (
        inter.join(za, "type_a")
        .join(zb, "type_b")
        .select(
            "type_a",
            "type_b",
            "n_shared",
            F.round(
                F.col("n_shared")
                / (F.col("_na") + F.col("_nb") - F.col("n_shared"))
                + 1e-9,
                6,
            ).alias("jaccard"),
        )
        .orderBy("type_a", "type_b")
    )


# ---------------------------------------------------------------------------
# SCD2 point-in-time lookup: the join the history table exists for.
# ---------------------------------------------------------------------------
@query(
    "scd2_point_in_time",
    oracle="""
    WITH o AS (
      SELECT o_custkey, o_orderkey, o_orderpriority, o_orderdate,
             LAG(o_orderpriority) OVER w AS prev_p,
             ROW_NUMBER() OVER w AS rn
      FROM orders
      WHERE o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
      WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)),
    chg AS (
      SELECT * FROM o WHERE rn = 1 OR prev_p IS DISTINCT FROM o_orderpriority),
    dim AS (
      SELECT o_custkey, o_orderpriority AS priority,
             CAST(ROW_NUMBER() OVER w2 AS BIGINT) AS version,
             o_orderdate AS valid_from,
             LEAD(o_orderdate) OVER w2 AS valid_to
      FROM chg
      WINDOW w2 AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)),
    facts AS (
      SELECT o_orderkey, o_custkey, o_orderdate FROM orders
      WHERE o_orderdate < TIMESTAMP '1997-01-01 00:00:00')
    SELECT f.o_orderkey, f.o_custkey, f.o_orderdate,
           d.priority AS effective_priority, d.version
    FROM facts f JOIN dim d
      ON d.o_custkey = f.o_custkey
     AND d.valid_from <= f.o_orderdate
     AND (d.valid_to IS NULL OR f.o_orderdate < d.valid_to)
    ORDER BY f.o_orderkey
    """,
)
def scd2_point_in_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time dimension lookup — the join an SCD2 history table
    exists for: every fact row picks the dimension version whose
    ``[valid_from, valid_to)`` interval covers the fact timestamp.
    Exactly one match per fact, because the intervals PARTITION each
    key's timeline (property-tested in test_properties.py).

    Plan shape: equi-join on the dimension key with the interval bounds
    as a residual predicate — co-partitioned hash join, never a range
    blowup (per-key version counts are small by construction: versions
    exist only where the attribute changed).
    """
    cut = F.lit("1997-01-01 00:00:00").cast("timestamp")
    o = T(spark, sf_dir, "orders").filter(F.col("o_orderdate") < cut)
    dim = R.scd2_history(
        o.select("o_custkey", "o_orderkey", "o_orderpriority", "o_orderdate"),
        key_cols=["o_custkey"],
        order_col="o_orderdate",
        attr_cols=["o_orderpriority"],
        tiebreak_col="o_orderkey",
    ).select(
        F.col("o_custkey").alias("_ck"),
        F.col("o_orderpriority").alias("effective_priority"),
        "version",
        "valid_from",
        "valid_to",
    )
    facts = o.select("o_orderkey", "o_custkey", "o_orderdate")
    return (
        facts.join(
            dim,
            (F.col("o_custkey") == F.col("_ck"))
            & (F.col("valid_from") <= F.col("o_orderdate"))
            & (
                F.col("valid_to").isNull()
                | (F.col("o_orderdate") < F.col("valid_to"))
            ),
        )
        .select(
            "o_orderkey", "o_custkey", "o_orderdate",
            "effective_priority", "version",
        )
        .orderBy("o_orderkey")
    )


# ---------------------------------------------------------------------------
# Incremental SCD2 merge: oracle checks incremental == full rebuild.
# ---------------------------------------------------------------------------
@query(
    "scd2_merge_changes",
    oracle="""
    WITH o AS (
      SELECT o_custkey, o_orderkey, o_orderpriority, o_orderdate,
             LAG(o_orderpriority) OVER w AS prev_p,
             ROW_NUMBER() OVER w AS rn
      FROM orders
      WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)),
    chg AS (
      SELECT * FROM o WHERE rn = 1 OR prev_p IS DISTINCT FROM o_orderpriority)
    SELECT o_custkey,
           o_orderpriority AS priority,
           CAST(ROW_NUMBER() OVER w2 AS BIGINT) AS version,
           o_orderdate AS valid_from,
           LEAD(o_orderdate) OVER w2 AS valid_to,
           (LEAD(o_orderdate) OVER w2 IS NULL) AS is_current
    FROM chg
    WINDOW w2 AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    ORDER BY o_custkey, version
    """,
)
def scd2_merge_changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental SCD2 maintenance: the pre-1997 history dimension plus
    the 1997+ orders applied as a change batch. The ORACLE is the
    one-shot full-history build over ALL orders — so the hash compare
    proves the defining merge property: incremental apply equals full
    rebuild, including cross-cutoff collapse of unchanged attributes.

    operators.relational.scd2_apply_changes: touched keys rebuilt from
    version-start events + changes; untouched keys pass through; cost
    scales with the batch, not the dimension.
    """
    cut = F.lit("1997-01-01 00:00:00").cast("timestamp")
    o = T(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderkey", "o_orderpriority", "o_orderdate"
    )
    dim = R.scd2_history(
        o.filter(F.col("o_orderdate") < cut),
        key_cols=["o_custkey"],
        order_col="o_orderdate",
        attr_cols=["o_orderpriority"],
        tiebreak_col="o_orderkey",
    )
    merged = R.scd2_apply_changes(
        dim,
        o.filter(F.col("o_orderdate") >= cut),
        key_cols=["o_custkey"],
        order_col="o_orderdate",
        attr_cols=["o_orderpriority"],
        tiebreak_col="o_orderkey",
    )
    return merged.select(
        "o_custkey",
        F.col("o_orderpriority").alias("priority"),
        "version",
        "valid_from",
        "valid_to",
        "is_current",
    ).orderBy("o_custkey", "version")


# ---------------------------------------------------------------------------
# Incremental LSH dedup: new batch vs corpus, old-old pairs never generated.
# ---------------------------------------------------------------------------
@query(
    "dedup_incremental_lsh",
    oracle=MH_EST_CTE
    + """
    SELECT id_a, id_b, est_jaccard FROM est
    WHERE est_jaccard >= 0.3 AND (id_a % 5 = 0 OR id_b % 5 = 0)
    ORDER BY id_a, id_b
    """,
)
def dedup_incremental_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental near-dedup — the continuous-ingestion shape: a new
    batch (every 5th doc plays today's crawl) is LSH-checked against the
    WHOLE corpus without ever re-pairing the historical corpus with
    itself. The oracle runs the FULL pair generation and filters to pairs
    touching the batch — hash equality proves the incremental plan finds
    exactly the pairs the full run would.

    operators.dedup.minhash_lsh_pairs(new_ids=...): one banded side
    semi-joins to the batch, so self-join cost scales with the batch, not
    the corpus.
    """
    d = T(spark, sf_dir, "documents")
    batch = d.filter(F.col("doc_id") % 5 == 0).select("doc_id")
    return D.minhash_lsh_pairs(
        d,
        min_jaccard=0.3,
        new_ids=batch,
        sig=shared_doc_sigs(spark, sf_dir),
        banded=shared_doc_banded(spark, sf_dir),
    ).orderBy("id_a", "id_b")


# ---------------------------------------------------------------------------
# Triangle counting over the co-order graph.
# ---------------------------------------------------------------------------
@query(
    "graph_triangles",
    oracle="""
    WITH slim AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    e AS (
      SELECT a.l_partkey AS u, b.l_partkey AS v
      FROM slim a JOIN slim b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2 HAVING COUNT(*) >= 2)
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM e) AS n_edges,
           (SELECT CAST(COUNT(*) AS BIGINT)
            FROM e e1
            JOIN e e2 ON e2.u = e1.v
            JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v) AS n_triangles
    """,
)
def graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact triangle count of the part co-order graph (edges = part pairs
    co-ordered at least twice) — the clustering-coefficient primitive of
    graph analytics.

    operators.graph.triangle_count: degree-ordered wedge join, so the
    wedge stage stays O(m^1.5) even on power-law graphs. Every triangle
    has a unique (degree, id)-minimal vertex, so the total matches the
    oracle's naive id-ordered count exactly.
    """
    from sqlitedataframe_spark.operators.graph import triangle_count

    li = T(spark, sf_dir, "lineitem")
    slim = li.select("l_orderkey", "l_partkey").distinct()
    a = slim.select(F.col("l_orderkey").alias("_o"), F.col("l_partkey").alias("src"))
    b = slim.select(F.col("l_orderkey").alias("_o"), F.col("l_partkey").alias("dst"))
    edges = (
        a.join(b, "_o")
        .filter(F.col("src") < F.col("dst"))
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).alias("_n"))
        .filter(F.col("_n") >= 2)
        .select("src", "dst")
    )
    return triangle_count(edges)


# ---------------------------------------------------------------------------
# Experiment readout: Welch z-test per event type between user halves.
# ---------------------------------------------------------------------------
@query(
    "events_ab_ztest",
    oracle="""
    WITH g AS (
      SELECT event_type, user_id % 2 AS grp, value FROM events),
    s AS (
      SELECT event_type, grp, COUNT(*) AS n, AVG(value) AS mean,
             var_samp(value) AS v
      FROM g GROUP BY 1, 2)
    SELECT a.event_type,
           CAST(a.n AS BIGINT) AS n_a, CAST(b.n AS BIGINT) AS n_b,
           ROUND(a.mean + 1e-9, 4) AS mean_a,
           ROUND(b.mean + 1e-9, 4) AS mean_b,
           ROUND((a.mean - b.mean) / sqrt(a.v / a.n + b.v / b.n) + 1e-9, 4)
             + 0.0 AS z,
           (abs((a.mean - b.mean) / sqrt(a.v / a.n + b.v / b.n)) > 1.96)
             AS significant
    FROM s a JOIN s b
      ON a.event_type = b.event_type AND a.grp = 0 AND b.grp = 1
    ORDER BY a.event_type
    """,
)
def events_ab_ztest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch two-sample z-test of the event value per type, variant =
    user_id parity (a stand-in experiment assignment): the A/B-readout
    primitive. Random assignment over the synthetic data correctly reads
    out non-significant everywhere.

    operators.profiling.ab_ztest: one moments pass over the fact stream
    (map-side partials, |types| x 2 rows out), then arithmetic on the
    tiny frame.
    """
    e = T(spark, sf_dir, "events")
    return P.ab_ztest(
        e, metric_col="value", group_col="event_type",
        variant_col=(F.col("user_id") % 2 == 1),
    ).orderBy("event_type")


# ---------------------------------------------------------------------------
# Skip-gram co-occurrence counts (embedding-training data prep).
# ---------------------------------------------------------------------------
@query(
    "text_skipgram_pairs",
    oracle="""
    WITH toks AS (SELECT string_split(text, ' ') AS t FROM documents),
    p AS (
      SELECT t[i] AS w1, t[i + d] AS w2
      FROM toks,
           UNNEST(generate_series(1, len(t) - 1)) AS r(i),
           UNNEST(generate_series(1, 2)) AS s(d)
      WHERE i + d <= len(t))
    SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS n
    FROM p GROUP BY 1, 2
    ORDER BY n DESC, w1, w2
    LIMIT 50
    """,
)
def text_skipgram_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-50 skip-gram (center, context) pairs within a 2-token
    lookahead — the co-occurrence counting step behind word2vec/GloVe
    training data and PMI collocation mining.

    operators.text.skipgram_pairs: map-side nested-transform pair
    expansion over the let-bound token array; one partially-combined
    count aggregate; TakeOrderedAndProject top-k.
    """
    return X.skipgram_pairs(T(spark, sf_dir, "documents"), window=2, k=50)


# ---------------------------------------------------------------------------
# Seasonal-naive forecast baseline evaluation.
# ---------------------------------------------------------------------------
@query(
    "events_forecast_baseline",
    oracle="""
    WITH d AS (
      SELECT event_type, CAST(ts AS DATE) AS day, SUM(value) AS y
      FROM events GROUP BY 1, 2),
    l AS (
      SELECT event_type, day, y,
             LAG(y, 7) OVER (PARTITION BY event_type ORDER BY day) AS yhat
      FROM d)
    SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_days,
           ROUND(AVG(abs(y - yhat)) + 1e-9, 2) AS mae,
           ROUND(AVG(abs(y - yhat) / NULLIF(y, 0)) + 1e-9, 4) AS mape
    FROM l WHERE yhat IS NOT NULL
    GROUP BY 1 ORDER BY 1
    """,
)
def events_forecast_baseline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-naive (lag-7) forecast error per event type — the
    baseline every forecasting model must beat and the "is this week
    shaped like last week" monitor.

    operators.profiling.forecast_baseline_eval: fact stream collapses to
    the (type, day) calendar map-side; lag window + error means run on
    that bounded frame.
    """
    return P.forecast_baseline_eval(
        T(spark, sf_dir, "events"), "event_type", "ts", "value", season=7
    ).orderBy("event_type")


# ---------------------------------------------------------------------------
# Sparse TF-IDF cosine similarity join (inverted index).
# ---------------------------------------------------------------------------
@query(
    "text_cosine_pairs",
    oracle="""
    WITH terms AS (
      SELECT doc_id, u.term
      FROM (SELECT doc_id, string_split_regex(lower(text), '[^a-z0-9]+') AS t
            FROM documents),
           UNNEST(t) AS u(term)
      WHERE length(u.term) >= 3),
    tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM terms GROUP BY 1, 2),
    dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
    n AS (SELECT COUNT(*) AS n_docs FROM documents),
    w AS (
      SELECT tf.doc_id, tf.term, dfreq.df, n.n_docs,
             tf.tf * ln(n.n_docs * 1.0 / dfreq.df) AS w
      FROM tf JOIN dfreq USING (term) CROSS JOIN n),
    norms AS (SELECT doc_id, sqrt(SUM(w * w)) AS nrm FROM w GROUP BY doc_id),
    keep AS (SELECT * FROM w
      WHERE df <= LEAST(CAST(FLOOR(n_docs * 0.1) AS BIGINT), 500)),
    dots AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, SUM(a.w * b.w) AS dot
      FROM keep a JOIN keep b ON a.term = b.term AND a.doc_id < b.doc_id
      GROUP BY 1, 2),
    scored AS (
      SELECT d.id_a, d.id_b,
             ROUND(d.dot / (na.nrm * nb.nrm) + 1e-9, 6) AS cos_sim
      FROM dots d
      JOIN norms na ON na.doc_id = d.id_a
      JOIN norms nb ON nb.doc_id = d.id_b)
    SELECT id_a, id_b, cos_sim FROM scored
    WHERE cos_sim >= 0.5
    ORDER BY id_a, id_b
    """,
)
def text_cosine_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All document pairs with TF-IDF cosine >= 0.5 via the inverted-index
    similarity join — the sparse-text sibling of the dense-embedding
    cosine near-dup.

    operators.text.tfidf_cosine_pairs: postings self-join pruned at
    document frequency 10% of the corpus (the DISCO df-cut, RELATIVE so
    it means the same thing at any scale; norms keep all terms, so
    retained scores stay exact); one term-keyed shuffle shared across
    norms and both join sides.
    """
    return X.tfidf_cosine_pairs(
        T(spark, sf_dir, "documents"), threshold=0.5, max_df_frac=0.1
    ).orderBy("id_a", "id_b")


# ---------------------------------------------------------------------------
# Changepoint screen: CUSUM drawup/drawdown of daily deviation paths.
# ---------------------------------------------------------------------------
@query(
    "events_changepoint_cusum",
    oracle="""
    WITH d AS (
      SELECT event_type, CAST(ts AS DATE) AS day, SUM(value) AS y
      FROM events GROUP BY 1, 2),
    m AS (SELECT event_type, AVG(y) AS mu FROM d GROUP BY 1),
    p AS (
      SELECT d.event_type, d.day,
             SUM(d.y - m.mu) OVER (PARTITION BY d.event_type ORDER BY d.day
               ROWS UNBOUNDED PRECEDING) AS ps
      FROM d JOIN m USING (event_type)),
    dr AS (
      SELECT event_type,
             ps - MIN(ps) OVER (PARTITION BY event_type ORDER BY day
               ROWS UNBOUNDED PRECEDING) AS up,
             MAX(ps) OVER (PARTITION BY event_type ORDER BY day
               ROWS UNBOUNDED PRECEDING) - ps AS down
      FROM p)
    SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_days,
           ROUND(MAX(up) + 1e-9, 2) AS max_drawup,
           ROUND(MAX(down) + 1e-9, 2) AS max_drawdown
    FROM dr GROUP BY 1 ORDER BY 1
    """,
)
def events_changepoint_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strongest sustained upward/downward level shift per event type —
    the CUSUM changepoint screen, expressed as the max drawup/drawdown of
    the deviation prefix-sum path (two stacked running windows; the
    recursive CUSUM supremum without the recursion).

    operators.profiling.changepoint_cusum: fact stream collapses to the
    (type, day) calendar map-side; windows run on the bounded frame.
    """
    return P.changepoint_cusum(
        T(spark, sf_dir, "events"), "event_type", "ts", "value"
    ).orderBy("event_type")


# ---------------------------------------------------------------------------
# Snapshot diff: what did the rerun change?
# ---------------------------------------------------------------------------
@query(
    "snapshot_diff_orders",
    oracle="""
    WITH cur AS (
      SELECT o_orderkey,
             CASE WHEN o_orderkey % 10 = 0 THEN 'P' ELSE o_orderstatus END
               AS o_orderstatus,
             CASE WHEN o_orderkey % 10 = 0
                  THEN ROUND(o_totalprice * 1.1 + 1e-9, 2)
                  ELSE ROUND(o_totalprice, 2) END AS o_totalprice
      FROM orders WHERE o_orderkey % 37 <> 1
      UNION ALL
      SELECT o_orderkey + 100000000, 'N', 1.0
      FROM orders WHERE o_orderkey % 1000 = 1),
    base AS (
      SELECT o_orderkey, o_orderstatus,
             ROUND(o_totalprice, 2) AS o_totalprice
      FROM orders),
    j AS (
      SELECT COALESCE(b.o_orderkey, c.o_orderkey) AS k,
             b.o_orderkey IS NULL AS added,
             c.o_orderkey IS NULL AS removed,
             b.o_orderstatus AS bs, c.o_orderstatus AS cs,
             b.o_totalprice AS bp, c.o_totalprice AS cp
      FROM base b FULL JOIN cur c ON b.o_orderkey = c.o_orderkey)
    SELECT col AS column,
           CAST(SUM(CASE WHEN added THEN 1 ELSE 0 END) AS BIGINT) AS n_added,
           CAST(SUM(CASE WHEN removed THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
           CAST(SUM(CASE WHEN NOT added AND NOT removed AND (
                  CASE WHEN col = 'o_orderstatus'
                       THEN bs IS DISTINCT FROM cs
                       ELSE bp IS DISTINCT FROM cp END)
                THEN 1 ELSE 0 END) AS BIGINT) AS n_changed
    FROM j, (SELECT UNNEST(['o_orderstatus', 'o_totalprice']) AS col)
    GROUP BY col
    ORDER BY col
    """,
)
def snapshot_diff_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot diff between the orders table and a mutated rerun (10%
    repriced/status-flipped, some deleted, some inserted — the
    merge_upsert fixture's mutation recipe): per compared column, how
    many rows were added, removed, and changed.

    operators.relational.snapshot_diff: one full-outer join on the key,
    map-side null-safe comparisons, |columns|-row output.
    """
    o = T(spark, sf_dir, "orders")
    base = o.select(
        "o_orderkey", "o_orderstatus", F.round("o_totalprice", 2).alias("o_totalprice")
    )
    mutated = F.col("o_orderkey") % 10 == 0
    cur = (
        o.filter(F.col("o_orderkey") % 37 != 1)
        .select(
            "o_orderkey",
            F.when(mutated, F.lit("P")).otherwise(F.col("o_orderstatus")).alias(
                "o_orderstatus"
            ),
            F.when(mutated, F.round(F.col("o_totalprice") * 1.1 + 1e-9, 2))
            .otherwise(F.round("o_totalprice", 2))
            .alias("o_totalprice"),
        )
        .unionByName(
            o.filter(F.col("o_orderkey") % 1000 == 1).select(
                (F.col("o_orderkey") + 100000000).alias("o_orderkey"),
                F.lit("N").alias("o_orderstatus"),
                F.lit(1.0).alias("o_totalprice"),
            )
        )
    )
    return R.snapshot_diff(
        base, cur, ["o_orderkey"], ["o_orderstatus", "o_totalprice"]
    ).orderBy("column")
