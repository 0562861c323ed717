"""Round-5 additions: BM25 lexical retrieval, tokenizer/vocabulary OOV
coverage, and quantile-bucketed curriculum staging.

Like every suite module, each query pairs an idiomatic-Spark plan with a
DuckDB oracle the driver hash-compares at sf0.01.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sqlitedataframe_spark.suite import query
from sqlitedataframe_spark.suite.pipeline import minhash_ctes
from sqlitedataframe_spark.suite.relational import T

#: The fixed retrieval query for text_bm25_topk — terms present in the
#: synthetic documents vocabulary (TESTDATA.md) at different frequencies.
BM25_QUERY_TERMS = ["spark", "join", "window"]


@query(
    "text_bm25_topk",
    oracle="""
    WITH t AS (
      SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS t
      FROM documents),
    base AS (
      SELECT doc_id, len(t) AS dl,
             [len(list_filter(t, x -> x = 'spark')),
              len(list_filter(t, x -> x = 'join')),
              len(list_filter(t, x -> x = 'window'))] AS tfs
      FROM t),
    stats AS (
      SELECT COUNT(*) AS n_docs, AVG(dl) AS avgdl,
             SUM(CASE WHEN tfs[1] > 0 THEN 1 ELSE 0 END) AS df0,
             SUM(CASE WHEN tfs[2] > 0 THEN 1 ELSE 0 END) AS df1,
             SUM(CASE WHEN tfs[3] > 0 THEN 1 ELSE 0 END) AS df2
      FROM base),
    scored AS (
      SELECT doc_id, ROUND(
        (CASE WHEN tfs[1] > 0 THEN
           ln((n_docs - df0 + 0.5) / (df0 + 0.5) + 1.0)
             * tfs[1] * 2.2 / (tfs[1] + 1.2 * (0.25 + 0.75 * dl / avgdl))
         ELSE 0 END)
        + (CASE WHEN tfs[2] > 0 THEN
           ln((n_docs - df1 + 0.5) / (df1 + 0.5) + 1.0)
             * tfs[2] * 2.2 / (tfs[2] + 1.2 * (0.25 + 0.75 * dl / avgdl))
         ELSE 0 END)
        + (CASE WHEN tfs[3] > 0 THEN
           ln((n_docs - df2 + 0.5) / (df2 + 0.5) + 1.0)
             * tfs[3] * 2.2 / (tfs[3] + 1.2 * (0.25 + 0.75 * dl / avgdl))
         ELSE 0 END), 6) AS bm25
      FROM base, stats)
    SELECT doc_id, bm25 FROM scored
    WHERE bm25 > 0
    ORDER BY bm25 DESC, doc_id
    LIMIT 20
    """,
)
def text_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 documents by BM25 (k1=1.2, b=0.75, Lucene idf) against a
    fixed 3-term query — the lexical-retrieval ranking behind RAG
    pipelines and hard-negative mining for embedding training.

    operators.text.bm25_topk: per-doc tf vectors for the |Q| query terms
    compute scan-side (no per-posting explode/shuffle); one 1-row global
    agg derives (N, avgdl, df_i) and broadcasts back; top-k is
    TakeOrderedAndProject. The oracle recomputes the identical closed
    form; interpolation-free arithmetic keeps both engines hash-equal
    after 6 dp rounding.
    """
    from sqlitedataframe_spark.operators.text import bm25_topk

    return bm25_topk(T(spark, sf_dir, "documents"), BM25_QUERY_TERMS, k=20)


@query(
    "text_vocab_coverage",
    oracle="""
    WITH t AS (
      SELECT doc_id, source,
             regexp_split_to_array(lower(trim(text)), '\\s+') AS t
      FROM documents),
    cnt AS (
      SELECT u.tok, COUNT(*) AS n
      FROM t, UNNEST(t.t) AS u(tok)
      GROUP BY u.tok),
    vocab AS (SELECT tok FROM cnt ORDER BY n DESC, tok LIMIT 100),
    v AS (SELECT LIST(tok) AS vl FROM vocab),
    per AS (
      SELECT source,
             len(list_filter(t, x -> NOT list_contains(vl, x))) * 1.0
               / len(t) AS oov
      FROM t, v)
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           ROUND(AVG(oov), 6) AS avg_oov_rate
    FROM per GROUP BY source ORDER BY source
    """,
)
def text_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source out-of-vocabulary rate against the corpus' own top-100
    token vocabulary — the tokenizer-coverage screen run before fixing a
    vocab/tokenizer for a training mix (a source with a high OOV rate is
    under-served and will fragment into long byte-level token runs).

    operators.text.vocab_oov_stats: one posting shuffle for token counts,
    TakeOrderedAndProject for the top-k vocabulary, which collapses to a
    1-row array broadcast for a scan-side membership filter — the corpus
    is never reshuffled for the membership test.
    """
    from sqlitedataframe_spark.operators.text import vocab_oov_stats

    return vocab_oov_stats(
        T(spark, sf_dir, "documents"), group_col="source", vocab_size=100
    )


@query(
    "sample_curriculum_buckets",
    oracle="""
    WITH t AS (
      SELECT doc_id, n_chars,
             regexp_split_to_array(lower(trim(text)), '\\s+') AS t
      FROM documents),
    s AS (
      SELECT doc_id, n_chars,
             ROUND(len(list_distinct(t)) * 1.0 / len(t), 6) AS q
      FROM t),
    b AS (
      SELECT quantile_cont(q, 0.25) AS q1,
             quantile_cont(q, 0.50) AS q2,
             quantile_cont(q, 0.75) AS q3
      FROM s)
    SELECT 1 + (CASE WHEN q > q1 THEN 1 ELSE 0 END)
             + (CASE WHEN q > q2 THEN 1 ELSE 0 END)
             + (CASE WHEN q > q3 THEN 1 ELSE 0 END) AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           ROUND(AVG(q), 6) AS avg_score,
           ROUND(AVG(n_chars), 2) AS avg_chars
    FROM s, b
    GROUP BY 1 ORDER BY bucket
    """,
)
def sample_curriculum_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quartile curriculum staging by lexical-diversity score (distinct /
    total token ratio): per-stage document counts and means — the
    easy-to-hard scheduling split of curriculum training, built without
    the global-ntile serialization trap.

    operators.sampling.curriculum_buckets: exact percentile boundaries in
    one aggregate (percentile_approx at 100 TB — same plan), broadcast
    back, bucket assigned scan-side by comparison sum. Zero windows; both
    engines interpolate quantiles with the identical IEEE formula, so
    assignment is hash-exact.
    """
    from sqlitedataframe_spark.operators.sampling import curriculum_buckets
    from sqlitedataframe_spark.operators.text import tokens

    d = T(spark, sf_dir, "documents")
    t = tokens("text")
    scored = d.select(
        "doc_id",
        "n_chars",
        F.round(
            F.size(F.array_distinct(t)).cast("double") / F.size(t), 6
        ).alias("q"),
    )
    return curriculum_buckets(
        scored,
        "q",
        n_buckets=4,
        agg_cols={
            "n_rows": F.count(F.lit(1)).cast("bigint"),
            "avg_score": F.round(F.avg("q"), 6),
            "avg_chars": F.round(F.avg("n_chars"), 2),
        },
    )


@query(
    "events_item2vec_pairs",
    oracle="""
    WITH s AS (
      SELECT user_id, event_type,
             lead(event_type, 1) OVER w AS n1,
             lead(event_type, 2) OVER w AS n2
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
    p AS (
      SELECT event_type AS a, n1 AS b FROM s WHERE n1 IS NOT NULL
      UNION ALL
      SELECT event_type AS a, n2 AS b FROM s WHERE n2 IS NOT NULL)
    SELECT a, b, CAST(COUNT(*) AS BIGINT) AS n
    FROM p GROUP BY a, b
    ORDER BY n DESC, a, b LIMIT 20
    """,
)
def events_item2vec_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 (event, following-event) transition counts per user stream
    with a 2-event lookahead — the item2vec/prod2vec pair-generation step
    of sequential-recommendation training (the event-stream twin of
    text_skipgram_pairs: user-partitioned, time-ordered).

    operators.mining.session_item_pairs: all lookahead leads in ONE
    window pass (one exchange on user_id), map-side array explode,
    partially-combined count, TakeOrderedAndProject top-k. (ts,
    event_id) gives both engines the same total order.
    """
    from sqlitedataframe_spark.operators.mining import session_item_pairs

    return session_item_pairs(
        T(spark, sf_dir, "events"),
        user_col="user_id",
        order_cols=["ts", "event_id"],
        item_col="event_type",
        lookahead=2,
        k=20,
    )


@query(
    "source_compact_small_files",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CAST('0x' || substr(
                 md5(CAST(doc_id AS VARCHAR) || ':' || text), 1, 8)
               AS BIGINT)) AS BIGINT) AS content_hash
    FROM documents
    """,
)
def source_compact_small_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction with content-preservation proof: the
    documents table is first shattered into 48 tiny parquet files (the
    state every per-batch-append pipeline degrades into), compacted via
    operators.layout.compact_small_files (one scan -> AQE REBALANCE ->
    write, sized by advisoryPartitionSizeInBytes), and the returned row
    is (row count, order-insensitive content hash) computed FROM THE
    COMPACTED OUTPUT — hash-equal to the oracle's view of the original
    table, proving compaction changed layout and nothing else. The
    file-count reduction itself is asserted in pytest (an oracle can't
    see the filesystem).
    """
    import tempfile

    from sqlitedataframe_spark.operators.layout import compact_small_files

    base = tempfile.mkdtemp(prefix="sdf_compact_")
    src = f"{base}/src"
    dst = f"{base}/dst"
    T(spark, sf_dir, "documents").select("doc_id", "text").repartition(
        48
    ).write.mode("overwrite").parquet(src)
    out = compact_small_files(spark, src, dst, target_bytes=8 << 20)
    h = F.conv(
        F.substring(
            F.md5(
                F.concat(
                    F.col("doc_id").cast("string"), F.lit(":"), F.col("text")
                ).cast("binary")
            ),
            1,
            8,
        ),
        16,
        10,
    ).cast("bigint")
    return out.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.sum(h).cast("bigint").alias("content_hash"),
    )


@query(
    "text_token_entropy",
    oracle="""
    WITH t AS (
      SELECT source, regexp_split_to_array(lower(trim(text)), '\\s+') AS t
      FROM documents),
    e AS (
      SELECT source,
             -(list_aggregate(list_transform(list_distinct(t), tok ->
                 (len(list_filter(t, x -> x = tok)) * 1.0 / len(t))
                 * ln(len(list_filter(t, x -> x = tok)) * 1.0 / len(t))),
               'sum')) AS h
      FROM t)
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           ROUND(AVG(h), 6) AS avg_entropy
    FROM e GROUP BY source ORDER BY source
    """,
)
def text_token_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source mean token-distribution Shannon entropy — the
    repetitiveness/diversity quality signal (boilerplate and
    keyword-stuffed sources score low; used as a filter feature next to
    length/stopword ratios in web-corpus curation).

    operators.text.token_entropy: entirely scan-side (token array and
    distinct set let-bound once, one nested fold) — zero shuffles before
    the per-source aggregate.
    """
    from sqlitedataframe_spark.operators.text import token_entropy

    return (
        T(spark, sf_dir, "documents")
        .select("source", token_entropy("text").alias("_h"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.round(F.avg("_h"), 6).alias("avg_entropy"),
        )
        .orderBy("source")
    )


@query(
    "orders_rfm_segments",
    oracle="""
    WITH maxd AS (SELECT MAX(CAST(o_orderdate AS DATE)) AS m FROM orders),
    cust AS (
      SELECT o_custkey,
             MIN(date_diff('day', CAST(o_orderdate AS DATE), m)) AS recency,
             COUNT(*) * 1.0 AS freq,
             ROUND(SUM(o_totalprice), 2) AS monetary
      FROM orders, maxd GROUP BY o_custkey, m),
    b AS (
      SELECT quantile_cont(recency, [0.25, 0.5, 0.75]) AS qr,
             quantile_cont(freq, [0.25, 0.5, 0.75]) AS qf,
             quantile_cont(monetary, [0.25, 0.5, 0.75]) AS qm
      FROM cust)
    SELECT (5 - (1 + (CASE WHEN recency > qr[1] THEN 1 ELSE 0 END)
                   + (CASE WHEN recency > qr[2] THEN 1 ELSE 0 END)
                   + (CASE WHEN recency > qr[3] THEN 1 ELSE 0 END))) * 100
         + (1 + (CASE WHEN freq > qf[1] THEN 1 ELSE 0 END)
              + (CASE WHEN freq > qf[2] THEN 1 ELSE 0 END)
              + (CASE WHEN freq > qf[3] THEN 1 ELSE 0 END)) * 10
         + (1 + (CASE WHEN monetary > qm[1] THEN 1 ELSE 0 END)
              + (CASE WHEN monetary > qm[2] THEN 1 ELSE 0 END)
              + (CASE WHEN monetary > qm[3] THEN 1 ELSE 0 END)) AS rfm,
           CAST(COUNT(*) AS BIGINT) AS n_customers
    FROM cust, b GROUP BY 1 ORDER BY rfm
    """,
)
def orders_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM customer segmentation over orders: per customer (days since
    last order, order count, total spend), each quartile-coded 1-4
    (recency inverted — recent = 4), counted per 3-digit segment. The
    classic behavioral cohort readout of a customer-analytics stack.

    operators.profiling.rfm_segments: one customer aggregate, anchor
    date + nine quantile boundaries as two 1-row broadcasts, scan-side
    comparison-sum codes (no ntile window). Monetary is rounded to
    cents BEFORE the quantiles so parallel-summation ulp drift cannot
    move a boundary.
    """
    from sqlitedataframe_spark.operators.profiling import rfm_segments

    return rfm_segments(T(spark, sf_dir, "orders"))


@query(
    "events_activity_streaks",
    oracle="""
    WITH d AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
    r AS (
      SELECT user_id, day,
             day - CAST(row_number() OVER (
               PARTITION BY user_id ORDER BY day) AS INT) AS anchor
      FROM d),
    s AS (
      SELECT user_id, MIN(day) AS streak_start, MAX(day) AS streak_end,
             CAST(COUNT(*) AS BIGINT) AS streak_days
      FROM r GROUP BY user_id, anchor)
    SELECT user_id AS user, streak_start, streak_end, streak_days
    FROM s ORDER BY streak_days DESC, user, streak_start LIMIT 20
    """,
)
def events_activity_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 longest consecutive-active-day streaks per user — the
    gaps-and-islands engagement primitive (login streaks, DAU runs),
    via the canonical difference-of-sequences pattern: day minus
    per-user day-rank is constant exactly within a consecutive island.

    operators.relational.activity_streaks: distinct (user, day), one
    user-partitioned window, one aggregate — two shuffles on the user
    key, no self-joins, no global window; top-k is
    TakeOrderedAndProject.
    """
    from sqlitedataframe_spark.operators.relational import activity_streaks

    return (
        activity_streaks(T(spark, sf_dir, "events"), "user_id", "ts")
        .orderBy(F.col("streak_days").desc(), "user", "streak_start")
        .limit(20)
    )


@query(
    "events_minhash_audience",
    oracle="WITH"
    + minhash_ctes("events", "event_type", "CAST(user_id AS VARCHAR)", banded=False)
    + """,
    est AS (
      SELECT sa.event_type AS grp_a, sb.event_type AS grp_b,
             ROUND(SUM(CASE WHEN sa.mh = sb.mh THEN 1 ELSE 0 END) / 64.0, 6)
               AS est_jaccard
      FROM sig sa
      JOIN sig sb ON sb.i = sa.i AND sa.event_type < sb.event_type
      GROUP BY 1, 2)
    SELECT grp_a, grp_b, est_jaccard FROM est ORDER BY grp_a, grp_b
    """,
)
def events_minhash_audience(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All-pairs audience overlap via per-segment MinHash SET signatures
    — the sketch twin of events_audience_overlap: estimated Jaccard from
    64 slot agreements, so the pair stage joins a |segments| x 64 table
    instead of re-joining the raw membership per pair (the 100 TB
    shape). Same portable md5+affine family as the dedup MinHash, so
    every slot is oracle-exact.

    operators.sketch.minhash_set_signatures + minhash_overlap_pairs:
    member hash + remixes scan-side, one partially-aggregated groupBy
    (exchange is |segments|-sized), tiny signature self-join.
    """
    from sqlitedataframe_spark.operators.sketch import (
        minhash_overlap_pairs,
        minhash_set_signatures,
    )

    sigs = minhash_set_signatures(
        T(spark, sf_dir, "events"), "event_type", "user_id", n_hashes=64
    )
    return minhash_overlap_pairs(sigs, n_hashes=64).orderBy("grp_a", "grp_b")
