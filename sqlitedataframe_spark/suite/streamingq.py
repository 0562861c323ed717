"""Structured Streaming suite queries: each runs a real readStream →
transform → writeStream pipeline to completion (Trigger.AvailableNow,
memory sink) and returns the result, so the DuckDB oracle checks
batch-equivalence of the incremental plan — the defining correctness
property of Structured Streaming.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sqlitedataframe_spark import streaming as STR
from sqlitedataframe_spark.streaming import (
    read_events_stream,
    run_available_now,
    stateful_sessionize,
    stream_dedup,
    stream_sliding_counts,
    stream_tumbling_counts,
)
from sqlitedataframe_spark.streaming.core import stream_stream_attribution
from sqlitedataframe_spark.suite import query
from sqlitedataframe_spark.suite.pipeline import MH_EST_CTE, MH_PAIRS_03

#: Shared session-boundary oracle CTE (30-min inactivity gap per user).
_SESSION_CTE = """
    WITH g AS (
      SELECT user_id, ts,
             CASE WHEN CAST(floor(epoch(ts)) AS BIGINT)
                       - CAST(floor(epoch(LAG(ts) OVER (PARTITION BY user_id ORDER BY ts))) AS BIGINT)
                       > 1800 OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                  THEN 1 ELSE 0 END AS is_new
      FROM events
    ),
    s AS (
      SELECT user_id, ts,
             SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - 1 AS session_id
      FROM g
    )
"""


@query(
    "stream_window_tumbling",
    oracle="""
    SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS window_start,
           event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           ROUND(SUM(value), 4) AS sum_value
    FROM events
    GROUP BY 1, 2
    ORDER BY 1, 2
    """,
)
def stream_window_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming watermarked 1-hour tumbling windows, run to completion via
    AvailableNow — must equal the batch/DuckDB result over the same files."""
    s = stream_tumbling_counts(read_events_stream(spark, sf_dir))
    return run_available_now(s, output_mode="complete").orderBy("window_start", "event_type")


@query(
    "stream_window_sliding",
    oracle="""
    SELECT CAST(to_timestamp(CAST(floor(epoch(ts)/300) AS BIGINT)*300 - 300*g)
                AS TIMESTAMP) AS window_start,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           ROUND(SUM(value), 4) AS sum_value
    FROM events CROSS JOIN (SELECT UNNEST([0, 1]) AS g) t
    GROUP BY 1 ORDER BY 1
    """,
)
def stream_window_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming watermarked 10-min/5-min sliding windows run to
    completion — every event lands in exactly two windows (window = 2x
    slide), which is what the oracle's two-bucket expansion computes."""
    s = stream_sliding_counts(read_events_stream(spark, sf_dir))
    return run_available_now(s, output_mode="complete").orderBy("window_start")


@query(
    "stream_session_window",
    oracle=_SESSION_CTE
    + """
    SELECT user_id,
           CAST(MIN(ts) AS TIMESTAMP) AS session_start,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM s
    GROUP BY user_id, session_id
    ORDER BY user_id, session_start
    """,
)
def stream_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming native session_window (30-min gap) per user — equals the
    batch LAG+cumsum sessionization the oracle computes."""
    s = STR.stream_session_window(read_events_stream(spark, sf_dir))
    return run_available_now(s, output_mode="complete").orderBy("user_id", "session_start")


@query(
    "stream_dedup",
    oracle="""
    SELECT DISTINCT user_id, event_type, CAST(ts AS TIMESTAMP) AS ts
    FROM events
    ORDER BY user_id, event_type, ts
    """,
)
def stream_dedup_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming stateful dedup (watermark-bounded state): first arrival per
    (user_id, event_type, ts) wins; output = the distinct key set."""
    s = stream_dedup(read_events_stream(spark, sf_dir), ["user_id", "event_type"])
    return run_available_now(s, output_mode="append").orderBy("user_id", "event_type", "ts")


@query(
    "stream_stream_join",
    oracle="""
    SELECT a.event_id AS conv_id, a.user_id,
           CAST(a.ts AS TIMESTAMP) AS conv_ts,
           b.event_id AS attr_id,
           CAST(b.ts AS TIMESTAMP) AS attr_ts
    FROM events a JOIN events b
      ON a.user_id = b.user_id
     AND a.event_type = 'purchase' AND b.event_type = 'click'
     AND b.ts BETWEEN a.ts - INTERVAL 30 MINUTE AND a.ts
    ORDER BY conv_id, attr_id
    """,
)
def stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked stream-stream attribution join (purchase <- clicks in the
    prior 30 min), run to completion — equals the batch time-range join."""
    s = stream_stream_attribution(read_events_stream(spark, sf_dir))
    return run_available_now(s, output_mode="append").orderBy("conv_id", "attr_id")


@query(
    "stream_stateful_sessionize",
    oracle=_SESSION_CTE
    + """
    SELECT user_id,
           CAST(MIN(ts) AS TIMESTAMP) AS session_start,
           CAST(MAX(ts) AS TIMESTAMP) AS session_end,
           CAST(COUNT(*) AS INT) AS n_events
    FROM s
    GROUP BY user_id, session_id
    ORDER BY user_id, session_start
    """,
)
def stream_stateful_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful operator (applyInPandasWithState) sessionizing the
    stream with explicit per-user state; update-mode re-emits are folded to
    the latest row per session, which over a complete replay equals batch
    sessionization."""
    s = stateful_sessionize(read_events_stream(spark, sf_dir))
    out = run_available_now(s, output_mode="update")
    # latest re-emit per (user, session_start) wins (update-mode contract)
    return (
        out.groupBy("user_id", "session_start")
        .agg(F.max("session_end").alias("session_end"), F.max("n_events").alias("n_events"))
        .orderBy("user_id", "session_start")
    )


@query(
    "stream_quality_ingest",
    oracle="""
    WITH t AS (
      SELECT doc_id, lang, text,
             string_split(lower(trim(text)), ' ') AS toks,
             CAST(LENGTH(text) AS DOUBLE) AS n_char
      FROM documents
    ),
    feats AS (
      SELECT doc_id, lang,
             LEAST(n_char / 200.0, 1.0) AS len_score,
             CAST(len(list_filter(toks, x -> list_contains(
                 ['the','a','an','and','or','of','to','in','is','it'], x))) AS DOUBLE)
               / len(toks) AS sw_ratio,
             CAST(LENGTH(regexp_replace(text, '[^.,;:!?''"()\\[\\]{}-]', '', 'g')) AS DOUBLE)
               / n_char AS punct_ratio
      FROM t
    ),
    scored AS (
      SELECT doc_id, lang,
             ROUND((len_score + LEAST(sw_ratio * 4, 1.0)
                    + GREATEST(0.0, 1.0 - punct_ratio * 5)) / 3, 6) AS quality
      FROM feats
    )
    SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
           ROUND(AVG(quality), 6) AS avg_quality
    FROM scored WHERE quality >= 0.5
    GROUP BY lang ORDER BY lang
    """,
)
def stream_quality_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming corpus ingest with a quality gate: documents stream in,
    each micro-batch is scored map-side (operators.text.quality_score —
    the same expression the batch path uses), low-quality docs are
    dropped before they ever reach an aggregation, and the running
    per-language mixture report updates incrementally (complete mode).

    This is the continuous-ingestion pattern of a training-data pipeline
    — filter at the edge, aggregate the survivors — and the oracle checks
    the defining property: the incremental result equals the one-shot
    batch/DuckDB result over the same files.
    """
    from sqlitedataframe_spark.operators.text import quality_score
    from sqlitedataframe_spark.streaming.core import read_table_stream

    s = read_table_stream(spark, sf_dir, "documents")
    scored = s.select("lang", quality_score("text").alias("quality")).filter(
        F.col("quality") >= 0.5
    )
    agg = scored.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.avg("quality"), 6).alias("avg_quality"),
    )
    return run_available_now(agg, output_mode="complete").orderBy("lang")


@query(
    "stream_hll_rollup",
    oracle="""
    WITH h AS (
      SELECT event_type AS g,
             CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 2) AS INT) AS bucket,
             CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 3, 8) AS BIGINT) AS v
      FROM events),
    regs AS (
      SELECT g, bucket,
             MAX(CASE WHEN v = 0 THEN 33 ELSE 33 - length(bin(v)) END) AS r
      FROM h GROUP BY g, bucket),
    agg AS (
      SELECT g,
             SUM(power(2.0, -r)) + (256 - COUNT(*)) AS s,
             256 - COUNT(*) AS v
      FROM regs GROUP BY g)
    SELECT g AS event_type,
           ROUND(CASE WHEN (CAST(0.7182725932495458 AS DOUBLE) * 65536 / s) <= 640.0
                           AND v > 0
                      THEN 256.0 * ln(256.0 / v)
                      ELSE CAST(0.7182725932495458 AS DOUBLE) * 65536 / s END, 4)
             AS approx_users
    FROM agg ORDER BY event_type
    """,
)
def stream_hll_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming distinct-user rollup via mergeable HLL registers and the
    SQLite bridge: each micro-batch builds its per-event-type register
    table (operators.sketch.hll_registers — bounded at 256 rows/group),
    APPENDS it through the foreachBatch SQLite sink (an append-only
    register log — the idempotent-merge store shape), and the final
    answer re-reads the log, merges by bucket-max and estimates.

    This is the 100 TB continuous-rollup pattern: raw events are touched
    once, per-batch sketches are tiny, and any re-aggregation (hourly ->
    daily -> all-time) folds registers without replaying the stream.
    Exactly oracle-checked (md5 registers are a pure function of the
    data): the incremental register log must merge to the one-shot batch
    registers bit-for-bit.
    """
    import os as _os
    import tempfile as _tempfile

    from sqlitedataframe_spark.operators.sketch import (
        hll_estimate,
        hll_merge,
        hll_registers,
    )
    from sqlitedataframe_spark.sources.sqlite import read_sql, table_exists, write_sql
    from sqlitedataframe_spark.streaming.core import read_table_stream

    db = _os.path.join(
        _tempfile.gettempdir(), f"sdfspark_hll_{_os.path.basename(sf_dir)}.db"
    )
    if _os.path.exists(db):
        _os.remove(db)

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        regs = hll_registers(batch_df, "user_id", ["event_type"], p=8)
        mode = "append" if table_exists(db, "hll_regs") else "replace"
        # r13: single-writer append (guide §6). The register table is
        # bounded (256 rows/group); SQLite admits ONE writer at a time, so
        # N partition writers only fight the file lock and pay N python
        # workers + N fsync'd transactions — measured ~8 s for a
        # sketch-sized frame. coalesce(1) keeps the map-side partial
        # aggregation parallel and funnels only the bounded final agg +
        # insert through one task.
        write_sql(regs.coalesce(1), db, table="hll_regs", if_exists=mode)

    s = read_table_stream(spark, sf_dir, "events").select("event_type", "user_id")
    with _tempfile.TemporaryDirectory() as ckpt:
        q = (
            s.writeStream.foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    log = read_sql(spark, db, table="hll_regs").select("event_type", "bucket", "r")
    merged = hll_merge(log, ["event_type"])
    return hll_estimate(merged, ["event_type"], p=8, out="approx_users").orderBy(
        "event_type"
    )


@query(
    "stream_anomaly_mad",
    oracle="""
    WITH med AS (
      SELECT event_type, median(value) AS m FROM events GROUP BY event_type),
    mad AS (
      SELECT e.event_type, median(abs(e.value - med.m)) AS mad
      FROM events e JOIN med USING (event_type) GROUP BY e.event_type)
    SELECT e.event_type,
           CAST(COUNT(*) AS BIGINT) AS n_anomalies,
           ROUND(MAX(abs(e.value - med.m) / NULLIF(mad.mad, 0)), 4)
             AS max_score
    FROM events e JOIN med USING (event_type) JOIN mad USING (event_type)
    WHERE abs(e.value - med.m) > 5 * mad.mad
    GROUP BY e.event_type
    ORDER BY e.event_type
    """,
)
def stream_anomaly_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming anomaly screen: the per-type median/MAD model is computed
    OFFLINE from the historical batch table, broadcast onto the live
    event stream, and each micro-batch flags its outliers at the edge —
    the standard deploy shape for the robust screen (model refreshes on a
    schedule; the stream itself never shuffles, the threshold join is a
    map-side broadcast).

    The oracle is the batch twin over the same files — the defining
    incremental-equals-batch property, as with every streaming query here.
    """
    from sqlitedataframe_spark.io import load_table
    from sqlitedataframe_spark.streaming.core import read_events_stream

    hist = load_table(spark, sf_dir, "events")
    v = F.col("value")
    med = hist.groupBy("event_type").agg(F.median(v).alias("_med"))
    dev_hist = F.abs(v - F.col("_med"))
    mad = (
        hist.join(F.broadcast(med), "event_type")
        .groupBy("event_type")
        .agg(F.median(dev_hist).alias("_mad"))
    )
    thr = med.join(mad, "event_type")

    s = read_events_stream(spark, sf_dir).join(F.broadcast(thr), "event_type")
    dev = F.abs(F.col("value") - F.col("_med"))
    flagged = s.filter(dev > F.lit(5.0) * F.col("_mad"))
    agg = flagged.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_anomalies"),
        F.round(
            F.max(dev / F.nullif(F.col("_mad"), F.lit(0.0))), 4
        ).alias("max_score"),
    )
    return run_available_now(agg, output_mode="complete").orderBy("event_type")


@query(
    "stream_incremental_dedup",
    oracle=MH_EST_CTE + MH_PAIRS_03,
)
def stream_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming near-dedup ingest: each document micro-batch LSH-checks
    against the accumulated corpus (never re-pairing history with
    itself), pairs append to a parquet log. Every pair surfaces exactly
    once — in its later document's batch — so the union over batches
    equals the one-shot batch run, which is what the oracle computes.

    streaming.core.stream_incremental_dedup: foreachBatch + parquet
    state, checkpointed; per-batch cost scales with the batch.
    """
    from sqlitedataframe_spark.streaming.core import stream_incremental_dedup as run

    return run(spark, sf_dir, min_jaccard=0.3).orderBy("id_a", "id_b")


@query(
    "stream_countmin_topk",
    oracle="""
    WITH cells AS (
      SELECT d,
             CAST('0x' || substr(md5(CAST(l_partkey AS VARCHAR)), 1 + 8 * d, 8)
                  AS BIGINT) % 1024 AS cell,
             COUNT(*) AS c
      FROM lineitem, UNNEST([0, 1, 2, 3]) AS t(d)
      GROUP BY 1, 2),
    probes AS (SELECT DISTINCT l_partkey AS k FROM lineitem),
    est AS (
      SELECT p.k, MIN(c.c) AS cm_est
      FROM probes p, UNNEST([0, 1, 2, 3]) AS t(d)
      JOIN cells c
        ON c.d = t.d
       AND c.cell = CAST('0x' || substr(md5(CAST(p.k AS VARCHAR)), 1 + 8 * t.d, 8)
                         AS BIGINT) % 1024
      GROUP BY p.k)
    SELECT k AS l_partkey, CAST(cm_est AS BIGINT) AS cm_est
    FROM est ORDER BY cm_est DESC, l_partkey LIMIT 30
    """,
)
def stream_countmin_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming heavy hitters: each micro-batch builds its count-min
    sketch of part keys (operators.sketch.countmin_build — bounded at
    depth x width rows per batch), APPENDS it through the foreachBatch
    SQLite sink, and the final answer merges the sketch log by cell-sum
    (count-min is mergeable) and reports the top-30 parts by estimated
    frequency.

    The 100 TB continuous-rollup pattern, sketch edition: raw rows are
    touched once, per-batch state is sketch-sized not data-sized, and
    any re-aggregation window (hourly -> daily -> all-time) folds cell
    tables without replaying the stream. Exactly oracle-checked: the
    md5 cells are a pure function of the data, so the merged
    incremental sketch must equal the one-shot batch sketch bit-for-bit
    — the defining incremental-equals-batch property.
    """
    import os as _os
    import tempfile as _tempfile

    from sqlitedataframe_spark.io import load_table
    from sqlitedataframe_spark.operators.sketch import (
        countmin_build,
        countmin_estimate,
    )
    from sqlitedataframe_spark.sources.sqlite import read_sql, table_exists, write_sql
    from sqlitedataframe_spark.streaming.core import read_table_stream

    db = _os.path.join(
        _tempfile.gettempdir(), f"sdfspark_cm_{_os.path.basename(sf_dir)}.db"
    )
    if _os.path.exists(db):
        _os.remove(db)

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        sk = countmin_build(batch_df, "l_partkey")
        mode = "append" if table_exists(db, "cm_cells") else "replace"
        # r13: single-writer append over the bounded (<= depth*width rows)
        # sketch — see the hll sink note
        write_sql(sk.coalesce(1), db, table="cm_cells", if_exists=mode)

    s = read_table_stream(spark, sf_dir, "lineitem").select("l_partkey")
    with _tempfile.TemporaryDirectory() as ckpt:
        q = (
            s.writeStream.foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    log = read_sql(spark, db, table="cm_cells").select("d", "cell", "c")
    merged = log.groupBy("d", "cell").agg(F.sum("c").alias("c"))
    probes = load_table(spark, sf_dir, "lineitem").select("l_partkey")
    return (
        countmin_estimate(merged, probes, "l_partkey")
        .orderBy(F.col("cm_est").desc(), "l_partkey")
        .limit(30)
    )


@query(
    "stream_eval_calibration",
    oracle="""
    WITH t AS (
      SELECT text, lang,
             string_split(lower(trim(text)), ' ') AS toks,
             CAST(LENGTH(text) AS DOUBLE) AS n_char
      FROM documents),
    feats AS (
      SELECT lang,
             LEAST(n_char / 200.0, 1.0) AS len_score,
             CAST(len(list_filter(toks, x -> list_contains(
                 ['the','a','an','and','or','of','to','in','is','it'], x)))
               AS DOUBLE) / len(toks) AS sw_ratio,
             CAST(LENGTH(regexp_replace(text, '[^.,;:!?''"()\\[\\]{}-]',
                 '', 'g')) AS DOUBLE) / n_char AS punct_ratio
      FROM t),
    scored AS (
      SELECT ROUND((len_score + LEAST(sw_ratio * 4, 1.0)
                    + GREATEST(0.0, 1.0 - punct_ratio * 5)) / 3, 6) AS s,
             CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
      FROM feats)
    SELECT CAST(LEAST(FLOOR(s * 10), 9) AS INT) AS bin,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(y) AS BIGINT) AS n_pos,
           ROUND(SUM(s) / COUNT(*) + 1e-9, 6) AS avg_score,
           ROUND(SUM(y) * 1.0 / COUNT(*) + 1e-9, 6) AS frac_pos,
           ROUND(ABS(SUM(s) / COUNT(*) - SUM(y) * 1.0 / COUNT(*)) + 1e-9, 6)
             AS cal_gap
    FROM scored GROUP BY 1 ORDER BY 1
    """,
)
def stream_eval_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming model-quality monitoring: each micro-batch of documents
    scores locally and emits its per-bin SUFFICIENT STATISTICS
    (n, n_pos, sum_score per calibration bin — bounded at 10 rows per
    batch), appended through the foreachBatch SQLite sink; the final
    reliability table merges the cell log by bin-sum. Counts and sums
    are exactly mergeable, so the incremental table must equal the
    one-shot batch computation — the countmin/HLL continuous-rollup pattern
    applied to model evaluation.
    """
    import os as _os
    import tempfile as _tempfile

    from pyspark.sql import functions as F

    from sqlitedataframe_spark.operators.text import quality_score
    from sqlitedataframe_spark.sources.sqlite import (
        read_sql,
        table_exists,
        write_sql,
    )
    from sqlitedataframe_spark.streaming.core import read_table_stream

    db = _os.path.join(
        _tempfile.gettempdir(),
        f"sdfspark_evalcal_{_os.path.basename(sf_dir)}.db",
    )
    if _os.path.exists(db):
        _os.remove(db)

    def cells(df: DataFrame) -> DataFrame:
        s = quality_score("text")
        y = (F.col("lang") == "en").cast("int")
        b = F.least(F.floor(s * 10), F.lit(9)).cast("int")
        return (
            df.select(b.alias("bin"), s.alias("_s"), y.alias("_y"))
            .groupBy("bin")
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n"),
                F.sum("_y").cast("bigint").alias("n_pos"),
                F.sum("_s").alias("sum_s"),
            )
        )

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        mode = "append" if table_exists(db, "cal_cells") else "replace"
        # r13: single-writer append over the bounded bin table — see the
        # hll sink note
        write_sql(cells(batch_df).coalesce(1), db, table="cal_cells", if_exists=mode)

    s = read_table_stream(spark, sf_dir, "documents").select("text", "lang")
    with _tempfile.TemporaryDirectory() as ckpt:
        q = (
            s.writeStream.foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    log = read_sql(spark, db, table="cal_cells")
    merged = log.groupBy("bin").agg(
        F.sum("n").cast("bigint").alias("n"),
        F.sum("n_pos").cast("bigint").alias("n_pos"),
        F.sum("sum_s").alias("_ss"),
    )
    return merged.select(
        "bin",
        "n",
        "n_pos",
        F.round(F.col("_ss") / F.col("n") + 1e-9, 6).alias("avg_score"),
        F.round(F.col("n_pos") / F.col("n") + 1e-9, 6).alias("frac_pos"),
        F.round(
            F.abs(F.col("_ss") / F.col("n") - F.col("n_pos") / F.col("n"))
            + 1e-9,
            6,
        ).alias("cal_gap"),
    ).orderBy("bin")


@query(
    "stream_late_data_drop",
    oracle="""
    WITH b AS (SELECT CAST(floor(epoch(ts)) AS BIGINT) AS e, value FROM events),
         s AS (SELECT CAST(floor((MIN(e)+MAX(e))/2) AS BIGINT) AS split_e,
                      MAX(e) AS max_e FROM b)
    SELECT CAST(to_timestamp((b.e // 3600) * 3600) AS TIMESTAMP) AS window_start,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           ROUND(SUM(b.value), 4) AS sum_value
    FROM b, s
    WHERE b.e >= s.split_e
      AND (b.e // 3600) * 3600 + 3600 <= s.max_e - 3600
    GROUP BY 1 ORDER BY 1
    """,
)
def stream_late_data_drop_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark LATE-ROW EXCLUSION proof (VERDICT r5 #7): events replayed
    as on-time-then-late micro-batches under a 1-hour watermark in append
    mode; every late-half row arrives behind the watermark and must be
    dropped, and only finalized windows (end <= max(ts) - delay) emit. The
    oracle is the literal batch replay of that contract — on-time rows
    only, finalized windows only (see streaming.core.stream_late_data_drop
    for the staging and the measured 4.1.2 filter-watermark lag)."""
    return STR.core.stream_late_data_drop(spark, sf_dir).orderBy("window_start")


@query(
    "stream_restart_recovery",
    oracle="""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(COUNT(DISTINCT event_id) AS BIGINT) AS n_ids,
           ROUND(SUM(value), 4) AS sum_value
    FROM events GROUP BY event_type ORDER BY event_type
    """,
)
def stream_restart_recovery_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Checkpoint RESTART RECOVERY proof (VERDICT r6 #5): a passthrough
    file-sink query processes half the event micro-batches and stops; a
    new query over the SAME checkpoint ingests the rest. The per-type
    aggregate over the sink equals the one-shot batch oracle iff the
    resume reprocessed nothing (a replay inflates n_events above n_ids)
    and lost nothing (a drop deflates both). See
    streaming.core.stream_restart_recovery for the staging and the
    exactly-once mechanics (source file log + sink _spark_metadata)."""
    return STR.core.stream_restart_recovery(spark, sf_dir)
