"""Round-5 wave: binary-classifier evaluation metrics (ROC AUC,
calibration bins, Brier/ECE, precision-recall threshold sweep,
cumulative-gains deciles, KS score separation).

The "model": the deterministic text quality score (operators.text.
quality_score) used as a classifier for ``lang = 'en'`` — a synthetic but
fully deterministic score/label pair, so every metric has an exact DuckDB
oracle. The machinery (operators.evalmetrics) is what ships: plug in any
score column + label column.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sqlitedataframe_spark.operators import evalmetrics as E
from sqlitedataframe_spark.operators import text as X
from sqlitedataframe_spark.suite import query
from sqlitedataframe_spark.suite.pipeline import DOC_TOKENS, minhash_pair_ctes
from sqlitedataframe_spark.suite.relational import T

#: Shared oracle CTE: the text_quality SQL twin + the binary label.
_SCORED_CTE = """
    t AS (
      SELECT doc_id, text, lang, source,
             string_split(lower(trim(text)), ' ') AS toks,
             CAST(LENGTH(text) AS DOUBLE) AS n_char
      FROM documents),
    feats AS (
      SELECT doc_id, lang, source,
             LEAST(n_char / 200.0, 1.0) AS len_score,
             CAST(len(list_filter(toks, x -> list_contains(
                 ['the','a','an','and','or','of','to','in','is','it'], x)))
               AS DOUBLE) / len(toks) AS sw_ratio,
             CAST(LENGTH(regexp_replace(text, '[^.,;:!?''"()\\[\\]{}-]',
                 '', 'g')) AS DOUBLE) / n_char AS punct_ratio
      FROM t),
    scored AS (
      SELECT doc_id, source,
             ROUND((len_score + LEAST(sw_ratio * 4, 1.0)
                    + GREATEST(0.0, 1.0 - punct_ratio * 5)) / 3, 6) AS s,
             CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
      FROM feats)
"""


def _scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = T(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        "source",
        X.quality_score("text").alias("s"),
        (F.col("lang") == "en").cast("int").alias("y"),
    )


@query(
    "eval_auc_quality_lang",
    oracle=f"""
    WITH {_SCORED_CTE},
    g AS (SELECT s, SUM(y) AS pos, SUM(1 - y) AS neg FROM scored GROUP BY s),
    c AS (SELECT s, pos, neg,
                 SUM(neg) OVER (ORDER BY s) - neg AS below
          FROM g)
    SELECT ROUND(SUM(pos * (below + neg / 2.0))
                 / (SUM(pos) * SUM(neg)) + 1e-9, 6) AS auc,
           CAST(SUM(pos) AS BIGINT) AS n_pos,
           CAST(SUM(neg) AS BIGINT) AS n_neg,
           CAST(COUNT(*) AS BIGINT) AS n_scores
    FROM c
    """,
)
def eval_auc_quality_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact ROC AUC of the quality score as an English-language
    classifier — the Mann-Whitney rank identity with midrank ties.

    operators.evalmetrics.auc_roc: the fact table collapses to
    score-bucket counts map-side; the cumulative negative count uses the
    two-level distributed prefix sum (64 coarse buckets, partitioned
    windows, <= 64-row offset self-join) — never a global sort or
    unpartitioned window.
    """
    return E.auc_roc(_scored(spark, sf_dir), "s", "y")


@query(
    "eval_calibration_bins",
    oracle=f"""
    WITH {_SCORED_CTE}
    SELECT CAST(LEAST(FLOOR(s * 10), 9) AS INT) AS bin,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(y) AS BIGINT) AS n_pos,
           ROUND(AVG(s) + 1e-9, 6) AS avg_score,
           ROUND(AVG(y) + 1e-9, 6) AS frac_pos,
           ROUND(ABS(AVG(s) - AVG(y)) + 1e-9, 6) AS cal_gap
    FROM scored GROUP BY 1 ORDER BY 1
    """,
)
def eval_calibration_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability table: decile-wide fixed score bins, mean predicted
    score vs observed positive rate — the calibration-curve data frame.

    operators.evalmetrics.calibration_bins: bin assignment is a pure
    scan-side expression; one partially-combined aggregate, <= 10 rows
    cross the exchange regardless of corpus size.
    """
    return E.calibration_bins(_scored(spark, sf_dir), "s", "y")


@query(
    "eval_brier_ece",
    oracle=f"""
    WITH {_SCORED_CTE},
    pb AS (
      SELECT LEAST(FLOOR(s * 10), 9) AS b, COUNT(*) AS n,
             SUM((s - y) * (s - y)) AS brier_sum,
             AVG(s) AS avg_s, AVG(y) AS frac
      FROM scored GROUP BY 1)
    SELECT ROUND(SUM(brier_sum) / SUM(n) + 1e-9, 6) AS brier,
           ROUND(SUM(n * ABS(avg_s - frac)) / SUM(n) + 1e-9, 6) AS ece,
           CAST(SUM(n) AS BIGINT) AS n,
           CAST(COUNT(*) AS BIGINT) AS n_bins
    FROM pb
    """,
)
def eval_brier_ece(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row probabilistic-accuracy summary: Brier score and expected
    calibration error over ten fixed-width bins.

    operators.evalmetrics.brier_ece: Brier partial sums and bin moments
    share ONE aggregate pass; the roll-up runs over <= 10 rows.
    """
    return E.brier_ece(_scored(spark, sf_dir), "s", "y")


@query(
    "eval_pr_sweep",
    oracle=f"""
    WITH {_SCORED_CTE},
    g AS (SELECT s, SUM(y) AS pos, SUM(1 - y) AS neg FROM scored GROUP BY s),
    tot AS (SELECT SUM(pos) AS p, SUM(neg) AS n FROM g),
    thr AS (SELECT i / 10.0 AS thr FROM generate_series(1, 9) AS t(i)),
    per AS (
      SELECT thr,
             COALESCE(SUM(CASE WHEN s >= thr THEN pos END), 0) AS tp,
             COALESCE(SUM(CASE WHEN s >= thr THEN neg END), 0) AS fp
      FROM thr LEFT JOIN g ON s >= thr GROUP BY thr),
    m AS (
      SELECT ROUND(thr, 6) AS thr,
             CAST(tp AS BIGINT) AS tp, CAST(fp AS BIGINT) AS fp,
             CAST(p - tp AS BIGINT) AS fn, CAST(n - fp AS BIGINT) AS tn,
             CASE WHEN tp + fp > 0 THEN tp * 1.0 / (tp + fp) END AS prec,
             CASE WHEN p > 0 THEN tp * 1.0 / p END AS rec
      FROM per, tot)
    SELECT thr, tp, fp, fn, tn,
           ROUND(prec + 1e-9, 6) AS precision,
           ROUND(rec + 1e-9, 6) AS recall,
           ROUND(CASE WHEN prec + rec > 0
                      THEN 2 * prec * rec / (prec + rec)
                      ELSE 0.0 END + 1e-9, 6) AS f1
    FROM m ORDER BY thr
    """,
)
def eval_pr_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Precision / recall / F1 at thresholds 0.1 .. 0.9 — the
    operating-point table for choosing the quality-gate cutoff.

    operators.evalmetrics.pr_threshold_sweep: ONE scan collapses the
    corpus to score-bucket counts; the score x threshold expansion is a
    broadcast range join over that tiny frame.
    """
    return E.pr_threshold_sweep(
        _scored(spark, sf_dir), "s", "y", [i / 10.0 for i in range(1, 10)]
    )


@query(
    "eval_gains_deciles",
    oracle=f"""
    WITH {_SCORED_CTE},
    qs AS (
      SELECT quantile_cont(s, [0.1, 0.2, 0.3, 0.4, 0.5,
                               0.6, 0.7, 0.8, 0.9]) AS q
      FROM scored),
    ranked AS (
      SELECT 1 + (s <= q[1])::INT + (s <= q[2])::INT + (s <= q[3])::INT
               + (s <= q[4])::INT + (s <= q[5])::INT + (s <= q[6])::INT
               + (s <= q[7])::INT + (s <= q[8])::INT + (s <= q[9])::INT
               AS decile, y
      FROM scored, qs),
    per AS (
      SELECT decile, COUNT(*) AS n, SUM(y) AS n_pos
      FROM ranked GROUP BY 1),
    cum AS (
      SELECT decile, n, n_pos,
             SUM(n) OVER (ORDER BY decile) AS cn,
             SUM(n_pos) OVER (ORDER BY decile) AS cp,
             SUM(n) OVER () AS tn, SUM(n_pos) OVER () AS tp
      FROM per)
    SELECT CAST(decile AS INT) AS decile,
           CAST(n AS BIGINT) AS n, CAST(n_pos AS BIGINT) AS n_pos,
           ROUND(cp * 1.0 / tp + 1e-9, 6) AS capture,
           ROUND((cp * 1.0 / tp) / (cn * 1.0 / tn) + 1e-9, 6) AS lift
    FROM cum ORDER BY decile
    """,
)
def eval_gains_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative-gains / lift table by score decile (decile 1 = highest
    scores): "keep the top-k deciles, capture X% of English docs at Y x
    random" — the targeting readout for tiered curation.

    operators.evalmetrics.gains_deciles: exact percentile boundaries
    broadcast back (no ntile window), scan-side comparison-sum decile,
    cumulative via a <= 10-row triangular self-join.
    """
    return E.gains_deciles(_scored(spark, sf_dir), "s", "y")


@query(
    "eval_ks_separation",
    oracle=f"""
    WITH {_SCORED_CTE},
    ca AS (SELECT 'a' AS g, CAST(floor(s / 0.05) AS BIGINT) AS b,
                  COUNT(*) AS n
           FROM scored WHERE y = 1 GROUP BY 2),
    cb AS (SELECT 'b' AS g, CAST(floor(s / 0.05) AS BIGINT) AS b,
                  COUNT(*) AS n
           FROM scored WHERE y = 0 GROUP BY 2),
    spine AS (
      SELECT DISTINCT b FROM (SELECT b FROM ca UNION ALL SELECT b FROM cb)),
    grid AS (
      SELECT g, b FROM spine
      CROSS JOIN (SELECT 'a' AS g UNION ALL SELECT 'b' AS g)),
    dense AS (
      SELECT grid.g, grid.b, COALESCE(u.n, 0) AS n
      FROM grid LEFT JOIN (SELECT * FROM ca UNION ALL SELECT * FROM cb) u
        USING (g, b)),
    ecdf AS (
      SELECT g, b,
             CAST(SUM(n) OVER (PARTITION BY g ORDER BY b) AS DOUBLE)
               / SUM(n) OVER (PARTITION BY g) AS f,
             SUM(n) OVER (PARTITION BY g) AS nt
      FROM dense),
    gaps AS (
      SELECT b,
             ROUND(ABS(SUM(CASE WHEN g = 'a' THEN f END)
                       - SUM(CASE WHEN g = 'b' THEN f END)), 6) AS gap,
             MAX(CASE WHEN g = 'a' THEN nt END) AS na,
             MAX(CASE WHEN g = 'b' THEN nt END) AS nb
      FROM ecdf GROUP BY b)
    SELECT MAX(gap) AS ks_d,
           CAST(MAX(na) AS BIGINT) AS n_a,
           CAST(MAX(nb) AS BIGINT) AS n_b,
           CAST(COUNT(*) AS BIGINT) AS n_bins
    FROM gaps
    """,
)
def eval_ks_separation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample KS statistic between the score distributions of the
    positive (English) and negative classes — the single-number score
    separability readout (KS ~ 2 * best-balanced-accuracy - 1).

    Pure reuse of operators.profiling.ks_drift with the label as the
    snapshot tag: each class collapses to <= |bins| counts map-side, the
    ECDF window runs partitioned by class over the tiny dense spine.
    """
    from sqlitedataframe_spark.operators.profiling import ks_drift

    scored = _scored(spark, sf_dir)
    return ks_drift(
        scored.filter(F.col("y") == 1),
        scored.filter(F.col("y") == 0),
        "s",
        bin_width=0.05,
    )


@query(
    "eval_auc_by_source",
    oracle=f"""
    WITH {_SCORED_CTE},
    g AS (SELECT source, s, SUM(y) AS pos, SUM(1 - y) AS neg
          FROM scored GROUP BY 1, 2),
    c AS (SELECT source, s, pos, neg,
                 SUM(neg) OVER (PARTITION BY source ORDER BY s) - neg
                   AS below
          FROM g)
    SELECT source,
           ROUND(SUM(pos * (below + neg / 2.0))
                 / (SUM(pos) * SUM(neg)) + 1e-9, 6) AS auc,
           CAST(SUM(pos) AS BIGINT) AS n_pos,
           CAST(SUM(neg) AS BIGINT) AS n_neg
    FROM c GROUP BY source ORDER BY source
    """,
)
def eval_auc_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source ROC AUC of the quality-as-language classifier — the
    slice-analysis view: a pooled AUC can look healthy while one data
    source's slice is at coin-flip.

    operators.evalmetrics.auc_roc_by_group: every stage of the
    distributed prefix sum is keyed by the source, so slices evaluate
    fully in parallel and nothing serializes through one task.
    """
    return E.auc_roc_by_group(_scored(spark, sf_dir), "s", "y", "source")


@query(
    "eval_cohen_kappa",
    oracle=r"""
    WITH t AS (
      SELECT doc_id, text, lang,
             string_split(lower(trim(text)), ' ') AS toks
      FROM documents),
    f AS (
      SELECT doc_id, text, lang,
             CAST(len(list_filter(toks, x -> list_contains(
                 ['the','a','an','and','or','of','to','in','is','it'], x)))
               AS DOUBLE) / len(toks) AS sw_ratio
      FROM t),
    pred AS (
      SELECT CASE
               WHEN LENGTH(regexp_replace(text,
                   '[^\x{4e00}-\x{9fff}]', '', 'g')) > 0 THEN 'zh'
               WHEN sw_ratio >= 0.08 THEN 'en'
               WHEN LENGTH(regexp_replace(text,
                   '[^\x{e0}-\x{ff}]', '', 'g')) > 0 THEN 'fr'
               ELSE 'unknown' END AS p,
             lang AS tr
      FROM f),
    cells AS (SELECT p, tr, COUNT(*) AS n FROM pred GROUP BY 1, 2),
    agg AS (
      SELECT SUM(CASE WHEN p = tr THEN n ELSE 0 END) AS agree,
             SUM(n) AS total, COUNT(*) AS cells
      FROM cells),
    rm AS (SELECT p, SUM(n) AS np FROM cells GROUP BY 1),
    cm AS (SELECT tr, SUM(n) AS nt FROM cells GROUP BY 1),
    ex AS (SELECT SUM(np * nt) AS pen FROM rm JOIN cm ON p = tr)
    SELECT ROUND(agree * 1.0 / total + 1e-9, 6) AS po,
           ROUND(pen * 1.0 / (total * total) + 1e-9, 6) AS pe,
           ROUND((agree * 1.0 / total - pen * 1.0 / (total * total))
                 / (1 - pen * 1.0 / (total * total)) + 1e-9, 6) AS kappa,
           CAST(total AS BIGINT) AS n,
           CAST(cells AS BIGINT) AS n_cells
    FROM agg, ex
    """,
)
def eval_cohen_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chance-corrected agreement (multiclass Cohen's kappa) between the
    heuristic language-ID prediction and the true language label — the
    single-number companion to the text_langid_confusion matrix, honest
    under class imbalance where raw accuracy flatters 'en'.

    operators.evalmetrics.cohen_kappa: one |classes|^2 confusion-cell
    aggregate collapses the corpus map-side; po/pe are arithmetic over
    that tiny frame.
    """
    d = T(spark, sf_dir, "documents")
    preds = d.select(
        X.lang_id("text").alias("pred"), F.col("lang").alias("truth")
    )
    return E.cohen_kappa(preds, "pred", "truth")


@query(
    "eval_conformal_threshold",
    oracle=f"""
    WITH {_SCORED_CTE},
    nc AS (SELECT doc_id, ROUND(1 - s, 6) AS a FROM scored WHERE y = 1),
    cal AS (SELECT a FROM nc WHERE doc_id % 2 = 0),
    tst AS (SELECT a FROM nc WHERE doc_id % 2 = 1),
    nn AS (SELECT COUNT(*) AS n_cal FROM cal),
    kk AS (SELECT LEAST(CAST(CEIL((n_cal + 1) * 0.9) AS BIGINT),
                        n_cal) AS k, n_cal
           FROM nn),
    gc AS (SELECT a, COUNT(*) AS n FROM cal GROUP BY 1),
    cw AS (SELECT a, SUM(n) OVER (ORDER BY a) AS cum FROM gc),
    q AS (SELECT MIN(a) AS q_hat FROM cw, kk WHERE cum >= k)
    SELECT q.q_hat AS q_hat,
           CAST(kk.n_cal AS BIGINT) AS n_cal,
           CAST(COUNT(*) AS BIGINT) AS n_test,
           ROUND(AVG(CASE WHEN tst.a <= q.q_hat THEN 1.0 ELSE 0.0 END)
                 + 1e-9, 6) AS coverage
    FROM tst, q, kk GROUP BY 1, 2
    """,
)
def eval_conformal_threshold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split conformal prediction for the quality-as-English scorer:
    q_hat = the finite-sample-corrected 90th-percentile order statistic
    of calibration nonconformity (1 - score on true-English docs, even
    doc_ids), plus the realized coverage on the odd-doc_id test split —
    the distribution-free guarantee check (expect coverage >= 0.9).

    operators.evalmetrics.conformal_threshold: calibration scores
    collapse to distinct-value counts, the order statistic rides the
    two-level prefix sum, and coverage is one broadcast of the 1-row
    q_hat onto the test aggregate.
    """
    sc = _scored(spark, sf_dir)
    nc = sc.filter(F.col("y") == 1).select(
        "doc_id", F.round(1 - F.col("s"), 6).alias("a")
    )
    cal = nc.filter(F.col("doc_id") % 2 == 0)
    tst = nc.filter(F.col("doc_id") % 2 == 1)
    return E.conformal_threshold(cal, tst, "a", alpha=0.1)


@query(
    "feature_woe_iv",
    oracle=f"""
    WITH {_SCORED_CTE},
    qs AS (
      SELECT quantile_cont(s, [0.1, 0.2, 0.3, 0.4, 0.5,
                               0.6, 0.7, 0.8, 0.9]) AS q
      FROM scored),
    binned AS (
      SELECT 1 + (q[1] < s)::INT + (q[2] < s)::INT + (q[3] < s)::INT
               + (q[4] < s)::INT + (q[5] < s)::INT + (q[6] < s)::INT
               + (q[7] < s)::INT + (q[8] < s)::INT + (q[9] < s)::INT
               AS bin, y
      FROM scored, qs),
    per AS (
      SELECT bin, COUNT(*) AS n, SUM(y) AS n_pos,
             SUM(1 - y) AS n_neg
      FROM binned GROUP BY 1),
    tot AS (SELECT SUM(n_pos) AS p, SUM(n_neg) AS nn,
                   COUNT(*) AS b FROM per)
    SELECT CAST(bin AS INT) AS bin,
           CAST(n AS BIGINT) AS n,
           CAST(n_pos AS BIGINT) AS n_pos,
           CAST(n_neg AS BIGINT) AS n_neg,
           ROUND(LN(((n_pos + 0.5) / (p + 0.5 * b))
                    / ((n_neg + 0.5) / (nn + 0.5 * b))) + 1e-9, 6) + 0.0 AS woe,
           ROUND(((n_pos + 0.5) / (p + 0.5 * b)
                  - (n_neg + 0.5) / (nn + 0.5 * b))
                 * LN(((n_pos + 0.5) / (p + 0.5 * b))
                      / ((n_neg + 0.5) / (nn + 0.5 * b))) + 1e-9, 6) + 0.0
             AS iv_term
    FROM per, tot ORDER BY bin
    """,
)
def feature_woe_iv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weight-of-evidence + information-value screen of the quality
    score against the English label — "how predictive is this feature,
    and in which score range" (total IV = sum of iv_term).

    operators.features.woe_iv: exact percentile boundaries broadcast
    (no NTILE), scan-side fold binning, <= 10-row WOE arithmetic
    against a 1-row broadcast total; Laplace 0.5 smoothing keeps empty
    cells off ln(0) in both engines.
    """
    from sqlitedataframe_spark.operators.features import woe_iv

    return woe_iv(_scored(spark, sf_dir), "s", "y", n_bins=10)


@query(
    "orders_gini_by_nation",
    oracle="""
    WITH per AS (
      SELECT n.n_name AS nation, c.c_custkey AS k,
             CAST(ROUND(ROUND(SUM(o.o_totalprice) + 1e-9, 2) * 100)
                  AS BIGINT) AS cents
      FROM orders o
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation n ON c.c_nationkey = n.n_nationkey
      GROUP BY 1, 2),
    ranked AS (
      SELECT nation, cents,
             ROW_NUMBER() OVER (PARTITION BY nation
                                ORDER BY cents, k) AS i
      FROM per)
    SELECT nation,
           CAST(COUNT(*) AS BIGINT) AS n_keys,
           ROUND(SUM(cents) / 100.0, 2) AS total_weight,
           ROUND(2.0 * SUM(i * cents) / (COUNT(*) * SUM(cents))
                 - (COUNT(*) + 1.0) / COUNT(*) + 1e-9, 6) AS gini
    FROM ranked GROUP BY nation ORDER BY nation
    """,
)
def orders_gini_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-nation Gini coefficient of customer revenue — the
    Lorenz-curve inequality number beside the Pareto classes and HHI:
    which national markets are whale-driven vs broad-based.

    operators.profiling.gini_by_group: orders collapse to one revenue
    row per customer FIRST (map-side partials), so the customer join is
    a key-sized shuffle equi-join (customer scales with SF — never
    broadcast it); only the 25-row nation table broadcasts. The rank
    window partitions by nation (key-parallel, no global sort).
    """
    from sqlitedataframe_spark.operators.profiling import gini_by_group

    o = T(spark, sf_dir, "orders")
    c = T(spark, sf_dir, "customer")
    n = T(spark, sf_dir, "nation")
    per_cust = o.groupBy("o_custkey").agg(
        F.sum("o_totalprice").alias("_rev")
    )
    joined = per_cust.join(
        c.select("c_custkey", "c_nationkey"),
        per_cust.o_custkey == c.c_custkey,
    ).join(
        F.broadcast(n.select("n_nationkey", "n_name")),
        F.col("c_nationkey") == F.col("n_nationkey"),
    )
    return gini_by_group(joined, "n_name", "c_custkey", "_rev").select(
        F.col("n_name").alias("nation"), "n_keys", "total_weight", "gini"
    )


@query(
    "embed_silhouette",
    oracle="""
    WITH pt AS (
      SELECT vec_id, label,
             generate_subscripts(embedding, 1) AS pos,
             unnest(embedding::DOUBLE[]) AS v
      FROM embeddings),
    cen AS (
      SELECT label AS label_c, pos, ROUND(AVG(v) + 1e-9, 9) AS c
      FROM pt GROUP BY 1, 2),
    d AS (
      SELECT pt.vec_id, pt.label, cen.label_c,
             SUM((pt.v - cen.c) * (pt.v - cen.c)) AS sq
      FROM pt JOIN cen ON pt.pos = cen.pos
      GROUP BY 1, 2, 3),
    pp AS (
      SELECT vec_id, label,
             sqrt(MIN(CASE WHEN label_c = label THEN sq END)) AS a,
             sqrt(MIN(CASE WHEN label_c <> label THEN sq END)) AS b
      FROM d GROUP BY 1, 2),
    s AS (
      SELECT label,
             CASE WHEN GREATEST(a, b) > 0
                  THEN (b - a) / GREATEST(a, b) ELSE 0.0 END AS sil
      FROM pp)
    SELECT label,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(AVG(sil) + 1e-9, 6) AS avg_silhouette,
           ROUND(AVG(CASE WHEN sil < 0 THEN 1.0 ELSE 0.0 END) + 1e-9, 6)
             AS frac_negative
    FROM s GROUP BY label ORDER BY label
    """,
)
def embed_silhouette(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Simplified (centroid) silhouette per embedding label — the
    clustering/labeling QA readout: negative mean silhouette = the
    label's points sit closer to another class centroid than their own.

    operators.similarity.silhouette_by_label: centroids = one tiny
    labels x dims aggregate broadcast back; per-point work is an
    n x |labels| map-side expansion collapsed by partial aggregation —
    no point-point join; 9-dp centroid rounding keeps nearest-foreign
    picks ulp-stable across engines.
    """
    from sqlitedataframe_spark.operators.similarity import (
        silhouette_by_label,
    )

    return silhouette_by_label(T(spark, sf_dir, "embeddings"))


@query(
    "text_heaps_fit",
    oracle=r"""
    WITH w AS (
      SELECT CAST(CEIL((MAX(doc_id) + 1) / 16.0) AS BIGINT) AS wd
      FROM documents),
    toks AS (
      SELECT LEAST(CAST(FLOOR(doc_id / wd) AS INT), 15) AS b,
             regexp_split_to_array(lower(trim(text)), '\s+') AS t
      FROM documents, w),
    nt AS (SELECT b, SUM(len(t)) AS n FROM toks GROUP BY 1),
    fs AS (
      SELECT fb AS b, COUNT(*) AS v FROM (
        SELECT tok, MIN(b) AS fb
        FROM (SELECT b, unnest(t) AS tok FROM toks)
        GROUP BY tok)
      GROUP BY 1),
    per AS (
      SELECT nt.b, nt.n, COALESCE(fs.v, 0) AS v
      FROM nt LEFT JOIN fs USING (b)),
    cum AS (
      SELECT b, SUM(n) OVER (ORDER BY b) AS cn,
             SUM(v) OVER (ORDER BY b) AS cv
      FROM per),
    pts AS (
      SELECT cn, cv, LN(cn * 1.0) AS x, LN(cv * 1.0) AS y
      FROM cum WHERE cn > 0 AND cv > 0),
    m AS (
      SELECT COUNT(*) * 1.0 AS n, SUM(x) AS sx, SUM(y) AS sy,
             SUM(x * x) AS sxx, SUM(y * y) AS syy, SUM(x * y) AS sxy,
             MIN(cn) = MAX(cn) AS x_flat, MIN(cv) = MAX(cv) AS y_flat,
             MAX(cv) AS v_max
      FROM pts)
    SELECT ROUND(CASE WHEN y_flat THEN 0.0
                      WHEN x_flat THEN NULL
                      ELSE (n * sxy - sx * sy) / (n * sxx - sx * sx) END
                 + 1e-9, 6) AS beta,
           ROUND(CASE WHEN y_flat THEN v_max * 1.0
                      ELSE EXP((sy - (n * sxy - sx * sy)
                                / (n * sxx - sx * sx) * sx) / n) END
                 + 1e-9, 4) AS k,
           ROUND(CASE WHEN y_flat OR x_flat THEN NULL
                      ELSE POWER((n * sxy - sx * sy)
                           / SQRT((n * sxx - sx * sx)
                                  * (n * syy - sy * sy)), 2) END
                 + 1e-9, 6) AS r2,
           CAST(n AS BIGINT) AS n_points
    FROM m
    """,
)
def text_heaps_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps'-law vocabulary-growth fit V(N) ~ K * N^beta over 16
    id-ordered prefix buckets — the corpus-health diagnostic beside the
    Zipf fit and the novelty curve: beta collapsing toward 0 means new
    data has stopped adding vocabulary.

    operators.text.heaps_fit: first-seen bucket is one token-keyed
    min aggregate (the only data-sized shuffle); cumulatives ride a
    <= 16-row triangular self-join; the OLS is a 1-row moments agg.
    """
    from sqlitedataframe_spark.operators.text import heaps_fit

    return heaps_fit(T(spark, sf_dir, "documents"))


@query(
    "events_burstiness",
    oracle="""
    WITH g AS (
      SELECT user_id,
             epoch_us(ts) - lag(epoch_us(ts)) OVER (
               PARTITION BY user_id ORDER BY ts, event_id) AS gap
      FROM events),
    pk AS (
      SELECT user_id, COUNT(*) AS ng, AVG(gap) AS m,
             stddev_samp(gap) AS sd
      FROM g WHERE gap IS NOT NULL GROUP BY 1),
    cv AS (
      SELECT sd / m AS cv FROM pk WHERE ng >= 2 AND m > 0)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_keys,
           ROUND(AVG(cv) + 1e-9, 6) AS avg_cv,
           ROUND(quantile_cont(cv, 0.5) + 1e-9, 6) AS p50_cv,
           ROUND(quantile_cont(cv, 0.9) + 1e-9, 6) AS p90_cv,
           ROUND(AVG(CASE WHEN cv > 1.0 THEN 1.0 ELSE 0.0 END) + 1e-9, 6)
             AS frac_bursty
    FROM cv
    """,
)
def events_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user burstiness (CV of inter-event gaps; Poisson ~ 1,
    heartbeat ~ 0, bursty sessions > 1) summarized over users — the
    bot / scripted-client / burst triage next to per-user entropy.

    operators.profiling.interarrival_cv_summary: one per-user ordered
    lag window (key-parallel), per-user moments, 1-row summary; gaps
    are exact integer microseconds on both engines.
    """
    from sqlitedataframe_spark.operators.profiling import (
        interarrival_cv_summary,
    )

    return interarrival_cv_summary(
        T(spark, sf_dir, "events"), "user_id", "ts",
        order_cols=["ts", "event_id"],
    )


@query(
    "feature_quantile_normalize",
    oracle="""
    WITH qs AS (
      SELECT source AS g,
             quantile_cont(n_chars, [0.025, 0.125, 0.225, 0.325, 0.425,
                                     0.525, 0.625, 0.725, 0.825, 0.925])
               AS q
      FROM documents GROUP BY 1),
    per AS (
      SELECT g, generate_subscripts(q, 1) AS i, unnest(q) AS qv
      FROM qs),
    ref AS (SELECT i, AVG(qv) AS r FROM per GROUP BY 1),
    grid AS (
      SELECT i, p FROM (VALUES (1, 0.025), (2, 0.125), (3, 0.225),
        (4, 0.325), (5, 0.425), (6, 0.525), (7, 0.625), (8, 0.725),
        (9, 0.825), (10, 0.925)) AS t(i, p))
    -- CAST: the VALUES grid literals are DECIMAL in DuckDB while Spark's
    -- grid is double; match types cell-for-cell (checker-fidelity r10)
    SELECT per.g AS source, ROUND(CAST(grid.p AS DOUBLE), 4) AS p,
           ROUND(per.qv + 1e-9, 4) AS group_q,
           ROUND(ref.r + 1e-9, 4) AS ref_q,
           ROUND(per.qv - ref.r + 1e-9, 4) AS gap
    FROM per JOIN ref USING (i) JOIN grid ON grid.i = per.i
    ORDER BY source, p
    """,
)
def feature_quantile_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile-normalization mapping table for document length by
    source: each source's exact decile-grid quantiles beside the
    cross-source mean profile and the gap — the broadcastable artifact
    that maps every source's length distribution onto the shared
    reference, and the per-source deviation readout.

    operators.features.quantile_normalize_map: one per-source exact
    percentile aggregate collapses the corpus; everything downstream
    runs on the |sources| x grid frame.
    """
    from sqlitedataframe_spark.operators.features import (
        quantile_normalize_map,
    )

    return quantile_normalize_map(
        T(spark, sf_dir, "documents"), "source", "n_chars"
    )


@query(
    "events_cliffs_delta",
    oracle="""
    WITH ca AS (
      SELECT ROUND(value, 4) AS v, COUNT(*) AS ca FROM events
      WHERE event_type = 'click' GROUP BY 1),
    cb AS (
      SELECT ROUND(value, 4) AS v, COUNT(*) AS cb FROM events
      WHERE event_type = 'view' GROUP BY 1),
    dense AS (
      SELECT COALESCE(ca.v, cb.v) AS v,
             COALESCE(ca.ca, 0) AS ca, COALESCE(cb.cb, 0) AS cb
      FROM ca FULL JOIN cb ON ca.v = cb.v),
    cum AS (
      SELECT v, ca, cb,
             SUM(cb) OVER (ORDER BY v) - cb AS b_below,
             SUM(cb) OVER () AS nb
      FROM dense)
    SELECT ROUND(SUM(ca * (b_below - (nb - b_below - cb)))
                 / (SUM(ca) * MAX(nb) * 1.0) + 1e-9, 6) AS cliffs_d,
           CAST(SUM(ca) AS BIGINT) AS n_a,
           CAST(MAX(nb) AS BIGINT) AS n_b
    FROM cum
    """,
)
def events_cliffs_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cliff's delta rank effect size between click and view event
    values — the distribution-free companion to the Welch z-test
    (events_ab_ztest): robust when outliers drag the means, with the
    standard negligible/small/medium/large cuts at |d| = .147/.33/.474.

    operators.profiling.cliffs_delta: each side collapses to
    distinct-value counts map-side; the cross-pair probabilities come
    from a two-level prefix sum over the shared value spine — the
    n_a x n_b pair space never materializes.
    """
    from sqlitedataframe_spark.operators.profiling import cliffs_delta

    e = T(spark, sf_dir, "events")
    return cliffs_delta(
        e.filter(F.col("event_type") == "click"),
        e.filter(F.col("event_type") == "view"),
        "value",
    )


@query(
    "dedup_cluster_sizes",
    oracle="""
    WITH RECURSIVE toks AS (
      SELECT doc_id, list_distinct(string_split(lower(trim(text)), ' ')) AS t
      FROM documents),
    edges AS (
      SELECT a.doc_id AS src, b.doc_id AS dst
      FROM toks a JOIN toks b ON b.doc_id = a.doc_id + 1
      WHERE CAST(len(list_intersect(a.t, b.t)) AS DOUBLE)
            / len(list_distinct(list_concat(a.t, b.t))) >= 0.5),
    sym AS (SELECT src, dst FROM edges UNION SELECT dst, src FROM edges),
    walk(node, comp) AS (
      SELECT doc_id, doc_id FROM documents
      UNION
      SELECT s.dst, w.comp FROM walk w JOIN sym s ON s.src = w.node),
    comp AS (
      SELECT node, MIN(comp) AS component FROM walk GROUP BY node),
    sizes AS (
      SELECT component, COUNT(*) AS sz FROM comp GROUP BY 1)
    SELECT CAST(sz AS BIGINT) AS cluster_size,
           CAST(COUNT(*) AS BIGINT) AS n_clusters,
           CAST(SUM(sz) AS BIGINT) AS n_docs,
           CAST(SUM(sz) - COUNT(*) AS BIGINT) AS removable_dups
    FROM sizes GROUP BY sz ORDER BY sz
    """,
)
def dedup_cluster_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-cluster size histogram: how many near-dup clusters of
    each size exist, the documents they hold, and the rows a
    keep-one-per-cluster dedup would remove — the capacity-planning
    readout BEFORE running the dedup (and the skew warning: one
    mega-cluster means boilerplate, not true duplication).

    Composition over operators.graph.connected_components (pointer-
    jumped min-label, O(log diameter) rounds); the histogram itself is
    two tiny aggregates over the labels frame.
    """
    from sqlitedataframe_spark.operators.graph import connected_components
    from sqlitedataframe_spark.operators import text as XT

    d = T(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.array_distinct(XT.tokens("text")).alias("t"))
    a, b = toks.alias("a"), toks.alias("b")
    inter = F.size(F.array_intersect(F.col("a.t"), F.col("b.t")))
    union = F.size(F.array_union(F.col("a.t"), F.col("b.t")))
    edges = (
        a.join(b, F.col("b.doc_id") == F.col("a.doc_id") + 1)
        .filter(inter.cast("double") / union >= 0.5)
        .select(
            F.col("a.doc_id").alias("src"), F.col("b.doc_id").alias("dst")
        )
    )
    labels = connected_components(
        edges, nodes=d.select("doc_id"), node_col="doc_id"
    )
    sizes = labels.groupBy("comp").agg(F.count(F.lit(1)).alias("sz"))
    return (
        sizes.groupBy(F.col("sz").cast("bigint").alias("cluster_size"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_clusters"),
            F.sum("sz").cast("bigint").alias("n_docs"),
            (F.sum("sz") - F.count(F.lit(1))).cast("bigint").alias(
                "removable_dups"
            ),
        )
        .orderBy("cluster_size")
    )


@query(
    "profile_k_anonymity",
    oracle="""
    WITH qi AS (
      SELECT c.c_nationkey AS nat,
             EXTRACT(year FROM o.o_orderdate) AS yr,
             o.o_orderpriority AS pri,
             COUNT(*) AS k
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      GROUP BY 1, 2, 3)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_classes,
           CAST(SUM(k) AS BIGINT) AS n_rows,
           CAST(MIN(k) AS BIGINT) AS min_k,
           CAST(SUM(CASE WHEN k = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS classes_k1,
           CAST(SUM(CASE WHEN k BETWEEN 2 AND 4 THEN 1 ELSE 0 END)
                AS BIGINT) AS classes_k2_4,
           CAST(SUM(CASE WHEN k BETWEEN 5 AND 19 THEN 1 ELSE 0 END)
                AS BIGINT) AS classes_k5_19,
           CAST(SUM(CASE WHEN k >= 20 THEN 1 ELSE 0 END) AS BIGINT)
             AS classes_k20_plus,
           ROUND(SUM(CASE WHEN k < 5 THEN k ELSE 0 END) * 1.0 / SUM(k)
                 + 1e-9, 6) AS frac_rows_below_k
    FROM qi
    """,
)
def profile_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit of orders under the (nation, order year,
    priority) quasi-identifier: equivalence-class size distribution,
    min k, and the row share a k=5 release would have to suppress —
    the privacy-review pre-flight for sharing transactional extracts.

    operators.profiling.k_anonymity_audit: one QI-keyed count
    aggregate collapses the fact table (the customer join shuffles on
    the key it already groups by); the bands are arithmetic.
    """
    from sqlitedataframe_spark.operators.profiling import k_anonymity_audit

    o = T(spark, sf_dir, "orders")
    c = T(spark, sf_dir, "customer")
    j = o.join(
        c.select("c_custkey", "c_nationkey"),
        o.o_custkey == c.c_custkey,
    ).select(
        F.col("c_nationkey").alias("nat"),
        F.year("o_orderdate").alias("yr"),
        F.col("o_orderpriority").alias("pri"),
    )
    return k_anonymity_audit(j, ["nat", "yr", "pri"], k_threshold=5)


@query(
    "events_markov_backtest",
    oracle="""
    WITH seq AS (
      SELECT user_id,
             event_type AS prev,
             lead(event_type) OVER (
               PARTITION BY user_id ORDER BY ts, event_id) AS nxt
      FROM events),
    tr AS (SELECT prev, nxt FROM seq
           WHERE nxt IS NOT NULL AND user_id % 2 = 0),
    te AS (SELECT prev, nxt FROM seq
           WHERE nxt IS NOT NULL AND user_id % 2 = 1),
    cnt AS (SELECT prev, nxt, COUNT(*) AS c FROM tr GROUP BY 1, 2),
    model AS (
      SELECT prev, nxt AS pred FROM (
        SELECT prev, nxt,
               ROW_NUMBER() OVER (PARTITION BY prev
                                  ORDER BY c DESC, nxt) AS rn
        FROM cnt) WHERE rn = 1),
    base AS (
      SELECT nxt AS pred FROM (
        SELECT nxt, COUNT(*) AS c FROM tr GROUP BY 1
        ORDER BY c DESC, nxt LIMIT 1)),
    scored AS (
      SELECT te.nxt = m.pred AS hit, te.nxt = b.pred AS base_hit
      FROM te JOIN model m USING (prev) CROSS JOIN base b)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_test,
           ROUND(AVG(CASE WHEN hit THEN 1.0 ELSE 0.0 END) + 1e-9, 6)
             AS accuracy,
           ROUND(AVG(CASE WHEN base_hit THEN 1.0 ELSE 0.0 END) + 1e-9, 6)
             AS baseline_accuracy,
           ROUND(AVG(CASE WHEN hit THEN 1.0 ELSE 0.0 END)
                 / AVG(CASE WHEN base_hit THEN 1.0 ELSE 0.0 END)
                 + 1e-9, 6) AS lift_over_majority
    FROM scored
    """,
)
def events_markov_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Backtest of the first-order Markov next-event model: transition
    argmax fit on even user_ids, top-1 accuracy scored on odd users,
    against the predict-the-majority baseline — the honest "is the
    transition structure real signal" readout on top of
    events_markov_transitions.

    Plan shape: ONE per-user ordered lead window feeds both splits;
    the model is a |types|^2 count aggregate + a |types|-partitioned
    rank window (bounded frame); scoring is a broadcast join of the
    <= |types|-row model onto the test transitions.
    """
    from pyspark.sql import Window

    e = T(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select(
        "user_id",
        F.col("event_type").alias("prev"),
        F.lead("event_type").over(w).alias("nxt"),
    ).filter(F.col("nxt").isNotNull())
    tr = seq.filter(F.col("user_id") % 2 == 0).select("prev", "nxt")
    te = seq.filter(F.col("user_id") % 2 == 1).select("prev", "nxt")
    cnt = tr.groupBy("prev", "nxt").agg(F.count(F.lit(1)).alias("c"))
    rw = Window.partitionBy("prev").orderBy(F.col("c").desc(), "nxt")
    model = (
        cnt.withColumn("rn", F.row_number().over(rw))
        .filter(F.col("rn") == 1)
        .select("prev", F.col("nxt").alias("pred"))
    )
    base = (
        tr.groupBy("nxt")
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.col("c").desc(), "nxt")
        .limit(1)
        .select(F.col("nxt").alias("base_pred"))
    )
    scored = te.join(F.broadcast(model), "prev").join(F.broadcast(base))
    hit = (F.col("nxt") == F.col("pred")).cast("double")
    base_hit = (F.col("nxt") == F.col("base_pred")).cast("double")
    return scored.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_test"),
        F.round(F.avg(hit) + 1e-9, 6).alias("accuracy"),
        F.round(F.avg(base_hit) + 1e-9, 6).alias("baseline_accuracy"),
        F.round(F.avg(hit) / F.avg(base_hit) + 1e-9, 6).alias(
            "lift_over_majority"
        ),
    )


@query(
    "profile_l_diversity",
    oracle="""
    WITH cell AS (
      SELECT c.c_nationkey AS nat,
             EXTRACT(year FROM o.o_orderdate) AS yr,
             c.c_mktsegment AS s,
             COUNT(*) AS n
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      GROUP BY 1, 2, 3),
    per AS (
      SELECT nat, yr, COUNT(*) AS l, SUM(n) AS k, MAX(n) AS top
      FROM cell GROUP BY 1, 2)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_classes,
           CAST(MIN(l) AS BIGINT) AS min_l,
           ROUND(AVG(CASE WHEN l < 3 THEN 1.0 ELSE 0.0 END) + 1e-9, 6)
             AS frac_classes_below_l,
           ROUND(MAX(top * 1.0 / k) + 1e-9, 6) AS max_dominance
    FROM per
    """,
)
def profile_l_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """l-diversity audit of orders under the (nation, order year)
    quasi-identifier with market segment as the sensitive attribute:
    a class can pass k-anonymity yet expose the segment when all its
    members share one value — min l, the sub-threshold class share,
    and the worst single-value dominance quantify that surface.

    operators.profiling.l_diversity_audit: two stacked map-side
    aggregates ((QI, sensitive) cells, then the QI roll-up); 1 row out.
    """
    from sqlitedataframe_spark.operators.profiling import l_diversity_audit

    o = T(spark, sf_dir, "orders")
    c = T(spark, sf_dir, "customer")
    j = o.join(
        c.select("c_custkey", "c_nationkey", "c_mktsegment"),
        o.o_custkey == c.c_custkey,
    ).select(
        F.col("c_nationkey").alias("nat"),
        F.year("o_orderdate").alias("yr"),
        F.col("c_mktsegment").alias("seg"),
    )
    return l_diversity_audit(j, ["nat", "yr"], "seg", l_threshold=3)


@query(
    "profile_t_closeness",
    oracle="""
    WITH cell AS (
      SELECT c.c_nationkey AS nat,
             EXTRACT(year FROM o.o_orderdate) AS yr,
             c.c_mktsegment AS s,
             COUNT(*) AS n
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      GROUP BY 1, 2, 3),
    gd AS (SELECT s, SUM(n) AS gn FROM cell GROUP BY 1),
    tot AS (SELECT SUM(n) AS t FROM cell),
    cls AS (SELECT nat, yr, SUM(n) AS k FROM cell GROUP BY 1, 2),
    spine AS (
      SELECT cls.nat, cls.yr, cls.k, gd.s, gd.gn, tot.t
      FROM cls CROSS JOIN gd CROSS JOIN tot),
    dense AS (
      SELECT sp.nat, sp.yr, sp.k,
             COALESCE(cell.n, 0) * 1.0 / sp.k AS p,
             sp.gn * 1.0 / sp.t AS pg
      FROM spine sp
      LEFT JOIN cell ON cell.nat = sp.nat AND cell.yr = sp.yr
                    AND cell.s = sp.s),
    per AS (
      SELECT nat, yr, k, 0.5 * SUM(ABS(p - pg)) AS tv
      FROM dense GROUP BY 1, 2, 3)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_classes,
           ROUND(MAX(tv) + 1e-9, 6) AS max_t,
           ROUND(SUM(k * tv) / SUM(k) + 1e-9, 6) AS row_weighted_avg_t,
           ROUND(AVG(CASE WHEN tv > 0.2 THEN 1.0 ELSE 0.0 END) + 1e-9, 6)
             AS frac_classes_above_t
    FROM per
    """,
)
def profile_t_closeness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t-closeness audit of orders under the (nation, order year)
    quasi-identifier with market segment sensitive: the variational
    distance between each class's segment distribution and the global
    one — the leak l-diversity misses when a class is skewed rather
    than homogeneous. Completes the k-anonymity / l-diversity /
    t-closeness release-review triad.

    operators.profiling.t_closeness_audit: one (QI, sensitive) cell
    aggregate; the dense class x segment spine (bounded: classes x 5)
    joins the broadcast global distribution; roll-ups are arithmetic.
    """
    from sqlitedataframe_spark.operators.profiling import t_closeness_audit

    o = T(spark, sf_dir, "orders")
    c = T(spark, sf_dir, "customer")
    j = o.join(
        c.select("c_custkey", "c_nationkey", "c_mktsegment"),
        o.o_custkey == c.c_custkey,
    ).select(
        F.col("c_nationkey").alias("nat"),
        F.year("o_orderdate").alias("yr"),
        F.col("c_mktsegment").alias("seg"),
    )
    return t_closeness_audit(j, ["nat", "yr"], "seg", t_threshold=0.2)


@query(
    "dedup_lsh_recall",
    oracle=minhash_pair_ctes(
        f"""
    WITH {DOC_TOKENS},
    sh AS (SELECT doc_id, list_distinct(t) AS sh FROM t)"""
    )
    + """,
    truth AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b
      FROM sh a JOIN sh b ON b.doc_id = a.doc_id + 1
      WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
            / len(list_distinct(list_concat(a.sh, b.sh))) >= 0.5),
    found AS (
      SELECT id_a, id_b FROM est
      WHERE est_jaccard >= 0.3 AND id_b = id_a + 1),
    hit AS (
      SELECT truth.id_a FROM truth JOIN found USING (id_a, id_b))
    SELECT CAST((SELECT COUNT(*) FROM truth) AS BIGINT) AS n_truth,
           CAST((SELECT COUNT(*) FROM found) AS BIGINT) AS n_found_adj,
           CAST((SELECT COUNT(*) FROM hit) AS BIGINT) AS n_hit,
           ROUND((SELECT COUNT(*) FROM hit) * 1.0
                 / NULLIF((SELECT COUNT(*) FROM truth), 0) + 1e-9, 6)
             AS recall,
           ROUND((SELECT COUNT(*) FROM hit) * 1.0
                 / NULLIF((SELECT COUNT(*) FROM found), 0) + 1e-9, 6)
             AS precision
    """,
)
def dedup_lsh_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall / precision of token-level MinHash LSH (shingle_k=1 —
    the variant matched to this corpus's permutation-style duplicates)
    against exact token-Jaccard >= 0.5 ground truth on the adjacent-id
    pair spine where the fixture plants its dups: the quality-vs-cost
    dial of the banded candidate path measured, not assumed — the
    dedup twin of sim_ann_recall.

    Plan shape: truth is the linear adjacent-pair join;
    operators.dedup.minhash_lsh_pairs supplies the candidate side
    (scan-side signatures, slim banded join); the compare is set
    arithmetic over two tiny pair frames. NULLIF guards keep the
    ratios NULL (not a crash) on a dup-free corpus.
    """
    from sqlitedataframe_spark.operators import dedup as DD

    d = T(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", F.array_distinct(F.split(F.trim(F.lower("text")), r"\s+"))
        .alias("sh")
    )
    a, b = toks.alias("a"), toks.alias("b")
    inter = F.size(F.array_intersect(F.col("a.sh"), F.col("b.sh")))
    union = F.size(F.array_union(F.col("a.sh"), F.col("b.sh")))
    # r12: both pair frames are referenced twice (the hit join + their own
    # counts) — lazily persisted AFTER their subsetting filters, so the
    # adjacency pushdown into the banded join is kept while the expensive
    # subtrees run once
    from sqlitedataframe_spark.operators.util import register_cache

    truth = register_cache(
        a.join(b, F.col("b.doc_id") == F.col("a.doc_id") + 1)
        .filter(inter.cast("double") / union >= 0.5)
        .select(
            F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b")
        )
        .persist()
    )
    found = register_cache(
        DD.minhash_lsh_pairs(d, shingle_k=1, min_jaccard=0.3)
        .filter(F.col("id_b") == F.col("id_a") + 1)
        .select("id_a", "id_b")
        .persist()
    )
    hit = truth.join(found, ["id_a", "id_b"])
    nt = truth.agg(F.count(F.lit(1)).alias("n_truth"))
    nf = found.agg(F.count(F.lit(1)).alias("n_found_adj"))
    nh = hit.agg(F.count(F.lit(1)).alias("n_hit"))
    return (
        nt.join(F.broadcast(nf))
        .join(F.broadcast(nh))
        .select(
            F.col("n_truth").cast("bigint").alias("n_truth"),
            F.col("n_found_adj").cast("bigint").alias("n_found_adj"),
            F.col("n_hit").cast("bigint").alias("n_hit"),
            F.round(
                F.col("n_hit")
                / F.nullif(F.col("n_truth"), F.lit(0))
                + 1e-9,
                6,
            ).alias("recall"),
            F.round(
                F.col("n_hit")
                / F.nullif(F.col("n_found_adj"), F.lit(0))
                + 1e-9,
                6,
            ).alias("precision"),
        )
    )


@query(
    "eval_average_precision",
    oracle=f"""
    WITH {_SCORED_CTE},
    g AS (SELECT s, SUM(y) AS pos, COUNT(*) AS n FROM scored GROUP BY s),
    c AS (
      SELECT s, pos,
             SUM(pos) OVER (ORDER BY s DESC) AS ge_pos,
             SUM(n) OVER (ORDER BY s DESC) AS ge_all
      FROM g),
    tot AS (SELECT SUM(pos) AS p FROM g)
    SELECT ROUND(SUM(pos * (ge_pos * 1.0 / ge_all)) / MAX(p) + 1e-9, 6)
             AS average_precision,
           CAST(MAX(p) AS BIGINT) AS n_pos,
           CAST(COUNT(*) AS BIGINT) AS n_scores
    FROM c, tot
    """,
)
def eval_average_precision(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact average precision (PR-AUC, tie-grouped) of the quality
    score as an English classifier — the imbalance-honest companion to
    eval_auc_quality_lang (the PR baseline is the positive rate, not
    0.5).

    operators.evalmetrics.average_precision: same two-level prefix sum
    as the AUC — the >= cumulatives are totals minus the strictly-below
    prefix, so no descending global sort exists anywhere.
    """
    return E.average_precision(_scored(spark, sf_dir), "s", "y")
