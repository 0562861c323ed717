"""Training-data pipeline queries: dedup, similarity search, text analysis,
multimodal — the north-star surface, each over the documents/embeddings
fixtures with a DuckDB oracle where SQL can express the semantics.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sqlitedataframe_spark.operators import dedup as D
from sqlitedataframe_spark.operators import similarity as S
from sqlitedataframe_spark.operators import text as X
from sqlitedataframe_spark.operators.multimodal import attach_media, extract_features
from sqlitedataframe_spark.suite import query
from sqlitedataframe_spark.suite.relational import T


def shared_doc_sigs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The default-parameter MinHash signature table over the FULL
    documents corpus, built once per (app, sf_dir) and persisted across
    queries (util.shared_eager_cache — VERDICT r5 #5): dedup_minhash_lsh,
    dedup_incremental_lsh and pipeline_near_dedup_lsh all consume exactly
    this table (the last via an id semi-join to its 40% sample, which is
    sound because signatures are per-doc pure functions)."""
    from sqlitedataframe_spark.operators.util import shared_eager_cache

    return shared_eager_cache(
        spark,
        ("doc_minhash_sigs", sf_dir, 64, 3),
        lambda: D.minhash_signature_table(
            T(spark, sf_dir, "documents"), "doc_id", "text", 64, 3
        ),
    )


def shared_doc_banded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The default-parameter (16-band) LSH band table derived from
    :func:`shared_doc_sigs`, built once per (app, sf_dir) and persisted
    across queries (r13): every ``minhash_lsh_pairs`` call that injects
    the shared signature table re-ran the 16-band md5 bucketing pass —
    ~18 call sites across the dedup/contamination family paid it once
    per call. Bucketing is a per-row pure function of the signature, so
    consumers restrict this superset table by an id semi-join (same
    soundness argument as the shared signature injection)."""
    from sqlitedataframe_spark.operators.util import shared_eager_cache

    return shared_eager_cache(
        spark,
        ("doc_minhash_banded", sf_dir, 64, 16, 3),
        lambda: D.minhash_band_table(shared_doc_sigs(spark, sf_dir), 64, 16),
    )


# --------------------------------------------------------------------------
# Exact dedup (hash-groupBy): representative id per exact-text group.
# --------------------------------------------------------------------------
@query(
    "dedup_exact",
    oracle="""
    SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(DISTINCT md5(text)) AS BIGINT) AS n_unique,
           CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
    FROM (
      SELECT lang, text,
             doc_id = MIN(doc_id) OVER (PARTITION BY md5(text)) AS keep
      FROM documents
    )
    GROUP BY lang
    ORDER BY lang
    """,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup by text hash, min-id representative; per-lang stats."""
    d = T(spark, sf_dir, "documents")
    kept = D.dedup_exact(d, ["text"], "doc_id").select("doc_id").withColumn("keep", F.lit(1))
    return (
        d.join(kept, on="doc_id", how="left")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct(F.md5("text")).alias("n_unique"),
            F.sum(F.coalesce(F.col("keep"), F.lit(0))).alias("n_kept"),
        )
        .orderBy("lang")
    )


# --------------------------------------------------------------------------
# Fingerprint dedup: md5 over the sorted distinct token set — permutation-
# and repetition-invariant duplicate groups.
# --------------------------------------------------------------------------
@query(
    "dedup_fingerprint",
    oracle="""
    WITH fp AS (
      SELECT doc_id,
             md5(array_to_string(list_sort(list_distinct(string_split(lower(trim(text)), ' '))), ' ')) AS fingerprint
      FROM documents
    )
    SELECT fingerprint, CAST(COUNT(*) AS BIGINT) AS group_size,
           CAST(MIN(doc_id) AS BIGINT) AS keeper_id
    FROM fp
    GROUP BY fingerprint
    HAVING COUNT(*) > 1
    ORDER BY fingerprint
    """,
)
def dedup_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup groups by token-set fingerprint (operators.text.fingerprint)."""
    d = T(spark, sf_dir, "documents")
    return (
        d.select("doc_id", X.fingerprint("text").alias("fingerprint"))
        .groupBy("fingerprint")
        .agg(
            F.count(F.lit(1)).alias("group_size"),
            F.min("doc_id").alias("keeper_id"),
        )
        .filter(F.col("group_size") > 1)
        .orderBy("fingerprint")
    )


# --------------------------------------------------------------------------
# Exact n-gram Jaccard on adjacent-id pairs (linear, SQL-expressible — the
# oracle-checked twin of the LSH candidate path below).
# --------------------------------------------------------------------------
@query(
    "dedup_ngram_jaccard",
    oracle="""
    WITH toks AS (
      SELECT doc_id, list_distinct(string_split(lower(trim(text)), ' ')) AS t
      FROM documents
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           ROUND(CAST(len(list_intersect(a.t, b.t)) AS DOUBLE)
                 / len(list_distinct(list_concat(a.t, b.t))) + 1e-9, 6) AS jaccard
    FROM toks a JOIN toks b ON b.doc_id = a.doc_id + 1
    ORDER BY id_a
    """,
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact token-set Jaccard between consecutive doc ids."""
    d = T(spark, sf_dir, "documents").select(
        "doc_id", F.array_distinct(X.tokens("text")).alias("t")
    )
    a = d.alias("a")
    b = d.alias("b")
    return (
        a.join(b, F.col("b.doc_id") == F.col("a.doc_id") + 1)
        .select(
            F.col("a.doc_id").alias("id_a"),
            F.col("b.doc_id").alias("id_b"),
            F.round(D.jaccard_tokens(F.col("a.t"), F.col("b.t")) + 1e-9, 6).alias("jaccard"),
        )
        .orderBy("id_a")
    )


# --------------------------------------------------------------------------
# MinHash LSH and SimHash candidate generation — md5-keyed hash families
# (the count-min recipe), so the signatures, band buckets, candidate sets
# and estimates are pure functions of the data and EXACTLY oracle-checked.
# --------------------------------------------------------------------------
#: Tokens of every document, t(doc_id, t) (operators.text.tokens).
DOC_TOKENS = """t AS (
      SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS t
      FROM documents)"""

#: Distinct 3-token shingles sh(doc_id, sh) of t (dedup.shingles).
DOC_SHINGLES = """sh AS (
      SELECT doc_id,
             list_distinct(list_transform(range(1, greatest(len(t) - 1, 2)),
                           i -> array_to_string(list_slice(t, i, i + 2), ' '))) AS sh
      FROM t)"""


def minhash_ctes(
    source: str, key: str = "doc_id", member: str = "s", banded: bool = True
) -> str:
    """The DuckDB twin of the MinHash family in operators.dedup: the
    ``hs``, ``seeds``, ``sig`` and (if ``banded``) ``banded`` CTEs for
    the (``key``, ``member``) rows of the FROM clause ``source``. P and
    the 64 (a, b) coefficients come from dedup, so the engines cannot
    drift apart: h is the member's 32-bit md5 prefix mod P, slot i of
    ``sig`` the min of (a_i * h + b_i) mod P, and each band's bucket the
    60-bit md5 prefix of its 4 slots joined by ','."""
    a, b = D.minhash_params(64)
    seeds = ", ".join(f"({i}, {x}, {y})" for i, (x, y) in enumerate(zip(a, b)))
    p = D._MINHASH_P
    ctes = f"""
    hs AS (
      SELECT {key}, CAST('0x' || substr(md5({member}), 1, 8) AS BIGINT) % {p} AS h
      FROM {source}),
    seeds(i, a, b) AS (VALUES {seeds}),
    sig AS (
      SELECT {key}, i, MIN((a * h + b) % {p}) AS mh
      FROM hs CROSS JOIN seeds GROUP BY {key}, i)"""
    if banded:
        ctes += f""",
    banded AS (
      SELECT {key}, i // 4 AS band,
             CAST('0x' || substr(md5(string_agg(CAST(mh AS VARCHAR), ',' ORDER BY i)),
                                 1, 15) AS BIGINT) AS bucket
      FROM sig GROUP BY {key}, i // 4)"""
    return ctes


def minhash_pair_ctes(
    head: str = f"WITH {DOC_TOKENS},\n    {DOC_SHINGLES}", suppress: bool = True
) -> str:
    """The twin of ``dedup.minhash_lsh_pairs`` (64 hashes, 16 bands) up to
    ``est(id_a, id_b, est_jaccard)``: ``head`` is a WITH clause that
    defines ``sh(doc_id, sh)``; ``suppress`` drops buckets of more than
    10,000 documents (``max_bucket``) before pairing."""
    side = "banded"
    ctes = head + "," + minhash_ctes("sh, UNNEST(sh) AS u(s) WHERE len(sh) > 0")
    if suppress:
        side = "live"
        ctes += """,
    live AS (
      SELECT * FROM banded
      QUALIFY COUNT(*) OVER (PARTITION BY band, bucket) <= 10000)"""
    return ctes + f""",
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM {side} a JOIN {side} b
        ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id),
    est AS (
      SELECT c.id_a, c.id_b,
             ROUND(SUM(CASE WHEN sa.mh = sb.mh THEN 1 ELSE 0 END) / 64.0, 6)
               AS est_jaccard
      FROM cand c
      JOIN sig sa ON sa.doc_id = c.id_a
      JOIN sig sb ON sb.doc_id = c.id_b AND sb.i = sa.i
      GROUP BY c.id_a, c.id_b)
"""


#: Shared MinHash-LSH oracle CTE chain (through the candidate estimates)
#: over the whole documents corpus, the twin of every minhash_lsh_pairs
#: call on the shared signature table.
MH_EST_CTE = minhash_pair_ctes()

#: Oracle tail of dedup_minhash_lsh and its streaming twin.
MH_PAIRS_03 = """
    SELECT id_a, id_b, est_jaccard FROM est
    WHERE est_jaccard >= 0.3
    ORDER BY id_a, id_b
    """


@query(
    "dedup_minhash_lsh",
    oracle=MH_EST_CTE + MH_PAIRS_03,
)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup candidate pairs (est. Jaccard >= 0.3).

    Exactly oracle-checked: the md5+affine hash family (operators.dedup.
    minhash_params) makes the 64-wide signature matrix, the 16 band
    buckets, the hot-bucket guard, the candidate set and the agreement
    estimate all pure functions of the data — the DuckDB twin
    (minhash_pair_ctes) rebuilds the identical structure relationally
    and must produce the same pairs bit-for-bit."""
    d = T(spark, sf_dir, "documents")
    return D.minhash_lsh_pairs(
        d,
        min_jaccard=0.3,
        sig=shared_doc_sigs(spark, sf_dir),
        banded=shared_doc_banded(spark, sf_dir),
    ).orderBy("id_a", "id_b")


@query(
    "dedup_simhash",
    oracle="""
    WITH t AS (
      SELECT doc_id,
             list_distinct(regexp_split_to_array(lower(trim(text)), '\\s+')) AS t
      FROM documents),
    th AS (
      SELECT doc_id,
             CAST('0x' || substr(md5(tok), 1, 8) AS BIGINT) AS hi,
             CAST('0x' || substr(md5(tok), 9, 8) AS BIGINT) AS lo
      FROM t, UNNEST(t) AS u(tok)),
    nn AS (SELECT doc_id, COUNT(*) AS n FROM th GROUP BY doc_id),
    ones AS (
      SELECT th.doc_id, r.b,
             SUM(((CASE WHEN r.b < 32 THEN lo ELSE hi END) >> (r.b % 32)) & 1)
               AS ones
      FROM th, UNNEST(generate_series(0, 63)) AS r(b)
      GROUP BY th.doc_id, r.b),
    bits AS (
      SELECT o.doc_id, o.b,
             CASE WHEN 2 * o.ones > nn.n THEN 1 ELSE 0 END AS bit
      FROM ones o JOIN nn USING (doc_id)),
    bands AS (
      SELECT doc_id, b // 16 AS band,
             CAST(SUM(bit * (1 << (b % 16))) AS BIGINT) AS bucket
      FROM bits GROUP BY doc_id, b // 16),
    live AS (
      SELECT * FROM bands
      QUALIFY COUNT(*) OVER (PARTITION BY band, bucket) <= 10000),
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM live a JOIN live b
        ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id),
    ham AS (
      SELECT c.id_a, c.id_b,
             CAST(SUM(CASE WHEN ba.bit <> bb.bit THEN 1 ELSE 0 END) AS INT)
               AS hamming
      FROM cand c
      JOIN bits ba ON ba.doc_id = c.id_a
      JOIN bits bb ON bb.doc_id = c.id_b AND bb.b = ba.b
      GROUP BY c.id_a, c.id_b)
    SELECT id_a, id_b, hamming FROM ham WHERE hamming <= 3 ORDER BY id_a, id_b
    """,
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash banded near-dup pairs (Hamming <= 3 on 64-bit signatures —
    the 4-band/16-bit pigeonhole guarantees recall only up to distance 3).

    Exactly oracle-checked: token hashes are md5 (hi, lo) 32-bit lanes
    (operators.dedup.simhash_signatures), so the 64 majority votes, band
    buckets, candidate set and Hamming distances are pure functions of
    the data — the DuckDB twin recomputes them bit-for-bit."""
    d = T(spark, sf_dir, "documents")
    return D.simhash_pairs(d, max_hamming=3).orderBy("id_a", "id_b")


@query(
    "dedup_simhash128",
    oracle="""
    WITH t AS (
      SELECT doc_id,
             list_distinct(regexp_split_to_array(lower(trim(text)), '\\s+')) AS t
      FROM documents),
    th AS (
      SELECT doc_id,
             CAST('0x' || substr(md5(tok), 1, 8) AS BIGINT) AS h1,
             CAST('0x' || substr(md5(tok), 9, 8) AS BIGINT) AS h2,
             CAST('0x' || substr(md5(tok), 17, 8) AS BIGINT) AS h3,
             CAST('0x' || substr(md5(tok), 25, 8) AS BIGINT) AS h4
      FROM t, UNNEST(t) AS u(tok)),
    nn AS (SELECT doc_id, COUNT(*) AS n FROM th GROUP BY doc_id),
    ones AS (
      SELECT th.doc_id, r.b,
             SUM(((CASE r.b // 32 WHEN 0 THEN h2 WHEN 1 THEN h1
                                  WHEN 2 THEN h4 ELSE h3 END)
                  >> (r.b % 32)) & 1) AS ones
      FROM th, UNNEST(generate_series(0, 127)) AS r(b)
      GROUP BY th.doc_id, r.b),
    bits AS (
      SELECT o.doc_id, o.b,
             CASE WHEN 2 * o.ones > nn.n THEN 1 ELSE 0 END AS bit
      FROM ones o JOIN nn USING (doc_id)),
    bands AS (
      SELECT doc_id, b // 32 AS band,
             CAST(SUM(bit * (CAST(1 AS BIGINT) << (b % 32))) AS BIGINT) AS bucket
      FROM bits GROUP BY doc_id, b // 32),
    live AS (
      SELECT * FROM bands
      QUALIFY COUNT(*) OVER (PARTITION BY band, bucket) <= 10000),
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM live a JOIN live b
        ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id),
    ham AS (
      SELECT c.id_a, c.id_b,
             CAST(SUM(CASE WHEN ba.bit <> bb.bit THEN 1 ELSE 0 END) AS INT)
               AS hamming
      FROM cand c
      JOIN bits ba ON ba.doc_id = c.id_a
      JOIN bits bb ON bb.doc_id = c.id_b AND bb.b = ba.b
      GROUP BY c.id_a, c.id_b)
    SELECT id_a, id_b, hamming FROM ham WHERE hamming <= 3 ORDER BY id_a, id_b
    """,
)
def dedup_simhash128(spark: SparkSession, sf_dir: str) -> DataFrame:
    """128-bit SimHash banded near-dup pairs — the scale path past
    dedup_simhash: 4 bands of 32 bits (2^32 buckets/band) keep random
    bucket collisions negligible at billions of documents, where 16-bit
    buckets saturate around ~65k docs/band (measured in the 100x scale
    check). Same md5 determinism, exactly oracle-checked."""
    d = T(spark, sf_dir, "documents")
    return D.simhash128_pairs(d, max_hamming=3).orderBy("id_a", "id_b")


# --------------------------------------------------------------------------
# Embedding near-dup: cosine between consecutive vec ids (oracle), plus the
# LSH-bucketed ANN variant (rows-only).
# --------------------------------------------------------------------------
@query(
    "dedup_embedding_cosine",
    oracle="""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           ROUND(list_dot_product(a.v, b.v)
                 / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))),
                 6) AS cos_sim
    FROM e a JOIN e b ON b.vec_id = a.vec_id + 1
    ORDER BY id_a
    """,
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cosine similarity between consecutive embeddings (near-dup signal)."""
    e = T(spark, sf_dir, "embeddings").select("vec_id", S.as_double("embedding").alias("v"))
    a, b = e.alias("a"), e.alias("b")
    return (
        a.join(b, F.col("b.vec_id") == F.col("a.vec_id") + 1)
        .select(
            F.col("a.vec_id").alias("id_a"),
            F.col("b.vec_id").alias("id_b"),
            F.round(S.cosine(F.col("a.v"), F.col("b.v")), 6).alias("cos_sim"),
        )
        .orderBy("id_a")
    )


@query(
    "sim_bruteforce_topk",
    oracle="""
    WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0),
         e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)
    SELECT vec_id,
           ROUND(list_dot_product(v, qv)
                 / (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(qv, qv))),
                 6) AS cos_sim
    FROM e CROSS JOIN q
    ORDER BY cos_sim DESC, vec_id
    LIMIT 10
    """,
)
def sim_bruteforce_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-10 against the vec_id=0 query vector."""
    e = T(spark, sf_dir, "embeddings")
    qdf = e.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("q"))
    return S.brute_force_topk(e, qdf, k=10)


# The 16 x 64 seeded Gaussian hyperplanes are constants of the query
# (pure function of seed=42): inline them in the oracle as a VALUES table
# so DuckDB recomputes the same sign signatures. Sign flips from
# cross-engine float-sum noise would need |dot| ~ 1e-13 — vanishing for
# Gaussian planes against unit-scale embeddings.
_LSH_PLANES = S.random_hyperplanes(64, 16, seed=42)
_LSH_VALUES = ",\n      ".join(
    "({}, [{}]::DOUBLE[])".format(i, ", ".join(repr(x) for x in p))
    for i, p in enumerate(_LSH_PLANES)
)

@query(
    "sim_ann_lsh",
    oracle=f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    planes(pid, p) AS (VALUES
      {_LSH_VALUES}),
    sb AS (
      SELECT e.vec_id, pl.pid // 4 AS band,
             string_agg(CASE WHEN list_dot_product(e.v, pl.p) >= 0
                             THEN '1' ELSE '0' END, '' ORDER BY pl.pid) AS bucket
      FROM e CROSS JOIN planes pl
      GROUP BY e.vec_id, pl.pid // 4),
    qb AS (SELECT band, bucket FROM sb WHERE vec_id = 0),
    q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
    cand AS (
      SELECT DISTINCT sb.vec_id FROM sb JOIN qb USING (band, bucket))
    SELECT c.vec_id,
           ROUND(list_dot_product(e.v, q.qv)
                 / (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(q.qv, q.qv))),
                 6) AS cos_sim
    FROM cand c JOIN e ON e.vec_id = c.vec_id CROSS JOIN q
    ORDER BY cos_sim DESC, c.vec_id
    LIMIT 10
    """,
)
def sim_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate NN via sign-LSH buckets + exact re-rank (scale path).

    Exactly oracle-checked: the seeded hyperplanes are constants, so the
    sign signatures, band buckets, candidate set and re-rank are pure
    functions of the data — the DuckDB twin carries the planes as an
    inlined VALUES table and rebuilds the identical structure."""
    e = T(spark, sf_dir, "embeddings")
    qdf = e.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("q"))
    return S.lsh_topk(e, qdf, dim=64, k=10)


@query(
    "sim_ivf_topk",
    oracle="""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    c AS (SELECT vec_id AS cell, v AS cv FROM e WHERE vec_id < 8),
    scored AS (
      SELECT e.vec_id, e.v, c.cell,
             list_sum(list_transform(range(1, 65),
                      i -> (e.v[i] - c.cv[i]) * (e.v[i] - c.cv[i]))) AS d
      FROM e CROSS JOIN c),
    assign AS (
      SELECT vec_id, v, cell FROM scored
      QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d, cell) = 1),
    probe AS (SELECT cell FROM scored WHERE vec_id = 0 ORDER BY d, cell LIMIT 2),
    q AS (SELECT v AS qv FROM e WHERE vec_id = 0)
    SELECT a.vec_id,
           ROUND(list_dot_product(a.v, q.qv)
                 / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(q.qv, q.qv))),
                 6) AS cos_sim
    FROM assign a CROSS JOIN q
    WHERE a.cell IN (SELECT cell FROM probe)
    ORDER BY cos_sim DESC, vec_id
    LIMIT 10
    """,
)
def sim_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-bucketed ANN: 8 deterministic centroids (the first 8 corpus
    vectors), query probes its 2 nearest cells, exact re-rank inside.

    Exactly oracle-checked (the count-min recipe generalized): with
    deterministic centroids the whole IVF structure — assignment argmin,
    probe-cell choice, candidate set, re-rank — is a pure function of the
    data, so the DuckDB twin recomputes it end-to-end in SQL. Cross-engine
    float risk is confined to exact ties in the argmin (squared distances
    are O(1) apart; both engines tie-break on cell id)."""
    e = T(spark, sf_dir, "embeddings")
    cents = [
        [float(x) for x in r.embedding]
        for r in e.filter(F.col("vec_id") < 8).orderBy("vec_id").collect()
    ]
    qdf = e.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("q"))
    return S.ivf_topk(e, qdf, cents, k=10, n_probe=2)


# --------------------------------------------------------------------------
# Text analysis: token counts, quality stats, language ID.
# --------------------------------------------------------------------------
@query(
    "text_stats",
    oracle="""
    SELECT doc_id,
           CAST(LENGTH(text) AS INT) AS n_char,
           CAST(len(string_split(lower(trim(text)), ' ')) AS INT) AS n_tokens_ws,
           CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS INT) AS n_tokens_bpe,
           CAST(len(list_distinct(string_split(lower(trim(text)), ' '))) AS INT) AS n_vocab
    FROM documents
    WHERE doc_id < 200
    ORDER BY doc_id
    """,
)
def text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Char/token/vocab counts per document (whitespace + BPE-ish regex)."""
    d = T(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    return d.select(
        "doc_id",
        X.char_count("text").cast("int").alias("n_char"),
        X.token_count_ws("text").cast("int").alias("n_tokens_ws"),
        X.token_count_bpe("text").cast("int").alias("n_tokens_bpe"),
        F.size(F.array_distinct(X.tokens("text"))).cast("int").alias("n_vocab"),
    ).orderBy("doc_id")


@query(
    "text_quality",
    oracle="""
    WITH t AS (
      SELECT doc_id, text,
             string_split(lower(trim(text)), ' ') AS toks,
             CAST(LENGTH(text) AS DOUBLE) AS n_char
      FROM documents
    ),
    feats AS (
      SELECT doc_id,
             LEAST(n_char / 200.0, 1.0) AS len_score,
             CAST(len(list_filter(toks, x -> list_contains(
                 ['the','a','an','and','or','of','to','in','is','it'], x))) AS DOUBLE)
               / len(toks) AS sw_ratio,
             CAST(LENGTH(regexp_replace(text, '[^.,;:!?''"()\\[\\]{}-]', '', 'g')) AS DOUBLE)
               / n_char AS punct_ratio
      FROM t
    )
    SELECT doc_id,
           ROUND((len_score + LEAST(sw_ratio * 4, 1.0)
                  + GREATEST(0.0, 1.0 - punct_ratio * 5)) / 3, 6) AS quality
    FROM feats
    ORDER BY doc_id
    """,
)
def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality score (length/stopword/punctuation composite) per document."""
    d = T(spark, sf_dir, "documents")
    return d.select("doc_id", X.quality_score("text").alias("quality")).orderBy("doc_id")


@query(
    "text_langid",
    oracle=r"""
    WITH t AS (
      SELECT doc_id, text, string_split(lower(trim(text)), ' ') AS toks
      FROM documents
    ),
    feats AS (
      SELECT doc_id, text,
             CAST(len(list_filter(toks, x -> list_contains(
                 ['the','a','an','and','or','of','to','in','is','it'], x))) AS DOUBLE)
               / len(toks) AS sw_ratio
      FROM t
    )
    SELECT doc_id,
           CASE WHEN LENGTH(regexp_replace(text, '[^\x{4e00}-\x{9fff}]', '', 'g')) > 0 THEN 'zh'
                WHEN sw_ratio >= 0.08 THEN 'en'
                WHEN LENGTH(regexp_replace(text, '[^\x{e0}-\x{ff}]', '', 'g')) > 0 THEN 'fr'
                ELSE 'unknown' END AS lang_pred
    FROM feats
    ORDER BY doc_id
    """,
)
def text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic language-ID (stopword/charset rules) per document."""
    d = T(spark, sf_dir, "documents")
    return d.select("doc_id", X.lang_id("text").alias("lang_pred")).orderBy("doc_id")


@query(
    "text_rolling_hash",
    oracle="""
    SELECT doc_id,
           list_reduce(
             list_prepend(CAST(0 AS BIGINT),
               list_transform(regexp_extract_all(text, '.'),
                               c -> CAST(ascii(c) AS BIGINT))),
             (a, b) -> (a * 31 + b) % 144115188075855859
           ) AS rhash
    FROM documents
    WHERE doc_id < 500
    ORDER BY doc_id
    """,
)
def text_rolling_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-sensitive polynomial rolling hash per document (Rabin-Karp
    document fingerprint) — sequential fold, engine-portable."""
    d = T(spark, sf_dir, "documents").filter(F.col("doc_id") < 500)
    return d.select("doc_id", X.rolling_hash("text").alias("rhash")).orderBy("doc_id")


# --------------------------------------------------------------------------
# Multimodal plumbing: binary payload + metadata, JVM-side; the mapInPandas
# feature extraction is exercised separately (fake decode isn't SQL).
# --------------------------------------------------------------------------
@query(
    "multimodal_bytes",
    oracle="""
    SELECT CAST(doc_id AS BIGINT) AS media_id,
           CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
           sha256(text) AS sha256
    FROM documents
    WHERE doc_id < 100
    ORDER BY media_id
    """,
)
def multimodal_bytes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary payload metadata (byte length + sha256) computed JVM-side."""
    d = T(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    return attach_media(d, "doc_id", "text").select("media_id", "n_bytes", "sha256").orderBy(
        "media_id"
    )


@query(
    "multimodal_features",
    oracle="""
    SELECT doc_id AS media_id,
           'application/fake' AS mime,
           CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
           CAST(octet_length(encode(text)) % 640 + 1 AS INT) AS width,
           CAST(octet_length(encode(text)) % 480 + 1 AS INT) AS height,
           CAST(octet_length(encode(text)) % 30 + 1 AS INT) AS n_frames
    FROM documents
    WHERE doc_id < 100
    ORDER BY media_id
    """,
)
def multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mapInPandas feature extraction over binary payloads (stubbed decode,
    real Arrow plumbing + bytes-bounded batching).

    Exactly oracle-checked: the fake decode is a deterministic function of
    the payload bytes (width/height/n_frames = byte-length arithmetic,
    operators/multimodal.py fake_decode_dims), so the whole mapInPandas
    surface — schema, batching, row alignment — is verified against a SQL
    twin recomputing the identical arithmetic."""
    d = T(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    return extract_features(attach_media(d, "doc_id", "text")).orderBy("media_id")


@query(
    "pipeline_curation",
    oracle="""
    WITH kept AS (
      SELECT lang, source, doc_id, n_chars,
             len(regexp_split_to_array(trim(lower(text)), '\\s+')) AS n_tokens,
             md5(text) AS h
      FROM documents
      WHERE lang IN ('en', 'fr', 'es', 'de') AND n_chars BETWEEN 50 AND 5000),
    deduped AS (
      SELECT * FROM kept
      QUALIFY ROW_NUMBER() OVER (PARTITION BY h ORDER BY doc_id) = 1)
    SELECT lang, source,
           CAST(COUNT(*) AS BIGINT)      AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
           ROUND(AVG(n_chars) + 1e-9, 2) AS avg_chars
    FROM deduped
    GROUP BY lang, source
    ORDER BY lang, source
    """,
)
def pipeline_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end training-data curation in ONE Spark plan: language
    allowlist + length gate (both pushed to the parquet scan) -> exact
    dedup on an md5 text fingerprint (shuffle carries the 32-char hash,
    never the document body) -> per-(lang, source) corpus stats. The shape
    a 100 TB curation job runs nightly."""
    d = T(spark, sf_dir, "documents").filter(
        F.col("lang").isin("en", "fr", "es", "de")
        & F.col("n_chars").between(50, 5000)
    )
    kept = d.select(
        "lang",
        "source",
        "doc_id",
        "n_chars",
        X.token_count_ws("text").alias("n_tokens"),
        F.md5("text").alias("h"),
    )
    deduped = D.dedup_exact(kept, ["h"], "doc_id")
    return (
        deduped.groupBy("lang", "source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
            F.round(F.avg("n_chars") + 1e-9, 2).alias("avg_chars"),
        )
        .orderBy("lang", "source")
    )


@query(
    "pipeline_near_dedup_lsh",
    oracle=minhash_pair_ctes(
        f"""
    WITH RECURSIVE t AS (
      SELECT doc_id, lang, source,
             regexp_split_to_array(lower(trim(text)), '\\s+') AS t
      FROM documents
      WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) < '6666'),
    dd AS (SELECT doc_id, lang, source, len(t) AS n_tokens FROM t),
    {DOC_SHINGLES}"""
    )
    + """,
    edges AS (SELECT id_a AS src, id_b AS dst FROM est WHERE est_jaccard >= 0.8),
    sym AS (SELECT src, dst FROM edges
            UNION ALL SELECT dst AS src, src AS dst FROM edges),
    reach(a, b) AS (
      SELECT doc_id, doc_id FROM dd
      UNION
      SELECT r.a, s.dst FROM reach r JOIN sym s ON s.src = r.b),
    comp AS (SELECT a AS doc_id, MIN(b) AS comp FROM reach GROUP BY a)
    SELECT d.lang, d.source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN c.comp = d.doc_id THEN 1 ELSE 0 END) AS BIGINT)
             AS n_kept,
           CAST(SUM(CASE WHEN c.comp = d.doc_id THEN 0 ELSE 1 END) AS BIGINT)
             AS n_removed,
           CAST(SUM(CASE WHEN c.comp = d.doc_id THEN d.n_tokens ELSE 0 END)
                AS BIGINT) AS tokens_kept
    FROM dd d JOIN comp c USING (doc_id)
    GROUP BY d.lang, d.source
    ORDER BY d.lang, d.source
    """,
)
def pipeline_near_dedup_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end near-duplicate REMOVAL with the 100 TB edge generator:
    banded MinHash LSH candidate pairs (est. Jaccard >= 0.8) -> connected
    components -> min-id representative -> per-(lang, source) corpus
    stats, on the same deterministic 40% sample as pipeline_near_dedup.

    This is the documented scale path of pipeline_near_dedup made
    concrete: that query's exact-Jaccard blocking grows quadratically in
    block size (its 100x scale run exceeded the time cap, as predicted),
    while the LSH edge generator's candidate volume tracks true
    duplicate density — measured 9.6x wall at 100x data. With the
    md5+affine MinHash family the WHOLE chain — signatures, bands,
    candidates, estimates, clustering, representative choice, final
    stats — is exactly oracle-checked (recursive-CTE transitive closure
    on the DuckDB side)."""
    from sqlitedataframe_spark.operators import sampling as SM
    from sqlitedataframe_spark.operators.graph import connected_components

    d = SM.sample_by_hash(T(spark, sf_dir, "documents"), "doc_id", 0.4).select(
        "doc_id", "lang", "source", "text", X.token_count_ws("text").alias("n_tokens")
    )
    pairs = D.minhash_lsh_pairs(
        d.select("doc_id", "text"),
        min_jaccard=0.8,
        sig=shared_doc_sigs(spark, sf_dir),
        banded=shared_doc_banded(spark, sf_dir),
    )
    edges = pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
    labels = connected_components(edges, nodes=d.select("doc_id"), node_col="doc_id")
    joined = d.join(labels, d.doc_id == labels.node)
    kept = F.col("comp") == F.col("doc_id")
    return (
        joined.groupBy("lang", "source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(kept.cast("bigint")).alias("n_kept"),
            F.sum((~kept).cast("bigint")).alias("n_removed"),
            F.sum(F.when(kept, F.col("n_tokens")).otherwise(0)).alias("tokens_kept"),
        )
        .orderBy("lang", "source")
    )


# 32-plane variant for the SELF-join (width-8 buckets keep the candidate
# volume at sum-of-bucket-squares over 256 buckets/band, not 16).
_KNN_VALUES = ",\n      ".join(
    "({}, [{}]::DOUBLE[])".format(i, ", ".join(repr(x) for x in p))
    for i, p in enumerate(S.random_hyperplanes(64, 32, seed=42))
)

@query(
    "sim_knn_join",
    oracle=f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    planes(pid, p) AS (VALUES
      {_KNN_VALUES}),
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
      SELECT c.qid, c.nid,
             ROUND(list_dot_product(ea.v, eb.v)
                   / (sqrt(list_dot_product(ea.v, ea.v)) * sqrt(list_dot_product(eb.v, eb.v))),
                   6) AS cos_sim
      FROM cand c
      JOIN e ea ON ea.vec_id = c.qid
      JOIN e eb ON eb.vec_id = c.nid),
    top1 AS (
      SELECT qid, nid, cos_sim,
             ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos_sim DESC, nid) AS rank
      FROM scored
      QUALIFY rank <= 1)
    SELECT e.vec_id, t.nid AS nn_id, t.cos_sim, CAST(t.rank AS INT) AS rank
    FROM e LEFT JOIN top1 t ON t.qid = e.vec_id
    ORDER BY e.vec_id
    """,
)
def sim_knn_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate nearest-neighbor SELF-join: every embedding's top-1
    neighbor among its sign-LSH bucket mates, exact-cosine re-ranked
    (operators.similarity.knn_join_lsh) — the all-pairs neighbor
    primitive behind SemDeDup-style duplicate-graph analyses, as opposed
    to the query-vs-corpus shape of sim_ann_lsh. Vectors with no bucket
    mate report a null neighbor instead of vanishing. Exactly
    oracle-checked via the inlined 32-plane VALUES table."""
    e = T(spark, sf_dir, "embeddings")
    return S.knn_join_lsh(e, dim=64, k=1, n_planes=32, bands=4).orderBy("vec_id")
