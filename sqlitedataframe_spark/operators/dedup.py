"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard.

Scale design:
- Exact dedup = hash-groupBy: one shuffle on the dedup key.
- MinHash/LSH: signatures are computed scan-side (pure Column expressions —
  no Python in the loop); candidate generation explodes (band_idx, band_hash)
  and self-joins on that compound key, so the shuffle carries only
  (doc_id, band keys) — never the text. Pair count is bounded by bucket
  collisions, the standard LSH cost model, instead of the O(n^2) cross join.
- SimHash: 64-bit signature scan-side; candidates via banded prefix equality
  (Hamming-distance pigeonhole: distance <= 3 over 4 bands of 16 bits
  guarantees one equal band).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from sqlitedataframe_spark.operators.text import ngram_set, tokens
from sqlitedataframe_spark.operators.util import eager_cache as _eager_cache
from sqlitedataframe_spark.operators.util import spread as _spread


def _suppress_hot_buckets(
    banded: DataFrame, keys: list[str], max_bucket: int | None
) -> DataFrame:
    """Frequent-bucket suppression: drop LSH buckets with more than
    ``max_bucket`` members before the self-join. A hot bucket (boilerplate
    text, near-empty documents, a degenerate band) otherwise yields
    O(m^2) candidate pairs out of the join — the classic LSH skew cliff
    that takes down a 100 TB dedup run. Trades recall only inside the
    suppressed buckets (standard practice; exact dedup upstream catches
    the identical-text mass these buckets contain). The window count
    shuffles on the same key as the self-join, so ReuseExchange shares
    one exchange between them."""
    if max_bucket is None:
        return banded
    w = Window.partitionBy(*keys)
    return (
        banded.withColumn("_bn", F.count(F.lit(1)).over(w))
        .filter(F.col("_bn") <= max_bucket)
        .drop("_bn")
    )


# --------------------------------------------------------------------------
# Exact dedup
# --------------------------------------------------------------------------
def dedup_exact(df: DataFrame, cols: list[str], id_col: str) -> DataFrame:
    """Keep the min-id representative per duplicate group (deterministic,
    unlike dropDuplicates' arbitrary winner). One shuffle on the key.

    row_number-over-window formulation (not groupBy + semi-join): one
    exchange instead of two plan branches, and NULL dedup keys group
    together and keep their representative — a semi-join on the keys would
    silently drop every NULL-keyed row (non-null-safe equality)."""
    w = Window.partitionBy(*cols).orderBy(F.col(id_col).asc())
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


# --------------------------------------------------------------------------
# Shingles & MinHash
# --------------------------------------------------------------------------
def shingles(text_col: Column | str, k: int = 3) -> Column:
    """k-token shingles (array<string>) of the text, distinct."""
    t = tokens(text_col)
    n = F.size(t)
    idx = F.sequence(F.lit(1), F.greatest(n - (k - 1), F.lit(1)))
    return F.array_distinct(
        F.transform(idx, lambda i: F.array_join(F.slice(t, i, k), " "))
    )


#: Modulus of the portable affine MinHash family (Mersenne prime 2^31 - 1).
_MINHASH_P = (1 << 31) - 1


def minhash_params(n_hashes: int = 64, seed: int = 7) -> tuple[list[int], list[int]]:
    """The (a_i, b_i) coefficients of the universal affine hash family
    ``g_i(h) = (a_i * h + b_i) mod P`` — fixed by ``seed`` so signatures
    are a pure function of the data.

    h is reduced mod P and a_i, b_i are drawn from [1, P), so
    ``a_i * h + b_i <= (P - 1)^2 + (P - 1) = P(P - 1) < 2^62``: no bigint
    overflow under ANSI arithmetic in any engine, which is what makes the
    family portable to SQL oracles. P must stay below the range of h for
    the remix to wrap many times: with P = 2^61 - 1 and a 32-bit h,
    ``a_i * h + b_i`` wrapped at most once, so every g_i ordered the
    shingles almost as h does, all 64 slots picked the same minimum, and
    the estimated Jaccard of a pair collapsed to about 0 or 1.
    """
    import random

    rng = random.Random(seed)
    a = [rng.randrange(1, _MINHASH_P) for _ in range(n_hashes)]
    b = [rng.randrange(1, _MINHASH_P) for _ in range(n_hashes)]
    return a, b


def minhash_base_hash(s: Column) -> Column:
    """The family's base hash of a string: its 32-bit md5 prefix, reduced
    mod P. Every engine has md5, so a SQL twin reproduces it exactly."""
    return F.conv(F.substring(F.md5(s.cast("binary")), 1, 8), 16, 10).cast(
        "bigint"
    ) % F.lit(_MINHASH_P).cast("bigint")


def minhash_remix(a: Column, b: Column, h: Column) -> Column:
    """One member of the family applied to base hash ``h``:
    ``(a * h + b) mod P``."""
    return (a * h + b) % F.lit(_MINHASH_P).cast("bigint")


def minhash_signatures(
    df: DataFrame, id_col: str, shingle_col: str, n_hashes: int = 64
) -> DataFrame:
    """MinHash signatures computed entirely SCAN-SIDE, one nested
    higher-order expression per row: hash each shingle once
    (:func:`minhash_base_hash`), then for each of n seeds fold the running
    min of the affine remixes ``(a_i * h + b_i) mod P`` — the classic
    one-base-hash MinHash with a universal family. No explode, no
    groupBy, ZERO shuffle: signatures fall out of the scan stage itself,
    and the nested ``transform`` evaluates as an internal loop (tiny
    codegen — no 64-column aggregate to compile).

    md5 (not xxhash64) is deliberate — the count-min recipe: every engine
    has md5, so the signature matrix, band buckets, and candidate pairs
    are EXACTLY reproducible in a SQL oracle (sketch.py proved the
    pattern; suite.pipeline.minhash_ctes is the twin). The affine
    coefficients are sized so no remix overflows (see
    :func:`minhash_params`)."""
    a_coef, b_coef = minhash_params(n_hashes)
    a_arr = F.array(*[F.lit(a).cast("bigint") for a in a_coef])
    b_arr = F.array(*[F.lit(b).cast("bigint") for b in b_coef])
    p = F.lit(_MINHASH_P).cast("bigint")
    hashed = F.transform(F.col(shingle_col), minhash_base_hash)
    # Let-binding via a 1-element transform: the string-hash array is the
    # ARGUMENT of the outer transform, so it is evaluated exactly once per
    # row; the seed loop reads the bound lambda variable `hs`. Without this,
    # CollapseProject would inline the hashing into the seed loop and
    # recompute it n_hashes times. The whole signature is ONE compact
    # expression (a loop over sequence(0..n-1)), so analysis + compile cost
    # stays flat in n_hashes — a 64-wide unrolled form costs seconds of
    # first-run planning.
    # The (a_i, b_i) lookups are loop-invariant in the inner fold; HOFs are
    # interpreted (no codegen/CSE), so bind them ONCE per seed via a
    # 1-element zip_with instead of re-evaluating two element_at calls per
    # (seed x shingle) step — measured ~25% off the signature stage.
    sig = F.element_at(
        F.transform(
            F.array(hashed),
            lambda hs: F.transform(
                F.sequence(F.lit(0), F.lit(n_hashes - 1)),
                lambda i: F.element_at(
                    F.zip_with(
                        F.array(F.element_at(a_arr, i + 1)),
                        F.array(F.element_at(b_arr, i + 1)),
                        lambda ai, bi: F.aggregate(
                            hs, p, lambda acc, h: F.least(acc, minhash_remix(ai, bi, h))
                        ),
                    ),
                    1,
                ),
            ),
        ),
        1,
    )
    return df.select(F.col(id_col), sig.alias("_sig"))


def minhash_signature_table(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_hashes: int = 64,
    shingle_k: int = 3,
) -> DataFrame:
    """The (_id, _sig) MinHash signature table ``minhash_lsh_pairs``
    consumes: spread -> shingle -> scan-side signatures, repartitioned on
    the id so the verify joins downstream co-locate. Extracted so suite
    queries that derive identical signatures from the same corpus can
    build this ONCE (util.shared_eager_cache) and inject it via the
    ``sig=`` parameter instead of recomputing per query."""
    # spread BEFORE shingling so the (rare, local-only) repartition shuffles
    # raw text, not the ~3x-larger shingle arrays
    with_sh = (
        _spread(df.select(F.col(id_col).alias("_id"), F.col(text_col)), "_id")
        .select("_id", shingles(text_col, shingle_k).alias("_sh"))
        .filter(F.size("_sh") > 0)
    )
    return minhash_signatures(with_sh, "_id", "_sh", n_hashes).repartition("_id")


def minhash_band_table(
    sig: DataFrame, n_hashes: int = 64, bands: int = 16
) -> DataFrame:
    """(_id, band, bucket) banded-LSH table derived from a (_id, _sig)
    signature table: each band's bucket is the 60-bit md5 prefix of the
    band's signature slice — portable (any engine reproduces it: 15 hex
    digits fit a signed bigint) and collision-safe at corpus scale
    (~2^-60 per pair; false candidates are anyway dropped by the
    est_jaccard verify in :func:`minhash_lsh_pairs`).

    Extracted (r13) so suite queries that band the SAME shared signature
    table can build this once per session (util.shared_eager_cache) and
    inject it via ``minhash_lsh_pairs(banded=...)`` instead of re-running
    the 16-band md5 bucketing per call — by construction the injected
    table and the internal path share this exact expression."""
    rows_per_band = n_hashes // bands
    return sig.select(
        "_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda b: F.struct(
                    b.alias("band"),
                    F.conv(
                        F.substring(
                            F.md5(
                                F.array_join(
                                    F.transform(
                                        F.slice(
                                            F.col("_sig"),
                                            b * rows_per_band + 1,
                                            rows_per_band,
                                        ),
                                        lambda h: h.cast("string"),
                                    ),
                                    ",",
                                ).cast("binary")
                            ),
                            1,
                            15,
                        ),
                        16,
                        10,
                    ).cast("bigint").alias("bucket"),
                ),
            )
        ).alias("bb"),
    ).select(
        "_id", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket")
    )


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_hashes: int = 64,
    bands: int = 16,
    shingle_k: int = 3,
    min_jaccard: float = 0.5,
    max_bucket: int | None = 10_000,
    new_ids: DataFrame | None = None,
    sig: DataFrame | None = None,
    banded: DataFrame | None = None,
) -> DataFrame:
    """Candidate near-duplicate pairs via banded MinHash LSH, with the
    estimated Jaccard (fraction of agreeing minhashes) attached and
    thresholded. Returns (id_a, id_b, est_jaccard), id_a < id_b.
    Buckets larger than ``max_bucket`` are suppressed (skew guard, see
    ``_suppress_hot_buckets``).

    ``new_ids`` (a 1-column frame of ids) switches to INCREMENTAL mode —
    the production shape for continuous ingestion: only pairs touching a
    new-batch document are generated (one banded side semi-joins to the
    batch), so the historical corpus is never re-paired with itself.
    Signatures still compute over the full input (new docs must compare
    against old ones), but the skew-prone self-join cost scales with the
    BATCH, not the corpus. The candidate set equals the full run's pairs
    filtered to those touching the batch (the suite oracle checks exactly
    that equivalence). Caveat when CALLING THIS REPEATEDLY over a growing
    corpus (the streaming wrapper): ``max_bucket`` suppression is
    evaluated against the corpus-so-far each call, so a bucket that only
    crosses the threshold once the full corpus arrives would emit pairs
    in early calls that a one-shot run suppresses — pass
    ``max_bucket=None`` there (the batch side of the semi-join already
    bounds the join cost) to keep the union-equals-one-shot equivalence
    unconditional (ADVICE r4).

    ``banded`` optionally injects a pre-built :func:`minhash_band_table`
    over a SUPERSET population (restricted per call by an id semi-join,
    sound because bucketing is a per-row pure function of the signature).
    It MUST have been built from the same signatures with the same
    (n_hashes, bands) as this call — the suite routes every injection
    through one shared helper keyed by those params."""
    # The signature table is consumed three times (banding + both sides of
    # the verify join). It is materialized ONCE, eagerly, via
    # util.eager_cache: the r4 design relied on a forced exchange on _id
    # and Catalyst's ReuseExchange to share one shuffle between the
    # subtrees, but exchange reuse is best-effort — when AQE replans the
    # subtrees differently (observed under late-session memory pressure:
    # the driver r4 bench recorded a 246 s single shot vs the 7.4 s
    # committed median of identical code), the shingle/md5 pipeline
    # silently recomputes up to 3x. A materialized cache is a guarantee,
    # not a heuristic: the signature table (~(8 + 8*n_hashes) B/doc —
    # signature-sized, never text-sized) lands in block storage once and
    # every consumer reads InMemoryTableScan. Storage stays bounded
    # because the cache is REGISTERED: harnesses call
    # util.release_caches() after each query (safe at any time — persist
    # keeps lineage, unlike localCheckpoint, so a late consumer
    # recomputes rather than failing; see eager_cache's docstring for why
    # GC-based cleanup does not exist in practice). The repartition
    # before the cache co-locates the id-keyed verify joins below.
    if sig is not None:
        # Injected shared signature table (minhash_signature_table over a
        # SUPERSET corpus, persisted once via util.shared_eager_cache —
        # VERDICT r5 #5): restrict to this call's population. Signatures
        # are per-doc pure functions, so the semi-joined subset equals a
        # fresh computation over df; the cheap id semi-join re-runs per
        # consumer against the sharer's InMemoryTableScan.
        #
        # Guard (ADVICE r6): a signature table built with a DIFFERENT
        # n_hashes would silently band wrong (F.slice past the array end
        # shortens buckets) and skew the est_jaccard denominator. The
        # length check is one integer comparison per row inside the scan;
        # raise_error surfaces a mismatched injection as a loud runtime
        # failure instead of wrong pairs.
        sig = sig.join(df.select(F.col(id_col).alias("_id")), "_id", "left_semi")
        sig = sig.withColumn(
            "_sig",
            F.when(F.size("_sig") == n_hashes, F.col("_sig")).otherwise(
                F.raise_error(
                    F.concat(
                        F.lit(
                            "minhash_lsh_pairs: injected sig length "
                        ),
                        F.size("_sig").cast("string"),
                        F.lit(f" != n_hashes={n_hashes}"),
                    )
                )
            ),
        )
    else:
        sig = _eager_cache(
            minhash_signature_table(df, id_col, text_col, n_hashes, shingle_k)
        )
    from sqlitedataframe_spark.operators.util import register_cache

    if banded is not None:
        # Injected shared banded table (minhash_band_table over the SAME
        # shared signature table, persisted once via util.shared_eager_cache
        # — r13): bucketing is a per-row pure function of the signature, so
        # the id-restricted subset equals a fresh computation over this
        # call's population. The contract mirrors ``sig=``: the caller must
        # have built it with THE SAME (n_hashes, bands) — every suite call
        # site routes through one helper keyed by those params. Removes the
        # per-call 16-band md5 bucketing pass (and its per-call persist)
        # that r12 still paid once per minhash_lsh_pairs call.
        banded = banded.join(
            df.select(F.col(id_col).alias("_id")), "_id", "left_semi"
        )
        # Guard, as for ``sig=``: a table built with more bands would band
        # wrong; a band outside [0, bands) raises instead of pairing.
        banded = banded.withColumn(
            "band",
            F.when(
                (F.col("band") >= 0) & (F.col("band") < bands), F.col("band")
            ).otherwise(
                F.raise_error(
                    F.concat(
                        F.lit("minhash_lsh_pairs: injected band "),
                        F.col("band").cast("string"),
                        F.lit(f" not in [0, bands={bands})"),
                    )
                )
            ),
        )
        banded = _suppress_hot_buckets(banded, ["band", "bucket"], max_bucket)
        if max_bucket is not None:
            # the window count must see this call's population; persist so
            # the suppression pass runs once, not once per self-join side
            banded = register_cache(banded.persist())
    else:
        # Candidate generation on SLIM rows (id, band, bucket) only: the
        # banded self-join is the skew-prone step (a hot bucket yields
        # quadratic pairs), so the wide 64-long signature arrays must not
        # ride through it — they are re-attached per id afterwards with two
        # ordinary hash joins.
        banded = minhash_band_table(sig, n_hashes, bands)
        banded = _suppress_hot_buckets(banded, ["band", "bucket"], max_bucket)
        # r12: lazily persisted — both sides of the candidate self-join read
        # this frame; unpersisted, the 16-band md5 bucketing (reading the
        # cached signature table) evaluated twice per row. This is a JOIN
        # INPUT persist: predicate pushdown of consumer filters into the join
        # condition is unaffected (the dedup_lsh_recall lesson concerned
        # persisting the join OUTPUT).
        banded = register_cache(banded.persist())

    if new_ids is None:
        a = banded.alias("a")
        b = banded.alias("b")
        pairs = (
            a.join(
                b,
                (F.col("a.band") == F.col("b.band"))
                & (F.col("a.bucket") == F.col("b.bucket"))
                & (F.col("a._id") < F.col("b._id")),
            )
            .select(F.col("a._id").alias("id_a"), F.col("b._id").alias("id_b"))
            .dropDuplicates(["id_a", "id_b"])
        )
    else:
        batch = new_ids.toDF("_id")
        a = banded.join(batch, "_id", "left_semi").alias("a")
        b = banded.alias("b")
        # asymmetric join: orientation normalized afterwards, so a pair of
        # two NEW docs (found from both sides) dedups to one row
        pairs = (
            a.join(
                b,
                (F.col("a.band") == F.col("b.band"))
                & (F.col("a.bucket") == F.col("b.bucket"))
                & (F.col("a._id") != F.col("b._id")),
            )
            .select(
                F.least(F.col("a._id"), F.col("b._id")).alias("id_a"),
                F.greatest(F.col("a._id"), F.col("b._id")).alias("id_b"),
            )
            .dropDuplicates(["id_a", "id_b"])
        )
    sa = sig.select(F.col("_id").alias("id_a"), F.col("_sig").alias("sig_a"))
    sb = sig.select(F.col("_id").alias("id_b"), F.col("_sig").alias("sig_b"))
    est = (
        F.size(
            F.filter(
                F.zip_with("sig_a", "sig_b", lambda x, y: (x == y).cast("int")),
                lambda v: v == 1,
            )
        ).cast("double")
        / F.lit(float(n_hashes))
    )
    # r12 note: deliberately NOT persisted here. Multi-reference consumers
    # (CC edge symmetrization, node-set unions, span stats) persist at
    # their call sites instead — a central lazy persist was measured to
    # DESTROY subsetting consumers (dedup_lsh_recall 5.9 s -> 62 s): the
    # InMemoryRelation boundary blocks filter/semi-join pushdown into the
    # banded join, so a consumer that prunes pairs to a sample was forced
    # to materialize the full candidate set.
    return (
        pairs.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn("est_jaccard", F.round(est, 6))
        .filter(F.col("est_jaccard") >= min_jaccard)
        .select("id_a", "id_b", "est_jaccard")
    )


# --------------------------------------------------------------------------
# SimHash
# --------------------------------------------------------------------------
def simhash_signatures(
    df: DataFrame, id_col: str, text_col: str, bits: int = 64
) -> DataFrame:
    """SimHash signatures (bigint) computed entirely SCAN-SIDE: hash each
    distinct token once into two 32-bit md5 lanes, then count every bit
    position with SWAR packed lanes (below) and take 64 majority votes.
    No explode, no groupBy, zero shuffle — the signature falls out of the
    scan stage. The hashed arrays are a separate projection referenced by
    every lane fold so CollapseProject keeps them materialized once per row.

    The token hash is the md5 prefix split into (hi, lo) 32-bit lanes —
    the count-min recipe: every engine reproduces md5, so the signature
    (and the banded candidate pairs downstream) is EXACTLY
    oracle-checkable. Bit b of the conceptual 64-bit hash is bit b of
    ``lo`` for b < 32, bit b-32 of ``hi`` otherwise."""
    # md5 once per distinct token, the two 32-bit lanes packed into one
    # bigint with wrap-free bit ops (shiftleft is a bit op — no ANSI
    # overflow check; hi >= 2^31 lands in the sign bit, exactly the
    # two's-complement packing the SWAR fold below expects).
    with_h = _spread(df, id_col).select(
        F.col(id_col),
        F.transform(
            F.array_distinct(tokens(text_col)),
            lambda t: F.element_at(
                F.transform(
                    F.array(F.md5(t.cast("binary"))),
                    lambda x: F.shiftleft(
                        F.conv(F.substring(x, 1, 8), 16, 10).cast("bigint"), 32
                    ).bitwiseOR(
                        F.conv(F.substring(x, 9, 8), 16, 10).cast("bigint")
                    ),
                ),
                1,
            ),
        ).alias("_hs"),
    )
    n = F.size(F.col("_hs"))

    # SWAR packed-lane bit counting: accumulator k (k=0..15) holds FOUR
    # 16-bit counters in one bigint — the popcounts of bits k, k+16, k+32,
    # k+48 across all token hashes. One fold per k = 16 cheap shift/and/add
    # evals per token instead of 64 filter passes over the hash array.
    # Lane width 16 bits caps distinct tokens at 65535 per document before
    # counter overflow (far above any real document's distinct-token count).
    # Arithmetic shift sign-extension only touches bits > 48+k, which the
    # lane mask discards, so negative hashes count correctly.
    LANE = 0x0001000100010001

    def _lane_adder(k: int):
        # closure factory keeps the lambda at declared arity 2 — a default
        # arg (lambda acc, h, k=k) would be seen as arity 3 and mis-bind
        return lambda acc, h: acc + F.shiftright(h, k).bitwiseAND(F.lit(LANE))

    # The accumulators live in their OWN projection: each is referenced 4
    # times by the unpack step below, and a Column object reused in Python
    # duplicates its expression subtree — only an intermediate projection
    # (kept by CollapseProject because the folds are non-cheap and
    # multiply-referenced) guarantees each fold runs once per row.
    lanes = with_h.select(
        F.col(id_col),
        *[
            F.aggregate(F.col("_hs"), F.lit(0).cast("bigint"), _lane_adder(k)).alias(
                f"_a{k}"
            )
            for k in range(16)
        ],
        n.alias("_n"),
    )

    sig = F.lit(0).cast("bigint")
    for b in range(bits):
        k, p = b % 16, b // 16
        ones = F.shiftright(F.col(f"_a{k}"), 16 * p).bitwiseAND(F.lit(0xFFFF))
        vote = (ones * 2 > F.col("_n")).cast("bigint")
        # bit 63 is the sign bit in a 64-bit long: two's-complement value
        weight = (1 << b) if b < 63 else -(1 << 63)
        sig = sig + vote * F.lit(weight).cast("bigint")
    return lanes.select(F.col(id_col), sig.alias("_sig"))


def hamming64(a: Column, b: Column) -> Column:
    """Hamming distance between two 64-bit signatures via bit_count(xor)."""
    return F.bit_count(a.bitwiseXOR(b))


def simhash_signatures128(
    df: DataFrame, id_col: str, text_col: str
) -> DataFrame:
    """128-bit SimHash signatures as TWO packed bigints (_sig0 = bits
    0..63, _sig1 = bits 64..127) — the scale path past 64-bit SimHash.

    Why 128 bits: banding for Hamming <= 3 pigeonholes the signature into
    4 equal bands, and with a 64-bit signature a band is only 16 bits —
    2^16 buckets saturate around ~65k documents per band, after which
    RANDOM bucket collisions (not near-duplicates) grow quadratically;
    the 100x scale check measured exactly this. 4 bands of 32 bits give
    2^32 buckets per band — collision-free at billions of documents. The
    md5 digest is exactly 128 bits, so the token hash costs nothing more.

    Same deterministic md5 recipe as the 64-bit version (four 8-hex
    windows h1..h4; _sig0 packs (h1 << 32) | h2, _sig1 packs
    (h3 << 32) | h4), same SWAR lane folds — exactly oracle-checkable.
    """
    def _packed(x: Column, a: int, b: int) -> Column:
        return F.shiftleft(
            F.conv(F.substring(x, a, 8), 16, 10).cast("bigint"), 32
        ).bitwiseOR(F.conv(F.substring(x, b, 8), 16, 10).cast("bigint"))

    with_h = _spread(df, id_col).select(
        F.col(id_col),
        F.transform(
            F.array_distinct(tokens(text_col)),
            lambda t: F.element_at(
                F.transform(
                    F.array(F.md5(t.cast("binary"))),
                    lambda x: F.struct(
                        _packed(x, 1, 9).alias("p0"), _packed(x, 17, 25).alias("p1")
                    ),
                ),
                1,
            ),
        ).alias("_hs"),
    )
    n = F.size(F.col("_hs"))
    LANE = 0x0001000100010001

    def _lane_adder(field: str, k: int):
        return lambda acc, h: acc + F.shiftright(h[field], k).bitwiseAND(F.lit(LANE))

    lanes = with_h.select(
        F.col(id_col),
        *[
            F.aggregate(
                F.col("_hs"), F.lit(0).cast("bigint"), _lane_adder("p0", k)
            ).alias(f"_a{k}")
            for k in range(16)
        ],
        *[
            F.aggregate(
                F.col("_hs"), F.lit(0).cast("bigint"), _lane_adder("p1", k)
            ).alias(f"_b{k}")
            for k in range(16)
        ],
        n.alias("_n"),
    )

    def _sig(prefix: str) -> Column:
        sig = F.lit(0).cast("bigint")
        for b in range(64):
            k, p = b % 16, b // 16
            ones = F.shiftright(F.col(f"{prefix}{k}"), 16 * p).bitwiseAND(F.lit(0xFFFF))
            vote = (ones * 2 > F.col("_n")).cast("bigint")
            weight = (1 << b) if b < 63 else -(1 << 63)
            sig = sig + vote * F.lit(weight).cast("bigint")
        return sig

    return lanes.select(
        F.col(id_col), _sig("_a").alias("_sig0"), _sig("_b").alias("_sig1")
    )


def simhash128_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
    max_bucket: int | None = 10_000,
) -> DataFrame:
    """Near-dup pairs under 128-bit SimHash Hamming distance, banded with
    4 x 32-bit bands (pigeonhole guarantees full recall for
    max_hamming <= 3). Returns (id_a, id_b, hamming).

    The 100 TB variant of :func:`simhash_pairs`: 2^32 buckets per band
    keep random collisions negligible at any corpus size, so candidate
    volume tracks true duplicate density instead of the birthday
    quadratic that saturates 16-bit buckets (measured in the 100x scale
    check). ``max_bucket`` still guards pathological boilerplate buckets.
    """
    sig = simhash_signatures128(
        df.select(F.col(id_col).alias("_id"), F.col(text_col)), "_id", text_col
    )
    mask32 = F.lit((1 << 32) - 1)
    banded = sig.select(
        "_id",
        "_sig0",
        "_sig1",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.shiftright(
                            F.col("_sig0") if b < 2 else F.col("_sig1"),
                            (b % 2) * 32,
                        )
                        .bitwiseAND(mask32)
                        .alias("bucket"),
                    )
                    for b in range(4)
                ]
            )
        ).alias("bb"),
    ).select("_id", "_sig0", "_sig1", "bb.band", "bb.bucket")
    banded = _suppress_hot_buckets(banded, ["band", "bucket"], max_bucket)
    # r12: lazily persisted — both self-join sides read this frame, and
    # the scan-side SWAR signature otherwise evaluated twice per row
    from sqlitedataframe_spark.operators.util import register_cache

    banded = register_cache(banded.persist())
    a, b = banded.alias("a"), banded.alias("b")
    ham = (
        F.bit_count(F.col("a._sig0").bitwiseXOR(F.col("b._sig0")))
        + F.bit_count(F.col("a._sig1").bitwiseXOR(F.col("b._sig1")))
    ).cast("int")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a._id") < F.col("b._id")),
        )
        .select(
            F.col("a._id").alias("id_a"),
            F.col("b._id").alias("id_b"),
            ham.alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .dropDuplicates(["id_a", "id_b"])
    )


def simhash_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
    bands: int = 4,
    max_bucket: int | None = 10_000,
) -> DataFrame:
    """Near-dup pairs under SimHash Hamming distance, banded-LSH candidate
    generation (pigeonhole: <= bands-1 differing bits over `bands` bands ->
    at least one band equal). Full recall requires max_hamming <= bands-1;
    above that the banding is a heuristic filter. Returns
    (id_a, id_b, hamming). Buckets larger than ``max_bucket`` are
    suppressed (skew guard, see ``_suppress_hot_buckets``)."""
    width = 64 // bands
    sig = simhash_signatures(
        df.select(F.col(id_col).alias("_id"), F.col(text_col)), "_id", text_col
    )
    banded = sig.select(
        "_id",
        "_sig",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.shiftright(F.col("_sig"), b * width)
                        .bitwiseAND(F.lit((1 << width) - 1))
                        .alias("bucket"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bb"),
    ).select("_id", "_sig", "bb.band", "bb.bucket")
    banded = _suppress_hot_buckets(banded, ["band", "bucket"], max_bucket)
    # r12: lazily persisted — see simhash_pairs128
    from sqlitedataframe_spark.operators.util import register_cache

    banded = register_cache(banded.persist())
    a, b = banded.alias("a"), banded.alias("b")
    # Duplicate candidate pairs (a pair colliding in several bands) are
    # removed with dropDuplicates, NOT an inline first-matching-band filter:
    # measured head-to-head (interleaved, same session, sf0.1) the
    # dropDuplicates plan wins ~3x because map-side partial aggregation
    # collapses duplicate pairs before the exchange, while the first-match
    # predicate taxes every raw candidate row inside the join stage.
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a._id") < F.col("b._id")),
        )
        .select(
            F.col("a._id").alias("id_a"),
            F.col("b._id").alias("id_b"),
            hamming64(F.col("a._sig"), F.col("b._sig")).cast("int").alias("hamming"),
        )
        # hamming is a pure function of the pair, so filtering BEFORE the
        # pair dedup is equivalent — and map-side, so far pairs never enter
        # the dropDuplicates exchange
        .filter(F.col("hamming") <= max_hamming)
        .dropDuplicates(["id_a", "id_b"])
    )


# --------------------------------------------------------------------------
# Exact n-gram Jaccard (verification-grade, for candidate pairs)
# --------------------------------------------------------------------------
def jaccard_tokens(a: Column, b: Column) -> Column:
    """Exact Jaccard similarity of two token-set columns (array<string>)."""
    inter = F.size(F.array_intersect(a, b))
    union = F.size(F.array_union(a, b))
    return F.when(union > 0, inter.cast("double") / union).otherwise(F.lit(0.0))


# --------------------------------------------------------------------------
# Semantic dedup (SemDeDup-style): cluster embeddings, prune near-identical
# vectors within each cluster.
# --------------------------------------------------------------------------
def semantic_dedup(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 8,
    threshold: float = 0.97,
    kmeans_iters: int = 3,
    max_cell: int = 20000,
) -> DataFrame:
    """Semantic near-duplicate pruning over an embedding column: k-means
    cells -> intra-cell cosine pairs above ``threshold`` -> connected
    components -> keep the min-id representative per component.

    The SemDeDup recipe (Abbas et al. 2023) made scalable the same way the
    paper does: the quadratic cosine comparison never crosses cluster
    boundaries, so its cost is bounded by the largest cell, not the corpus.
    Plan shape: one shuffle to co-partition each cell's vectors, pairwise
    cosine inside the cell partition (JVM-side array arithmetic), then the
    pointer-jumped connected-components rounds on the (slim) dup-pair edge
    list. ``max_cell`` is the hot-cell guard: cells larger than the bound
    are sub-split by an md5 salt before pairing (trading recall on
    monster cells for a hard cost ceiling — same policy as the LSH
    hot-bucket guard). Only the k x dim centroid model touches the driver.

    Returns (id_col, component, is_representative) for every input row.
    """
    from sqlitedataframe_spark.operators.graph import connected_components
    from sqlitedataframe_spark.operators.similarity import (
        as_double,
        dot,
        ivf_assign,
        norm,
        train_centroids,
    )

    # Deterministic init (the k min-id vectors) + engine-side 6-dp rounding
    # of every centroid mean: the whole k-means trajectory — and therefore
    # the cells, the intra-cell pair set, and the final components — is a
    # pure function of the data, reproducible by a SQL oracle replaying
    # the same iterations (the count-min recipe applied to Lloyd's).
    init = [
        list(r._iv)
        for r in df.select(
            F.col(id_col).alias("_id"), as_double(vec_col).alias("_iv")
        )
        .orderBy("_id")
        .limit(k)
        .collect()
    ]
    cents = train_centroids(
        df, k=k, iters=kmeans_iters, vec_col=vec_col, init_vectors=init, round_dp=6
    )
    # L2-normalize ONCE per row (two projections so the norm is a bound
    # attribute, not re-evaluated per element): the quadratic intra-cell
    # comparison then needs only a dot product per pair — 3x fewer
    # floating ops than cosine (which recomputes both norms pairwise).
    raw = ivf_assign(df, cents, vec_col).select(
        F.col(id_col).alias("_id"),
        as_double(vec_col).alias("_v0"),
        F.col("ivf_cell").alias("_cell"),
    )
    nv = raw.withColumn("_n", norm(F.col("_v0")))
    # persisted: the assign+normalize tree feeds FOUR consumers (cell
    # counts, both sides of the pair join, the CC node set) and k-means
    # assignment is the expensive part — without the persist it would
    # re-evaluate per consumer
    assigned = nv.select(
        "_id",
        F.when(
            F.col("_n") > 0,
            F.transform(F.col("_v0"), lambda x: x / F.col("_n")),
        )
        .otherwise(F.col("_v0"))
        .alias("_v"),
        "_cell",
    ).persist()
    # hot-cell guard: sub-split oversized cells deterministically
    counts = assigned.groupBy("_cell").agg(F.count(F.lit(1)).alias("_n"))
    salted = assigned.join(F.broadcast(counts), "_cell").withColumn(
        "_sub",
        F.when(
            F.col("_n") > max_cell,
            F.conv(
                F.substring(F.md5(F.col("_id").cast("string").cast("binary")), 1, 4),
                16,
                10,
            ).cast("int")
            % F.ceil(F.col("_n") / max_cell).cast("int"),
        ).otherwise(F.lit(0)),
    )
    a = salted.select(
        F.col("_cell"), F.col("_sub"), F.col("_id").alias("id_a"), F.col("_v").alias("_va")
    )
    b = salted.select(
        F.col("_cell"), F.col("_sub"), F.col("_id").alias("id_b"), F.col("_v").alias("_vb")
    )
    edges = (
        a.join(b, on=["_cell", "_sub"])
        .filter(F.col("id_a") < F.col("id_b"))
        # unit vectors: dot IS the cosine
        .filter(dot(F.col("_va"), F.col("_vb")) >= threshold)
        .select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
    )
    nodes = assigned.select(F.col("_id").alias("node"))
    comps = connected_components(edges, nodes=nodes)
    # CC's per-round witness has materialized the final labels; the
    # vector frame is no longer referenced by the returned plan
    assigned.unpersist()
    return comps.select(
        F.col("node").alias(id_col),
        F.col("comp").alias("component"),
        (F.col("node") == F.col("comp")).alias("is_representative"),
    )


# --------------------------------------------------------------------------
# Substring-level duplicate spans (ExactSubstr approximation)
# --------------------------------------------------------------------------
def _char_shingles(
    df: DataFrame, id_col: str, text_col: str, k: int, stride: int
) -> DataFrame:
    """(_id, pos, _h) rows: md5 digests of the length-``k`` character
    windows sampled every ``stride`` chars. Pure scan-stage expressions
    (sequence + Column.substr) — windows never exist as shuffled text."""
    base = df.filter(F.length(text_col) >= k).select(
        F.col(id_col).alias("_id"), F.col(text_col).alias("_t")
    )
    pos = F.sequence(F.lit(1), F.length("_t") - (k - 1), F.lit(stride))
    return base.select("_id", "_t", F.explode(pos).alias("pos")).select(
        "_id",
        "pos",
        F.md5(F.col("_t").substr(F.col("pos"), F.lit(k)).cast("binary")).alias("_h"),
    )


def _dup_hashes(sh: DataFrame, min_docs: int) -> DataFrame:
    """Window digests occurring in >= ``min_docs`` distinct documents
    (one partially-combined aggregate on the digest)."""
    return (
        sh.groupBy("_h")
        .agg(F.count_distinct("_id").alias("_nd"))
        .filter(F.col("_nd") >= min_docs)
        .select("_h")
    )


def substring_span_stats(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 30,
    stride: int = 10,
    min_docs: int = 2,
) -> DataFrame:
    """Substring-level duplicate-span detection — the shingle approximation
    of suffix-array ExactSubstr dedup (Lee et al. 2021, "Deduplicating
    Training Data Makes Language Models Better"): the memorization-relevant
    unit at web scale is the repeated SPAN, not the whole near-duplicate
    document. A distributed suffix array is impractical on Spark, so this
    samples length-``k`` character windows every ``stride`` characters,
    hashes them, and marks any window whose hash occurs in >= ``min_docs``
    distinct documents as a duplicated span.

    Scale shape: windows are generated MAP-SIDE (sequence + Column.substr
    over the scan — no Python, no UDF), and what shuffles is
    (id, pos, digest) — never text. The duplicated-hash set comes from one
    count-distinct aggregate with map-side partial combine; re-joining it to
    the slim shingle stream is a hash join on the digest. Output is the
    per-document cut list summary: duplicated-span count + first offset.
    md5 keeps the digest portable/oracle-checkable; a production run would
    swap in xxhash64 for an 8-byte shuffle key (same plan shape).

    The reference has no span-dedup surface (SQLiteDataFrame.swift delegates
    relational ops to SQLite and has no text pipeline); Tier-D extension.
    """
    from sqlitedataframe_spark.operators.util import register_cache

    # r12: lazily persisted — the shingle stream feeds both the duplicated-
    # digest aggregate and the re-join; unpersisted, windows hashed twice
    sh = register_cache(_char_shingles(df, id_col, text_col, k, stride).persist())
    return (
        sh.join(_dup_hashes(sh, min_docs), "_h")
        .groupBy("_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_dup_spans"),
            F.min("pos").cast("bigint").alias("first_pos"),
        )
        .select(F.col("_id").alias(id_col), "n_dup_spans", "first_pos")
    )


def duplicate_span_coverage(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 30,
    stride: int = 10,
    min_docs: int = 2,
    round_dp: int = 4,
) -> DataFrame:
    """Per-document COVERAGE of cross-corpus duplicated spans: overlapping
    duplicated windows are unioned into maximal islands (the classic
    merge-intervals shape, done distributed), yielding how many characters
    of each document are boilerplate shared with other documents — the
    actionable cut list ExactSubstr-style dedup acts on, and the per-doc
    "duplication ratio" quality signal on its own.

    Scale shape: shingling and the duplicated-digest set are shared with
    :func:`substring_span_stats` (slim (id, pos, digest) rows only). The
    interval union is two window passes + two aggregates ALL partitioned by
    document id — one hash exchange total: the running-max-end window marks
    island starts, a running sum numbers the islands, and the (id, island)
    aggregate reuses the id-partitioning (grouping on a superset of the
    partition key needs no new exchange). Finally the per-doc summary joins
    document lengths back on the same key.
    """
    from sqlitedataframe_spark.operators.util import register_cache

    # r12: same double-read as substring_span_stats — persist lazily
    sh = register_cache(_char_shingles(df, id_col, text_col, k, stride).persist())
    spans = sh.join(_dup_hashes(sh, min_docs), "_h").select(
        "_id", "pos", (F.col("pos") + (k - 1)).alias("_end")
    )
    w = Window.partitionBy("_id").orderBy("pos")
    prev_max = F.max("_end").over(w.rowsBetween(Window.unboundedPreceding, -1))
    is_new = prev_max.isNull() | (F.col("pos") > prev_max)
    islands = (
        spans.withColumn("_new", is_new.cast("int"))
        .withColumn(
            "_island",
            F.sum("_new").over(w.rowsBetween(Window.unboundedPreceding, 0)),
        )
        .groupBy("_id", "_island")
        .agg(F.min("pos").alias("_s"), F.max("_end").alias("_e"))
    )
    per_doc = islands.groupBy("_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_islands"),
        F.sum(F.col("_e") - F.col("_s") + 1).cast("bigint").alias("n_dup_chars"),
    )
    lengths = df.select(
        F.col(id_col).alias("_id"), F.length(text_col).alias("_len")
    )
    return per_doc.join(lengths, "_id").select(
        F.col("_id").alias(id_col),
        "n_islands",
        "n_dup_chars",
        F.round(F.col("n_dup_chars") / F.col("_len") + 1e-9, round_dp).alias(
            "dup_ratio"
        ),
    )


# --------------------------------------------------------------------------
# Asymmetric containment (excerpt / quote / subset detection)
# --------------------------------------------------------------------------
def containment_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 4,
    max_df: int = 20,
    min_containment: float = 0.2,
    round_dp: int = 6,
) -> DataFrame:
    """Directional containment pairs: C(A in B) = |grams(A) & grams(B)| /
    |grams(A)| over distinct word ``n``-grams. The ASYMMETRIC counterpart
    of Jaccard resemblance (Broder's original containment measure):
    an excerpt, quote, or syndicated fragment inside a larger document
    scores near 1.0 on containment while its Jaccard stays low — exactly
    the duplicates resemblance-based dedup misses.

    Scale shape: grams expand map-side (``ngram_set`` dedups per doc in
    the scan stage), and candidates come from a gram-equality self-join
    with a DOC-FREQUENCY CAP: grams present in more than ``max_df``
    documents are dropped before pairing (the blocking analogue of the
    LSH hot-bucket guard), which bounds candidate volume at
    ``max_df`` per gram occurrence instead of quadratic in corpus size.
    Shuffles carry (id, gram) and (id_a, id_b) rows only — never text.
    Recall is traded exactly where it is safe: a gram shared by the whole
    corpus identifies nothing.

    Returns (id_a, id_b, containment): A's grams covered by B, both
    directions reported independently.
    """
    grams = df.select(
        F.col(id_col).alias("_id"), F.explode(ngram_set(text_col, n)).alias("gram")
    )
    # The gram stream feeds FOUR subtrees (sizes, doc-frequency, both join
    # sides). A forced exchange on the join key makes them share ONE
    # identical shuffle (ReuseExchange — the minhash_lsh_pairs pattern), so
    # the scan + n-gram expansion runs once per action instead of four
    # times, and the df-filter join plus the pair self-join are already
    # co-partitioned on gram. Measured ~2x at sf0.1.
    # r12: ALSO lazily persisted post-repartition — ReuseExchange is
    # best-effort under AQE (the minhash r4 lesson: a replanned subtree
    # silently recomputes the whole expansion); the cache makes the
    # share a guarantee while InMemoryTableScan keeps the gram hash
    # partitioning, so the downstream joins still need no new exchange.
    from sqlitedataframe_spark.operators.util import register_cache

    grams = register_cache(grams.repartition("gram").persist())
    sizes = grams.groupBy("_id").agg(F.count(F.lit(1)).alias("_n"))
    rare = (
        grams.groupBy("gram")
        .agg(F.count(F.lit(1)).alias("_d"))
        .filter(F.col("_d") <= max_df)
        .select("gram")
    )
    kept = grams.join(rare, "gram")
    a, b = kept.alias("a"), kept.alias("b")
    shared = (
        a.join(
            b,
            (F.col("a.gram") == F.col("b.gram"))
            & (F.col("a._id") != F.col("b._id")),
        )
        .groupBy(
            F.col("a._id").alias("id_a"), F.col("b._id").alias("id_b")
        )
        .agg(F.count(F.lit(1)).alias("_c"))
    )
    return (
        shared.join(sizes.withColumnRenamed("_id", "id_a"), "id_a")
        .filter(F.col("_c") / F.col("_n") >= min_containment)
        .select(
            "id_a",
            "id_b",
            F.round(F.col("_c") / F.col("_n") + 1e-9, round_dp).alias(
                "containment"
            ),
        )
    )


def lcs_span_stats(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 30,
    stride: int = 10,
    round_dp: int = 4,
) -> DataFrame:
    """Longest-common-substring ESTIMATE for candidate document pairs —
    the suffix-automaton-free span measure that upgrades an LSH
    candidate list (resemblance: "these two look alike") into the
    ExactSubstr-style evidence ("they share one contiguous ~N-char
    span") that decides quote/boilerplate vs true rewrite.

    Method — diagonal anchor runs: both documents are cut into length-
    ``k`` char windows every ``stride`` chars (shared with
    :func:`substring_span_stats`; windows hash map-side, text never
    shuffles). Equal-hash windows across a candidate pair are ANCHORS
    (pos_a, pos_b); a common substring of length L lays its anchors on
    one DIAGONAL (pos_a - pos_b constant) at consecutive lattice
    positions, so the longest run of stride-consecutive anchors on a
    diagonal estimates L as k + (run - 1) * stride (within a stride of
    truth; both engines compute the identical integer).

    Scale shape: shingles are semi-joined to the pair population first,
    the anchor join keys on (id_b, hash) after fanning pairs over doc
    A's slim (id, pos, digest) stream, run detection is the arithmetic
    grouping trick pos - row_number * stride (one window PARTITIONED BY
    (pair, diagonal) — bounded partitions, never a global sort), and
    every output is an exact integer except the final ratio (one
    division of exact integers). No text moves after the scan stage.

    Returns (id_a, id_b, n_anchors, n_diags, lcs_est, lcs_ratio) with
    lcs_ratio = lcs_est / min(len_a, len_b).

    Reference parity: no span surface exists in SQLiteDataFrame.swift
    (the bridge delegates queries to SQLite); Tier-D extension per
    Lee et al. 2021's ExactSubstr motivation.
    """
    ids = (
        pairs.select(F.col("id_a").alias("_id"))
        .union(pairs.select(F.col("id_b").alias("_id")))
        .distinct()
    )
    # r12: lazily persisted — the shingle stream feeds BOTH sides of the
    # anchor join; unpersisted, the window hashing ran twice
    from sqlitedataframe_spark.operators.util import register_cache

    sh = register_cache(
        _char_shingles(df, id_col, text_col, k, stride)
        .join(ids, "_id", "left_semi")
        .persist()
    )
    a = sh.select(F.col("_id").alias("id_a"), F.col("pos").alias("_pa"), "_h")
    b = sh.select(F.col("_id").alias("id_b"), F.col("pos").alias("_pb"), "_h")
    anchors = pairs.select("id_a", "id_b").join(a, "id_a").join(
        b, ["id_b", "_h"]
    ).select("id_a", "id_b", "_pa", "_pb", (F.col("_pa") - F.col("_pb")).alias("_diag"))
    w = Window.partitionBy("id_a", "id_b", "_diag").orderBy("_pa")
    runs = (
        anchors.withColumn("_rn", F.row_number().over(w))
        .withColumn("_grp", F.col("_pa") - F.col("_rn") * stride)
        .groupBy("id_a", "id_b", "_diag", "_grp")
        .agg(F.count(F.lit(1)).cast("bigint").alias("_run"))
    )
    per_pair = runs.groupBy("id_a", "id_b").agg(
        F.sum("_run").cast("bigint").alias("n_anchors"),
        F.count_distinct("_diag").cast("bigint").alias("n_diags"),
        (F.lit(k) + (F.max("_run") - 1) * stride).cast("bigint").alias("lcs_est"),
    )
    lens = df.select(
        F.col(id_col).alias("_id"), F.length(text_col).cast("bigint").alias("_len")
    )
    return (
        per_pair.join(lens.withColumnRenamed("_id", "id_a").withColumnRenamed("_len", "_la"), "id_a")
        .join(lens.withColumnRenamed("_id", "id_b").withColumnRenamed("_len", "_lb"), "id_b")
        .select(
            "id_a",
            "id_b",
            "n_anchors",
            "n_diags",
            "lcs_est",
            F.round(
                F.col("lcs_est") / F.least("_la", "_lb") + 1e-9, round_dp
            ).alias("lcs_ratio"),
        )
        # no presentation orderBy here (r10): this frame is session-shared
        # (suite.pipeline15.shared_lcs_spanstats) and a sort baked into the
        # cached plan becomes a global Sort UPSTREAM of every downstream
        # wide consumer (the span-cluster rollup) — consumers order their
        # own presentation tails
    )


def prefix_suffix_groups(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 64,
    min_group: int = 2,
) -> DataFrame:
    """Truncation-robust exact dedup groups: documents sharing the md5 of
    their first ``k`` characters OR of their last ``k`` characters (after
    lower/trim normalization) — the web-corpus trick that catches
    pagination suffixes, appended boilerplate, and truncated re-crawls
    that full-text hashing misses. Returns one row per (hash-key, kind)
    group of size >= ``min_group`` with the min-id representative — group
    rollups, never pairs, so output is linear in the corpus (the pair
    form of an exact-hash group is quadratic for zero information).

    Portability: prefix = md5(substr(text, 1, k)); suffix =
    md5(substr(reverse(text), 1, k)) — reverse-then-prefix sidesteps the
    engines' differing negative-index substr semantics on short strings.

    Shape: two scan-side hashes, one union, one group aggregate (one
    shuffle on the hash key).
    """
    t = F.lower(F.trim(F.col(text_col)))
    pre = docs.select(
        F.col(id_col).alias("_id"),
        F.lit("prefix").alias("kind"),
        F.md5(F.substring(t, 1, k)).alias("key"),
    )
    suf = docs.select(
        F.col(id_col).alias("_id"),
        F.lit("suffix").alias("kind"),
        F.md5(F.substring(F.reverse(t), 1, k)).alias("key"),
    )
    return (
        pre.union(suf)
        .groupBy("kind", "key")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("group_size"),
            F.min("_id").alias("keep_id"),
        )
        .filter(F.col("group_size") >= min_group)
        .orderBy("kind", "key")
    )


def lsh_tuning_curve(
    pairs: DataFrame,
    est_col: str = "est_jaccard",
    n_hashes: int = 64,
    configs: tuple = ((2, 32), (4, 16), (8, 8), (16, 4), (32, 2)),
    hi: float = 0.5,
    lo: float = 0.3,
    round_dp: int = 6,
) -> DataFrame:
    """Banding-parameter tuning curve for the MinHash LSH: for each
    (bands b, rows-per-band r) split of the ``n_hashes`` signature, the
    analytic S-curve midpoint ``(1/b)^(1/r)`` plus the EXPECTED detection
    probability ``P(j) = 1 - (1 - j^r)^b`` averaged over the observed
    candidate-pair similarity distribution — split into the high-sim
    population (est >= ``hi``: the recall you would keep) and the low-sim
    population (est < ``lo``: the candidate-generation waste you would
    pay). The table that answers "should this corpus run 16x4 or 8x8"
    from data instead of folklore.

    Exactness: pairs collapse to integer match-count cells (est_jaccard
    is k/n_hashes by construction, so k = round(est * n) is exact);
    expected values are fixed-order folds over the <= n_hashes+1 cells
    (k ascending) of n_k * P(k/n) against exact integer denominators.
    Scale: the input is the already-bounded candidate table; everything
    after the one cell aggregate is a |configs| x |cells| literal grid.
    """
    spark = pairs.sparkSession
    kc = F.round(F.col(est_col) * n_hashes).cast("int")
    cells = pairs.groupBy(kc.alias("_k")).agg(
        F.count(F.lit(1)).cast("bigint").alias("_n")
    )
    grid = spark.createDataFrame(
        [(int(b), int(r)) for b, r in configs], "bands int, rows_per_band int"
    )
    jf = F.col("_k").cast("double") / n_hashes
    p_det = 1.0 - F.pow(
        1.0 - F.pow(jf, F.col("rows_per_band")), F.col("bands")
    )
    hi_k = int(round(hi * n_hashes))
    lo_k = int(round(lo * n_hashes))
    j = cells.crossJoin(F.broadcast(grid)).select(
        "bands",
        "rows_per_band",
        "_k",
        "_n",
        F.when(F.col("_k") >= hi_k, F.col("_n") * p_det).otherwise(0.0).alias("_whi"),
        F.when(F.col("_k") < lo_k, F.col("_n") * p_det).otherwise(0.0).alias("_wlo"),
    )
    fold = lambda name: F.aggregate(  # noqa: E731
        F.transform(
            F.array_sort(F.collect_list(F.struct("_k", name))),
            lambda s: s[name],
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    agg = j.groupBy("bands", "rows_per_band").agg(
        fold("_whi").alias("_shi"),
        fold("_wlo").alias("_slo"),
        F.sum(F.when(F.col("_k") >= hi_k, F.col("_n")).otherwise(0))
        .cast("bigint")
        .alias("n_pairs_high"),
        F.sum(F.when(F.col("_k") < lo_k, F.col("_n")).otherwise(0))
        .cast("bigint")
        .alias("n_pairs_low"),
    )
    return agg.select(
        "bands",
        "rows_per_band",
        F.round(
            F.pow(1.0 / F.col("bands"), 1.0 / F.col("rows_per_band")) + 1e-9,
            round_dp,
        ).alias("thr50"),
        "n_pairs_high",
        "n_pairs_low",
        F.round(
            F.col("_shi") / F.greatest(F.col("n_pairs_high"), F.lit(1)) + 1e-9,
            round_dp,
        ).alias("exp_recall_highsim"),
        F.round(
            F.col("_slo") / F.greatest(F.col("n_pairs_low"), F.lit(1)) + 1e-9,
            round_dp,
        ).alias("exp_prob_lowsim"),
    ).orderBy("bands")
