"""Mergeable frequency sketches: count-min over a key column.

Why this matters at 100 TB: exact per-key counts of a high-cardinality key
shuffle one row per distinct key; a count-min sketch shuffles AT MOST
``depth x width`` rows per map partition no matter the input size (the
partial aggregation collapses each partition's contribution to the fixed
cell grid before the exchange), and sketches from different shards/days
merge by cell-wise addition without touching raw data again — the same
re-aggregation story as the HLL rollup.

Determinism: the row->cell hash is the md5-prefix integer (same recipe as
operators.sampling), so the sketch — and therefore every estimate — is a
pure function of the data, bit-identical across engines and reruns. This
makes the sketch EXACTLY oracle-checkable (rare for approximate
structures: the approximation is in the estimate-vs-truth gap, not in any
nondeterminism).

The reference (jackpal/SQLiteDataFrame) has no sketch surface; part of the
training-data pipeline extension (SURVEY Tier D).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _cells(key_col: Column, depth: int, width: int) -> Column:
    """Cell indices of ``key`` for all hash rows at once, as an
    array<struct<d, cell>>: the 32-hex md5 digest is cut into ``depth``
    disjoint 8-hex windows, each an independent-enough 32-bit hash —
    ONE md5 per row instead of one per (row x depth) (measured ~2x off
    the sketch build). Portable to any engine with md5; depth is capped
    at 4 by the digest length."""
    if depth > 4:
        raise ValueError(f"depth > 4 needs more digest than md5 has, got {depth}")
    h = F.md5(key_col.cast("string").cast("binary"))
    return F.array(
        *[
            F.struct(
                F.lit(d).alias("d"),
                (
                    F.conv(F.substring(h, 1 + 8 * d, 8), 16, 10).cast("bigint")
                    % width
                ).alias("cell"),
            )
            for d in range(depth)
        ]
    )


def countmin_build(
    df: DataFrame, key: str, depth: int = 4, width: int = 1024
) -> DataFrame:
    """Build a count-min sketch of ``key`` occurrences ->
    ``(d, cell, c)`` rows (at most depth*width of them).

    Map-side the input is replicated ``depth`` times (one row per hash
    function), but the partial aggregation bounds what crosses the
    exchange at depth*width rows per partition — input-size-independent
    shuffle volume.
    """
    if depth < 1 or width < 1:
        raise ValueError(f"depth and width must be >= 1, got {depth}x{width}")
    return (
        df.select(F.explode(_cells(F.col(key), depth, width)).alias("dc"))
        .select("dc.d", "dc.cell")
        .groupBy("d", "cell")
        .agg(F.count(F.lit(1)).alias("c"))
    )


def countmin_estimate(
    sketch: DataFrame,
    probes: DataFrame,
    key: str,
    depth: int = 4,
    width: int = 1024,
) -> DataFrame:
    """Frequency estimates for ``probes[key]`` from a built sketch:
    est(k) = min over hash rows of the k-cell's count (the classic
    count-min upper bound: est >= true, inflated only by collisions).

    The sketch is at most depth*width rows — broadcast it; the probe side
    stays distributed, so estimating millions of keys is map-side work.
    """
    p = probes.select(F.col(key).alias("_k")).distinct()
    expanded = p.select(
        "_k", F.explode(_cells(F.col("_k"), depth, width)).alias("dc")
    ).select("_k", "dc.d", "dc.cell")
    return (
        expanded.join(F.broadcast(sketch), on=["d", "cell"])
        .groupBy("_k")
        .agg(F.min("c").alias("cm_est"))
        .select(F.col("_k").alias(key), "cm_est")
    )


#: HyperLogLog bias-correction constant for m buckets (Flajolet et al. 2007).
def _hll_alpha(m: int) -> float:
    return 0.7213 / (1.0 + 1.079 / m)


def hll_registers(
    df: DataFrame, key: str, group_cols: list[str], p: int = 8
) -> DataFrame:
    """HyperLogLog register table per group: ``(group_cols..., bucket, r)``
    with r = max over keys of (leading zeros of the 32-bit md5 suffix) + 1.

    Same determinism recipe as the count-min sketch: md5 is the hash, so
    the registers — and therefore every estimate — are a pure function of
    the data, bit-identical across engines (EXACTLY oracle-checkable,
    unlike engine-internal HLL sketches). At most ``2**p`` rows per group
    cross the exchange per map partition (map-side partial max), and
    register tables MERGE by bucket-wise max without re-reading data —
    the distinct-count rollup hierarchy costs one raw pass total.
    """
    if p % 4 != 0 or not 4 <= p <= 16:
        raise ValueError(f"p must be a multiple of 4 in [4, 16], got {p}")
    hexd = F.md5(F.col(key).cast("string").cast("binary"))
    bucket = F.conv(F.substring(hexd, 1, p // 4), 16, 10).cast("int")
    v = F.conv(F.substring(hexd, p // 4 + 1, 8), 16, 10).cast("bigint")
    # rho = (# leading zeros in the 32-bit value) + 1; bin() has no leading
    # zeros in either engine, so rho = 33 - len(bin(v)), with v=0 -> 33.
    rho = F.when(v == 0, F.lit(33)).otherwise(F.lit(33) - F.length(F.bin(v)))
    return (
        df.select(*group_cols, bucket.alias("bucket"), rho.alias("rho"))
        .groupBy(*group_cols, "bucket")
        .agg(F.max("rho").alias("r"))
    )


def hll_merge(registers: DataFrame, group_cols: list[str]) -> DataFrame:
    """Merge register tables (same p): bucket-wise max. Re-grouping to a
    coarser key (or to a grand total) never touches raw data again."""
    return registers.groupBy(*group_cols, "bucket").agg(F.max("r").alias("r"))


def hll_estimate(
    registers: DataFrame, group_cols: list[str], p: int = 8, out: str = "approx_distinct"
) -> DataFrame:
    """Distinct-count estimate per group from a register table.

    Classic HLL estimator with the small-range (linear-counting)
    correction. Engine-reproducible arithmetic: the 2^-r terms are exact
    dyadic rationals whose sum fits the double mantissa exactly, so the
    raw estimate is bit-identical across engines; ln() may differ in the
    last ulp, absorbed by the 4-dp round.
    """
    m = 1 << p
    alpha = _hll_alpha(m)
    agg = registers.groupBy(*group_cols).agg(
        F.sum(F.pow(F.lit(2.0), -F.col("r"))).alias("_sp"),
        F.count(F.lit(1)).alias("_nb"),
    )
    s = F.col("_sp") + (F.lit(m) - F.col("_nb"))  # empty buckets add 2^0 = 1
    v = F.lit(m) - F.col("_nb")  # empty-bucket count
    e = F.lit(alpha * m * m) / s
    est = F.when((e <= 2.5 * m) & (v > 0), F.lit(float(m)) * F.log(F.lit(float(m)) / v)).otherwise(e)
    return agg.select(*group_cols, F.round(est, 4).alias(out))


def _bloom_bits(key_col: Column, k: int, m: int) -> Column:
    """The k bit positions of ``key`` as an array<int>: disjoint 8-hex md5
    windows mod m (k <= 4, same digest-slicing trick as the count-min
    cells) — deterministic, portable, exactly oracle-checkable."""
    if not 1 <= k <= 4:
        raise ValueError(f"k must be in [1, 4] (md5 has 4 windows), got {k}")
    h = F.md5(key_col.cast("string").cast("binary"))
    return F.array(
        *[
            (F.conv(F.substring(h, 1 + 8 * j, 8), 16, 10).cast("bigint") % m).cast(
                "int"
            )
            for j in range(k)
        ]
    )


def bloom_build(df: DataFrame, key: str, m: int = 1 << 16, k: int = 4) -> DataFrame:
    """Bloom filter of ``df[key]`` as the SET of set-bit positions —
    one ``(bit)`` row per set bit, at most ``m`` rows.

    The membership sketch of the md5 family: deterministic (exactly
    oracle-checkable), mergeable by plain union+distinct (shard blooms
    OR together), and the shuffle is bounded at m rows per map partition
    regardless of input size. At m = 2^16 the materialized filter is a
    few hundred KB — always broadcastable, which is what makes the probe
    side embarrassingly parallel at 100 TB (the classic use: broadcast
    the test-set bloom and scrub a whole training corpus map-side-ish in
    one pass, with false-positive rate (1 - e^(-kn/m))^k and NO false
    negatives).
    """
    return (
        df.select(F.explode(_bloom_bits(F.col(key), k, m)).alias("bit"))
        .distinct()
    )


def bloom_merge(*blooms: DataFrame) -> DataFrame:
    """OR shard blooms built with the same (m, k): union + distinct."""
    if not blooms:
        raise ValueError("need at least one bloom")
    merged = blooms[0]
    for b in blooms[1:]:
        merged = merged.unionByName(b)
    return merged.distinct()


def bloom_probe(
    probes: DataFrame,
    bloom: DataFrame,
    key: str,
    m: int = 1 << 16,
    k: int = 4,
    out: str = "bloom_hit",
) -> DataFrame:
    """Membership test: ``out`` is true iff ALL k bit positions of the key
    are set in ``bloom``. The bloom side broadcasts (<= m slim rows); the
    probe side explodes to k rows per key and re-aggregates — candidates
    are a SUPERSET of true members (no false negatives), so callers
    verify hits exactly downstream when exactness matters.
    """
    exploded = probes.select(key).distinct().select(
        F.col(key), F.explode(_bloom_bits(F.col(key), k, m)).alias("bit")
    )
    hits = (
        exploded.join(F.broadcast(bloom.withColumn("_set", F.lit(1))), "bit", "left")
        .groupBy(key)
        .agg((F.sum(F.coalesce(F.col("_set"), F.lit(0))) == k).alias(out))
    )
    return probes.join(hits, key, "left")


def hist_build(
    df: DataFrame,
    value_col: str,
    group_cols: list[str],
    lo: float,
    hi: float,
    nbins: int = 64,
) -> DataFrame:
    """Fixed-boundary histogram sketch of ``value_col`` per group:
    ``(group_cols..., bin, c)`` rows, at most ``nbins`` per group.

    The quantile-sketch sibling of the count-min/HLL family: bin
    boundaries are CONSTANTS, so the sketch is a pure function of the
    data (exactly oracle-checkable — the approximation lives entirely in
    the estimate-vs-truth gap, never in nondeterminism), it merges by
    bin-wise addition across shards/days, and the shuffle per map
    partition is bounded at nbins rows per group regardless of input
    size. Values outside [lo, hi) clamp to the edge bins.
    """
    if nbins < 1 or not lo < hi:
        raise ValueError(f"need nbins >= 1 and lo < hi, got {nbins}, [{lo}, {hi})")
    width = (hi - lo) / nbins
    raw = F.floor((F.col(value_col).cast("double") - lo) / F.lit(width))
    b = F.least(F.lit(nbins - 1), F.greatest(F.lit(0), raw.cast("int")))
    return (
        df.select(*group_cols, b.alias("bin"))
        .groupBy(*group_cols, "bin")
        .agg(F.count(F.lit(1)).alias("c"))
    )


def hist_merge(*sketches: DataFrame) -> DataFrame:
    """Merge histogram sketches with the same boundaries: bin-wise sum."""
    if not sketches:
        raise ValueError("need at least one sketch")
    merged = sketches[0]
    for s in sketches[1:]:
        merged = merged.unionByName(s)
    key = [c for c in merged.columns if c != "c"]
    return merged.groupBy(*key).agg(F.sum("c").alias("c"))


def hist_quantile(
    sketch: DataFrame,
    group_cols: list[str],
    q: float,
    lo: float,
    hi: float,
    nbins: int = 64,
    out: str = "q_est",
) -> DataFrame:
    """Quantile estimate from a histogram sketch: the first bin whose
    cumulative count reaches ``q * total``, linearly interpolated inside
    the bin (error bounded by one bin width). Pure arithmetic on exact
    integer counts — engine-reproducible, rounded to 4 dp.
    """
    from pyspark.sql import Window

    if not 0.0 < q <= 1.0:
        raise ValueError(f"q must be in (0, 1], got {q}")
    width = (hi - lo) / nbins
    w = Window.partitionBy(*group_cols).orderBy("bin")
    wt = Window.partitionBy(*group_cols)
    cum = sketch.select(
        *group_cols,
        "bin",
        "c",
        F.sum("c").over(w).alias("_cum"),
        F.sum("c").over(wt).alias("_tot"),
    )
    target = F.lit(q) * F.col("_tot")
    hit = (
        cum.filter(F.col("_cum") >= target)
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
    )
    frac = (target - (F.col("_cum") - F.col("c"))) / F.col("c")
    est = F.lit(lo) + (F.col("bin") + frac) * F.lit(width)
    return hit.select(*group_cols, F.round(est, 4).alias(out))


def countmin_merge(*sketches: DataFrame) -> DataFrame:
    """Merge count-min sketches built with the same (depth, width, hash):
    cell-wise addition. This is THE operational property at 100 TB — each
    shard/day/partition builds its sketch once, and any rollup (daily ->
    monthly, per-shard -> global) is an aggregation over at most
    depth*width rows per input sketch, never a second pass over raw data.
    """
    if not sketches:
        raise ValueError("need at least one sketch")
    merged = sketches[0]
    for s in sketches[1:]:
        merged = merged.unionByName(s)
    return merged.groupBy("d", "cell").agg(F.sum("c").alias("c"))


def minhash_set_signatures(
    df: DataFrame,
    group_col: str,
    member_col: str,
    n_hashes: int = 64,
) -> DataFrame:
    """Per-group MinHash signature of the group's MEMBER SET — the
    mergeable set sketch for audience/segment overlap: any two groups'
    estimated Jaccard is the fraction of agreeing signature slots, so
    all-pairs overlap needs only |groups| x n_hashes numbers instead of
    re-joining the raw membership table per pair. Mergeable like every
    sketch here (elementwise min), and built on the same portable
    md5+affine family as the dedup MinHash, so a SQL oracle reproduces
    every slot exactly.

    Plan shape: the member hash and its n remixes compute scan-side; ONE
    partially-aggregated groupBy carries n_hashes running mins per
    group (map-side combine makes the exchange |groups|-sized, not
    |members|-sized).
    """
    from sqlitedataframe_spark.operators.dedup import (
        minhash_base_hash,
        minhash_params,
        minhash_remix,
    )

    a_coef, b_coef = minhash_params(n_hashes)
    h = minhash_base_hash(F.col(member_col).cast("string"))
    mins = [
        F.min(minhash_remix(F.lit(a), F.lit(b), h)).alias(f"mh{i}")
        for i, (a, b) in enumerate(zip(a_coef, b_coef))
    ]
    return (
        df.select(F.col(group_col).alias("grp"), F.col(member_col))
        .groupBy("grp")
        .agg(*mins)
    )


def minhash_overlap_pairs(
    sigs: DataFrame,
    n_hashes: int = 64,
) -> DataFrame:
    """All-pairs estimated Jaccard from :func:`minhash_set_signatures`
    output -> (grp_a, grp_b, est_jaccard), grp_a < grp_b. The pair join
    runs over the TINY signature table (|groups| rows), never the
    membership table — the 100 TB win this sketch exists for."""
    agree = sum(
        (F.col(f"a.mh{i}") == F.col(f"b.mh{i}")).cast("int")
        for i in range(n_hashes)
    )
    a, b = sigs.alias("a"), sigs.alias("b")
    return (
        a.join(b, F.col("a.grp") < F.col("b.grp"))
        .select(
            F.col("a.grp").alias("grp_a"),
            F.col("b.grp").alias("grp_b"),
            F.round(agree.cast("double") / F.lit(float(n_hashes)), 6).alias(
                "est_jaccard"
            ),
        )
    )


def bottomk_sample(
    df: DataFrame,
    group_col: str,
    key_col: Column | str,
    k: int = 256,
    n_shards: int = 64,
    prefilter_oversample: int = 8,
) -> DataFrame:
    """Per-group bottom-k sample: the ``k`` rows whose md5(key) is
    smallest — a DETERMINISTIC uniform sample (the KMV/bottom-k sketch
    family) that is MERGEABLE: the bottom-k of a union is the bottom-k
    of the per-shard bottom-ks, so shard samples roll up without
    re-reading data, exactly like the HLL/count-min/histogram rollups.

    The plan itself uses the merge property: rows are first reduced to a
    per-(group, shard) bottom-k with a window over BOUNDED partitions
    (at most the shard's rows), then the ≤ ``n_shards * k`` survivors
    per group merge to the final bottom-k — no window ever sees a whole
    group, so a hot group cannot serialize a task at 100 TB. Both
    levels order by (md5 hex, key): md5 collisions aside, a total
    order, so the sample is a pure function of the data (bit-identical
    in any engine with md5 — the oracle replays one flat bottom-k).

    Preconditions (ADVICE r10):
      * ``key_col`` must be UNIQUE per row. Duplicate keys tie on
        ``(_h, key)`` and ``row_number`` then picks arbitrarily among
        rows whose OTHER columns differ, breaking the pure-function /
        merge-parity guarantee. Every suite caller keys on a primary
        key (doc_id, l_orderkey×l_linenumber, ...).
      * NULL group keys are supported: grouping/joining happens on an
        internal null-tagged string key, so a NULL group gets its own
        bottom-k sample instead of silently vanishing in the equi-join.
    """
    kc = F.col(key_col) if isinstance(key_col, str) else key_col
    h = F.md5(kc.cast("string").cast("binary"))
    shard = (
        F.conv(F.substring(h, 29, 4), 16, 10).cast("bigint") % n_shards
    )
    from pyspark.sql import Window

    # Null-tagged internal group key (ADVICE r10): an equi-join on the
    # raw group column never matches NULL keys and isin/~isin filters
    # evaluate to NULL on them, so a nullable group would silently lose
    # its sample. "n:" / "v:<str>" tags keep NULL as a first-class group.
    gk = F.when(F.col(group_col).isNull(), F.lit("n:")).otherwise(
        F.concat(F.lit("v:"), F.col(group_col).cast("string"))
    )
    base = (
        df.withColumn("_h", h)
        .withColumn("_shard", shard)
        .withColumn("_g", gk)
    )

    # Hash-threshold PRE-FILTER (r10): without it the rank windows shuffle
    # and sort the ENTIRE input (measured linear — 41x wall at 100x data);
    # with it only ~oversample*k rows per group ever reach an exchange.
    # Soundness: all survivors hash below the cut and all dropped rows at
    # or above it, so whenever a group retains >= k survivors its true
    # bottom-k is a subset of the survivors — VERIFIED with one cheap
    # aggregate; any short group (astronomically unlikely at oversample 8
    # under md5 uniformity, but possible) falls back to its unfiltered
    # rows, so the RESULT is exact in every case, only the wall time is
    # probabilistic. Same per-group hex-cut construction as
    # sampling.cap_per_class_approx.
    oversample = prefilter_oversample
    space = 1 << 16
    counts = base.groupBy("_g").agg(F.count(F.lit(1)).alias("_cnt"))
    cut_int = F.ceil(
        F.lit(float(space * oversample * k)) / F.col("_cnt")
    ).cast("int")
    cut = F.when(
        (F.col("_cnt") <= oversample * k) | (cut_int >= F.lit(space)),
        F.lit("g000"),  # keep all: 'g000' sorts above every hex string
    ).otherwise(F.lpad(F.lower(F.hex(cut_int)), 4, "0"))
    cuts = counts.select("_g", cut.alias("_cut"), "_cnt")
    pref = base.join(F.broadcast(cuts), "_g").filter(
        F.substring(F.col("_h"), 1, 4) < F.col("_cut")
    )
    # LEFT join from the cuts frame: a group whose filter kept ZERO rows
    # has no aggregate row at all and must still be detected as short
    shortfall = [
        r["_g"]
        for r in cuts.filter(F.col("_cut") != "g000")
        .join(
            pref.groupBy("_g").agg(F.count(F.lit(1)).alias("_m")),
            "_g",
            "left",
        )
        .filter(F.coalesce(F.col("_m"), F.lit(0)) < k)
        .collect()
    ]
    if shortfall:  # exact fallback for the (vanishingly rare) short groups
        # _g is never NULL (null-tagged), so isin semantics are total here
        pref = pref.filter(~F.col("_g").isin(shortfall)).unionByName(
            base.join(F.broadcast(cuts), "_g").filter(
                F.col("_g").isin(shortfall)
            )
        )
    pref = pref.drop("_cut", "_cnt")

    w1 = Window.partitionBy("_g", "_shard").orderBy("_h", kc)
    lvl1 = (
        pref.withColumn("_rn", F.row_number().over(w1))
        .filter(F.col("_rn") <= k)
        .drop("_rn")
    )
    w2 = Window.partitionBy("_g").orderBy("_h", kc)
    return (
        lvl1.withColumn("_rn", F.row_number().over(w2))
        .filter(F.col("_rn") <= k)
        .drop("_rn", "_h", "_shard", "_g")
    )


def bottomk_quantiles(
    df: DataFrame,
    group_col: str,
    value_col: str,
    key_col: Column | str,
    k: int = 256,
    qs: tuple = (0.5, 0.9),
    round_dp: int = 4,
) -> DataFrame:
    """Quantile estimates from the per-group bottom-k sample NEXT TO the
    exact interpolated quantiles — the sketch-vs-truth readout that
    qualifies the sketch's error before it replaces the exact pass in a
    100 TB profile job (VERDICT r9 #2d: mergeable quantiles beside
    agg_hist_quantiles; this is the sampling-sketch sibling of the
    fixed-grid histogram sketch).

    Exactness: the sample is deterministic (see :func:`bottomk_sample`),
    interpolated percentiles over sample and population use the same
    engine primitive on both sides (Spark ``percentile`` == DuckDB
    ``quantile_cont``, the agg_percentile_exact anchor), and outputs
    round at ``round_dp``.
    """
    qlist = list(qs)
    # exact side collapses to (group, value, count) cells FIRST (map-side
    # combine bounds the exchange by the value domain, not the rows — the
    # _bucket_counts anchor) and feeds the frequency-weighted percentile:
    # identical result to percentile over raw rows, without shipping every
    # row into the aggregation buffer (r10; the raw form cost 33 s at
    # 100x data where this is scan-bound)
    cells = df.groupBy(
        group_col, F.col(value_col).alias("_v")
    ).agg(F.count(F.lit(1)).alias("_c"))
    exact = cells.groupBy(group_col).agg(
        F.sum("_c").cast("bigint").alias("n"),
        *[
            F.percentile(F.col("_v"), F.lit(q), F.col("_c")).alias(f"_xq{i}")
            for i, q in enumerate(qlist)
        ],
    )
    samp = bottomk_sample(df, group_col, key_col, k=k)
    est = samp.groupBy(group_col).agg(
        F.count(F.lit(1)).cast("bigint").alias("k_eff"),
        *[
            F.percentile(value_col, F.lit(q)).alias(f"_sq{i}")
            for i, q in enumerate(qlist)
        ],
    )
    out = exact.join(est, group_col)
    cols = [F.col(group_col), F.col("n"), F.col("k_eff")]
    for i, q in enumerate(qlist):
        tag = f"p{round(q * 100):d}"
        cols.append(
            F.round(F.col(f"_xq{i}") + 1e-9, round_dp).alias(f"{tag}_exact")
        )
        cols.append(
            F.round(F.col(f"_sq{i}") + 1e-9, round_dp).alias(f"{tag}_est")
        )
        cols.append(
            F.round(
                F.abs(F.col(f"_sq{i}") - F.col(f"_xq{i}")) + 1e-9, round_dp
            ).alias(f"{tag}_abs_err")
        )
    return out.select(*cols).orderBy(group_col)


def ddsketch_buckets(
    df: DataFrame,
    group_col: str,
    value_col: Column | str,
    m: int = 32,
) -> DataFrame:
    """Log-linear bucket counts over a POSITIVE INTEGER value column — a
    DDSketch-style relative-error rank sketch (Masson et al., "DDSketch:
    a fast and fully-mergeable quantile sketch", VLDB 2019) whose state
    is a plain additive count table, so MERGE == ONE-SHOT holds EXACTLY
    (not approximately, as for KLL/t-digest compaction): the sketch of a
    union is the pointwise SUM of the per-shard sketches, because the
    bucket index of a value is a pure function of the value alone and
    counts are associative. That makes it the accuracy-bounded sibling
    of :func:`bottomk_sample` (VERDICT r10 #3a) — bottom-k is an exact
    mergeable SAMPLE, this is a mergeable RANK SUMMARY with a proven
    relative-error bound of 1/m on any quantile readout.

    Bucketing is ALL-INTEGER so both engines agree bit-for-bit (no libm
    log whose last ulp could flip a boundary value between buckets):

        e   = length(bin(v)) - 1          -- floor(log2 v), exact
        pw  = 1 << e
        sub = ((v - pw) * m) div pw       -- linear split of the octave
        idx = e * m + sub
        lo  = pw + (sub * pw) div m       -- representative lower bound

    Any v in bucket idx satisfies lo <= ~v < lo * (1 + 1/m) (up to the
    integer floor), so reading off ``lo`` at any rank has relative error
    <= 1/m. Precondition: values must be >= 1 (quantize scan-side —
    money to cents, sizes to bytes); rows with v < 1 are REJECTED by a
    filter so a silent zero can't corrupt the octave math.

    ``m`` must be a POWER OF TWO (asserted): with m = 2^k and pw = 2^e,
    the sub/lo formulas use the algebraically-identical
    divide-before-multiply forms ``sub = (v - pw) div (pw div m)`` and
    ``lo = pw + sub * (pw div m)`` whenever pw >= m, so the operator is
    TOTAL over bigint — the naive ``((v - pw) * m) div pw`` multiply
    wraps silently in Spark (non-ANSI) for v near 2^63/m while DuckDB
    raises, a cross-engine divergence on extreme inputs (ADVICE r11 #3).
    For the (tiny) octaves with pw < m the original multiply form is
    used; there ``(v - pw) * m < m^2`` cannot overflow.

    Scale shape: one scan -> map-side combinable (group, idx) count —
    the whole sketch is one partial-aggregated exchange of at most
    |groups| * m * 64 rows regardless of input size, and sharded /
    micro-batch builds merge by a second tiny SUM. No window, no sort,
    no driver state.
    """
    assert m >= 1 and (m & (m - 1)) == 0, "m must be a power of two"
    vc = F.col(value_col) if isinstance(value_col, str) else value_col
    b = (
        df.select(F.col(group_col), vc.cast("bigint").alias("_v"))
        .filter(F.col("_v") >= 1)
        .withColumn("_e", F.length(F.bin(F.col("_v"))) - F.lit(1))
        .withColumn(
            "_pw", F.expr("shiftleft(CAST(1 AS BIGINT), CAST(_e AS INT))")
        )
        .withColumn(
            "_sub",
            F.expr(
                f"CASE WHEN _pw >= {int(m)}"
                f" THEN (_v - _pw) div (_pw div {int(m)})"
                f" ELSE ((_v - _pw) * {int(m)}) div _pw END"
            ),
        )
        .withColumn(
            "_idx", F.col("_e").cast("bigint") * int(m) + F.col("_sub")
        )
        .withColumn(
            "_lo",
            F.expr(
                f"_pw + CASE WHEN _pw >= {int(m)}"
                f" THEN _sub * (_pw div {int(m)})"
                f" ELSE (_sub * _pw) div {int(m)} END"
            ),
        )
    )
    return b.groupBy(group_col, "_idx", "_lo").agg(
        F.count(F.lit(1)).cast("bigint").alias("_cnt")
    )


def ddsketch_merge(*sketches: DataFrame) -> DataFrame:
    """Merge DDSketch bucket tables (EXACT): union, then SUM counts per
    bucket key (every column except ``_cnt`` — works for both the
    one-sided ``(group, _idx, _lo)`` and the signed
    ``(group, _sign, _idx, _rv)`` layouts). By construction equals
    building one sketch over the union of the inputs — the property
    agg_ddsketch_merge proves against the one-shot oracle and
    test_ddsketch_merge_parity proves bit-identically in-process."""
    it = iter(sketches)
    out = next(it)
    for s in it:
        out = out.unionByName(s)
    gcols = [c for c in out.columns if c != "_cnt"]
    return out.groupBy(*gcols).agg(
        F.sum("_cnt").cast("bigint").alias("_cnt")
    )


def ddsketch_readout(
    sk: DataFrame,
    group_col: str,
    qs: tuple = ((1, 2), (9, 10), (99, 100)),
) -> DataFrame:
    """Quantile readout from an already-built (or merged) bucket table:
    for each quantile num/den, the bucket lower bound at rank
    ceil(q * n) — an all-integer answer within relative error 1/m of the
    true quantile. Ranks use integer arithmetic
    ((num*n + den - 1) div den), never a float multiply, so the readout
    is bit-identical across engines.

    Scale shape: the cumulative walk windows over the SKETCH (<= ~m*64
    rows per group), never the data.
    """
    from pyspark.sql import Window

    w = (
        Window.partitionBy(group_col)
        .orderBy("_idx")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = sk.withColumn("_cum", F.sum("_cnt").over(w))
    tot = sk.groupBy(group_col).agg(
        F.sum("_cnt").cast("bigint").alias("n"),
        F.count(F.lit(1)).cast("bigint").alias("n_buckets"),
    )
    j = cum.join(tot, group_col)
    aggs = []
    for num, den in qs:
        rank = F.expr(f"({num} * n + {den} - 1) div {den}")
        tag = f"p{100 * num // den}"
        aggs.append(
            F.min(F.when(F.col("_cum") >= rank, F.col("_lo")))
            .cast("bigint")
            .alias(f"{tag}_lo")
        )
    return (
        j.groupBy(group_col, "n", "n_buckets")
        .agg(*aggs)
        .orderBy(group_col)
    )


def ddsketch_quantiles(
    df: DataFrame,
    group_col: str,
    value_col: Column | str,
    m: int = 32,
    qs: tuple = ((1, 2), (9, 10), (99, 100)),
) -> DataFrame:
    """Build the DDSketch over ``df`` and read off the quantiles — the
    one-shot convenience over :func:`ddsketch_buckets` +
    :func:`ddsketch_readout` (micro-batch / sharded consumers call the
    two halves directly and merge in between)."""
    return ddsketch_readout(
        ddsketch_buckets(df, group_col, value_col, m=m), group_col, qs=qs
    )


def ddsketch_buckets_signed(
    df: DataFrame,
    group_col: str,
    value_col: Column | str,
    m: int = 32,
) -> DataFrame:
    """Two-sided DDSketch over a SIGNED integer value column (VERDICT
    r11 #3b): the one-sided :func:`ddsketch_buckets` rejects v < 1, so
    latency deltas / money deltas / drift scores could not use it. This
    variant keeps three stores, exactly as Masson et al. describe for
    signed data: negative octaves (bucketed on |v|, mirrored), a zero
    bucket, and positive octaves.

    Per row: ``sign`` = 1 for v >= 1, -1 for v <= -1, else 0; for
    sign != 0 the magnitude |v| buckets with the SAME all-integer
    overflow-safe octave math as the one-sided sketch (m asserted a
    power of two); the representative value ``_rv`` = sign * lo carries
    the sign, so any rank readout has relative error <= 1/m on
    magnitude. Values in (-1, 1) — exactly v = 0 for integer inputs —
    land in the zero bucket (sign 0, idx 0, _rv 0: EXACT).

    State: (group, _sign, _idx, _rv) -> _cnt, at most |groups| *
    (2*m*64 + 1) rows regardless of input size, additively mergeable by
    :func:`ddsketch_merge` (merge == one-shot EXACTLY, same law as the
    one-sided sketch). Readout via :func:`ddsketch_readout_signed`:
    ``_rv`` is monotone nondecreasing along the (sign, sign*idx) walk
    order — negatives by descending magnitude, then zero, then
    positives by ascending magnitude.
    """
    assert m >= 1 and (m & (m - 1)) == 0, "m must be a power of two"
    vc = F.col(value_col) if isinstance(value_col, str) else value_col
    b = (
        df.select(F.col(group_col), vc.cast("bigint").alias("_v"))
        .withColumn(
            "_sign",
            F.when(F.col("_v") >= 1, F.lit(1))
            .when(F.col("_v") <= -1, F.lit(-1))
            .otherwise(F.lit(0))
            .cast("int"),
        )
        .withColumn("_a", F.abs(F.col("_v")))
        .withColumn(
            "_e",
            F.when(F.col("_sign") == 0, F.lit(0)).otherwise(
                F.length(F.bin(F.col("_a"))) - F.lit(1)
            ),
        )
        .withColumn(
            "_pw", F.expr("shiftleft(CAST(1 AS BIGINT), CAST(_e AS INT))")
        )
        .withColumn(
            "_sub",
            F.when(F.col("_sign") == 0, F.lit(0).cast("bigint")).otherwise(
                F.expr(
                    f"CASE WHEN _pw >= {int(m)}"
                    f" THEN (_a - _pw) div (_pw div {int(m)})"
                    f" ELSE ((_a - _pw) * {int(m)}) div _pw END"
                )
            ),
        )
        .withColumn(
            "_idx",
            F.when(F.col("_sign") == 0, F.lit(0).cast("bigint")).otherwise(
                F.col("_e").cast("bigint") * int(m) + F.col("_sub")
            ),
        )
        .withColumn(
            "_rv",
            F.when(F.col("_sign") == 0, F.lit(0).cast("bigint")).otherwise(
                F.col("_sign")
                * F.expr(
                    f"_pw + CASE WHEN _pw >= {int(m)}"
                    f" THEN _sub * (_pw div {int(m)})"
                    f" ELSE (_sub * _pw) div {int(m)} END"
                )
            ).cast("bigint"),
        )
    )
    return b.groupBy(group_col, "_sign", "_idx", "_rv").agg(
        F.count(F.lit(1)).cast("bigint").alias("_cnt")
    )


def ddsketch_readout_signed(
    sk: DataFrame,
    group_col: str,
    qs: tuple = ((1, 10), (1, 2), (9, 10)),
) -> DataFrame:
    """Quantile readout from a signed sketch: the cumulative walk orders
    buckets by ``(_sign, _sign * _idx)`` — most-negative first, zero
    bucket, then positives — along which ``_rv`` is monotone
    nondecreasing, so the value at integer rank ceil(q*n) is
    MIN(_rv WHERE cum >= rank), exactly as in the one-sided readout.
    Also emits per-sign counts (n_neg / n_zero / n_pos). All integer;
    the walk windows over the SKETCH (<= ~2*m*64+1 rows per group),
    never the data."""
    from pyspark.sql import Window

    w = (
        Window.partitionBy(group_col)
        .orderBy("_sign", F.col("_sign") * F.col("_idx"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = sk.withColumn("_cum", F.sum("_cnt").over(w))
    tot = sk.groupBy(group_col).agg(
        F.sum("_cnt").cast("bigint").alias("n"),
        F.sum(F.when(F.col("_sign") == -1, F.col("_cnt")).otherwise(0))
        .cast("bigint")
        .alias("n_neg"),
        F.sum(F.when(F.col("_sign") == 0, F.col("_cnt")).otherwise(0))
        .cast("bigint")
        .alias("n_zero"),
        F.sum(F.when(F.col("_sign") == 1, F.col("_cnt")).otherwise(0))
        .cast("bigint")
        .alias("n_pos"),
    )
    j = cum.join(tot, group_col)
    aggs = []
    for num, den in qs:
        rank = F.expr(f"({num} * n + {den} - 1) div {den}")
        tag = f"p{100 * num // den}"
        aggs.append(
            F.min(F.when(F.col("_cum") >= rank, F.col("_rv")))
            .cast("bigint")
            .alias(f"{tag}_rv")
        )
    return (
        j.groupBy(group_col, "n", "n_neg", "n_zero", "n_pos")
        .agg(*aggs)
        .orderBy(group_col)
    )


#: 2^48 — the denominator scale of the md5-derived uniform in
#: :func:`priority_sample`: u = (first 12 md5 hex digits + 1) / 2^48.
_PRI_SCALE = float(1 << 48)


def priority_sample(
    df: DataFrame,
    group_col: str,
    id_col: str,
    weight_col: Column | str,
    k: int = 32,
    n_shards: int = 16,
) -> DataFrame:
    """Per-group PRIORITY SAMPLE of size k (Duffield, Lund & Thorup,
    "Priority sampling for estimation of arbitrary subset sums", JACM
    2007) — the WEIGHTED mergeable sibling of :func:`bottomk_sample`
    (VERDICT r11 #3a): every row draws a deterministic uniform
    u = (md5(id)[0:12] + 1) / 2^48 in (0, 1] and gets priority
    p = w / u; the k highest-priority rows are the sample, the (k+1)-th
    priority is the THRESHOLD tau, and w_hat = max(w, tau) is the
    Horvitz-Thompson-style unbiased subset-sum estimator (sum of w_hat
    over sampled members of any subset estimates that subset's true
    weight, with zero covariance between distinct items). This is how a
    mixture-rebalancing pipeline ships a weighted corpus sample whose
    per-source token totals remain estimable after the fact.

    MERGEABLE: p is a pure per-row function, so the top-(k+1) of a
    union is the top-(k+1) of the concatenated per-shard top-(k+1)
    states — shard samples roll up without re-reading data (the law
    sample_weighted_priority_merge proves through the driver).

    DETERMINISM: p = (w_double * 2^48) / u_int_double uses one IEEE
    multiply and one IEEE divide on integer-valued doubles — both
    correctly-rounded single operations, bit-identical on any IEEE-754
    engine (the hazard class this suite guards against is ORDER-dependent
    float folds and libm transcendentals, neither of which appears
    here). Ties on p break by id descending, so the sample is a pure
    function of the data.

    Scale shape: rows reduce to a per-(group, md5-shard) top-(k+1) with
    a window over shard-bounded partitions, then the <= n_shards*(k+1)
    survivors per group merge to the final top-(k+1) — no window ever
    sees a whole group (the bottomk_sample two-level pattern).

    Returns the k sampled rows per group: (group, id, weight w, _p raw
    priority, _rank 1..k, _tau threshold in weight units, _w_hat).
    Groups with <= k rows keep all rows with tau = 0 and w_hat = w.
    """
    from pyspark.sql import Window

    wc = F.col(weight_col) if isinstance(weight_col, str) else weight_col
    h = F.md5(F.col(id_col).cast("string").cast("binary"))
    u = F.conv(F.substring(h, 1, 12), 16, 10).cast("bigint") + F.lit(1)
    p = (wc.cast("double") * F.lit(_PRI_SCALE)) / u.cast("double")
    shard = F.conv(F.substring(h, 29, 4), 16, 10).cast("bigint") % n_shards
    base = df.select(
        F.col(group_col),
        F.col(id_col),
        wc.cast("bigint").alias("_w"),
        p.alias("_p"),
        shard.alias("_shard"),
    )
    w1 = Window.partitionBy(group_col, "_shard").orderBy(
        F.col("_p").desc(), F.col(id_col).desc()
    )
    lvl1 = (
        base.withColumn("_rn", F.row_number().over(w1))
        .filter(F.col("_rn") <= k + 1)
        .drop("_rn", "_shard")
    )
    return priority_resample(lvl1, group_col, id_col, k=k)


def priority_state(
    df: DataFrame,
    group_col: str,
    id_col: str,
    weight_col: Column | str,
    k: int = 32,
    n_shards: int = 16,
) -> DataFrame:
    """The MERGEABLE state of :func:`priority_sample`: the per-group
    top-(k+1) rows by priority, as ``(group, id, _w, _p)`` — any union
    of such states re-reduced by :func:`priority_resample` equals the
    one-shot sample over the union of the inputs (every row of the
    union's top-(k+1) is necessarily in its own shard's top-(k+1)).
    Same two-level window shape as :func:`priority_sample` itself."""
    from pyspark.sql import Window

    wc = F.col(weight_col) if isinstance(weight_col, str) else weight_col
    h = F.md5(F.col(id_col).cast("string").cast("binary"))
    u = F.conv(F.substring(h, 1, 12), 16, 10).cast("bigint") + F.lit(1)
    p = (wc.cast("double") * F.lit(_PRI_SCALE)) / u.cast("double")
    shard = F.conv(F.substring(h, 29, 4), 16, 10).cast("bigint") % n_shards
    base = df.select(
        F.col(group_col),
        F.col(id_col),
        wc.cast("bigint").alias("_w"),
        p.alias("_p"),
        shard.alias("_shard"),
    )
    w1 = Window.partitionBy(group_col, "_shard").orderBy(
        F.col("_p").desc(), F.col(id_col).desc()
    )
    w2 = Window.partitionBy(group_col).orderBy(
        F.col("_p").desc(), F.col(id_col).desc()
    )
    return (
        base.withColumn("_rn", F.row_number().over(w1))
        .filter(F.col("_rn") <= k + 1)
        .drop("_rn", "_shard")
        .withColumn("_rn", F.row_number().over(w2))
        .filter(F.col("_rn") <= k + 1)
        .drop("_rn")
    )


def priority_resample(
    state: DataFrame, group_col: str, id_col: str, k: int = 32
) -> DataFrame:
    """Final (or merge-time) top-(k+1) reduction over priority-sample
    STATE rows ``(group, id, _w, _p)`` — the merge half of
    :func:`priority_sample`: union any number of per-shard states and
    re-rank. Emits ranks 1..k plus the threshold/estimator columns."""
    from pyspark.sql import Window

    w2 = Window.partitionBy(group_col).orderBy(
        F.col("_p").desc(), F.col(id_col).desc()
    )
    ranked = state.select(
        group_col, id_col, "_w", "_p"
    ).withColumn("_rank", F.row_number().over(w2))
    # p = w * 2^48 / u_int == w / (u_int / 2^48) is ALREADY in weight
    # units, so the threshold is the (k+1)-th priority itself.
    tau = (
        ranked.filter(F.col("_rank") == k + 1)
        .select(group_col, F.col("_p").alias("_tau"))
    )
    return (
        ranked.filter(F.col("_rank") <= k)
        .join(tau, group_col, "left")
        .withColumn("_tau", F.coalesce(F.col("_tau"), F.lit(0.0)))
        .withColumn(
            "_w_hat", F.greatest(F.col("_w").cast("double"), F.col("_tau"))
        )
    )


_KMV_SPACE = 1 << 48  # md5-prefix hash space: u48 = first 12 hex chars


def kmv_hash(key: Column | str) -> Column:
    """The 48-bit md5-prefix hash used by the KMV/theta sketch family —
    same recipe as every other deterministic hash in this package
    (md5 of the key's string rendering, first 12 hex chars as BIGINT),
    so the sketch is a pure function of the data and exactly
    oracle-checkable."""
    kc = F.col(key) if isinstance(key, str) else key
    h = F.md5(kc.cast("string").cast("binary"))
    return F.conv(F.substring(h, 1, 12), 16, 10).cast("bigint")


def kmv_sketch(
    df: DataFrame,
    group_cols: list[str],
    key_col: Column | str,
    k: int = 128,
    n_shards: int = 64,
) -> DataFrame:
    """Per-group KMV (k-minimum-values / theta) sketch: the ``k``
    smallest DISTINCT 48-bit hashes of ``key_col`` per group, as rows
    ``(group..., h, rank)`` — the bounded summary that supports
    distinct-count estimation AND, unlike HLL, set-operation estimates
    (intersection / Jaccard between two groups share a comparable hash
    sample below the pairwise theta).

    Scale shape: the DISTINCT on (group, h) partially combines map-side
    (each map partition emits each (group, hash) once), then the rank
    reduction is the bottomk two-level pattern — a window over
    (group, h % n_shards) shard-bounded partitions keeps ``k`` per
    shard, and the <= n_shards*k survivors per group rank to the final
    k. No window ever sees a whole group. States MERGE by union +
    re-rank (the k smallest of a union are the k smallest of the
    concatenated per-shard k-smallest) — kmv_merge_rank is that half.
    """
    from pyspark.sql import Window

    d = df.select(
        *[F.col(g) for g in group_cols], kmv_hash(key_col).alias("h")
    ).distinct()
    w1 = Window.partitionBy(*group_cols, "_shard").orderBy("h")
    lvl1 = (
        d.withColumn("_shard", F.col("h") % n_shards)
        .withColumn("_rn", F.row_number().over(w1))
        .filter(F.col("_rn") <= k)
        .drop("_rn", "_shard")
    )
    w2 = Window.partitionBy(*group_cols).orderBy("h")
    return (
        lvl1.withColumn("rank", F.row_number().over(w2))
        .filter(F.col("rank") <= k)
    )


def kmv_merge_rank(
    states: DataFrame, group_cols: list[str], k: int = 128
) -> DataFrame:
    """Merge half of :func:`kmv_sketch`: union any number of per-shard
    sketch states ``(group..., h)`` (distinct hashes), re-rank, keep the
    k smallest per group. The input is <= shards*k rows per group, so
    the single rank window runs over a bounded frame."""
    from pyspark.sql import Window

    w = Window.partitionBy(*group_cols).orderBy("h")
    return (
        states.select(*group_cols, "h")
        .distinct()
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def kmv_theta_summary(
    sketch: DataFrame, group_cols: list[str], k: int = 128
) -> DataFrame:
    """Distinct-count readout of a KMV sketch: per group, the sketch
    size, theta (the k-th minimum hash when the sketch is FULL, else
    the whole hash space), and the estimate n_sk * 2^48 / theta —
    exact (= n_sk) for groups with fewer than k distinct keys, a
    single-IEEE-divide estimate otherwise."""
    agg = sketch.groupBy(*group_cols).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_sk"),
        F.max("h").alias("_mx"),
    )
    theta = F.when(
        F.col("n_sk") >= k, F.col("_mx")
    ).otherwise(F.lit(_KMV_SPACE))
    return agg.withColumn("theta", theta).drop("_mx")
