"""Frequency sketches: count-min tables and heavy-hitter estimation.

Why a sketch when ``groupBy(col).count()`` is one shuffle anyway: the
exact rollup's STATE is one row per distinct value — unbounded on a
100 TB key column — while a count-min table is a fixed d×w counter
grid.  Map-side partial aggregation collapses every task's
contribution to at most d·w rows before the shuffle, so the shuffle
and the result are both O(d·w) regardless of data size or
cardinality; point estimates then cost a broadcast probe.  The
classic Cormode–Muthukrishnan guarantee: estimates never
undercount, and overcount by more than εN with probability at most δ
for w = ⌈e/ε⌉, d = ⌈ln 1/δ⌉.

Engine-replayable discipline: bucket hashes are md5-derived (the
``sampling.hash_uniform`` trick), so a SQL oracle replays the whole
table and the min-over-rows estimate byte for byte — estimator
CALIBRATION (estimate vs exact, certified in-result) follows the
``ds_minhash_estimate`` pattern.

Reference scope note: the reference library has no sketch surface;
this is the large-scale pipeline layer (SURVEY.md §2.9).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = [
    "cms_bucket",
    "cms_table",
    "cms_estimate",
    "cms_merge",
    "hll_table",
    "hll_estimate",
    "hll_merge",
    "bloom_bits",
    "bloom_contains",
    "bloom_merge",
    "bloom_semi_join",
    "hdr_table",
    "hdr_merge",
    "hdr_quantiles",
]


def cms_bucket(col: Column, seed: Column, width: int) -> Column:
    """Row-r bucket for a value: first 8 md5 hex chars of
    ``seed|value`` as an integer, mod width — uniform, deterministic,
    and replayable as ANSI SQL."""
    h = F.md5(F.concat(seed.cast("string"), F.lit("|"), col.cast("string")))
    return (F.conv(F.substring(h, 1, 8), 16, 10).cast("bigint") % width)


def cms_table(df: DataFrame, col: str, depth: int = 4,
              width: int = 1024) -> DataFrame:
    """The d×w counter grid: (row, bucket, n).  ONE exploded
    aggregation — each input row emits ``depth`` (row, bucket) pairs,
    map-side combine collapses them to ≤ d·w rows per task, and the
    shuffle moves counters, not data.  NULLs are excluded (a NULL
    key has no frequency)."""
    seeds = F.explode(F.array(*[F.lit(i) for i in range(depth)]))
    ex = (df.where(F.col(col).isNotNull())
          .select(seeds.alias("_row"), F.col(col).alias("_v")))
    return (ex.groupBy(
        "_row", cms_bucket(F.col("_v"), F.col("_row"), width).alias("_bucket"))
        .agg(F.count(F.lit(1)).alias("n")))


def cms_estimate(table: DataFrame, items: DataFrame, col: str,
                 depth: int = 4, width: int = 1024) -> DataFrame:
    """Point estimates for ``items[col]``: probe each of the d rows'
    buckets and take the MIN counter — never an undercount.  The
    (small, by contract) item set cross-joins the d seeds and
    broadcasts onto the d×w table; returns (col, est) with est = 0
    for never-seen items (their buckets may be absent from the
    table)."""
    seeds = F.explode(F.array(*[F.lit(i) for i in range(depth)]))
    probes = (items.select(F.col(col).alias("_v"))
              .distinct()
              .select("_v", seeds.alias("_row"))
              .withColumn("_bucket",
                          cms_bucket(F.col("_v"), F.col("_row"), width)))
    joined = probes.join(table, ["_row", "_bucket"], "left").select(
        "_v", F.coalesce("n", F.lit(0)).alias("_n"))
    return (joined.groupBy("_v")
            .agg(F.min("_n").alias("est"))
            .select(F.col("_v").alias(col), "est"))


def cms_merge(*tables: DataFrame) -> DataFrame:
    """Merge count-min tables built with the SAME (depth, width):
    counters add cell-wise.  This linearity is the operational point
    of sketching — per-shard / per-day tables combine into a global
    one without touching the data again (estimate(merged) ==
    estimate(concatenated inputs), exactly, because both sides sum
    the same counters).  One union + one d·w-bounded rollup."""
    out = tables[0]
    for t in tables[1:]:
        out = out.unionByName(t)
    return out.groupBy("_row", "_bucket").agg(F.sum("n").alias("n"))


# -- HyperLogLog ----------------------------------------------------------
#
# The distinct-count companion to count-min (Flajolet et al. 2007
# "HyperLogLog: the analysis of a near-optimal cardinality estimation
# algorithm", AofA): per md5-derived bucket, the maximum count of
# leading zero bits in the hash suffix; the harmonic mean of 2^-M_j
# across m = 2^p buckets estimates cardinality with ~1.04/sqrt(m)
# relative error in O(m) state.  Exactly the 100 TB shape: the
# per-bucket max is one map-side-combining aggregation (state m rows,
# never |distinct|), merges are per-bucket max (sharding/daily-rollup
# friendly), and everything up to the final estimate is INTEGER
# arithmetic an ANSI-SQL oracle replays byte for byte:
#
# * bucket = first 2 md5 hex chars (p = 8, m = 256);
# * suffix = next 15 hex chars (60 bits, fits signed int64);
# * rho = leading-zeros-in-60-bits + 1 = 60 - bitlength(suffix) + 1,
#   computed via the base-2 string length (Spark conv(_,16,2) /
#   DuckDB bin()) — live-verified bit-identical across engines;
# * the harmonic sum is kept EXACT: sum_j 2^-M_j is scaled by 2^61
#   into Σ 2^(61-M_j), each term a BIGINT, summed as DECIMAL(38,0)
#   (the sum overflows int64 at ~2^69) — no float accumulation, per
#   the midpoint rule.  Only the final one-division estimate (and the
#   small-range linear-counting ln()) is floating point, rounded in
#   gate outputs.

HLL_P = 8
HLL_M = 1 << HLL_P  # 256 buckets
# alpha_m * m^2 for m = 256 (Flajolet et al. §4); the 2^61 factor
# un-scales the exact integer harmonic sum.  One literal shared by
# the Spark expression and the SQL oracle so both engines divide the
# same constant.
HLL_ALPHA_M2 = 0.7213 / (1.0 + 1.079 / HLL_M) * HLL_M * HLL_M


def _hll_parts(col: Column) -> tuple[Column, Column]:
    h = F.md5(col.cast("string"))
    bucket = F.conv(F.substring(h, 1, 2), 16, 10).cast("int")
    suffix_hex = F.substring(h, 3, 15)
    suffix = F.conv(suffix_hex, 16, 10).cast("long")
    rho = F.when(suffix == 0, F.lit(61)).otherwise(
        F.lit(61) - F.length(F.conv(suffix_hex, 16, 2)))
    return bucket, rho.cast("int")


def hll_table(df: DataFrame, col: str,
              by: list[str] | None = None) -> DataFrame:
    """(*by, bucket, max_rho) — ≤ 256 rows PER GROUP whatever the
    input size (``by`` gives per-key sketches: distinct users per
    source/day, the production grouped form — the hdr_table
    convention).  NULLs are excluded (a NULL key is not a value)."""
    groups = list(by or [])
    bucket, rho = _hll_parts(F.col(col))
    return (df.where(F.col(col).isNotNull())
            .select(*groups, bucket.alias("bucket"), rho.alias("_rho"))
            .groupBy(*groups, "bucket").agg(F.max("_rho").alias("max_rho")))


def hll_merge(*tables: DataFrame, by: list[str] | None = None) -> DataFrame:
    """Union + per-bucket max: the sketch of a union of datasets —
    shard daily, merge for the global count (the cms_merge twin).
    Pass the same ``by`` the tables were built with."""
    from functools import reduce

    groups = list(by or [])
    u = reduce(lambda a, b: a.unionByName(b), tables)
    return (u.groupBy(*groups, "bucket")
            .agg(F.max("max_rho").alias("max_rho")))


def hll_estimate(table: DataFrame,
                 by: list[str] | None = None) -> DataFrame:
    """(*by, est_distinct double) rows from a :func:`hll_table` —
    one row per group (one total row without ``by``).

    The raw estimate is ``HLL_ALPHA_M2 * 2^61 / D`` where
    D = zeros·2^61 + Σ_nonzero 2^(61 - M_j) — exact DECIMAL(38,0)
    integer arithmetic (no float accumulation), one deterministic
    division at the end.  Small-range correction (E ≤ 2.5 m with
    empty buckets): linear counting ``m · ln(m / zeros)`` — the one
    libm call, so gate outputs must round (the idf discipline)."""
    groups = list(by or [])
    agg = table.groupBy(*groups).agg(
        F.count(F.lit(1)).alias("_nz"),
        F.coalesce(
            # shiftleft with a COLUMN bit count needs the SQL form
            # (the python F.shiftleft signature takes a literal int)
            F.sum(F.expr("CAST(shiftleft(1L, 61 - max_rho) "
                         "AS DECIMAL(38,0))")),
            F.lit(0).cast("decimal(38,0)")).alias("_num"),
    )
    zeros = F.lit(HLL_M) - F.col("_nz")
    d = (zeros.cast("decimal(38,0)")
         * F.lit(1 << 61).cast("decimal(38,0)") + F.col("_num"))
    raw = F.lit(HLL_ALPHA_M2 * 2.0 ** 61) / d.cast("double")
    lin = F.lit(float(HLL_M)) * F.log(F.lit(float(HLL_M))
                                      / zeros.cast("double"))
    est = F.when((zeros > 0) & (raw <= 2.5 * HLL_M), lin).otherwise(raw)
    return agg.select(*groups, est.alias("est_distinct"))


# -- Bloom filter ---------------------------------------------------------
#
# The membership companion (Bloom 1970): k md5-derived bit positions
# per key over an m-bit space; a probe whose k bits are all set is a
# MAYBE-member (false positives at ~(1-e^{-kn/m})^k), a probe with
# any clear bit is a DEFINITE non-member.  The "have we ingested
# this id/URL before" primitive for incremental pipelines where the
# exact seen-set is 100 TB-shaped but the bit set is O(m).
#
# Representation: a DataFrame of DISTINCT set bit positions — at
# most m rows, exactly the form a SQL oracle replays and a daily
# shard merge unions.  Probes are a left semi/anti join per hash
# row, aggregated to all-k-present.


def bloom_bits(df: DataFrame, col: str, n_bits: int = 1 << 20,
               k: int = 7) -> DataFrame:
    """(bit) — the distinct set positions for every non-NULL key.
    One exploded aggregation (k rows per key collapse map-side)."""
    seeds = F.explode(F.array(*[F.lit(i) for i in range(k)]))
    ex = (df.where(F.col(col).isNotNull())
          .select(seeds.alias("_s"), F.col(col).alias("_v")))
    return (ex.select(cms_bucket(F.col("_v"), F.col("_s"), n_bits)
                      .alias("bit"))
            .distinct())


def bloom_contains(bits: DataFrame, items: DataFrame, col: str,
                   n_bits: int = 1 << 20, k: int = 7) -> DataFrame:
    """(item-columns…, maybe_member) — True iff all ``k`` of the
    item's bit positions are set.  The bit table broadcasts (m bits
    → at most m rows, by-contract small next to the corpus); the
    probe is a map-side join + an all-present rollup per item."""
    seeds = F.explode(F.array(*[F.lit(i) for i in range(k)]))
    probes = (items.select(F.col(col).alias("_v")).distinct()
              .select("_v", seeds.alias("_s")))
    probed = probes.select(
        "_v", cms_bucket(F.col("_v"), F.col("_s"), n_bits).alias("bit"))
    hit = probed.join(F.broadcast(bits), "bit", "left_semi") \
        .groupBy("_v").agg(F.count(F.lit(1)).alias("_hits"))
    return (items.select(F.col(col).alias("_v")).distinct()
            .join(hit, "_v", "left")
            .select(F.col("_v").alias(col),
                    (F.coalesce("_hits", F.lit(0)) == k)
                    .alias("maybe_member")))


def bloom_merge(*filters: DataFrame) -> DataFrame:
    """Union of set-bit tables = the filter of the data union —
    shard daily, merge global (the cms_merge / hll_merge twin)."""
    from functools import reduce

    u = reduce(lambda a, b: a.unionByName(b), filters)
    return u.distinct()


# -- HDR / DDSketch-style quantile histogram ------------------------------
#
# The quantile companion (Tene's HdrHistogram; same guarantee family
# as Datadog's DDSketch, Masson et al. 2019 — both public): bucket a
# positive integer measure by its most-significant bit plus the next
# ``sub_bits`` bits, i.e. log2 octaves split into 2^sub_bits
# sub-buckets.  With s = sub_bits = 3 a bucket's width is at most
# 1/8 of its lower bound, so any rank-based quantile read from the
# bucket table is within 12.5% relative error of the true value —
# DETERMINISTICALLY, with zero floats anywhere (the reason this
# shape was chosen over GK/KLL, whose sketches depend on partition
# order and cannot be replayed by a SQL oracle or hash-gated).
#
# Exactly the 100 TB shape: state is ≤ 64·2^s rows whatever the
# input (map-side combine bounds the shuffle the same way), merges
# are per-bucket count sums, and quantile extraction is a running
# sum over the BOUNDED bucket table (a one-task window over ≤ 512
# rows by construction — not a data-sized window).
#
# Bucketing (v > 0, s = sub_bits):
#   shift = max(bit_length(v) - (s+1), 0)   # octave below 2^(s+1) is exact
#   top   = v >> shift                      # in [2^s, 2^(s+1)) once shifted
#   lb    = top << shift                    # bucket lower bound: lb ≤ v < lb + 2^shift
# bit_length via the base-2 string length (Spark conv(hex,16,2) /
# DuckDB bin()) — the HLL-verified cross-engine-identical trick.


def _bit_length(col: Column) -> Column:
    return F.length(F.conv(F.hex(col), 16, 2))


def hdr_table(df: DataFrame, col: str, sub_bits: int = 3,
              by: list[str] | None = None) -> DataFrame:
    """(*by, shift, top, lb, n) bucket table over a POSITIVE integer
    column — ≤ 64·2^sub_bits rows PER GROUP whatever the input size
    (``by`` gives per-key sketches: per-source latency/length
    percentiles, the production grouped form).  NULLs excluded;
    non-positive values raise inside the plan (the pack_streaming
    raise_error discipline: a silent drop would skew every rank
    downstream)."""
    groups = list(by or [])
    v = F.when(F.col(col) > 0, F.col(col).cast("long")).otherwise(
        F.raise_error(F.lit(
            f"hdr_table: non-positive {col} values — the log bucket "
            "needs v > 0; shift or filter first")))
    shift = F.greatest(_bit_length(v) - F.lit(sub_bits + 1), F.lit(0))
    proj = df.where(F.col(col).isNotNull()).select(
        *groups, shift.cast("int").alias("_sh"), v.alias("_v"))
    top = F.expr("shiftright(_v, _sh)")
    return (proj.select(*groups, "_sh", top.alias("_top"))
            .groupBy(*groups, "_sh", "_top")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
            .select(*groups,
                    F.col("_sh").alias("shift"), F.col("_top").alias("top"),
                    F.expr("shiftleft(_top, _sh)").alias("lb"), "n"))


def hdr_merge(*tables: DataFrame, by: list[str] | None = None) -> DataFrame:
    """Union + per-bucket count sum: the sketch of a union of shards
    (the cms_merge / hll_merge twin).  Pass the same ``by`` the
    tables were built with."""
    from functools import reduce

    groups = list(by or [])
    u = reduce(lambda a, b: a.unionByName(b), tables)
    return (u.groupBy(*groups, "shift", "top", "lb")
            .agg(F.sum("n").cast("bigint").alias("n")))


def hdr_quantiles(table: DataFrame, qs: list[tuple[int, int]],
                  by: list[str] | None = None) -> DataFrame:
    """(*by, q_num, q_den, n, est) rows from a :func:`hdr_table`:
    est is the lower bound of the bucket holding the ⌈q·n⌉-th
    smallest value (per group when ``by`` is given), so
    est ≤ true quantile < est + est/2^sub_bits.  Ranks are exact
    integers: the threshold is ⌈q_num·n/q_den⌉ computed as
    (q_num·n + q_den − 1) div q_den — no float ever appears.  The
    running sum is a window over the bounded bucket table (≤ 512
    rows per group by construction — a grouped window over bounded
    partitions, never data-sized)."""
    from pyspark.sql import Window

    from ..sources.tables import local_frame

    groups = list(by or [])
    spark = table.sparkSession
    cum = table.withColumn(
        "_c", F.sum("n").over(
            Window.partitionBy(*groups).orderBy("lb")
            .rowsBetween(Window.unboundedPreceding, 0)))
    tot = table.groupBy(*groups).agg(F.sum("n").cast("bigint").alias("_n"))
    qdf = local_frame(spark, qs, "q_num bigint, q_den bigint")
    if groups:
        joined = cum.join(F.broadcast(tot), groups)
    else:
        joined = cum.crossJoin(F.broadcast(tot))
    # exact integer ceil-division (SQL div; never a float quotient)
    thresh = F.expr("(q_num * _n + q_den - 1) div q_den")
    return (joined.crossJoin(F.broadcast(qdf))
            .groupBy(*groups, "q_num", "q_den")
            .agg(F.max("_n").alias("n"),
                 F.min(F.when(F.col("_c") >= thresh, F.col("lb")))
                 .cast("bigint").alias("est")))


def bloom_semi_join(big: DataFrame, small: DataFrame, key: str,
                    n_bits: int = 1 << 20, k: int = 7,
                    confirm: bool = True) -> DataFrame:
    """Runtime Bloom pre-filter for a semi join (the engine-level
    "runtime filter" / sideways-information-passing trick, done as a
    library op): the small side's keys build an m-bit filter (one
    exploded agg, ≤m distinct set bits), the bitmask ships as ONE
    packed array<bigint> literal (m/64 words — a single Literal node,
    no codegen blowup), and the BIG side drops definite non-members
    MAP-SIDE with k pure-JVM hash probes BEFORE anything shuffles.
    ``confirm=True`` (default) follows with the exact left-semi join,
    so the Bloom stage is semantically invisible — it only shrinks
    the exact join's probe volume by the non-member fraction (at
    100 TB, shuffle bytes are the bill; fpp ≈ (1−e^{−kn/m})^k is the
    residual).  ``confirm=False`` returns the MAYBE superset — the
    streaming "seen before?" primitive.  NULL big-side keys never
    survive (matching semi-join semantics).  Precondition: the small
    side is genuinely small (its DISTINCT bit table collects —
    ≤ min(k·|small|, m) positions)."""
    bits = bloom_bits(small, key, n_bits, k).collect()
    n_words = (n_bits + 63) // 64
    words = [0] * n_words
    for r in bits:
        b = int(r["bit"])
        words[b >> 6] |= 1 << (b & 63)
    # int64-signed view of the raw word bits (lit() range contract)
    words = [w - (1 << 64) if w >= (1 << 63) else w for w in words]
    out = big.withColumn("_bsj_w", F.lit(words))
    cond = F.lit(True)
    probes = []
    for s in range(k):
        p = f"_bsj_p{s}"
        probes.append(p)
        out = out.withColumn(p, cms_bucket(F.col(key), F.lit(s), n_bits))
        # SQL shiftright accepts COLUMN bit counts (the Python
        # F.shiftright does not — the r5 gotcha); sign-extension is
        # irrelevant, only the lowest bit is read
        cond = cond & F.expr(
            f"(shiftright(element_at(_bsj_w, "
            f"cast(shiftright({p}, 6) as int) + 1), "
            f"cast(pmod({p}, 64) as int)) & 1) = 1")
    filtered = out.where(cond).drop("_bsj_w", *probes)
    if confirm:
        return filtered.join(small.select(key).distinct(), key,
                             "left_semi")
    return filtered
