"""Mergeable cardinality / frequency sketches over key columns.

At 100 TB, "how many distinct users per day, and across any day range?"
cannot be answered by re-scanning: the scale answer is a tiny MERGEABLE
sketch table per partition/day, combined associatively at query time.
The reference's profiling stops at exact per-batch counts
(cf. /root/reference/src/quality/data_profiler.py); these ops add the
sketch layer a hypertable-style rollup stores alongside its aggregates:

- HyperLogLog register tables (``hll_registers`` / ``hll_merge`` /
  ``hll_estimate``): m integer registers, merge = groupBy(register).max,
  estimate from the harmonic mean — O(m) state per sketch.
- K-minimum-values (``kmv_sketch`` / ``kmv_merge`` / ``kmv_estimate``):
  the k smallest distinct hash values; merge = union → re-take-k;
  global top-k compiles to TakeOrderedAndProject (no full sort).
- Count–min (``countmin_sketch`` / ``countmin_merge`` /
  ``countmin_query``): depth×width counter grid, merge = groupBy.sum,
  point frequency estimate = min over rows — never underestimates.

Everything is deterministic arithmetic on a PORTABLE 32-bit mix hash
(multiply–xor–shift in plain integer ops) rather than an engine-native
hash, so a DuckDB oracle replays every sketch bit-for-bit — and so two
DIFFERENT engines can build sketches that merge together, which is
exactly the property a cross-system ingest pipeline needs. All sums
over register/counter state are exact (integers, or dyadic 2^-k doubles
that are closed under addition at these magnitudes) — merge-order
independent by construction.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Knuth multiplicative constant and a 32-bit finalizer constant; the
# pipeline below stays inside int64 (max intermediate 2^31·2654435761
# ≈ 5.7e18 < 2^63) so BOTH engines evaluate it in plain BIGINT ops.
_MULT_A = 2654435761
_MULT_B = 73244475  # 0x45d9f3b
_M32 = 4294967296  # 2^32
_M31 = 2147483648  # 2^31


def hash32(col: Column) -> Column:
    """Portable 32-bit mix hash of a non-negative integer column:
    low-31-bit clamp → Knuth multiply → xor-shift → multiply →
    xor-shift. Every step is %/*/xor/shift on BIGINT, replayable in
    any SQL engine (the DuckDB oracle fragment is
    ``driver_keys/common.py::_hash32_cte_sql``)."""
    x = col.cast("long") % _M31
    h1 = (x * F.lit(_MULT_A)) % _M32
    h2 = (h1.bitwiseXOR(F.shiftright(h1, 16)) * F.lit(_MULT_B)) % _M32
    return h2.bitwiseXOR(F.shiftright(h2, 16))


def _check_m(m: int) -> int:
    if m < 16 or (m & (m - 1)) != 0:
        raise ValueError("m must be a power of two >= 16")
    b = m.bit_length() - 1
    if b > 20:
        raise ValueError("m too large (max 2^20 registers)")
    return b


def hll_registers(df: DataFrame, col: str, m: int = 64) -> DataFrame:
    """Build a HyperLogLog register table over a key column: register
    j = low log2(m) hash bits, rank = 1 + trailing zeros of the
    remaining bits (33 − log2(m) when they are all zero — the
    saturated rank).

    One row-scale groupBy(register); output is ≤ m rows — the sketch.
    Registers never touched by any key are absent (sparse form);
    :func:`hll_estimate` accounts for them. NULL keys are skipped.

    The trailing-zero rank uses the branch-free identity
    ``bit_count((w & -w) − 1)`` — pure JVM integer ops, no UDF.

    Output: (register int, max_rank int), ≤ m rows.
    """
    b = _check_m(m)
    h = hash32(F.col(col))
    base = df.where(F.col(col).isNotNull()).select(h.alias("__h"))
    w = F.shiftright(F.col("__h"), b)
    rho = F.when(w > 0, F.bit_count((w.bitwiseAND(-w)) - 1) + 1).otherwise(
        F.lit(33 - b)
    )
    return (
        base.select(
            (F.col("__h") % m).cast("int").alias("register"),
            rho.cast("int").alias("__rho"),
        )
        .groupBy("register")
        .agg(F.max("__rho").alias("max_rank"))
    )


def hll_merge(*tables: DataFrame) -> DataFrame:
    """Combine register tables built by :func:`hll_registers` (same m):
    union → groupBy(register).max — associative, commutative,
    idempotent, so per-day sketches roll up to any range."""
    if not tables:
        raise ValueError("need at least one register table")
    out = tables[0]
    for t in tables[1:]:
        out = out.unionByName(t)
    return out.groupBy("register").agg(
        F.max("max_rank").alias("max_rank")
    )


def hll_estimate(registers: DataFrame, m: int = 64) -> DataFrame:
    """Cardinality estimate from a (sparse) register table — the
    Flajolet et al. estimator with the standard small-range
    correction:

    E_raw = α_m · m² / (Σ 2^−rank + V), V = m − observed registers
    (each unseen register contributes 2⁻⁰ = 1);
    if E_raw ≤ 2.5m and V > 0: E = m·ln(m/V) (linear counting).

    The 2^−rank terms are dyadic doubles whose sum is EXACT at these
    magnitudes (≤ 33 significant bits), so the harmonic path is
    merge-order-independent; the ln() branch is rounded to 4dp (last-
    ulp libm variance sits far below that). One ≤ m-row aggregate.

    Output: 1 row — (m, observed, v_zero, regime, estimate 4dp).
    """
    _check_m(m)
    agg = registers.agg(
        F.count(F.lit(1)).alias("observed"),
        F.sum(F.pow(F.lit(0.5), F.col("max_rank"))).alias("__hsum"),
    )
    if m >= 128:
        alpha = 0.7213 / (1.0 + 1.079 / m)
    else:
        alpha = {16: 0.673, 32: 0.697, 64: 0.709}[m]
    v = F.lit(m) - F.col("observed")
    e_raw = F.lit(alpha * m * m) / (F.col("__hsum") + v.cast("double"))
    small = (e_raw <= 2.5 * m) & (v > 0)
    est = F.when(small, F.lit(float(m)) * F.log(F.lit(m) / v)).otherwise(
        e_raw
    )
    return agg.select(
        F.lit(m).alias("m"),
        F.col("observed").cast("long").alias("observed"),
        v.cast("long").alias("v_zero"),
        F.when(small, F.lit("linear")).otherwise(F.lit("raw")).alias(
            "regime"
        ),
        F.round(est, 4).alias("estimate"),
    )


def kmv_sketch(df: DataFrame, col: str, k: int = 256) -> DataFrame:
    """K-minimum-values sketch: the k smallest DISTINCT portable
    hashes of the key column. distinct → global ascending top-k,
    which Catalyst executes as TakeOrderedAndProject (per-partition
    heads + driver merge of k·partitions values — no full sort, no
    single-partition shuffle).

    Output: (pos 1..k, h) — pos by ascending hash; fewer rows when
    the column has < k distinct hash values.
    """
    if k < 16:
        raise ValueError("k must be >= 16")
    h = hash32(F.col(col))
    hashes = (
        df.where(F.col(col).isNotNull())
        .select(h.alias("h"))
        .distinct()
        .orderBy("h")
        .limit(k)
    )
    # k rows fit one partition: the row_number window is bounded post-agg
    from pyspark.sql import Window

    w = Window.orderBy("h")
    return hashes.select(
        F.row_number().over(w).alias("pos"), F.col("h")
    )


def kmv_merge(k: int, *sketches: DataFrame) -> DataFrame:
    """Combine KMV sketches: union of hash sets → re-take the k
    smallest (associative; duplicates collapse via distinct)."""
    if not sketches:
        raise ValueError("need at least one sketch")
    out = sketches[0].select("h")
    for s in sketches[1:]:
        out = out.unionByName(s.select("h"))
    from pyspark.sql import Window

    top = out.distinct().orderBy("h").limit(k)
    w = Window.orderBy("h")
    return top.select(F.row_number().over(w).alias("pos"), F.col("h"))


def kmv_estimate(sketch: DataFrame, k: int = 256) -> DataFrame:
    """Distinct-count estimate from a KMV sketch: when the sketch is
    saturated (k values present), D̂ = (k−1) · 2³² / h_k with h_k the
    k-th smallest hash; below saturation the sketch IS the distinct
    hash set, so the count is exact (up to 32-bit hash collisions).

    Output: 1 row — (k, n_values, kth_hash, regime, estimate 4dp).
    """
    agg = sketch.agg(
        F.count(F.lit(1)).alias("n_values"),
        F.max(F.when(F.col("pos") == k, F.col("h"))).alias("__hk"),
    )
    saturated = F.col("n_values") >= k
    est = F.when(
        saturated,
        F.lit(float(k - 1)) * F.lit(float(_M32)) / F.col("__hk"),
    ).otherwise(F.col("n_values").cast("double"))
    return agg.select(
        F.lit(k).alias("k"),
        F.col("n_values").cast("long").alias("n_values"),
        F.col("__hk").alias("kth_hash"),
        F.when(saturated, F.lit("estimate")).otherwise(F.lit("exact"))
        .alias("regime"),
        F.round(est, 4).alias("estimate"),
    )


def countmin_sketch(
    df: DataFrame, col: str, depth: int = 3, width: int = 256
) -> DataFrame:
    """Count–min sketch of key frequencies: ``depth`` independent
    hash rows (the portable mix hash salted by row index) × ``width``
    counters. One projection explodes each key into its ``depth``
    buckets, one groupBy((row, bucket)).count — output ≤ depth·width
    rows. Merge across partitions/days = groupBy.sum
    (:func:`countmin_merge`); estimates never undercount.

    Output: (row int, bucket int, cnt long).
    """
    if depth < 1 or width < 2:
        raise ValueError("depth >= 1 and width >= 2 required")
    base = df.where(F.col(col).isNotNull()).select(
        F.col(col).cast("long").alias("__x")
    )
    rows = []
    for d in range(depth):
        h = hash32(F.col("__x") + F.lit(d * 40503)) % width
        rows.append(
            base.select(
                F.lit(d).alias("row"), h.cast("int").alias("bucket")
            )
        )
    exploded = rows[0]
    for r in rows[1:]:
        exploded = exploded.unionByName(r)
    return exploded.groupBy("row", "bucket").agg(
        F.count(F.lit(1)).alias("cnt")
    )


def countmin_merge(*sketches: DataFrame) -> DataFrame:
    """Combine count–min tables (same depth/width): union →
    groupBy((row, bucket)).sum — plain counter addition."""
    if not sketches:
        raise ValueError("need at least one sketch")
    out = sketches[0]
    for s in sketches[1:]:
        out = out.unionByName(s)
    return out.groupBy("row", "bucket").agg(
        F.sum("cnt").alias("cnt")
    )


def countmin_query(
    sketch: DataFrame,
    keys: DataFrame,
    col: str,
    depth: int = 3,
    width: int = 256,
) -> DataFrame:
    """Point-frequency estimates for a key table: re-hash each key
    into its ``depth`` buckets, join the counter grid, take the min
    over rows — the count–min upper bound (≥ true frequency, with
    the classic ε–δ guarantee from width/depth).

    The sketch side is ≤ depth·width rows → broadcast join; the key
    side stays distributed. Output: (key, est_count).
    """
    k = keys.where(F.col(col).isNotNull()).select(
        F.col(col).cast("long").alias("key")
    ).distinct()
    probes = []
    for d in range(depth):
        h = hash32(F.col("key") + F.lit(d * 40503)) % width
        probes.append(
            k.select(
                "key", F.lit(d).alias("row"), h.cast("int").alias("bucket")
            )
        )
    allp = probes[0]
    for p in probes[1:]:
        allp = allp.unionByName(p)
    joined = allp.join(
        F.broadcast(sketch), ["row", "bucket"], "left"
    ).withColumn("cnt", F.coalesce(F.col("cnt"), F.lit(0)))
    return joined.groupBy("key").agg(
        F.min("cnt").cast("long").alias("est_count")
    )


def windowed_hll_rollup(
    df: DataFrame,
    ts_col: str,
    key_col: str,
    bucket: str = "1 hour",
    m: int = 64,
) -> DataFrame:
    """Materialized distinct-count sketch rollup: one HLL register
    table PER TIME BUCKET — the hypertable answer to "distinct users
    per hour, and across any hour range" that ops/rollup.py's
    count/sum rollups cannot give (distinct does not sum).

    One groupBy((bucket, register)).max over the row scan; the
    materialized table is ≤ m rows per bucket regardless of input
    size. Range queries merge registers across the pruned bucket
    range (:func:`hll_rollup_estimate`) — max is associative, so any
    partial (hour → day → month) rollup of this table is also valid.

    Output: (bucket_start timestamp, register int, max_rank int).
    """
    b = _check_m(m)
    h = hash32(F.col(key_col))
    base = df.where(
        F.col(key_col).isNotNull() & F.col(ts_col).isNotNull()
    ).select(F.window(ts_col, bucket).start.alias("bucket_start"),
             h.alias("__h"))
    w = F.shiftright(F.col("__h"), b)
    rho = F.when(w > 0, F.bit_count((w.bitwiseAND(-w)) - 1) + 1).otherwise(
        F.lit(33 - b)
    )
    return (
        base.select(
            "bucket_start",
            (F.col("__h") % m).cast("int").alias("register"),
            rho.cast("int").alias("__rho"),
        )
        .groupBy("bucket_start", "register")
        .agg(F.max("__rho").alias("max_rank"))
    )


def hll_rollup_estimate(
    rollup: DataFrame,
    m: int = 64,
    start=None,
    end=None,
) -> DataFrame:
    """Distinct-count estimate over a bucket range of a
    :func:`windowed_hll_rollup` table: prune buckets (a filter on the
    materialized table's partition column — never re-reads raw data),
    merge registers (groupBy(register).max), estimate. ``start`` is
    inclusive, ``end`` exclusive; both optional.

    Output: 1 row — (m, observed, v_zero, regime, estimate 4dp).
    """
    f = rollup
    if start is not None:
        f = f.where(F.col("bucket_start") >= F.lit(start))
    if end is not None:
        f = f.where(F.col("bucket_start") < F.lit(end))
    merged = f.groupBy("register").agg(
        F.max("max_rank").alias("max_rank")
    )
    return hll_estimate(merged, m=m)


def histogram_sketch(
    df: DataFrame,
    col: str,
    lo: float,
    hi: float,
    n_bins: int = 256,
) -> DataFrame:
    """Mergeable quantile sketch as a fixed-edge histogram: counts per
    bin over [lo, hi] (values outside clamp into the edge bins, the
    calibration_bins convention) — completing the sketch store's
    third axis: distinct (HLL/KMV), frequency (count–min), QUANTILES
    (this). Merge across partitions/days = groupBy(bin).sum
    (:func:`histogram_sketch_merge`); any quantile then reads off the
    bin CDF with a provable ±bin-width error bracket
    (:func:`quantile_from_histogram`) — the same error-bracket
    contract as the drift suite's binned KS/EMD arms.

    Fixed PRE-AGREED edges are what make sketches from different
    days/engines mergeable (data-dependent edges would not be); pick
    lo/hi from a profile pass. One groupBy; ≤ n_bins+1 rows of state
    (NULL-value count rides along as bin = -1).

    Output: (bin int, bin_lo double, bin_hi double, cnt long).
    """
    if n_bins < 1:
        raise ValueError("n_bins must be >= 1")
    if not hi > lo:
        raise ValueError("hi must exceed lo")
    width = (hi - lo) / n_bins
    x = F.col(col).cast("double")
    bin_ = F.when(x.isNull(), F.lit(-1)).otherwise(
        F.least(
            F.lit(n_bins - 1),
            F.greatest(
                F.lit(0),
                F.floor((x - F.lit(lo)) / F.lit(width)).cast("int"),
            ),
        )
    )
    return (
        df.select(bin_.alias("bin"))
        .groupBy("bin")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(
            "bin",
            F.when(
                F.col("bin") >= 0, F.lit(lo) + F.col("bin") * F.lit(width)
            ).alias("bin_lo"),
            F.when(
                F.col("bin") >= 0,
                F.lit(lo) + (F.col("bin") + 1) * F.lit(width),
            ).alias("bin_hi"),
            "cnt",
        )
    )


def histogram_sketch_merge(*sketches: DataFrame) -> DataFrame:
    """Combine histogram sketches built with the SAME edges:
    union → groupBy(bin).sum — plain counter addition."""
    if not sketches:
        raise ValueError("need at least one sketch")
    out = sketches[0]
    for s in sketches[1:]:
        out = out.unionByName(s)
    return out.groupBy("bin").agg(
        F.max("bin_lo").alias("bin_lo"),
        F.max("bin_hi").alias("bin_hi"),
        F.sum("cnt").alias("cnt"),
    )


def quantile_from_histogram(
    sketch: DataFrame, quantiles: "tuple[float, ...]" = (0.5,)
) -> DataFrame:
    """Quantile estimates off a histogram sketch's bin CDF: for each
    requested q, the first bin whose inclusive cumulative count
    reaches ⌈q·n⌉ (the QUANTILE_DISC convention on bins); the true
    value provably lies inside the reported [bin_lo, bin_hi], so the
    linearly-interpolated estimate carries a ±bin-width/2 bracket.
    NULL-count rows (bin = -1) are excluded from n.

    Post-scan work only: the cumulative window runs over the bounded
    ≤ n_bins grid. Output: (q, n, bin, bin_lo, bin_hi, estimate,
    err_bound) — one row per quantile.
    """
    from pyspark.sql import Window

    for q in quantiles:
        if not 0.0 < q <= 1.0:
            raise ValueError(f"quantile out of (0,1]: {q}")
    vals = sketch.where(F.col("bin") >= 0)
    w = Window.orderBy("bin").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = vals.select(
        "bin", "bin_lo", "bin_hi", "cnt", F.sum("cnt").over(w).alias("__c")
    )
    tot = vals.agg(F.sum("cnt").alias("__n"))
    parts = []
    for q in quantiles:
        target = F.ceil(F.lit(q) * F.col("__n"))
        hit = (
            cum.crossJoin(F.broadcast(tot))
            .where(F.col("__c") >= target)
            .orderBy("bin")
            .limit(1)
        )
        parts.append(
            hit.select(
                F.lit(float(q)).alias("q"),
                F.col("__n").cast("long").alias("n"),
                "bin",
                "bin_lo",
                "bin_hi",
                F.round(
                    (F.col("bin_lo") + F.col("bin_hi")) / 2, 6
                ).alias("estimate"),
                F.round((F.col("bin_hi") - F.col("bin_lo")) / 2, 6).alias(
                    "err_bound"
                ),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionAll(p)
    return out


# ---------------------------------------------------------------------------
# KLL-family mergeable quantile sketch (deterministic compactor)
# ---------------------------------------------------------------------------
# The histogram sketch above answers quantiles with a ±bin-width bracket
# but needs PRE-AGREED edges; the reference's profiling median
# (/root/reference/src/quality/dq_engine.py:42-67) is an exact per-batch
# number that cannot merge across batches at all. This section adds the
# edge-free mergeable quantile summary: per-group k-item weighted
# compactors in the Manku–Rajagopalan–Lindsay / KLL family, with the
# randomized compaction schedule replaced by the DETERMINISTIC mid-block
# order statistic — so a DuckDB oracle (or any second engine) replays
# the sketch bit-for-bit, and sketches built by different engines merge.
#
# Contract: a sketch is a weighted value table (group…, value double,
# weight long) with Σ weight = exact row count. Build compresses each
# group to ≤ k items whose block-median order statistics it keeps
# (rank error ≤ ⌈n_g/k⌉/2 within the group). MERGE is bag union +
# same-value weight addition — exact integer arithmetic, associative,
# commutative, idempotent-free but order-independent, which is the
# property the rollup store needs (per-day sketches combine to any
# range in any order and the bytes are identical). Compression is only
# re-applied explicitly (kll_compress) or never: estimate-time work is
# sketch-sized (≤ groups·k rows), so the single-partition windows in
# kll_quantiles/_spaced_summary-on-merged-state are bounded by
# construction, not by data volume.


def _spaced_summary(
    weighted: DataFrame,
    value_col: str,
    weight_col: str,
    k: int,
    group_cols: "list[str]",
) -> DataFrame:
    """k-item deterministic spaced summary of a weighted value table,
    per group: total weight n splits into k integer blocks
    w_i = n div k + (1 if i ≤ n mod k else 0) (Σ w_i = n exactly);
    item i keeps the weighted order statistic at the block's MEDIAN
    rank prefix_{i-1} + (w_i+1) div 2 — pure integer arithmetic plus
    one distinct-values window per group, replayable in any SQL
    engine. Zero-weight blocks (n < k) are dropped, so a tiny group
    keeps every distinct value exactly."""
    from pyspark.sql import Window

    if k < 2:
        raise ValueError("k must be >= 2")
    g = list(group_cols)
    per_v = weighted.groupBy(
        *g, F.col(value_col).alias("value")
    ).agg(F.sum(F.col(weight_col)).alias("__c"))
    w = Window.partitionBy(*g).orderBy("value")
    cum = per_v.withColumn("__cum", F.sum("__c").over(w))
    tot = (
        per_v.groupBy(*g).agg(F.sum("__c").alias("__n"))
        if g
        else per_v.agg(F.sum("__c").alias("__n"))
    )
    kq = F.expr(f"__n div {int(k)}")
    kr = F.col("__n") % k
    targets = (
        tot.select(*g, "__n", kq.alias("__q"), kr.alias("__r"))
        .select(
            *g,
            "__q",
            "__r",
            F.explode(
                F.sequence(F.lit(1), F.lit(int(k)))
            ).alias("__i"),
        )
        .select(
            *g,
            "__i",
            (
                F.col("__q")
                + F.when(F.col("__i") <= F.col("__r"), F.lit(1))
                .otherwise(F.lit(0))
            ).alias("__w"),
            (
                (F.col("__i") - 1) * F.col("__q")
                + F.least(F.col("__i") - 1, F.col("__r"))
            ).alias("__prefix"),
        )
        .where(F.col("__w") > 0)
        .select(
            *g,
            "__w",
            (
                F.col("__prefix")
                + F.expr("(__w + 1) div 2")
            ).alias("__m"),
        )
    )
    joined = (
        cum.join(F.broadcast(targets), g)
        if g
        else cum.crossJoin(F.broadcast(targets))
    )
    picked = joined.where(
        (F.col("__cum") >= F.col("__m"))
        & (F.col("__cum") - F.col("__c") < F.col("__m"))
    ).select(*g, "value", F.col("__w").cast("long").alias("weight"))
    # collapse blocks whose median lands on the same (tied) value: the
    # weight-CDF is identical, rows stay ≤ k, and a small group (n < k,
    # every block weight 1) degenerates to exact per-value counts
    return picked.groupBy(*g, "value").agg(
        F.sum("weight").alias("weight")
    )


def kll_sketch(
    df: DataFrame,
    col: str,
    k: int = 64,
    group_cols: "list[str] | None" = None,
) -> DataFrame:
    """Build per-group mergeable quantile sketches of a numeric column:
    ≤ k weighted items per group (see the section note above for the
    determinism/merge contract; rank error within a group is bounded
    by ⌈n_g/k⌉/2, i.e. ~1/(2k) relative). ``group_cols`` is REQUIRED
    non-empty: the build path is one groupBy(group…, value) + one
    per-group distinct-values window, so groups bound every partition
    — for a single global EXACT answer use
    functions/aggregations.py::global_quantiles (the dual-prefix-scan
    path); for a global SKETCH, build per-partition-key sketches and
    kll_merge them.

    Output: (group…, value double, weight long), ≤ k rows per group.
    """
    if not group_cols:
        raise ValueError(
            "kll_sketch needs group_cols (per-day/per-bucket build); "
            "merge the grouped sketches for a global summary"
        )
    base = df.where(F.col(col).isNotNull()).select(
        *group_cols,
        F.col(col).cast("double").alias("__v"),
        F.lit(1).alias("__one"),
    )
    return _spaced_summary(base, "__v", "__one", k, list(group_cols))


def kll_merge(
    group_cols: "list[str]", *sketches: DataFrame
) -> DataFrame:
    """Combine sketches: bag union + same-(group, value) weight
    addition — exact integer arithmetic, so the merge is associative,
    commutative, and order-independent BY CONSTRUCTION (the property
    pin in tests/test_sketch.py exercises all bracketings). Pass the
    TARGET grouping: per-day sketches merge to per-nothing (global,
    ``group_cols=[]``) or to any coarser rollup level. State grows as
    Σ sketch sizes; apply :func:`kll_compress` explicitly when a
    bounded-state handoff matters more than zero extra rank error."""
    if not sketches:
        raise ValueError("need at least one sketch")
    out = sketches[0]
    for s in sketches[1:]:
        out = out.unionByName(s)
    g = list(group_cols)
    sel = out.groupBy(*g, "value") if g else out.groupBy("value")
    return sel.agg(F.sum("weight").alias("weight"))


def kll_compress(
    sketch: DataFrame,
    k: int,
    group_cols: "list[str] | None" = None,
) -> DataFrame:
    """Re-compress a (possibly merged) sketch back to ≤ k items per
    group with the same deterministic mid-block rule — adds at most
    ⌈T_g/k⌉/2 rank error on top of the inputs' bounds. Sketch-sized
    input (≤ groups·k·merges rows), so the window inside is bounded
    by construction."""
    return _spaced_summary(
        sketch, "value", "weight", k, list(group_cols or [])
    )


def kll_quantiles(
    sketch: DataFrame,
    probs: "tuple[float, ...]" = (0.5,),
    group_cols: "list[str] | None" = None,
) -> DataFrame:
    """Quantile estimates off a (merged) sketch: for each p, the
    weighted order statistic at rank max(1, ⌈p·T⌉) over the sketch's
    weight-CDF (the QUANTILE_DISC convention) — one sketch-sized
    window + one broadcast probe join, both bounded by sketch size.
    The reported value is one the sketch actually retained, so its
    TRUE rank in the source data is within the build/merge error
    bounds of p·n.

    Output: (group…, p double, n long, estimate double).
    """
    from pyspark.sql import Window

    for p in probs:
        if not 0.0 < p <= 1.0:
            raise ValueError(f"prob out of (0,1]: {p}")
    g = list(group_cols or [])
    per_v = sketch.groupBy(*g, "value").agg(
        F.sum("weight").alias("__c")
    )
    w = Window.partitionBy(*g).orderBy("value")
    cum = per_v.withColumn("__cum", F.sum("__c").over(w))
    tot = (
        per_v.groupBy(*g).agg(F.sum("__c").alias("__n"))
        if g
        else per_v.agg(F.sum("__c").alias("__n"))
    )
    spark = sketch.sparkSession
    pf = spark.createDataFrame([(float(p),) for p in probs], "p double")
    targets = tot.crossJoin(F.broadcast(pf)).select(
        *g,
        "p",
        "__n",
        F.greatest(
            F.lit(1), F.ceil(F.col("p") * F.col("__n"))
        ).alias("__rank"),
    )
    joined = (
        cum.join(F.broadcast(targets), g)
        if g
        else cum.crossJoin(F.broadcast(targets))
    )
    return joined.where(
        (F.col("__cum") >= F.col("__rank"))
        & (F.col("__cum") - F.col("__c") < F.col("__rank"))
    ).select(
        *g,
        "p",
        F.col("__n").cast("long").alias("n"),
        F.col("value").alias("estimate"),
    )


def windowed_kll_rollup(
    df: DataFrame,
    ts_col: str,
    value_col: str,
    bucket: str = "1 hour",
    k: int = 64,
) -> DataFrame:
    """Materialized quantile-sketch rollup: one ≤ k-item KLL-family
    summary PER TIME BUCKET — the hypertable answer to "p95 latency
    per hour, and across any hour range" (exact quantiles do not sum;
    these sketches merge). Same shape as :func:`windowed_hll_rollup`
    on the distinct axis.

    Output: (bucket_start timestamp, value double, weight long),
    ≤ k rows per bucket regardless of input size.
    """
    base = df.where(
        F.col(value_col).isNotNull() & F.col(ts_col).isNotNull()
    ).select(
        F.window(ts_col, bucket).start.alias("bucket_start"),
        F.col(value_col),
    )
    return kll_sketch(
        base, value_col, k=k, group_cols=["bucket_start"]
    )


def kll_rollup_quantiles(
    rollup: DataFrame,
    probs: "tuple[float, ...]" = (0.5,),
    start=None,
    end=None,
) -> DataFrame:
    """Quantile estimates over a bucket range of a
    :func:`windowed_kll_rollup` table: prune buckets (a filter on the
    materialized table — never re-reads raw data), bag-union merge,
    rank-select. ``start`` inclusive, ``end`` exclusive; both
    optional. Output: (p, n, estimate)."""
    f = rollup
    if start is not None:
        f = f.where(F.col("bucket_start") >= F.lit(start))
    if end is not None:
        f = f.where(F.col("bucket_start") < F.lit(end))
    merged = kll_merge([], f.select("value", "weight"))
    return kll_quantiles(merged, probs)


def windowed_countmin_rollup(
    df: DataFrame,
    ts_col: str,
    key_col: str,
    bucket: str = "1 hour",
    depth: int = 3,
    width: int = 256,
) -> DataFrame:
    """Materialized FREQUENCY sketch rollup: one count–min counter
    grid PER TIME BUCKET — completing the sketch-rollup family (HLL =
    distinct over any range, KLL = quantiles over any range, count–
    min = per-key frequencies over any range). Counters ADD, so any
    partial rollup (hour → day → month) of this table is also valid,
    and a range query never re-reads raw data.

    One union of ``depth`` hash projections + one
    groupBy((bucket, row, counter)).count; the materialized table is
    ≤ depth·width rows per bucket regardless of input size.

    Output: (bucket_start timestamp, row int, bucket int, cnt long).
    """
    if depth < 1 or width < 2:
        raise ValueError("depth >= 1 and width >= 2 required")
    base = df.where(
        F.col(key_col).isNotNull() & F.col(ts_col).isNotNull()
    ).select(
        F.window(ts_col, bucket).start.alias("bucket_start"),
        F.col(key_col).cast("long").alias("__x"),
    )
    rows = []
    for d in range(depth):
        h = hash32(F.col("__x") + F.lit(d * 40503)) % width
        rows.append(
            base.select(
                "bucket_start",
                F.lit(d).alias("row"),
                h.cast("int").alias("bucket"),
            )
        )
    exploded = rows[0]
    for r in rows[1:]:
        exploded = exploded.unionByName(r)
    return exploded.groupBy("bucket_start", "row", "bucket").agg(
        F.count(F.lit(1)).alias("cnt")
    )


def countmin_rollup_query(
    rollup: DataFrame,
    keys: DataFrame,
    col: str,
    depth: int = 3,
    width: int = 256,
    start=None,
    end=None,
) -> DataFrame:
    """Point-frequency estimates over a bucket range of a
    :func:`windowed_countmin_rollup` table: prune buckets (a filter
    on the materialized table's partition column — never the raw
    stream), merge counters by plain addition, then the standard
    min-over-rows count–min upper bound per probed key.

    Output: (key long, est_count long), one row per distinct probed
    key.
    """
    f = rollup
    if start is not None:
        f = f.where(F.col("bucket_start") >= F.lit(start))
    if end is not None:
        f = f.where(F.col("bucket_start") < F.lit(end))
    merged = f.groupBy("row", "bucket").agg(
        F.sum("cnt").alias("cnt")
    )
    return countmin_query(
        merged, keys, col, depth=depth, width=width
    )
