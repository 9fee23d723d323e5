"""Data-drift detection between two dataset snapshots.

Batch-over-batch distribution shift is the monitoring question a 100-TB
ingestion pipeline actually asks ("did yesterday's crawl change shape?").
The reference's quality plane stops at single-snapshot rules
(`/root/reference/src/quality/dq_engine.py:285-322` profiles one frame);
drift is the natural two-snapshot extension, built here from the same
one-pass-aggregation design style as the rule engine (SURVEY §2.10 note).

Three classical statistics, each engine-exact (DuckDB replays the same
arithmetic) and each scale-safe:

- **PSI** (population stability index) over fixed-width bins derived
  from the reference snapshot's exact min/max: two aggregations plus a
  join over ≤ n_bins+2 rows. No sort, no sample.
- **Two-sample KS statistic**, exact: per-value counts (one shuffle)
  followed by the two-phase distributed prefix scan (the
  `ops/packing.py::global_prefix_sum` pattern, generalized to carry both
  sides' counts in one pass) — never a single-task global window, so the
  CDF merge holds at full cardinality. For CONTINUOUS columns at 100-TB
  scale, per-value counts are per-row-sized, so KS and EMD both carry a
  binned arm (``n_bins=``) with a provable error bracket (max bin mass
  for KS, 2·bin_width for W₁); ``drift_suite`` auto-routes on an
  approx-distinct gate, PSI staying bit-identical either way.
- **Chi-square** for categoricals: one groupBy, pooled-expected terms.
- **Baseline monitoring**: ``save_drift_baseline`` persists a tiny
  binned profile once; ``psi_vs_baseline`` / ``ks_vs_baseline`` compare
  every later batch against it without rescanning reference history
  (the watermark-style incremental pattern applied to monitoring).

All outputs round to 6 decimals so cross-engine double comparison is
hash-stable (SURVEY §7 hard part 8).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

_EPS = 1e-6


def psi_numeric(
    ref: DataFrame,
    cur: DataFrame,
    col: str,
    n_bins: int = 10,
) -> DataFrame:
    """Per-bin PSI terms between ``ref`` and ``cur`` for a numeric column.

    Bin edges are fixed-width over the reference snapshot's [min, max]
    (exact 1-row aggregate, broadcast into both binning projections —
    no quantile sort). Current-snapshot values outside the reference
    range land in explicit underflow (-1) / overflow (``n_bins``) bins,
    so novel tails are visible instead of clamped away. Zero proportions
    are floored at 1e-6 before the log (standard PSI smoothing).

    Output: one row per occupied bin — ``bin``, ``ref_frac``,
    ``cur_frac``, ``psi_term`` — plus the scalar Σ as ``psi_total`` on
    every row (tall-plus-total keeps it one frame for the oracle).
    Plan shape: 3 aggregations + one tiny join; nothing scales with rows
    beyond the two scans.
    """
    edges = ref.agg(
        F.min(F.col(col).cast("double")).alias("mn"),
        F.max(F.col(col).cast("double")).alias("mx"),
    )

    def binned(df: DataFrame, cnt_name: str) -> DataFrame:
        x = F.col(col).cast("double")
        w = (F.col("mx") - F.col("mn")) / F.lit(float(n_bins))
        in_range_bin = F.least(
            F.floor((x - F.col("mn")) / w).cast("int"), F.lit(n_bins - 1)
        )
        b = (
            F.when(x < F.col("mn"), F.lit(-1))
            .when(x > F.col("mx"), F.lit(n_bins))
            .when(F.col("mx") == F.col("mn"), F.lit(0))
            .otherwise(in_range_bin)
        )
        return (
            df.crossJoin(F.broadcast(edges))
            .where(x.isNotNull())
            .groupBy(b.alias("bin"))
            .agg(F.count(F.lit(1)).alias(cnt_name))
        )

    r = binned(ref, "ref_cnt")
    c = binned(cur, "cur_cnt")
    joined = r.join(c, "bin", "full_outer").select(
        "bin",
        F.coalesce("ref_cnt", F.lit(0)).alias("ref_cnt"),
        F.coalesce("cur_cnt", F.lit(0)).alias("cur_cnt"),
    )
    totals = joined.agg(
        F.sum("ref_cnt").alias("n_ref"), F.sum("cur_cnt").alias("n_cur")
    )
    terms = joined.crossJoin(F.broadcast(totals)).select(
        "bin",
        F.round(F.col("ref_cnt") / F.col("n_ref"), 6).alias("ref_frac"),
        F.round(F.col("cur_cnt") / F.col("n_cur"), 6).alias("cur_frac"),
        F.round(
            (F.col("cur_cnt") / F.col("n_cur") - F.col("ref_cnt") / F.col("n_ref"))
            * F.log(
                F.greatest(F.col("cur_cnt") / F.col("n_cur"), F.lit(_EPS))
                / F.greatest(F.col("ref_cnt") / F.col("n_ref"), F.lit(_EPS))
            ),
            6,
        ).alias("psi_term"),
    )
    total = terms.agg(F.round(F.sum("psi_term"), 6).alias("psi_total"))
    return terms.crossJoin(F.broadcast(total))


def _dual_prefix_scan(
    df: DataFrame,
    order_col: str,
    a_col: str,
    b_col: str,
    with_next_start: bool = False,
    persisted: "list[DataFrame] | None" = None,
) -> DataFrame:
    """Inclusive running totals of two count columns over ``order_col``.

    The `global_prefix_sum` two-phase pattern (range partition →
    per-partition subtotal collect → broadcast offsets + local window),
    carrying both columns through ONE repartition instead of two
    independent scans. ``order_col`` values must be unique (they are:
    callers pass grouped-by-value frames).

    With ``with_next_start`` the output keeps ``__pid`` and adds
    ``__next_start`` — the NEXT partition's first ``order_col`` value
    (NULL for the globally last partition), piggybacked on the same
    subtotal collect. Combined with a within-partition ``lead`` this
    gives a scale-safe distributed LEAD over the global order (EMD
    needs the gap to the next distinct value).
    """
    from pyspark.storagelevel import StorageLevel

    spark = df.sparkSession
    n_parts = max(
        df.rdd.getNumPartitions(), spark.sparkContext.defaultParallelism
    )
    ranged = df.repartitionByRange(n_parts, F.col(order_col))
    # persist before the subtotal collect: range boundaries come from a
    # sample, so re-evaluating lineage could re-partition differently
    # than the job the offsets were computed from (see packing.py)
    with_pid = ranged.withColumn("__pid", F.spark_partition_id()).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    # the cache is NOT optional here (recompute could repartition
    # differently than the job the offsets came from), so it must live
    # until the caller materializes the scan's consumers — callers that
    # do so eagerly pass `persisted` to take ownership of the release
    if persisted is not None:
        persisted.append(with_pid)
    subtotals = (
        with_pid.groupBy("__pid")
        .agg(
            F.sum(F.col(a_col)).alias("__sa"),
            F.sum(F.col(b_col)).alias("__sb"),
            F.min(F.col(order_col)).alias("__mn"),
        )
        .collect()
    )
    ordered = sorted(subtotals, key=lambda r: r["__pid"])
    offsets, acc_a, acc_b = [], 0, 0
    for i, row in enumerate(ordered):
        nxt = ordered[i + 1]["__mn"] if i + 1 < len(ordered) else None
        # order_col may be an int (binned KS) — the offsets schema says
        # double, so coerce; with_next_start callers are double-ordered
        offsets.append(
            (row["__pid"], acc_a, acc_b, float(nxt) if nxt is not None else None)
        )
        acc_a += row["__sa"] or 0
        acc_b += row["__sb"] or 0
    if not offsets:
        out = df.withColumn("__ca", F.lit(0).cast("long")).withColumn(
            "__cb", F.lit(0).cast("long")
        )
        if with_next_start:
            out = out.withColumn("__pid", F.lit(0)).withColumn(
                "__next_start", F.lit(None).cast("double")
            )
        return out
    off = spark.createDataFrame(
        offsets, "__pid int, __oa long, __ob long, __ns double"
    )
    w = (
        Window.partitionBy("__pid")
        .orderBy(order_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    out = (
        with_pid.withColumn("__la", F.sum(F.col(a_col)).over(w))
        .withColumn("__lb", F.sum(F.col(b_col)).over(w))
        .join(F.broadcast(off), "__pid")
        .withColumn("__ca", (F.col("__la") + F.col("__oa")).cast("long"))
        .withColumn("__cb", (F.col("__lb") + F.col("__ob")).cast("long"))
    )
    if with_next_start:
        return out.withColumnRenamed("__ns", "__next_start").drop(
            "__la", "__lb", "__oa", "__ob"
        )
    return out.drop("__pid", "__la", "__lb", "__oa", "__ob", "__ns")


def _merged_value_counts(ref: DataFrame, cur: DataFrame, col: str) -> DataFrame:
    """Per-distinct-value counts for both sides, full-outer merged:
    (v, rc, cc). The shared first stage of every exact CDF-comparison
    statistic (KS, EMD)."""
    x = F.col(col).cast("double")
    r = ref.where(x.isNotNull()).groupBy(x.alias("v")).agg(
        F.count(F.lit(1)).alias("rc")
    )
    c = cur.where(x.isNotNull()).groupBy(x.alias("v")).agg(
        F.count(F.lit(1)).alias("cc")
    )
    return r.join(c, "v", "full_outer").select(
        "v",
        F.coalesce("rc", F.lit(0)).alias("rc"),
        F.coalesce("cc", F.lit(0)).alias("cc"),
    )


def _require_two_samples(ref: DataFrame, cur: DataFrame, col: str) -> None:
    """Both snapshots must have at least one non-null value — otherwise
    the two-sample statistic is undefined and the division by a zero
    total would surface as a cryptic ANSI DIVIDE_BY_ZERO mid-job.
    Two limit(1) probes (early-exit scans, isNotNull pushed) keep the
    check near-free at any scale."""
    x = F.col(col).cast("double")
    if ref.where(x.isNotNull()).limit(1).count() == 0:
        raise ValueError(
            f"two-sample statistic undefined: reference snapshot has no "
            f"non-null {col!r} values"
        )
    if cur.where(x.isNotNull()).limit(1).count() == 0:
        raise ValueError(
            f"two-sample statistic undefined: current snapshot has no "
            f"non-null {col!r} values"
        )


def _require_current_sample(cur: DataFrame, col: str) -> None:
    """Baseline-comparator arm of :func:`_require_two_samples`: the
    reference side is a persisted profile (validated when loaded), so
    only the CURRENT batch needs the cheap limit(1) non-null probe —
    an all-null batch would otherwise surface as 0/0 NaN terms (or an
    ANSI DIVIDE_BY_ZERO) deep inside the comparison job."""
    x = F.col(col).cast("double")
    if cur.where(x.isNotNull()).limit(1).count() == 0:
        raise ValueError(
            f"baseline comparison undefined: current batch has no "
            f"non-null {col!r} values"
        )


def _ks_binned(
    ref: DataFrame, cur: DataFrame, col: str, n_bins: int
) -> DataFrame:
    """Binned KS (see :func:`ks_statistic` ``n_bins``): per-side bin
    counts over pooled exact [min, max], cumulative fractions via the
    dual prefix scan (bins are already unique keys, so the same
    scale-safe machinery applies — no partitionless window even when a
    caller asks for 10⁶ bins)."""
    x = F.col(col).cast("double")
    r = ref.select(x.alias("v")).where(F.col("v").isNotNull())
    c = cur.select(x.alias("v")).where(F.col("v").isNotNull())
    pooled = r.agg(F.min("v").alias("mn"), F.max("v").alias("mx")).unionByName(
        c.agg(F.min("v").alias("mn"), F.max("v").alias("mx"))
    ).agg(F.min("mn").alias("mn"), F.max("mx").alias("mx"))
    w = (F.col("mx") - F.col("mn")) / F.lit(float(n_bins))
    b = F.when(F.col("mx") == F.col("mn"), F.lit(0)).otherwise(
        F.least(
            F.floor((F.col("v") - F.col("mn")) / w).cast("int"),
            F.lit(n_bins - 1),
        )
    )
    binned = (
        r.select(F.lit(1).alias("is_ref"), "v")
        .unionByName(c.select(F.lit(0).alias("is_ref"), "v"))
        .crossJoin(F.broadcast(pooled))
        .groupBy(b.alias("bin"))
        .agg(
            F.sum("is_ref").alias("rc"),
            F.sum(1 - F.col("is_ref")).alias("cc"),
        )
    )
    scanned = _dual_prefix_scan(binned, "bin", "rc", "cc")
    totals = binned.agg(F.sum("rc").alias("n_ref"), F.sum("cc").alias("n_cur"))
    return (
        scanned.crossJoin(F.broadcast(totals))
        .select(
            F.abs(
                F.col("__ca") / F.col("n_ref") - F.col("__cb") / F.col("n_cur")
            ).alias("d"),
            F.greatest(
                F.col("rc") / F.col("n_ref"), F.col("cc") / F.col("n_cur")
            ).alias("bin_mass"),
            "n_ref",
            "n_cur",
        )
        .groupBy("n_ref", "n_cur")
        .agg(
            F.round(F.max("d"), 6).alias("ks_stat"),
            F.round(F.max("bin_mass"), 6).alias("err_bound"),
        )
        .select("ks_stat", "n_ref", "n_cur", "err_bound")
    )


def ks_statistic(
    ref: DataFrame, cur: DataFrame, col: str, n_bins: int | None = None
) -> DataFrame:
    """Two-sample Kolmogorov–Smirnov statistic — exact, or binned with a
    provable error bound.

    **Exact (default, ``n_bins=None``):** D = max over the pooled
    support of |F_ref(x) − F_cur(x)|. Both empirical CDFs are step
    functions constant between pooled sample points, so evaluating at
    each distinct value (post-jump) covers the supremum exactly.
    Plan: per-value counts for each side (one shuffle each), full-outer
    merge on value, then the dual prefix scan — cumulative counts without
    a single-task global window, so the statistic stays exact at any
    cardinality. Output: 1 row — ``ks_stat`` (6 dp), ``n_ref``, ``n_cur``.

    **Binned (``n_bins`` set):** the 100-TB path. On a continuous double
    column "per-value counts" ≈ per-row counts, so the exact CDF merge
    shuffles data proportional to the full column. Instead both sides
    are bucketed into ``n_bins`` fixed-width bins over the POOLED exact
    [min, max] (one 1-row aggregate per side), and D is taken over the
    binned CDFs — a plan whose post-scan size is O(n_bins) regardless of
    cardinality. Because the CDF-difference function moves by at most a
    bin's mass inside that bin, the exact statistic is bracketed:
    ``ks_stat ≤ D_exact ≤ ks_stat + err_bound`` where ``err_bound`` =
    max over bins of max(ref_frac, cur_frac). Output adds the
    ``err_bound`` column (6 dp). ``n_bins=1000`` bounds the error near
    0.001 for roughly-uniform mass at any data size.
    """
    _require_two_samples(ref, cur, col)
    if n_bins is not None:
        return _ks_binned(ref, cur, col, n_bins)
    merged = _merged_value_counts(ref, cur, col)
    scanned = _dual_prefix_scan(merged, "v", "rc", "cc")
    totals = merged.agg(
        F.sum("rc").alias("n_ref"), F.sum("cc").alias("n_cur")
    )
    return (
        scanned.crossJoin(F.broadcast(totals))
        .select(
            F.abs(
                F.col("__ca") / F.col("n_ref") - F.col("__cb") / F.col("n_cur")
            ).alias("d"),
            "n_ref",
            "n_cur",
        )
        .groupBy("n_ref", "n_cur")
        .agg(F.round(F.max("d"), 6).alias("ks_stat"))
        .select("ks_stat", "n_ref", "n_cur")
    )


def psi_by_group(
    ref: DataFrame,
    cur: DataFrame,
    col: str,
    group_col: str,
    n_bins: int = 10,
) -> DataFrame:
    """PSI per group (e.g. per source/tenant/partition) in ONE pass per
    snapshot: bin edges are global from the reference (so groups share a
    scale and are comparable), counts aggregate by (group, bin), and all
    per-group arithmetic runs on the |groups| × (n_bins+2) grid. The
    per-source stability dashboard costs the same two scans as a single
    global PSI.

    Groups present in only one snapshot still appear (their missing
    side's mass is zero everywhere, PSI saturates at the smoothing
    bound). Output: (group, psi, n_ref, n_cur) — one row per group.
    """
    edges = ref.agg(
        F.min(F.col(col).cast("double")).alias("mn"),
        F.max(F.col(col).cast("double")).alias("mx"),
    )

    def binned(df: DataFrame, cnt: str) -> DataFrame:
        x = F.col(col).cast("double")
        w = (F.col("mx") - F.col("mn")) / F.lit(float(n_bins))
        b = (
            F.when(x < F.col("mn"), F.lit(-1))
            .when(x > F.col("mx"), F.lit(n_bins))
            .when(F.col("mx") == F.col("mn"), F.lit(0))
            .otherwise(
                F.least(
                    F.floor((x - F.col("mn")) / w).cast("int"),
                    F.lit(n_bins - 1),
                )
            )
        )
        return (
            df.crossJoin(F.broadcast(edges))
            .where(x.isNotNull())
            .groupBy(F.col(group_col).alias("g"), b.alias("bin"))
            .agg(F.count(F.lit(1)).alias(cnt))
        )

    joined = (
        binned(ref, "rc")
        .join(binned(cur, "cc"), ["g", "bin"], "full_outer")
        .select(
            "g",
            "bin",
            F.coalesce("rc", F.lit(0)).alias("rc"),
            F.coalesce("cc", F.lit(0)).alias("cc"),
        )
    )
    totals = joined.groupBy("g").agg(
        F.sum("rc").alias("n_ref"), F.sum("cc").alias("n_cur")
    )
    terms = joined.join(totals, "g").select(
        "g",
        "n_ref",
        "n_cur",
        F.round(
            (
                F.when(F.col("n_cur") > 0, F.col("cc") / F.col("n_cur"))
                .otherwise(F.lit(0.0))
                - F.when(F.col("n_ref") > 0, F.col("rc") / F.col("n_ref"))
                .otherwise(F.lit(0.0))
            )
            * F.log(
                F.greatest(
                    F.when(F.col("n_cur") > 0, F.col("cc") / F.col("n_cur"))
                    .otherwise(F.lit(0.0)),
                    F.lit(_EPS),
                )
                / F.greatest(
                    F.when(F.col("n_ref") > 0, F.col("rc") / F.col("n_ref"))
                    .otherwise(F.lit(0.0)),
                    F.lit(_EPS),
                )
            ),
            6,
        ).alias("term"),
    )
    return (
        terms.groupBy("g", "n_ref", "n_cur")
        .agg(F.round(F.sum("term"), 6).alias("psi"))
        .select(
            F.col("g").alias(group_col),
            "psi",
            F.col("n_ref").cast("long").alias("n_ref"),
            F.col("n_cur").cast("long").alias("n_cur"),
        )
    )


def psi_categorical(ref: DataFrame, cur: DataFrame, col: str) -> DataFrame:
    """PSI over category levels — the categorical twin of
    :func:`psi_numeric` (no binning: each level is its own cell; NULL is
    a level). One groupBy over the tagged union; per-level terms with
    the standard 1e-6 smoothing, plus ``psi_total`` on every row.

    Output: (category, ref_frac, cur_frac, psi_term, psi_total).
    """
    tagged = ref.select(
        F.col(col).cast("string").alias("category"), F.lit(1).alias("is_ref")
    ).unionByName(
        cur.select(
            F.col(col).cast("string").alias("category"),
            F.lit(0).alias("is_ref"),
        )
    )
    counts = tagged.groupBy("category").agg(
        F.sum("is_ref").alias("rc"),
        F.sum(1 - F.col("is_ref")).alias("cc"),
    )
    totals = counts.agg(
        F.sum("rc").alias("n_ref"), F.sum("cc").alias("n_cur")
    )
    terms = counts.crossJoin(F.broadcast(totals)).select(
        "category",
        F.round(F.col("rc") / F.col("n_ref"), 6).alias("ref_frac"),
        F.round(F.col("cc") / F.col("n_cur"), 6).alias("cur_frac"),
        F.round(
            (F.col("cc") / F.col("n_cur") - F.col("rc") / F.col("n_ref"))
            * F.log(
                F.greatest(F.col("cc") / F.col("n_cur"), F.lit(_EPS))
                / F.greatest(F.col("rc") / F.col("n_ref"), F.lit(_EPS))
            ),
            6,
        ).alias("psi_term"),
    )
    total = terms.agg(F.round(F.sum("psi_term"), 6).alias("psi_total"))
    return terms.crossJoin(F.broadcast(total))


def _emd_binned(
    ref: DataFrame, cur: DataFrame, col: str, n_bins: int
) -> DataFrame:
    """Binned W₁ (see :func:`emd_1d` ``n_bins``): snap every value to
    its bin's left edge over the pooled exact [min, max], then integrate
    |cumdiff| over the uniform bin gaps. Snapping moves each point at
    most one bin width w, and W₁ is 1-Lipschitz in each argument under
    such perturbations, so |W₁_exact − W₁_binned| ≤ 2w = ``err_bound``.
    Post-scan size O(n_bins) at any cardinality."""
    x = F.col(col).cast("double")
    r = ref.select(x.alias("v")).where(F.col("v").isNotNull())
    c = cur.select(x.alias("v")).where(F.col("v").isNotNull())
    pooled = r.agg(F.min("v").alias("mn"), F.max("v").alias("mx")).unionByName(
        c.agg(F.min("v").alias("mn"), F.max("v").alias("mx"))
    ).agg(F.min("mn").alias("mn"), F.max("mx").alias("mx"))
    w = (F.col("mx") - F.col("mn")) / F.lit(float(n_bins))
    b = F.when(F.col("mx") == F.col("mn"), F.lit(0)).otherwise(
        F.least(
            F.floor((F.col("v") - F.col("mn")) / w).cast("int"),
            F.lit(n_bins - 1),
        )
    )
    binned = (
        r.select(F.lit(1).alias("is_ref"), "v")
        .unionByName(c.select(F.lit(0).alias("is_ref"), "v"))
        .crossJoin(F.broadcast(pooled))
        .groupBy(b.alias("bin"))
        .agg(
            F.sum("is_ref").alias("rc"),
            F.sum(1 - F.col("is_ref")).alias("cc"),
            # every row in a bin shares mn/mx; carry them through
            F.first((F.col("mx") - F.col("mn")) / F.lit(float(n_bins))).alias(
                "w"
            ),
        )
    )
    # gap-aware, exactly like the exact path: the CDF difference stays
    # constant across EMPTY bins too, so each occupied bin's term covers
    # the full index gap to the next occupied bin (distributed LEAD via
    # with_next_start — no partitionless window)
    scanned = _dual_prefix_scan(binned, "bin", "rc", "cc", with_next_start=True)
    totals = binned.agg(F.sum("rc").alias("n_ref"), F.sum("cc").alias("n_cur"))
    wl = Window.partitionBy("__pid").orderBy("bin")
    next_b = F.coalesce(
        F.lead("bin").over(wl).cast("double"), F.col("__next_start")
    )
    term = (
        F.abs(F.col("__ca") / F.col("n_ref") - F.col("__cb") / F.col("n_cur"))
        * F.col("w")
        * (F.col("__nb") - F.col("bin"))
    )
    return (
        scanned.withColumn("__nb", next_b)
        .crossJoin(F.broadcast(totals))
        .where(F.col("__nb").isNotNull())
        .select(
            term.cast("decimal(28,12)").alias("t"),
            "w",
            "n_ref",
            "n_cur",
        )
        .groupBy("n_ref", "n_cur")
        .agg(
            F.round(F.sum("t").cast("double"), 6).alias("emd"),
            F.round(F.max("w") * 2, 6).alias("err_bound"),
        )
        .select("emd", "n_ref", "n_cur", "err_bound")
    )


def emd_1d(
    ref: DataFrame, cur: DataFrame, col: str, n_bins: int | None = None
) -> DataFrame:
    """Exact 1-D Wasserstein-1 (earth mover's) distance between the two
    empirical distributions — the magnitude-aware complement to
    :func:`ks_statistic` (KS says the CDFs differ; EMD says by how much
    in value units): W₁ = ∫ |F_ref − F_cur| dx, integrated exactly over
    the gaps between consecutive distinct values.

    Plan: the shared per-value count merge, the dual prefix scan with
    ``with_next_start`` (a scale-safe distributed LEAD: within-partition
    lead + the next partition's first value piggybacked on the offsets
    collect — never a partitionless window), then one decimal-exact sum
    of |cumdiff|·gap terms. Output: 1 row — ``emd`` (6 dp), ``n_ref``,
    ``n_cur``.

    **Binned (``n_bins`` set):** like :func:`ks_statistic` ``n_bins``,
    the 100-TB arm for continuous columns where per-value counts are
    per-row-sized: O(n_bins) post-scan, with the provable bracket
    |W₁_exact − emd| ≤ ``err_bound`` = 2·bin_width (snapping moves each
    point at most one bin width and W₁ is 1-Lipschitz per argument).
    """
    _require_two_samples(ref, cur, col)
    if n_bins is not None:
        return _emd_binned(ref, cur, col, n_bins)
    merged = _merged_value_counts(ref, cur, col)
    scanned = _dual_prefix_scan(merged, "v", "rc", "cc", with_next_start=True)
    totals = merged.agg(
        F.sum("rc").alias("n_ref"), F.sum("cc").alias("n_cur")
    )
    w = Window.partitionBy("__pid").orderBy("v")
    next_v = F.coalesce(F.lead("v").over(w), F.col("__next_start"))
    term = (
        F.abs(F.col("__ca") / F.col("n_ref") - F.col("__cb") / F.col("n_cur"))
        * (F.col("__nv") - F.col("v"))
    )
    return (
        scanned.withColumn("__nv", next_v)  # window before WHERE (ANSI rule)
        .crossJoin(F.broadcast(totals))
        .where(F.col("__nv").isNotNull())
        .select(term.cast("decimal(28,12)").alias("t"), "n_ref", "n_cur")
        .groupBy("n_ref", "n_cur")
        .agg(F.round(F.sum("t").cast("double"), 6).alias("emd"))
        .select("emd", "n_ref", "n_cur")
    )


def chi_square_categorical(ref: DataFrame, cur: DataFrame, col: str) -> DataFrame:
    """Chi-square test statistic for categorical drift.

    2×k contingency table (side × category), expected counts under the
    pooled distribution, χ² = Σ (O−E)²/E over both rows. NULL categories
    count as their own level (drift TO null is drift). One groupBy over
    the tagged union; totals broadcast from a 1-row aggregate.

    Output: 1 row — ``chi2`` (6 dp), ``dof`` (k−1), ``n_categories``.
    """
    tagged = ref.select(
        F.col(col).cast("string").alias("cat"), F.lit(1).alias("is_ref")
    ).unionByName(
        cur.select(
            F.col(col).cast("string").alias("cat"), F.lit(0).alias("is_ref")
        )
    )
    counts = tagged.groupBy("cat").agg(
        F.sum("is_ref").alias("rc"),
        F.sum(1 - F.col("is_ref")).alias("cc"),
    )
    totals = counts.agg(
        F.sum("rc").alias("n_ref"), F.sum("cc").alias("n_cur")
    )
    terms = counts.crossJoin(F.broadcast(totals)).select(
        F.round(
            F.pow(
                F.col("rc")
                - (F.col("rc") + F.col("cc"))
                * F.col("n_ref")
                / (F.col("n_ref") + F.col("n_cur")),
                2,
            )
            / (
                (F.col("rc") + F.col("cc"))
                * F.col("n_ref")
                / (F.col("n_ref") + F.col("n_cur"))
            )
            + F.pow(
                F.col("cc")
                - (F.col("rc") + F.col("cc"))
                * F.col("n_cur")
                / (F.col("n_ref") + F.col("n_cur")),
                2,
            )
            / (
                (F.col("rc") + F.col("cc"))
                * F.col("n_cur")
                / (F.col("n_ref") + F.col("n_cur"))
            ),
            # round per-term BEFORE the final sum: the sum's float
            # addition order is partitioning-dependent, rounded terms
            # keep the statistic hash-stable across engines
            6,
        ).alias("term"),
    )
    return terms.agg(
        F.round(F.sum("term"), 6).alias("chi2"),
        (F.count(F.lit(1)) - 1).cast("int").alias("dof"),
        F.count(F.lit(1)).cast("int").alias("n_categories"),
    )


def psi_by_period(
    df: DataFrame,
    ts_col: str,
    value_col: str,
    period: str = "week",
    n_bins: int = 10,
) -> DataFrame:
    """Temporal drift: PSI of each time period against the PREVIOUS
    observed period — the rolling stability monitor for an event/ingest
    stream ("did this week's value distribution move?").

    Bins are fixed-width over the GLOBAL min/max (one 1-row aggregate),
    so every period is measured on the same grid and consecutive-period
    comparisons are apples-to-apples. The only row-scale shuffle is one
    groupBy(period, bin); everything after runs on the (periods × bins)
    grid, which is completed (absent bins → frac 0) so the
    consecutive-period join never loses mass. "Previous" means the
    previous period with data — empty periods don't appear (documented;
    a gap-detection op covers silence).

    Output: one row per period except the first —
    (period, psi_vs_prev, n_rows), 6-dp PSI with the standard 1e-6
    smoothing. The dense period indexing runs a partitionless window
    over the DISTINCT-period frame only (bounded by the calendar, not
    the data).
    """
    x = F.col(value_col).cast("double")
    p = F.date_trunc(period, F.col(ts_col))
    d = df.where(x.isNotNull() & F.col(ts_col).isNotNull()).select(
        p.alias("period"), x.alias("x")
    )
    edges = d.agg(F.min("x").alias("mn"), F.max("x").alias("mx"))
    b = F.when(F.col("mx") == F.col("mn"), F.lit(0)).otherwise(
        F.least(
            F.floor(
                (F.col("x") - F.col("mn"))
                / ((F.col("mx") - F.col("mn")) / F.lit(float(n_bins)))
            ).cast("int"),
            F.lit(n_bins - 1),
        )
    )
    counts = (
        d.crossJoin(F.broadcast(edges))
        .groupBy(F.col("period"), b.alias("bin"))
        .agg(F.count(F.lit(1)).alias("c"))
    )
    periods = (
        counts.groupBy("period")
        .agg(F.sum("c").alias("n"))
        .withColumn(
            "idx",
            F.row_number().over(Window.orderBy("period")),
        )
    )
    bins = df.sparkSession.range(n_bins).select(
        F.col("id").cast("int").alias("bin")
    )
    grid = periods.crossJoin(F.broadcast(bins))
    fr = grid.join(counts, ["period", "bin"], "left").select(
        "period",
        "idx",
        "n",
        "bin",
        (F.coalesce(F.col("c"), F.lit(0)) / F.col("n")).alias("f"),
    )
    cur, prev = fr.alias("cur"), fr.alias("prev")
    pairs = cur.join(
        prev,
        (F.col("cur.idx") == F.col("prev.idx") + 1)
        & (F.col("cur.bin") == F.col("prev.bin")),
    ).select(
        F.col("cur.period").alias("period"),
        F.col("cur.n").alias("n"),
        F.round(
            (F.col("cur.f") - F.col("prev.f"))
            * F.log(
                F.greatest(F.col("cur.f"), F.lit(_EPS))
                / F.greatest(F.col("prev.f"), F.lit(_EPS))
            ),
            6,
        ).alias("term"),
    )
    return (
        pairs.groupBy("period", "n")
        .agg(F.round(F.sum("term"), 6).alias("psi_vs_prev"))
        .select("period", "psi_vs_prev", F.col("n").cast("long").alias("n_rows"))
    )


def _drift_numeric_binned(
    ref: DataFrame,
    cur: DataFrame,
    cols: list[str],
    n_bins: int,
    ks_bins: int,
    persisted: "list[DataFrame] | None" = None,
) -> list[DataFrame]:
    """High-cardinality arm of :func:`drift_suite`, fused across ALL
    binned-routed numeric columns (round-12: the same stack()-melt the
    exact path got in round 10): PSI (exact — PSI is bin-defined,
    counts are exact integers) and binned KS + its error bound for
    every column, from ONE melted data pass and ONE joint groupBy on
    (column, psi_bin, ks_bin). Per-column bin edges come from a single
    C-row grouped aggregate broadcast back onto the melt — replacing
    the old per-column pair of 1-row crossJoin broadcasts (2 exchanges
    + 2 BNLJ per column). Post-scan size O(C · n_bins · ks_bins);
    nothing downstream scales with rows or distinct values, and the KS
    prefix scan is a plain (column)-partitioned window because each
    group is ≤ ks_bins rows by construction.

    The joint count frame is persisted (it feeds both the PSI and KS
    derivations); the caller passes ``persisted`` to take ownership of
    unpersisting it once the returned frames are materialized."""
    from pyspark.storagelevel import StorageLevel

    stack_args = ", ".join(f"'{c}', cast(`{c}` as double)" for c in cols)
    melt = f"stack({len(cols)}, {stack_args}) as (__col, v)"
    tall = (
        ref.selectExpr(melt)
        .withColumn("is_ref", F.lit(1))
        .unionByName(cur.selectExpr(melt).withColumn("is_ref", F.lit(0)))
        .where(F.col("v").isNotNull())
    )
    # PSI edges (ref min/max) and KS edges (pooled min/max) for every
    # column in one grouped aggregate — C rows, broadcast back
    edges = tall.groupBy("__col").agg(
        F.min(F.when(F.col("is_ref") == 1, F.col("v"))).alias("rmn"),
        F.max(F.when(F.col("is_ref") == 1, F.col("v"))).alias("rmx"),
        F.min("v").alias("pmn"),
        F.max("v").alias("pmx"),
    )
    v = F.col("v")
    wp = (F.col("rmx") - F.col("rmn")) / F.lit(float(n_bins))
    pb = (
        F.when(v < F.col("rmn"), F.lit(-1))
        .when(v > F.col("rmx"), F.lit(n_bins))
        .when(F.col("rmx") == F.col("rmn"), F.lit(0))
        .otherwise(
            F.least(
                F.floor((v - F.col("rmn")) / wp).cast("int"),
                F.lit(n_bins - 1),
            )
        )
    )
    wk = (F.col("pmx") - F.col("pmn")) / F.lit(float(ks_bins))
    kb = F.when(F.col("pmx") == F.col("pmn"), F.lit(0)).otherwise(
        F.least(
            F.floor((v - F.col("pmn")) / wk).cast("int"),
            F.lit(ks_bins - 1),
        )
    )
    joint = (
        tall.join(F.broadcast(edges), "__col")
        .groupBy("__col", pb.alias("pb"), kb.alias("kb"))
        .agg(
            F.sum("is_ref").alias("rc"),
            F.sum(1 - F.col("is_ref")).alias("cc"),
        )
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    if persisted is not None:
        persisted.append(joint)

    binned = joint.groupBy("__col", F.col("pb").alias("bin")).agg(
        F.sum("rc").alias("ref_cnt"), F.sum("cc").alias("cur_cnt")
    )
    totals = binned.groupBy("__col").agg(
        F.sum("ref_cnt").alias("n_ref"), F.sum("cur_cnt").alias("n_cur")
    )
    psi = (
        binned.join(F.broadcast(totals), "__col")
        .select(
            "__col",
            F.round(
                (
                    F.col("cur_cnt") / F.col("n_cur")
                    - F.col("ref_cnt") / F.col("n_ref")
                )
                * F.log(
                    F.greatest(
                        F.col("cur_cnt") / F.col("n_cur"), F.lit(_EPS)
                    )
                    / F.greatest(
                        F.col("ref_cnt") / F.col("n_ref"), F.lit(_EPS)
                    )
                ),
                6,
            ).alias("psi_term"),
        )
        .groupBy("__col")
        .agg(F.round(F.sum("psi_term"), 6).alias("psi_total"))
    )
    frames = [
        psi.select(
            F.col("__col").alias("column"),
            F.lit("psi").alias("metric"),
            F.col("psi_total").cast("double").alias("value"),
        )
    ]

    kbinned = joint.groupBy("__col", F.col("kb").alias("bin")).agg(
        F.sum("rc").alias("rc"), F.sum("cc").alias("cc")
    )
    wsc = (
        Window.partitionBy("__col")
        .orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    scanned = kbinned.withColumn(
        "__ca", F.sum("rc").over(wsc)
    ).withColumn("__cb", F.sum("cc").over(wsc))
    ks2 = (
        scanned.join(F.broadcast(totals), "__col")
        .select(
            "__col",
            F.abs(
                F.col("__ca") / F.col("n_ref") - F.col("__cb") / F.col("n_cur")
            ).alias("d"),
            F.greatest(
                F.col("rc") / F.col("n_ref"), F.col("cc") / F.col("n_cur")
            ).alias("bin_mass"),
        )
        .groupBy("__col")
        .agg(
            F.round(F.max("d"), 6).alias("ks_stat"),
            F.round(F.max("bin_mass"), 6).alias("err_bound"),
        )
    )
    for metric, colname in (("ks", "ks_stat"), ("ks_err_bound", "err_bound")):
        frames.append(
            ks2.select(
                F.col("__col").alias("column"),
                F.lit(metric).alias("metric"),
                F.col(colname).cast("double").alias("value"),
            )
        )
    return frames


def drift_suite(
    ref: DataFrame,
    cur: DataFrame,
    numeric_cols: list[str],
    categorical_cols: list[str],
    n_bins: int = 10,
    ks_exact_max_distinct: int = 2_000_000,
    ks_bins: int = 1000,
    release: bool = True,
) -> DataFrame:
    """All drift statistics for a snapshot pair as one tall frame.

    One row per (column, metric): PSI total + KS per numeric column,
    chi-square per categorical. Values are bit-identical to the
    standalone :func:`psi_numeric` / :func:`ks_statistic` /
    :func:`chi_square_categorical` calls, but the plan is cheaper:
    the snapshots are projected to the tested columns and persisted
    once (two materialized scans total), and ALL exact-routed numeric
    columns share ONE data-pass — a stack()-melted (column, value,
    side) per-value count frame built by a single groupBy(column, v)
    shuffle — from which each column's PSI (re-aggregated by bin: sums
    of exact integer counts) and KS (dual prefix scan) derive by
    filtering its slice. Everything downstream of the melted frame
    touches only distinct values, never rows.

    **The 100-TB guard:** on a continuous double column the per-value
    frame is per-ROW sized, so exact KS would shuffle the whole column.
    Each numeric column's distinct count is first estimated with one
    `approx_count_distinct` pass; columns above ``ks_exact_max_distinct``
    switch to the binned path — ONE joint groupBy on (psi_bin, ks_bin)
    whose post-scan size is O(n_bins · ks_bins) at any cardinality. PSI
    is bin-defined, so its value is IDENTICAL on both paths (same bins,
    same exact integer counts); only KS becomes approximate, bracketed
    by an extra ``(column, 'ks_err_bound', value)`` row = max bin mass
    (see :func:`ks_statistic` ``n_bins``). Set
    ``ks_exact_max_distinct=0`` to force binned, a huge value to force
    exact.

    ``release=True`` (default) materializes the tall result — it is
    O(cols·metrics) rows, trivially driver-sized — and unpersists every
    intermediate the suite cached, so repeated monitoring calls never
    accumulate cached partitions. ``release=False`` returns the LAZY
    plan (useful for plan audits) at the cost of leaving the suite's
    caches resident until the session ends or the caller clears them.
    """
    from pyspark.storagelevel import StorageLevel

    cols = list(dict.fromkeys([*numeric_cols, *categorical_cols]))
    ref = ref.select(*cols).persist(StorageLevel.MEMORY_AND_DISK)
    cur = cur.select(*cols).persist(StorageLevel.MEMORY_AND_DISK)
    # every frame persisted below is unpersisted before returning: the
    # suite's result is O(cols·metrics) rows, so it is materialized
    # driver-side at the end and handed back as a local frame — repeated
    # suite calls must not accumulate cached partitions for the life of
    # the session
    persisted: list[DataFrame] = [ref, cur]
    frames = []
    # distinct-count gate estimates for ALL numeric columns in TWO jobs
    # (one agg per side, reused by every column) — the sum is an upper
    # bound on pooled distincts, so routing is conservative: a column
    # can only be pushed toward the scale-safe binned arm, never the
    # exact arm
    est: dict[str, int] = {}
    if numeric_cols:
        # short-circuit: distincts are bounded by rows, so two cheap
        # count()s of the persisted projections settle the gate without
        # any per-column sketch when the snapshots are small
        n_rows = ref.count() + cur.count()
        if n_rows <= ks_exact_max_distinct:
            est = {c: n_rows for c in numeric_cols}
        else:
            ra = ref.agg(
                *[F.approx_count_distinct(c).alias(c) for c in numeric_cols]
            ).first()
            ca = cur.agg(
                *[F.approx_count_distinct(c).alias(c) for c in numeric_cols]
            ).first()
            est = {c: int(ra[c]) + int(ca[c]) for c in numeric_cols}
    # FUSED exact-path pass: instead of one tagged-union + groupBy(v)
    # job per numeric column (C data-passes, C shuffles), melt every
    # exact-routed column into ONE tall (column, v, side) frame with a
    # single stack() projection per snapshot and count per-value in ONE
    # groupBy(column, v) shuffle. Each column's downstream PSI/KS then
    # filters its slice out of the persisted melted frame — distinct
    # values only, never rows — so values are bit-identical to the
    # per-column pass (sums of the same exact integer counts, grouped
    # once instead of C times).
    exact_cols = [c for c in numeric_cols if est[c] <= ks_exact_max_distinct]
    melted = None
    if exact_cols:
        stack_args = ", ".join(
            f"'{c}', cast(`{c}` as double)" for c in exact_cols
        )
        melt = f"stack({len(exact_cols)}, {stack_args}) as (__col, v)"
        tall = (
            ref.selectExpr(melt)
            .withColumn("is_ref", F.lit(1))
            .unionByName(
                cur.selectExpr(melt).withColumn("is_ref", F.lit(0))
            )
        )
        melted = (
            tall.where(F.col("v").isNotNull())
            .groupBy("__col", "v")
            .agg(
                F.sum("is_ref").alias("rc"),
                F.sum(1 - F.col("is_ref")).alias("cc"),
            )
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
        persisted.append(melted)
        melted.count()
    binned_cols = [
        c for c in numeric_cols if est[c] > ks_exact_max_distinct
    ]
    if binned_cols:
        frames.extend(
            _drift_numeric_binned(
                ref, cur, binned_cols, n_bins, ks_bins, persisted=persisted
            )
        )
    if exact_cols:
        # PSI for ALL exact columns from the melted frame in one grouped
        # pipeline: per-column bin edges (C-row broadcast), bin counts
        # by ONE groupBy(column, bin) — bin sums of exact integer counts
        # equal psi_numeric's per-row counts exactly
        edges = melted.groupBy("__col").agg(
            F.min(F.when(F.col("rc") > 0, F.col("v"))).alias("mn"),
            F.max(F.when(F.col("rc") > 0, F.col("v"))).alias("mx"),
        )
        v = F.col("v")
        w = (F.col("mx") - F.col("mn")) / F.lit(float(n_bins))
        b = (
            F.when(v < F.col("mn"), F.lit(-1))
            .when(v > F.col("mx"), F.lit(n_bins))
            .when(F.col("mx") == F.col("mn"), F.lit(0))
            .otherwise(
                F.least(
                    F.floor((v - F.col("mn")) / w).cast("int"),
                    F.lit(n_bins - 1),
                )
            )
        )
        binned = (
            melted.join(F.broadcast(edges), "__col")
            .groupBy("__col", b.alias("bin"))
            .agg(
                F.sum("rc").alias("ref_cnt"), F.sum("cc").alias("cur_cnt")
            )
        )
        totals = binned.groupBy("__col").agg(
            F.sum("ref_cnt").alias("n_ref"), F.sum("cur_cnt").alias("n_cur")
        )
        psi = (
            binned.join(F.broadcast(totals), "__col")
            .select(
                "__col",
                F.round(
                    (
                        F.col("cur_cnt") / F.col("n_cur")
                        - F.col("ref_cnt") / F.col("n_ref")
                    )
                    * F.log(
                        F.greatest(
                            F.col("cur_cnt") / F.col("n_cur"), F.lit(_EPS)
                        )
                        / F.greatest(
                            F.col("ref_cnt") / F.col("n_ref"), F.lit(_EPS)
                        )
                    ),
                    6,
                ).alias("psi_term"),
            )
            .groupBy("__col")
            .agg(F.round(F.sum("psi_term"), 6).alias("psi_total"))
        )
        frames.append(
            psi.select(
                F.col("__col").alias("column"),
                F.lit("psi").alias("metric"),
                F.col("psi_total").cast("double").alias("value"),
            )
        )

        # KS for ALL exact columns via ONE per-column window over the
        # melted per-value counts. This is NOT an unbounded single-task
        # global window: every exact-routed column is provably ≤
        # ks_exact_max_distinct pooled distinct values (the routing
        # gate above — larger columns take the binned arm), so each
        # window partition is bounded at any data scale. The former
        # grouped dual-prefix-scan machinery (range repartition +
        # persist + subtotal collect + offset broadcast) exists for
        # UNGATED per-value frames; under the gate it paid three extra
        # jobs and a cache per suite call for the same cumulative
        # totals (r17 A/B at sf0.1: suite 4.6 → 4.1 s, values
        # bit-identical — integer sums over the same (column, v)
        # order; most of the suite's residual cost is the snapshot
        # scans + the melt exchange, profiled in OPTIMIZATION_r17.md).
        wcol = (
            Window.partitionBy("__col")
            .orderBy("v")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        scanned = melted.select(
            "__col",
            "v",
            F.sum("rc").over(wcol).alias("__ca"),
            F.sum("cc").over(wcol).alias("__cb"),
        )
        ks = (
            scanned.join(F.broadcast(totals), "__col")
            .select(
                "__col",
                F.abs(
                    F.col("__ca") / F.col("n_ref")
                    - F.col("__cb") / F.col("n_cur")
                ).alias("d"),
            )
            .groupBy("__col")
            .agg(F.round(F.max("d"), 6).alias("ks_stat"))
        )
        frames.append(
            ks.select(
                F.col("__col").alias("column"),
                F.lit("ks").alias("metric"),
                F.col("ks_stat").cast("double").alias("value"),
            )
        )
    if categorical_cols:
        # chi-square for ALL categorical columns in one grouped pipeline
        # (same fusion as the numeric melt): stack() both snapshots to
        # (column, category, side), ONE groupBy(column, category), then
        # per-column totals broadcast back for the χ² terms. NULL
        # categories stay their own level (stack passes them through),
        # matching chi_square_categorical exactly.
        cstack_args = ", ".join(
            f"'{c}', cast(`{c}` as string)" for c in categorical_cols
        )
        cmelt = (
            f"stack({len(categorical_cols)}, {cstack_args}) as (__col, cat)"
        )
        ctall = (
            ref.selectExpr(cmelt)
            .withColumn("is_ref", F.lit(1))
            .unionByName(
                cur.selectExpr(cmelt).withColumn("is_ref", F.lit(0))
            )
        )
        ccounts = ctall.groupBy("__col", "cat").agg(
            F.sum("is_ref").alias("rc"),
            F.sum(1 - F.col("is_ref")).alias("cc"),
        )
        ctotals = ccounts.groupBy("__col").agg(
            F.sum("rc").alias("n_ref"), F.sum("cc").alias("n_cur")
        )
        cterms = ccounts.join(F.broadcast(ctotals), "__col").select(
            "__col",
            F.round(
                F.pow(
                    F.col("rc")
                    - (F.col("rc") + F.col("cc"))
                    * F.col("n_ref")
                    / (F.col("n_ref") + F.col("n_cur")),
                    2,
                )
                / (
                    (F.col("rc") + F.col("cc"))
                    * F.col("n_ref")
                    / (F.col("n_ref") + F.col("n_cur"))
                )
                + F.pow(
                    F.col("cc")
                    - (F.col("rc") + F.col("cc"))
                    * F.col("n_cur")
                    / (F.col("n_ref") + F.col("n_cur")),
                    2,
                )
                / (
                    (F.col("rc") + F.col("cc"))
                    * F.col("n_cur")
                    / (F.col("n_ref") + F.col("n_cur"))
                ),
                # round per-term BEFORE the final sum (see
                # chi_square_categorical): rounded terms keep the
                # statistic hash-stable across engines
                6,
            ).alias("term"),
        )
        frames.append(
            cterms.groupBy("__col")
            .agg(F.round(F.sum("term"), 6).alias("chi2"))
            .select(
                F.col("__col").alias("column"),
                F.lit("chi2").alias("metric"),
                F.col("chi2").cast("double").alias("value"),
            )
        )
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f)
    if not release:
        return out
    # materialize the tall result (O(cols·metrics) rows — trivially
    # driver-sized) so every persisted intermediate can be released NOW
    # instead of leaking cached partitions for the session's lifetime;
    # the caller gets a local frame with the identical schema and values
    rows = out.collect()
    schema = out.schema
    for f in persisted:
        f.unpersist()
    return ref.sparkSession.createDataFrame(rows, schema)


def schema_drift(ref: DataFrame, cur: DataFrame) -> DataFrame:
    """Structural drift between two snapshots: columns added, removed,
    type-changed, or nullability-changed. Pure metadata comparison
    (StructType vs StructType — no job runs); the result is a tiny
    frame so it unions into the same monitoring sink as the value-drift
    statistics.

    Output: (column, change, ref_type, cur_type) with change ∈
    {added, removed, type_changed, nullability_changed}; empty when the
    schemas agree. Extends the reference's single-snapshot
    validate_schema (`src/transform/transform_engine.py:305-313`) to
    the two-snapshot monitoring question.
    """
    rf = {f.name: f for f in ref.schema.fields}
    cf = {f.name: f for f in cur.schema.fields}
    rows: list[tuple[str, str, "str | None", "str | None"]] = []
    for name in cf:
        if name not in rf:
            rows.append((name, "added", None, cf[name].dataType.simpleString()))
    for name in rf:
        if name not in cf:
            rows.append((name, "removed", rf[name].dataType.simpleString(), None))
    for name in rf:
        if name in cf:
            rt, ct = rf[name].dataType, cf[name].dataType
            if rt != ct:
                rows.append(
                    (name, "type_changed", rt.simpleString(), ct.simpleString())
                )
            elif rf[name].nullable != cf[name].nullable:
                rows.append(
                    (
                        name,
                        "nullability_changed",
                        f"nullable={rf[name].nullable}",
                        f"nullable={cf[name].nullable}",
                    )
                )
    return ref.sparkSession.createDataFrame(
        rows, "column string, change string, ref_type string, cur_type string"
    )


def save_drift_baseline(
    ref: DataFrame, col: str, path: str, n_bins: int = 10
) -> None:
    """Persist a reference snapshot's binned profile — edges + per-bin
    counts, ≤ n_bins rows — as parquet, so every later batch compares
    against the baseline WITHOUT rescanning reference history
    (the watermark-style incremental pattern applied to monitoring:
    state is tiny, the big scan happens once).
    """
    x = F.col(col).cast("double")
    edges = ref.agg(F.min(x).alias("mn"), F.max(x).alias("mx"))
    w = (F.col("mx") - F.col("mn")) / F.lit(float(n_bins))
    b = (
        F.when(x < F.col("mn"), F.lit(-1))
        .when(x > F.col("mx"), F.lit(n_bins))
        .when(F.col("mx") == F.col("mn"), F.lit(0))
        .otherwise(
            F.least(
                F.floor((x - F.col("mn")) / w).cast("int"),
                F.lit(n_bins - 1),
            )
        )
    )
    # store exact integer COUNTS, not fractions: no precision loss, so a
    # later psi_vs_baseline reproduces psi_numeric bit-for-bit
    counts = (
        ref.crossJoin(F.broadcast(edges))
        .where(x.isNotNull())
        .groupBy(b.alias("bin"))
        .agg(F.count(F.lit(1)).alias("ref_cnt"))
    )
    totals = counts.agg(F.coalesce(F.sum("ref_cnt"), F.lit(0)).alias("n_ref"))
    (
        counts.crossJoin(F.broadcast(edges))
        .crossJoin(F.broadcast(totals))
        .withColumn("n_bins", F.lit(n_bins))
        .write.mode("overwrite")
        .parquet(path)
    )


def psi_vs_baseline(cur: DataFrame, col: str, path: str) -> DataFrame:
    """PSI of a new batch against a stored :func:`save_drift_baseline`
    profile. The baseline contributes its saved bin fractions and edges
    (a few rows read back); only the NEW batch is scanned. Output shape
    matches :func:`psi_numeric`: per-bin rows + ``psi_total``.

    Raises ``ValueError`` when the current batch has no non-null values
    (the statistic is undefined — see :func:`_require_current_sample`).
    """
    _require_current_sample(cur, col)
    spark = cur.sparkSession
    base = spark.read.parquet(path)
    meta = base.select("mn", "mx", "n_bins", "n_ref").first()
    # an empty baseline parquet (reference had no non-null values) makes
    # .first() return None — same diagnosis as a null mn/mx
    if meta is None or meta["mn"] is None or meta["mx"] is None:
        raise ValueError("baseline has no numeric support (empty reference)")
    mn, mx, n_bins = meta["mn"], meta["mx"], int(meta["n_bins"])
    n_ref = meta["n_ref"]

    x = F.col(col).cast("double")
    w = (mx - mn) / float(n_bins)
    b = (
        F.when(x < F.lit(mn), F.lit(-1))
        .when(x > F.lit(mx), F.lit(n_bins))
        .when(F.lit(mx == mn), F.lit(0))
        .otherwise(
            F.least(
                F.floor((x - F.lit(mn)) / F.lit(w)).cast("int")
                if w > 0
                else F.lit(0),
                F.lit(n_bins - 1),
            )
        )
    )
    cur_counts = (
        cur.where(x.isNotNull()).groupBy(b.alias("bin")).agg(
            F.count(F.lit(1)).alias("cur_cnt")
        )
    )
    totals = cur_counts.agg(
        F.coalesce(F.sum("cur_cnt"), F.lit(0)).alias("n_cur")
    )
    joined = (
        base.select("bin", "ref_cnt")
        .join(cur_counts, "bin", "full_outer")
        .crossJoin(F.broadcast(totals))
        .select(
            "bin",
            (F.coalesce("ref_cnt", F.lit(0)) / F.lit(n_ref)).alias("_rf"),
            (F.coalesce("cur_cnt", F.lit(0)) / F.col("n_cur")).alias("_cf"),
        )
    )
    # identical arithmetic to psi_numeric: raw count ratios into the log,
    # rounding only at the output — bit-for-bit the direct statistic
    terms = joined.select(
        "bin",
        F.round("_rf", 6).alias("ref_frac"),
        F.round("_cf", 6).alias("cur_frac"),
        F.round(
            (F.col("_cf") - F.col("_rf"))
            * F.log(
                F.greatest(F.col("_cf"), F.lit(_EPS))
                / F.greatest(F.col("_rf"), F.lit(_EPS))
            ),
            6,
        ).alias("psi_term"),
    )
    total = terms.agg(F.round(F.sum("psi_term"), 6).alias("psi_total"))
    return terms.crossJoin(F.broadcast(total))


def ks_vs_baseline(
    cur: DataFrame, col: str, path: str, release: bool = True
) -> DataFrame:
    """Binned KS of a new batch against a stored
    :func:`save_drift_baseline` profile — the KS member of the
    baseline-monitoring family (:func:`psi_vs_baseline`): the reference
    history is never rescanned, only the new batch is.

    The baseline's fixed bin grid (reference [min, max] plus explicit
    underflow/overflow bins) is a valid common binning for a two-sample
    CDF comparison, so the statistic carries the same bracket as
    :func:`ks_statistic` ``n_bins``: ``ks_stat ≤ D_exact ≤ ks_stat +
    err_bound`` with ``err_bound`` = max bin mass. Out-of-range drift
    mass lands in the under/overflow bins and is fully visible to the
    statistic. Output: 1 row — (ks_stat, n_ref, n_cur, err_bound).

    Raises ``ValueError`` when the current batch has no non-null values
    (the statistic is undefined — see :func:`_require_current_sample`).

    ``release=True`` (default) materializes the 1-row result and frees
    the prefix-scan cache — this comparator runs once per MICRO-BATCH in
    the streaming monitor, where a per-call cached partition would
    accumulate forever. ``release=False`` keeps the lazy plan.
    """
    _require_current_sample(cur, col)
    spark = cur.sparkSession
    base = spark.read.parquet(path)
    meta = base.select("mn", "mx", "n_bins", "n_ref").first()
    if meta is None or meta["mn"] is None or meta["mx"] is None:
        raise ValueError("baseline has no numeric support (empty reference)")
    mn, mx, n_bins = meta["mn"], meta["mx"], int(meta["n_bins"])
    n_ref = int(meta["n_ref"])

    x = F.col(col).cast("double")
    w = (mx - mn) / float(n_bins)
    b = (
        F.when(x < F.lit(mn), F.lit(-1))
        .when(x > F.lit(mx), F.lit(n_bins))
        .when(F.lit(mx == mn), F.lit(0))
        .otherwise(
            F.least(
                F.floor((x - F.lit(mn)) / F.lit(w)).cast("int")
                if w > 0
                else F.lit(0),
                F.lit(n_bins - 1),
            )
        )
    )
    cur_counts = cur.where(x.isNotNull()).groupBy(b.alias("bin")).agg(
        F.count(F.lit(1)).alias("cc")
    )
    merged = (
        base.select("bin", F.col("ref_cnt").alias("rc"))
        .join(cur_counts, "bin", "full_outer")
        .select(
            "bin",
            F.coalesce("rc", F.lit(0)).alias("rc"),
            F.coalesce("cc", F.lit(0)).alias("cc"),
        )
    )
    persisted: list[DataFrame] = []
    scanned = _dual_prefix_scan(
        merged, "bin", "rc", "cc", persisted=persisted
    )
    totals = merged.agg(F.sum("cc").alias("n_cur"))
    out = (
        scanned.crossJoin(F.broadcast(totals))
        .select(
            F.abs(
                F.col("__ca") / F.lit(n_ref) - F.col("__cb") / F.col("n_cur")
            ).alias("d"),
            F.greatest(
                F.col("rc") / F.lit(n_ref), F.col("cc") / F.col("n_cur")
            ).alias("bin_mass"),
            "n_cur",
        )
        .groupBy("n_cur")
        .agg(
            F.round(F.max("d"), 6).alias("ks_stat"),
            F.round(F.max("bin_mass"), 6).alias("err_bound"),
        )
        .select(
            "ks_stat",
            F.lit(n_ref).cast("long").alias("n_ref"),
            F.col("n_cur").cast("long").alias("n_cur"),
            "err_bound",
        )
    )
    if not release:
        return out
    rows = out.collect()
    schema = out.schema
    for f in persisted:
        f.unpersist()
    return spark.createDataFrame(rows, schema)


def qq_table(
    ref: DataFrame,
    cur: DataFrame,
    col: str,
    quantiles: "Sequence[float]" = (0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9),
) -> DataFrame:
    """Quantile–quantile drift table: the two snapshots' exact deciles
    side by side with their differences — WHERE in the distribution the
    drift lives (PSI/KS say *that* it moved; the QQ table says "the p90
    moved 40%, the median didn't" — the row a human acts on).

    Each side rides the scale-safe exact-quantile formulation
    (functions/aggregations.py::global_quantiles — per-value counts +
    distributed prefix scan, never a single-task percentile buffer);
    the join is on the ≤len(quantiles)-row result frames. Output:
    (p, ref_value, cur_value, diff, rel_diff 6dp), ordered by p;
    rel_diff is NULL at a zero reference value.
    """
    from metadata_etl_framework_spark.functions.aggregations import (
        global_quantiles,
    )

    _require_two_samples(ref, cur, col)
    rq = global_quantiles(ref, col, quantiles).withColumnRenamed(
        "value", "ref_value"
    )
    cq = global_quantiles(cur, col, quantiles).withColumnRenamed(
        "value", "cur_value"
    )
    diff = F.col("cur_value") - F.col("ref_value")
    return (
        rq.join(cq, "p")
        .select(
            "p",
            "ref_value",
            "cur_value",
            F.round(diff, 6).alias("diff"),
            F.round(
                F.when(F.col("ref_value") != 0, diff / F.col("ref_value")),
                6,
            ).alias("rel_diff"),
        )
        .orderBy("p")
    )


_KS_SERIES_TERMS = 20


def ks_significance(
    ref: DataFrame,
    cur: DataFrame,
    col: str,
    n_bins: "int | None" = None,
) -> DataFrame:
    """:func:`ks_statistic` plus its asymptotic two-sided p-value — the
    "is this drift REAL or just sampling noise" number a monitoring
    alert needs before paging anyone.

    The standard asymptotic approximation: with effective size
    n_e = n_ref·n_cur/(n_ref+n_cur) and λ = (√n_e + 0.12 + 0.11/√n_e)·D,
    p = 2·Σ_{j≥1} (−1)^{j−1} e^{−2j²λ²}, truncated at a FIXED
    {terms} terms (the series converges like e^{−2j²}; both engines
    evaluating the same truncation makes the value deterministic and
    cross-engine reproducible). λ < 0.1 short-circuits to p = 1 — the
    alternating series needs unboundedly many terms as λ → 0 while the
    true tail probability is 1 there (Numerical Recipes' probks applies
    the same escape). Valid for the usual n ≳ 35 per side; with
    ``n_bins`` the p-value inherits the binned D's conservative bias
    (D_binned ≤ D_exact → p is an upper bound — the safe direction for
    alerting). Output: ks_statistic's row + (lambda 6dp, p_value 6dp,
    clamped to [0, 1]).
    """
    stat = ks_statistic(ref, cur, col, n_bins=n_bins)
    ne = (
        F.col("n_ref") * F.col("n_cur")
        / (F.col("n_ref") + F.col("n_cur"))
    )
    lam = (
        F.sqrt(ne) + F.lit(0.12) + F.lit(0.11) / F.sqrt(ne)
    ) * F.col("ks_stat")
    series = None
    for j in range(1, _KS_SERIES_TERMS + 1):
        term = F.lit(float((-1) ** (j - 1)) * 2.0) * F.exp(
            F.lit(-2.0 * j * j) * F.col("_lam") * F.col("_lam")
        )
        series = term if series is None else series + term
    return (
        stat.withColumn("_lam", lam)
        .withColumn(
            "p_value",
            F.round(
                F.when(F.col("_lam") < 0.1, F.lit(1.0)).otherwise(
                    F.least(F.lit(1.0), F.greatest(F.lit(0.0), series))
                ),
                6,
            ),
        )
        .withColumn("lambda", F.round(F.col("_lam"), 6))
        .drop("_lam")
    )


def embedding_drift(
    ref: DataFrame,
    cur: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_bins: int = 10,
) -> DataFrame:
    """Drift between two EMBEDDING snapshots — the representation-space
    arm of the drift suite: scalar drift detectors can't see a corpus
    whose values stay in range while its geometry moves (new topics,
    encoder version bumps, silent domain shift).

    Three readouts in one tall frame:

    - ``centroid_cosine`` / ``centroid_l2``: alignment and distance of
      the two snapshot centroids (per-dim DECIMAL-exact means).
    - ``psi_cos_to_centroid``: each row is reduced to ONE scalar — its
      cosine to the REFERENCE centroid — and the two scalar
      distributions feed :func:`psi_numeric` (reference-range bins,
      the suite's standard smoothing). A rotated or bimodally split
      corpus moves this distribution even when the centroid barely
      shifts.
    - ``n_ref`` / ``n_cur``: usable-vector counts.

    Scale shape: one posexplode projection per snapshot (rows × dims,
    the GEMV layout), joined against the broadcast d-row centroid,
    grouped back to one scalar per row; dot/norm terms accumulate as
    DECIMAL(30,15) (the similarity family's idiom) so every scalar is
    merge-order-independent and the SQL oracle replays it bit-for-bit.
    Rows with NULL vectors are excluded.

    Output: (metric, value) — metrics n_ref, n_cur, centroid_cosine,
    centroid_l2, psi_cos_to_centroid.
    """
    dot_dec = "decimal(30,15)"

    # ONE tagged GEMV layout shared by every consumer (r17, guide
    # §2.4/§5): the former per-side `_dims` posexplode executed FOUR
    # times (centroid + cosine pass, per snapshot); the tagged union
    # materializes once and the centroid/cosine groupBys carry the
    # side tag — per-(side, key) DECIMAL sums are the same groups as
    # the per-side frames, so every value is bit-identical.
    def _dims_tagged(df: DataFrame, flag: int) -> DataFrame:
        return df.where(F.col(vec_col).isNotNull()).select(
            F.lit(flag).alias("_side"),
            F.col(id_col).alias("rid"),
            F.posexplode(F.col(vec_col)).alias("pos", "x"),
        ).select(
            "_side", "rid", "pos", F.col("x").cast("double").alias("x")
        )

    dims = (
        _dims_tagged(ref, 1).unionByName(_dims_tagged(cur, 0)).persist()
    )
    cents = (
        dims.groupBy("_side", "pos")
        .agg(
            (
                F.sum(F.col("x").cast(dot_dec)).cast("double")
                / F.count(F.lit(1))
            ).alias("m")
        )
        .persist()
    )
    c_ref = cents.where(F.col("_side") == 1).select("pos", "m")
    c_cur = cents.where(F.col("_side") == 0).select("pos", "m")
    # centroid alignment: join the two d-row frames on dim
    cc = (
        c_ref.join(
            c_cur.withColumnRenamed("m", "m2"), "pos", "full_outer"
        )
        .select(
            F.coalesce("m", F.lit(0.0)).alias("m"),
            F.coalesce("m2", F.lit(0.0)).alias("m2"),
        )
        .agg(
            F.sum((F.col("m") * F.col("m2")).cast(dot_dec))
            .cast("double")
            .alias("dot"),
            F.sum((F.col("m") * F.col("m")).cast(dot_dec))
            .cast("double")
            .alias("nr"),
            F.sum((F.col("m2") * F.col("m2")).cast(dot_dec))
            .cast("double")
            .alias("nc"),
            F.sum(
                (
                    (F.col("m") - F.col("m2"))
                    * (F.col("m") - F.col("m2"))
                ).cast(dot_dec)
            )
            .cast("double")
            .alias("d2"),
        )
    )
    cent_ref_b = F.broadcast(c_ref)
    ref_norm = c_ref.agg(
        F.sum((F.col("m") * F.col("m")).cast(dot_dec))
        .cast("double")
        .alias("cn")
    )

    # one tagged cosine pass over the cached dims (both snapshots),
    # then the per-side frames are narrow filters of the one cache —
    # it feeds FOUR consumers per side (psi bin pass, psi edge pass,
    # totals, row counts), so without it every branch would replay
    # the GEMV scan (the mutual_information persistence rationale)
    per = (
        dims.join(cent_ref_b, "pos")
        .groupBy("_side", "rid")
        .agg(
            F.sum((F.col("x") * F.col("m")).cast(dot_dec))
            .cast("double")
            .alias("dot"),
            F.sum((F.col("x") * F.col("x")).cast(dot_dec))
            .cast("double")
            .alias("nx"),
        )
    )
    denom = F.sqrt(F.col("nx")) * F.sqrt(F.col("cn"))
    cos_all = (
        per.crossJoin(F.broadcast(ref_norm))
        .select(
            "_side", F.when(denom > 0, F.col("dot") / denom).alias("cos")
        )
        .persist()
    )
    rcos = cos_all.where(F.col("_side") == 1).select("cos")
    ccos = cos_all.where(F.col("_side") == 0).select("cos")
    psi = (
        psi_numeric(rcos, ccos, "cos", n_bins=n_bins)
        .select("psi_total")
        .limit(1)
    )

    counts_ref = rcos.agg(F.count(F.lit(1)).alias("v"))
    counts_cur = ccos.agg(F.count(F.lit(1)).alias("v"))
    cos_l2 = cc.select(
        F.when(
            (F.col("nr") > 0) & (F.col("nc") > 0),
            F.col("dot") / (F.sqrt(F.col("nr")) * F.sqrt(F.col("nc"))),
        ).alias("ccos"),
        F.sqrt(F.col("d2")).alias("cl2"),
    )
    rows = [
        counts_ref.select(
            F.lit("n_ref").alias("metric"),
            F.col("v").cast("double").alias("value"),
        ),
        counts_cur.select(
            F.lit("n_cur").alias("metric"),
            F.col("v").cast("double").alias("value"),
        ),
        cos_l2.select(
            F.lit("centroid_cosine").alias("metric"),
            F.round("ccos", 6).alias("value"),
        ),
        cos_l2.select(
            F.lit("centroid_l2").alias("metric"),
            F.round("cl2", 6).alias("value"),
        ),
        psi.select(
            F.lit("psi_cos_to_centroid").alias("metric"),
            F.col("psi_total").cast("double").alias("value"),
        ),
    ]
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    # 5-row result: materialize eagerly and release the caches
    # (the mutual_information materialize-and-release convention)
    collected = out.collect()
    schema = out.schema
    cos_all.unpersist()
    cents.unpersist()
    dims.unpersist()
    return ref.sparkSession.createDataFrame(collected, schema)


# asymptotic critical values of the two-sample Cramér–von Mises
# criterion (Anderson & Darling 1952 limiting distribution)
CVM_CRIT_05 = 0.461
CVM_CRIT_01 = 0.743


def cvm_statistic(ref: DataFrame, cur: DataFrame, col: str) -> DataFrame:
    """Two-sample Cramér–von Mises criterion — the INTEGRATED companion
    to :func:`ks_statistic`: where KS reads the single worst CDF gap,
    CvM integrates the squared gap over the whole pooled distribution
    (T = n₁n₂/N² · Σ_pooled (F₁−F₂)², summing over pooled observations
    with multiplicity), so spread-out moderate drift that never forms
    one big gap — the shape KS is weakest on — still registers.

    Same scale-safe plan as exact KS: per-value counts per side, full
    outer merge, the dual prefix scan (never a single-task global
    window); per-value terms t_x·(F₁−F₂)² round to 12 dp and sum as
    DECIMAL, then one closed-form scale. Flags against the asymptotic
    5%/1% critical values (0.461 / 0.743).

    Output: 1 row — (cvm_stat 6 dp, n_ref, n_cur, drift_05, drift_01).
    """
    _require_two_samples(ref, cur, col)
    merged = _merged_value_counts(ref, cur, col)
    scanned = _dual_prefix_scan(merged, "v", "rc", "cc")
    totals = merged.agg(
        F.sum("rc").alias("n_ref"), F.sum("cc").alias("n_cur")
    )
    term = (
        (F.col("rc") + F.col("cc")).cast("double")
        * (
            F.col("__ca") / F.col("n_ref")
            - F.col("__cb") / F.col("n_cur")
        )
        * (
            F.col("__ca") / F.col("n_ref")
            - F.col("__cb") / F.col("n_cur")
        )
    )
    summed = (
        scanned.crossJoin(F.broadcast(totals))
        .select(
            F.round(term, 12).cast("decimal(28,12)").alias("_t"),
            "n_ref",
            "n_cur",
        )
        .groupBy("n_ref", "n_cur")
        .agg(F.sum("_t").alias("_s"))
    )
    n1d = F.col("n_ref").cast("double")
    n2d = F.col("n_cur").cast("double")
    nd = n1d + n2d
    stat = F.round(
        n1d * n2d / (nd * nd) * F.col("_s").cast("double"), 6
    )
    return summed.select(
        stat.alias("cvm_stat"),
        F.col("n_ref").cast("long").alias("n_ref"),
        F.col("n_cur").cast("long").alias("n_cur"),
        (stat > F.lit(CVM_CRIT_05)).alias("drift_05"),
        (stat > F.lit(CVM_CRIT_01)).alias("drift_01"),
    )


def embedding_mmd_rff(
    ref: DataFrame,
    cur: DataFrame,
    vec_col: str = "embedding",
    n_features: int = 8,
    lengthscale: float = 1.0,
) -> DataFrame:
    """Kernel two-sample drift between embedding snapshots: MMD² for
    the RBF kernel, approximated with deterministic RANDOM FOURIER
    FEATURES (Rahimi & Recht 2007) — the linear-time arm of kernel
    drift, complementing :func:`embedding_drift`'s centroid/PSI view
    with a statistic sensitive to the FULL distribution shape. The
    exact quadratic-kernel MMD is all-pairs (hopeless at corpus
    scale); with features z_i(x) = cos(w_i·x/ℓ + b_i),
    MMD² ≈ (2/D)·Σᵢ (E_ref zᵢ − E_cur zᵢ)² — one aggregation pass
    over both snapshots, no pairs ever formed.

    Determinism/oracle contract: w_i come from
    ops/similarity.py::det_hyperplanes_mixed (pure integer recurrence,
    SQL-replayable) and b_i from the same recurrence family, so every
    engine regenerates identical projections; plane dots accumulate as
    exact DECIMAL(30,15) element products (the embed_knn convention —
    merge-order free), cos features round to pico-ints and sum as
    DECIMAL(38,0), and the final means/deltas follow a pinned op
    order. One tiny job infers the embedding dimension; everything
    else is a single tagged aggregation (2·D + 2 streams).

    Output: 1 row — (n_ref, n_cur, n_features, mmd2 6 dp, mmd 6 dp);
    null statistics when either snapshot is empty.
    """
    from metadata_etl_framework_spark.ops.similarity import (
        _decimal_dot,
        det_hyperplanes_mixed,
    )

    if n_features < 1:
        raise ValueError("n_features must be >= 1")
    if not lengthscale > 0:
        raise ValueError("lengthscale must be > 0")
    first = (
        ref.where(F.col(vec_col).isNotNull())
        .select(F.size(vec_col).alias("_d"))
        .limit(1)
        .collect()
    )
    if not first:
        first = (
            cur.where(F.col(vec_col).isNotNull())
            .select(F.size(vec_col).alias("_d"))
            .limit(1)
            .collect()
        )
    dim = int(first[0]["_d"]) if first else 0
    spark = ref.sparkSession
    if dim == 0:
        return spark.createDataFrame(
            [(0, 0, int(n_features), None, None)],
            "n_ref long, n_cur long, n_features int, mmd2 double, "
            "mmd double",
        )
    planes = det_hyperplanes_mixed(int(n_features), dim)
    # phase offsets in [0, 2π): same integer-recurrence family as the
    # planes — regenerable in any engine, no RNG
    bs = [
        6.283185307179586 * (((i * 7919 + 104729) % 65521) / 65521.0)
        for i in range(int(n_features))
    ]
    tagged = ref.where(F.col(vec_col).isNotNull()).select(
        F.lit(0).alias("_side"), F.col(vec_col).alias("_v")
    ).unionByName(
        cur.where(F.col(vec_col).isNotNull()).select(
            F.lit(1).alias("_side"), F.col(vec_col).alias("_v")
        )
    )
    aggs = [
        F.sum(F.when(F.col("_side") == 0, F.lit(1)).otherwise(0)).alias(
            "_nr"
        ),
        F.sum(F.when(F.col("_side") == 1, F.lit(1)).otherwise(0)).alias(
            "_nc"
        ),
    ]
    for i in range(int(n_features)):
        w = F.array(*[F.lit(float(v)) for v in planes[i]])
        z = F.cos(
            _decimal_dot(F.col("_v"), w) / F.lit(float(lengthscale))
            + F.lit(float(bs[i]))
        )
        zp = F.round(z * F.lit(1e12)).cast("decimal(38,0)")
        aggs.append(
            F.sum(F.when(F.col("_side") == 0, zp)).alias(f"_r{i}")
        )
        aggs.append(
            F.sum(F.when(F.col("_side") == 1, zp)).alias(f"_c{i}")
        )
    row = tagged.agg(*aggs)
    # per-feature squared deltas round to 10 dp and sum as DECIMAL so
    # the cross-feature total is addition-order free (the oracle sums
    # the same terms grouped per plane — double addition would differ)
    terms = None
    for i in range(int(n_features)):
        mr = (
            F.col(f"_r{i}").cast("double") / F.lit(1e12)
        ) / F.col("_nr")
        mc = (
            F.col(f"_c{i}").cast("double") / F.lit(1e12)
        ) / F.col("_nc")
        t = F.round((mr - mc) * (mr - mc), 10).cast("decimal(28,10)")
        terms = t if terms is None else (terms + t).cast(
            "decimal(28,10)"
        )
    mmd2 = (F.lit(2.0) / F.lit(float(n_features))) * terms.cast(
        "double"
    )
    ok = (F.col("_nr") > 0) & (F.col("_nc") > 0)
    return row.select(
        F.col("_nr").cast("long").alias("n_ref"),
        F.col("_nc").cast("long").alias("n_cur"),
        F.lit(int(n_features)).alias("n_features"),
        F.when(ok, F.round(mmd2, 6)).alias("mmd2"),
        F.when(
            ok, F.round(F.sqrt(F.greatest(mmd2, F.lit(0.0))), 6)
        ).alias("mmd"),
    )
