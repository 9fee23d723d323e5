"""Distributed statistical inference: bootstrap CIs, CUPED, FDR, Theil–Sen.

The reference's quality plane stops at point statistics (means, PSI/KS
numbers — cf. /root/reference/src/quality/data_profiler.py); this module
adds the INFERENCE layer a data-driven org runs on top: how uncertain is
that mean (bootstrap), is that A/B lift real after covariate adjustment
(CUPED), which of my 500 drift tests survive multiple-testing correction
(Benjamini–Hochberg), and what's the robust trend (Theil–Sen).

Scale design:
- The bootstrap is the POISSON bootstrap (the industry-standard
  map-reduce resampling: each row independently draws a Poisson(1)
  weight per replicate — no global resample shuffle, one pass, map-side
  partial aggregation collapses the R-fold row blow-up to R rows per
  task). Weights come from the engine-portable 32-bit mix hash
  (ops/sketch.py::hash32) through the fixed inverse-CDF ladder of
  Poisson(1), so a DuckDB oracle replays every weight bit-for-bit.
- CUPED moments (Σx, Σy, Σx², Σxy) accumulate in DECIMAL — merge-order
  independent, no F.corr numerical drift — and θ, the adjusted means
  and the variance reduction are closed forms over one 1-row frame.
- BH-FDR is a window rank over the (tiny) test-results frame.
- Theil–Sen is quadratic in points-per-group by construction, so a
  ``max_points`` gate fails loud instead of letting a mega-group
  detonate the pair join (same convention as prefilter_max_rows).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


from .sketch import hash32

__all__ = [
    "poisson_bootstrap_ci",
    "poisson_bootstrap_diff",
    "cuped_adjusted_effect",
    "fdr_bh",
    "p_adjust_panel",
    "theil_sen_trend",
    "ljung_box",
    "cohens_d",
    "simpsons_check",
    "spearman_corr",
    "kruskal_wallis",
    "ar_forecast",
    "holt_winters_backtest",
    "esd_outliers",
    "ab_ratio_delta",
]

_DEC = "decimal(30,10)"

# cumulative inverse-CDF ladder of Poisson(1): P(X <= k) for k = 0..6,
# spelled as EXACT literals so Spark and any SQL oracle evaluate the
# identical CASE thresholds (tail mass beyond 7 is < 1e-7 -> clamp)
POISSON1_CDF = (
    0.36787944117144233,
    0.7357588823428847,
    0.9196986029286058,
    0.9810118431238463,
    0.9963401531726563,
    0.9994058151824183,
    0.999916758850712,
)
_M32F = 4294967296.0


def _poisson1_weight(u):  # u in [0, 1)
    w = F.lit(7)
    for k in range(len(POISSON1_CDF) - 1, -1, -1):
        w = F.when(u < F.lit(POISSON1_CDF[k]), F.lit(k)).otherwise(w)
    return w


def poisson_bootstrap_ci(
    df: DataFrame,
    value_col: str,
    key_col: str,
    n_boot: int = 100,
    alpha: float = 0.05,
    max_boot: int = 10_000,
    value_scale: int | None = None,
) -> DataFrame:
    """Percentile bootstrap CI of the mean via the Poisson bootstrap.

    Each row r and replicate b draws weight ~ Poisson(1) from
    hash32(key·1000003 + b) — deterministic, engine-portable, and
    independent-enough across (row, replicate) for the bootstrap
    (Chamandy et al., "Estimating Uncertainty for Massive Data
    Streams", the standard trick because it needs NO global resample:
    the replicate fan-out — a bounded ``n_boot``-row broadcast cross —
    is collapsed by map-side partial aggregation, so the shuffle is
    ``n_boot`` rows per task regardless of data size).

    ``value_scale``: for values that are exact multiples of
    1/value_scale (money in cents → 100), the weighted sums run as
    LONG integers — exact, merge-order free, and ~2× faster than the
    DECIMAL accumulator the default path uses for arbitrary doubles.
    The caller asserts the granularity; a value that is NOT on the
    grid is silently rounded to it.

    Replicate means are rounded to 6 dp BEFORE ranking/averaging so
    every downstream number is merge-order independent; the CI picks
    order statistics floor(α/2·R)+1 and ceil((1−α/2)·R) over the R
    non-empty replicates. Output: 1 row — (n_rows, point_est,
    boot_mean, ci_lo, ci_hi, n_boot int).
    """
    if not 1 <= n_boot <= max_boot:
        raise ValueError(
            f"n_boot={n_boot} outside [1, {max_boot}] — the fan-out "
            f"multiplies the scan by n_boot; raise max_boot explicitly "
            f"if you really want more replicates"
        )
    from pyspark.sql.types import NumericType

    kt = df.schema[key_col].dataType
    if not isinstance(kt, NumericType):
        # fail-loud precondition (round-12 advice): a non-numeric key
        # survives the isNotNull filter but cast("long") nulls it, u
        # goes null, and _poisson1_weight's when-chain would fall to
        # the otherwise(7) clamp — every row constant weight 7 in every
        # replicate, a silently point-collapsed CI
        raise TypeError(
            f"key_col {key_col!r} must be a numeric column for the "
            f"replicate hash (got {kt.simpleString()}); hash a "
            f"surrogate first, e.g. F.xxhash64(key)"
        )
    if value_scale is None:
        val = F.col(value_col).cast("double").cast(_DEC)
        denom = F.lit(1.0)
    else:
        if value_scale < 1:
            raise ValueError(f"value_scale must be >= 1, got {value_scale}")
        val = F.round(
            F.col(value_col).cast("double") * F.lit(int(value_scale))
        ).cast("long")
        denom = F.lit(float(value_scale))
    base = df.where(
        F.col(value_col).isNotNull() & F.col(key_col).isNotNull()
    ).select(
        F.col(key_col).cast("long").alias("_k"),
        val.alias("_v"),
    )
    reps = df.sparkSession.range(int(n_boot)).select(
        F.col("id").cast("int").alias("_b")
    )
    rep = base.crossJoin(F.broadcast(reps))
    u = hash32(F.col("_k") * F.lit(1000003) + F.col("_b")) / F.lit(_M32F)
    weighted = rep.withColumn("_w", _poisson1_weight(u))
    means = (
        weighted.groupBy("_b")
        .agg(
            F.sum("_w").alias("_n"),
            F.sum(F.col("_w") * F.col("_v")).alias("_s"),
        )
        .where(F.col("_n") > 0)
        .select(
            F.round(
                F.col("_s").cast("double") / denom / F.col("_n"), 6
            ).alias("_m"),
            "_b",
        )
    )
    w = Window.orderBy("_m", "_b")
    ranked = means.withColumn("_rn", F.row_number().over(w))
    lo = F.floor(F.lit(alpha / 2.0) * F.col("_r")) + 1
    hi = F.ceil(F.lit(1.0 - alpha / 2.0) * F.col("_r"))
    ci = (
        ranked.withColumn("_r", F.count(F.lit(1)).over(Window.partitionBy()))
        .agg(
            F.min(F.when(F.col("_rn") == lo, F.col("_m"))).alias("ci_lo"),
            F.min(F.when(F.col("_rn") == hi, F.col("_m"))).alias("ci_hi"),
            F.round(
                F.sum(F.col("_m").cast("decimal(20,6)")).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("boot_mean"),
        )
    )
    point = base.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.round(
            F.sum("_v").cast("double") / denom / F.count(F.lit(1)),
            6,
        ).alias("point_est"),
    )
    return point.crossJoin(ci).select(
        "n_rows",
        "point_est",
        "boot_mean",
        "ci_lo",
        "ci_hi",
        F.lit(int(n_boot)).cast("int").alias("n_boot"),
    )


def poisson_bootstrap_diff(
    df: DataFrame,
    group_col: str,
    value_col: str,
    key_col: str,
    n_boot: int = 100,
    alpha: float = 0.05,
    max_boot: int = 10_000,
    value_scale: int | None = None,
) -> DataFrame:
    """Percentile bootstrap CI of the DIFFERENCE in means between two
    groups — the uncertainty readout an A/B summary actually needs
    (the :func:`poisson_bootstrap_ci` machinery lifted to the
    two-sample statistic; same hash ladder, same scale design: the
    n_boot-row fan-out collapses map-side, the shuffle is
    n_boot·2 rows per task regardless of data size).

    Each replicate reweights BOTH arms with the same deterministic
    per-(row, replicate) Poisson(1) weights, takes each arm's 6-dp
    weighted mean, and differences them (group_a − group_b with groups
    ordered ascending — deterministic orientation). Replicates where
    either arm weights to zero are dropped (reported via
    ``n_boot_used``). ``value_scale`` as in the one-sample form:
    LONG-exact sums for grid-valued metrics.

    Output: 1 row — (variant_a, n_a, mean_a, variant_b, n_b, mean_b,
    point_diff, boot_mean_diff, ci_lo, ci_hi — 6 dp,
    n_boot_used int).
    """
    if not 1 <= n_boot <= max_boot:
        raise ValueError(
            f"n_boot={n_boot} outside [1, {max_boot}] — the fan-out "
            f"multiplies the scan by n_boot; raise max_boot explicitly"
        )
    from pyspark.sql.types import NumericType

    kt = df.schema[key_col].dataType
    if not isinstance(kt, NumericType):
        raise TypeError(
            f"key_col {key_col!r} must be a numeric column for the "
            f"replicate hash (got {kt.simpleString()}); hash a "
            f"surrogate first, e.g. F.xxhash64(key)"
        )
    if value_scale is None:
        val = F.col(value_col).cast("double").cast(_DEC)
        denom = F.lit(1.0)
    else:
        if value_scale < 1:
            raise ValueError(f"value_scale must be >= 1, got {value_scale}")
        val = F.round(
            F.col(value_col).cast("double") * F.lit(int(value_scale))
        ).cast("long")
        denom = F.lit(float(value_scale))
    base = df.where(
        F.col(value_col).isNotNull()
        & F.col(key_col).isNotNull()
        & F.col(group_col).isNotNull()
    ).select(
        F.col(group_col).cast("string").alias("_g"),
        F.col(key_col).cast("long").alias("_k"),
        val.alias("_v"),
    )
    groups = [
        r["_g"] for r in base.select("_g").distinct().orderBy("_g").collect()
    ]
    if len(groups) != 2:
        raise ValueError(
            f"poisson_bootstrap_diff needs exactly 2 groups, got {groups}"
        )
    ga, gb = groups
    reps = df.sparkSession.range(int(n_boot)).select(
        F.col("id").cast("int").alias("_b")
    )
    rep = base.crossJoin(F.broadcast(reps))
    u = hash32(F.col("_k") * F.lit(1000003) + F.col("_b")) / F.lit(_M32F)
    weighted = rep.withColumn("_w", _poisson1_weight(u))
    gm = (
        weighted.groupBy("_b", "_g")
        .agg(
            F.sum("_w").alias("_n"),
            F.sum(F.col("_w") * F.col("_v")).alias("_s"),
        )
        .where(F.col("_n") > 0)
        .select(
            "_b",
            "_g",
            F.round(
                F.col("_s").cast("double") / denom / F.col("_n"), 6
            ).alias("_m"),
        )
    )
    diffs = (
        gm.where(F.col("_g") == ga)
        .select("_b", F.col("_m").alias("_ma"))
        .join(
            gm.where(F.col("_g") == gb).select(
                "_b", F.col("_m").alias("_mb")
            ),
            "_b",
        )
        .select("_b", F.round(F.col("_ma") - F.col("_mb"), 6).alias("_d"))
    )
    w = Window.orderBy("_d", "_b")
    ranked = diffs.withColumn("_rn", F.row_number().over(w))
    lo = F.floor(F.lit(alpha / 2.0) * F.col("_r")) + 1
    hi = F.ceil(F.lit(1.0 - alpha / 2.0) * F.col("_r"))
    ci = (
        ranked.withColumn("_r", F.count(F.lit(1)).over(Window.partitionBy()))
        .agg(
            F.min(F.when(F.col("_rn") == lo, F.col("_d"))).alias("ci_lo"),
            F.min(F.when(F.col("_rn") == hi, F.col("_d"))).alias("ci_hi"),
            F.round(
                F.sum(F.col("_d").cast("decimal(20,6)")).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("boot_mean_diff"),
            F.count(F.lit(1)).cast("int").alias("n_boot_used"),
        )
    )
    ia = F.when(F.col("_g") == ga, F.col("_v"))
    ib = F.when(F.col("_g") == gb, F.col("_v"))
    ca = F.count(F.when(F.col("_g") == ga, F.lit(1)))
    cb = F.count(F.when(F.col("_g") == gb, F.lit(1)))
    ma = F.round(F.sum(ia).cast("double") / denom / ca, 6)
    mb = F.round(F.sum(ib).cast("double") / denom / cb, 6)
    point = base.agg(
        ca.alias("n_a"),
        cb.alias("n_b"),
        ma.alias("mean_a"),
        mb.alias("mean_b"),
        F.round(ma - mb, 6).alias("point_diff"),
    )
    return point.crossJoin(ci).select(
        F.lit(ga).alias("variant_a"),
        F.col("n_a").cast("long").alias("n_a"),
        "mean_a",
        F.lit(gb).alias("variant_b"),
        F.col("n_b").cast("long").alias("n_b"),
        "mean_b",
        "point_diff",
        "boot_mean_diff",
        "ci_lo",
        "ci_hi",
        "n_boot_used",
    )


def cuped_adjusted_effect(
    df: DataFrame,
    variant_col: str,
    metric_col: str,
    covariate_col: str,
    unit_col: str,
) -> DataFrame:
    """CUPED-adjusted A/B effect (Deng et al., WSDM '13): regress the
    experiment metric on a PRE-experiment covariate and compare the
    residualized means — same estimate in expectation, variance shrunk
    by corr²(x, y).

    Per-unit reduction mirrors
    :func:`~metadata_etl_framework_spark.ops.retention.ab_test_proportions`:
    units under both variants are contaminated and dropped (no silent
    pick). θ = cov(x,y)/var(x) is computed POOLED across both arms from
    the moment sums (the standard single-θ CUPED); because the CUPED
    adjustment is linear, the adjusted variant mean is the closed form
    ȳ_v − θ·(x̄_v − x̄) — no second pass over the data and no
    order-dependent double summation. Per-unit metrics round to 6 dp
    and moments accumulate as DECIMAL(18,6)-product sums (37,12
    products — exact under the 38-digit cap for per-unit magnitudes up
    to ~1e12). The centered moments n·Σxy − Σx·Σy / n·Σx² − (Σx)² /
    n·Σy² − (Σy)² are then computed in EXACT integer micro-unit
    arithmetic on the collected 1-row sums (the
    :func:`welch_t_test` discipline, round-12 ulp sweep): a
    DECIMAL(·,s>0)→double cast can disagree across engines in the
    last ulp and the variance-style cancellation amplifies that
    ~n-fold, so only integers cross the engine boundary for these
    terms — integer→double casts are IEEE-identical everywhere.
    Output: 1 row —
    (variant_a, n_a, mean_a, adj_mean_a, variant_b, n_b, mean_b,
    adj_mean_b, diff, adj_diff, theta, var_reduction_pct — 6 dp,
    var_reduction_pct = 100·corr²(x,y)).
    """
    per_unit = (
        df.where(F.col(unit_col).isNotNull())
        .groupBy(F.col(unit_col).alias("_u"))
        .agg(
            F.max(F.col(variant_col).cast("string")).alias("_g"),
            F.countDistinct(F.col(variant_col).cast("string")).alias("_nv"),
            F.round(F.sum(F.col(metric_col).cast(_DEC)), 6)
            .cast("decimal(18,6)")
            .alias("_y"),
            F.round(F.sum(F.col(covariate_col).cast(_DEC)), 6)
            .cast("decimal(18,6)")
            .alias("_x"),
        )
        .where(F.col("_nv") == 1)
        .select("_u", "_g", "_y", "_x")
    )
    per_unit = per_unit.persist()
    try:
        mom = per_unit.agg(
            F.count(F.lit(1)).alias("_n"),
            F.sum("_x").alias("_sx"),
            F.sum("_y").alias("_sy"),
            F.sum(F.col("_x") * F.col("_x")).alias("_sxx"),
            F.sum(F.col("_x") * F.col("_y")).alias("_sxy"),
            F.sum(F.col("_y") * F.col("_y")).alias("_syy"),
        ).collect()[0]
        per_variant = (
            per_unit.groupBy("_g")
            .agg(
                F.count(F.lit(1)).alias("_cnt"),
                F.sum("_y").alias("_sy"),
                F.sum("_x").alias("_sx"),
            )
            .orderBy("_g")
            .collect()
        )
    finally:
        per_unit.unpersist()
    if len(per_variant) != 2:
        raise ValueError(
            f"cuped_adjusted_effect needs exactly 2 variants, got "
            f"{[r['_g'] for r in per_variant]}"
        )
    a, b = per_variant
    from decimal import Decimal

    # exact centered numerators: the decimal sums are exact multiples
    # of 1e-6 (Σ) / 1e-12 (Σ-of-products); scale to python ints and
    # cancel in arbitrary precision — n·Σxy (1e-12 units) minus
    # Σx·Σy (1e-6·1e-6 = 1e-12 units), scales consistent
    n_i = int(mom["_n"])
    sx_i = int(Decimal(mom["_sx"]).scaleb(6))
    sy_i = int(Decimal(mom["_sy"]).scaleb(6))
    sxx_i = int(Decimal(mom["_sxx"]).scaleb(12))
    sxy_i = int(Decimal(mom["_sxy"]).scaleb(12))
    syy_i = int(Decimal(mom["_syy"]).scaleb(12))
    covnum = n_i * sxy_i - sx_i * sy_i
    varxnum = n_i * sxx_i - sx_i * sx_i
    varynum = n_i * syy_i - sy_i * sy_i
    if max(abs(covnum), abs(varxnum), abs(varynum)) >= 10**38:
        raise ValueError(
            "cuped_adjusted_effect: centered moments exceed the "
            "38-digit engine-portable integer cap — rescale the "
            "metric/covariate (per-unit magnitudes beyond ~1e12)"
        )
    spark = df.sparkSession
    one = spark.createDataFrame(
        [
            (
                mom["_n"], mom["_sx"],
                Decimal(covnum), Decimal(varxnum), Decimal(varynum),
                a["_g"], a["_cnt"], a["_sy"], a["_sx"],
                b["_g"], b["_cnt"], b["_sy"], b["_sx"],
            )
        ],
        "n long, sx decimal(38,6), "
        "covnum decimal(38,0), varxnum decimal(38,0), "
        "varynum decimal(38,0), "
        "ga string, na long, sya decimal(38,6), sxa decimal(38,6), "
        "gb string, nb long, syb decimal(38,6), sxb decimal(38,6)",
    )
    # the only casts left on the cancellation-sensitive terms are
    # integer→double (IEEE-exact in every engine); theta/vr are the
    # same ratios as before — n cancels between numerator and
    # denominator
    n = F.col("n").cast("double")
    sx = F.col("sx").cast("double")
    cov = F.col("covnum").cast("double")
    varx = F.col("varxnum").cast("double")
    vary = F.col("varynum").cast("double")
    theta = F.when(varx > 0, cov / varx).otherwise(F.lit(0.0))
    vr = F.when(
        (varx > 0) & (vary > 0), cov * cov / (varx * vary)
    ).otherwise(F.lit(0.0))
    xbar = sx / n
    mean_a = F.col("sya").cast("double") / F.col("na")
    mean_b = F.col("syb").cast("double") / F.col("nb")
    adj_a = mean_a - theta * (F.col("sxa").cast("double") / F.col("na") - xbar)
    adj_b = mean_b - theta * (F.col("sxb").cast("double") / F.col("nb") - xbar)
    return one.select(
        F.col("ga").alias("variant_a"),
        F.col("na").alias("n_a"),
        F.round(mean_a, 6).alias("mean_a"),
        F.round(adj_a, 6).alias("adj_mean_a"),
        F.col("gb").alias("variant_b"),
        F.col("nb").alias("n_b"),
        F.round(mean_b, 6).alias("mean_b"),
        F.round(adj_b, 6).alias("adj_mean_b"),
        F.round(mean_a - mean_b, 6).alias("diff"),
        F.round(adj_a - adj_b, 6).alias("adj_diff"),
        F.round(theta, 6).alias("theta"),
        F.round(vr * F.lit(100.0), 6).alias("var_reduction_pct"),
    )


def fdr_bh(
    tests: DataFrame,
    test_col: str,
    p_col: str,
    q: float = 0.05,
) -> DataFrame:
    """Benjamini–Hochberg step-up FDR control over a frame of test
    results: rank p-values ascending, find the largest rank i with
    p_(i) ≤ i/m·q, and reject tests 1..i.

    The input is a RESULTS frame (one row per hypothesis — per-column
    drift tests, per-segment A/B readouts), so the window is over a
    tiny frame; ties in p break on the test id for determinism.

    Output: (test, p_value, rank int, m long, bh_threshold 6 dp,
    rejected boolean), ordered by rank.
    """
    base = tests.select(
        F.col(test_col).cast("string").alias("test"),
        F.col(p_col).cast("double").alias("p_value"),
    ).where(F.col("p_value").isNotNull())
    w = Window.orderBy("p_value", "test")
    ranked = (
        base.withColumn("rank", F.row_number().over(w))
        .withColumn("m", F.count(F.lit(1)).over(Window.partitionBy()))
        .withColumn(
            "bh_threshold",
            F.round(
                F.col("rank").cast("double") / F.col("m") * F.lit(float(q)),
                6,
            ),
        )
        .withColumn(
            "_le", F.col("p_value") <= F.col("bh_threshold")
        )
    )
    crit = F.max(F.when(F.col("_le"), F.col("rank"))).over(
        Window.partitionBy()
    )
    return (
        ranked.withColumn(
            "rejected",
            F.coalesce(F.col("rank") <= crit, F.lit(False)),
        )
        .select(
            "test", F.round("p_value", 6).alias("p_value"),
            F.col("rank").cast("int").alias("rank"),
            F.col("m").cast("long").alias("m"),
            "bh_threshold", "rejected",
        )
        .orderBy("rank")
    )


def spearman_corr(
    df: DataFrame,
    col_a: str,
    col_b: str,
) -> DataFrame:
    """Spearman rank correlation — the monotone-association companion
    to Pearson (corr_matrix): invariant to any monotone transform and
    robust to outliers, the right dependence screen when the
    relationship is nonlinear or the scales are arbitrary.

    Exact average ranks with the tie convention: each column's
    per-value counts + a prefix scan give avg_rank(v) = cum − (c−1)/2
    (distinct-values-sized), joined back onto the rows. Ranks are
    exact HALF-integers, so doubled ranks are exact ints and every
    moment sum (Σr, Σr², Σr_a·r_b) accumulates as DECIMAL(38,0) —
    one operand is cast to decimal BEFORE the multiply (the
    kruskal_wallis tie-term pattern), so the products themselves are
    decimal arithmetic: doubled ranks reach 2n and their products 4n²,
    which overflows int64 around n ≈ 1.5e9 rows if multiplied LONG.
    ρ's centered numerator/denominators then follow the welch
    integer-exact discipline (only int→double casts feed the ratio).
    The p-value uses the t-approximation t = ρ·√((n−2)/(1−ρ²))
    through the A&S normal tail (fine for n ≳ 30; reported with n so
    small-sample callers can see why not to trust it).

    Output: 1 row — (n long, rho 6 dp, p_value 6 dp); null rho when
    either column is constant or n < 2.
    """
    base = df.where(
        F.col(col_a).isNotNull() & F.col(col_b).isNotNull()
    ).select(
        F.col(col_a).cast("double").alias("_a"),
        F.col(col_b).cast("double").alias("_b"),
    )
    base = base.persist()
    _scan_cached: "list[DataFrame]" = []
    try:
        n = base.count()
        from metadata_etl_framework_spark.ops.driver_exact import (
            column_np,
            driver_table,
            exact_sum_i64,
        )
        from metadata_etl_framework_spark.ops.glm import (
            GLM_DRIVER_MAX_ROWS,
        )

        tbl = (
            driver_table(base, GLM_DRIVER_MAX_ROWS, size=n)
            if n > 0
            else None
        )
        if tbl is not None:
            # exact: np.unique groups doubles like the distributed
            # groupBy (NaNs collapse and sort last, -0.0 merges with
            # 0.0), and the doubled ranks and moment sums are exact ints
            import numpy as np

            a_np = column_np(tbl, "_a", np.float64)
            b_np = column_np(tbl, "_b", np.float64)

            def _dranks(x):
                _, inv, cnts = np.unique(
                    x, return_inverse=True, return_counts=True
                )
                cum = np.cumsum(cnts.astype(np.int64))
                dr = 2 * cum - (cnts.astype(np.int64) - 1)
                return dr[inv]

            ra, rb = _dranks(a_np), _dranks(b_np)
            sa = exact_sum_i64(ra)
            sb = exact_sum_i64(rb)
            saa = exact_sum_i64(ra * ra)
            sbb = exact_sum_i64(rb * rb)
            sab = exact_sum_i64(ra * rb)
        else:
            ranked = base
            for c in ("_a", "_b"):
                counts = ranked.groupBy(c).agg(
                    F.count(F.lit(1)).alias("__c")
                )
                from metadata_etl_framework_spark.quality.drift import (
                    _dual_prefix_scan,
                )

                scan = _dual_prefix_scan(
                    counts, c, "__c", "__c", persisted=_scan_cached
                ).select(
                    c,
                    # doubled average rank = 2·cum − (c − 1): exact LONG
                    (
                        F.lit(2) * F.col("__ca")
                        - (F.col("__c") - F.lit(1))
                    ).cast("long").alias(f"__r{c}"),
                )
                ranked = ranked.join(scan, c)
            moments = ranked.agg(
                F.sum(F.col("__r_a").cast("decimal(38,0)")).alias(
                    "_sa"
                ),
                F.sum(F.col("__r_b").cast("decimal(38,0)")).alias(
                    "_sb"
                ),
                F.sum(
                    F.col("__r_a").cast("decimal(38,0)")
                    * F.col("__r_a")
                ).alias("_saa"),
                F.sum(
                    F.col("__r_b").cast("decimal(38,0)")
                    * F.col("__r_b")
                ).alias("_sbb"),
                F.sum(
                    F.col("__r_a").cast("decimal(38,0)")
                    * F.col("__r_b")
                ).alias("_sab"),
            ).collect()[0]
            if n >= 2:
                sa, sb = int(moments["_sa"]), int(moments["_sb"])
                saa = int(moments["_saa"])
                sbb = int(moments["_sbb"])
                sab = int(moments["_sab"])
    finally:
        base.unpersist()
        for f in _scan_cached:
            f.unpersist()
    spark = df.sparkSession
    if n < 2:
        return spark.createDataFrame(
            [(n, None, None)], "n long, rho double, p_value double"
        )
    covnum = n * sab - sa * sb
    vara = n * saa - sa * sa
    varb = n * sbb - sb * sb
    if vara == 0 or varb == 0:
        return spark.createDataFrame(
            [(n, None, None)], "n long, rho double, p_value double"
        )
    from decimal import Decimal

    one = spark.createDataFrame(
        [(n, Decimal(covnum), Decimal(vara), Decimal(varb))],
        "n long, covnum decimal(38,0), vara decimal(38,0), "
        "varb decimal(38,0)",
    )
    rho = F.col("covnum").cast("double") / F.sqrt(
        F.col("vara").cast("double") * F.col("varb").cast("double")
    )
    nd = F.col("n").cast("double")
    t = F.when(
        (F.abs(rho) < 1) & (F.col("n") > 2),
        rho * F.sqrt((nd - F.lit(2.0)) / (F.lit(1.0) - rho * rho)),
    )
    p = F.when(
        t.isNotNull(),
        F.round(
            F.least(
                F.lit(1.0),
                F.greatest(
                    F.lit(0.0), F.lit(2.0) * normal_sf_col(F.abs(t))
                ),
            ),
            6,
        ),
    ).otherwise(
        # |rho| = 1 or n = 2: the normal-approx tail is 0 by
        # construction (degenerate perfect ranking)
        F.when(F.abs(rho) >= 1, F.lit(0.0))
    )
    return one.select(
        F.col("n"),
        F.round(rho, 6).alias("rho"),
        p.alias("p_value"),
    )


def kruskal_wallis(
    df: DataFrame,
    group_col: str,
    value_col: str,
) -> DataFrame:
    """Kruskal–Wallis H test — "do these k groups share a
    distribution" on ranks, the k-group generalization of
    :func:`mann_whitney_u` (and the nonparametric ANOVA a segment
    comparison should reach for before trusting mean differences on
    skewed metrics).

    Exact tie-averaged ranks from ONE per-value prefix scan
    (distinct-values-sized), joined back; per-group doubled-rank sums
    are exact integers in DECIMAL(38,0). H = 12/(n(n+1))·Σ R_i²/n_i −
    3(n+1) with the per-group terms rounded to 6 dp before the
    DECIMAL sum (merge-order free); the standard tie correction
    divides by 1 − Σ(t³−t)/(n³−n) from the same per-value counts. The
    p-value is the χ²_{k−1} survival via Wilson–Hilferty + the A&S
    tail (the ljung_box convention; fine for group sizes ≳ 5).

    Output: 1 row — (n long, k int, h_stat 6 dp, h_tie_corrected
    6 dp, df int, p_value 6 dp); nulls when all values tie (zero
    variance) or k < 2.
    """
    from metadata_etl_framework_spark.quality.drift import (
        _dual_prefix_scan,
    )

    base = df.where(
        F.col(group_col).isNotNull() & F.col(value_col).isNotNull()
    ).select(
        F.col(group_col).cast("string").alias("_g"),
        F.col(value_col).cast("double").alias("_v"),
    )
    base = base.persist()
    _scan_cached: "list[DataFrame]" = []
    try:
        counts = base.groupBy("_v").agg(F.count(F.lit(1)).alias("__c"))
        scan = _dual_prefix_scan(
            counts, "_v", "__c", "__c", persisted=_scan_cached
        ).select(
            "_v",
            (
                F.lit(2) * F.col("__ca") - (F.col("__c") - F.lit(1))
            ).cast("long").alias("__d"),
        )
        per_group = (
            base.join(scan, "_v")
            .groupBy("_g")
            .agg(
                F.count(F.lit(1)).alias("_ni"),
                F.sum(F.col("__d").cast("decimal(38,0)")).alias("_di"),
            )
            .collect()
        )
        ties = counts.agg(
            F.sum(
                (
                    F.col("__c").cast("decimal(38,0)")
                    * F.col("__c")
                    * F.col("__c")
                    - F.col("__c")
                )
            ).alias("_t")
        ).collect()[0]
    finally:
        base.unpersist()
        for f in _scan_cached:
            f.unpersist()
    k = len(per_group)
    n = sum(int(r["_ni"]) for r in per_group)
    spark = df.sparkSession
    if k < 2 or n < 2:
        return spark.createDataFrame(
            [(n, k, None, None, max(k - 1, 0), None)],
            "n long, k int, h_stat double, h_tie_corrected double, "
            "df int, p_value double",
        )
    tie_sum = int(ties["_t"] or 0)
    denom_t = n * n * n - n
    if tie_sum >= denom_t:  # every value identical
        return spark.createDataFrame(
            [(n, k, None, None, k - 1, None)],
            "n long, k int, h_stat double, h_tie_corrected double, "
            "df int, p_value double",
        )
    # per-group term R_i²/n_i = (d_i²/4)/n_i with d_i² an EXACT python
    # int handed across the engine boundary as DECIMAL(38,0) (d_i ≤
    # 2n² keeps d_i² under 38 digits for n ≤ ~1e9); the 6-dp-rounded
    # terms then sum as DECIMAL — group-order free and bit-identical
    # to the SQL replay (the welch boundary discipline)
    from decimal import Decimal

    dfree = k - 1
    gframe = spark.createDataFrame(
        [
            (Decimal(int(r["_di"]) ** 2), int(r["_ni"]))
            for r in per_group
        ],
        "dd decimal(38,0), ni long",
    )
    term = F.round(
        F.col("dd").cast("double") / F.lit(4.0) / F.col("ni"), 6
    )
    srow = gframe.agg(
        F.sum(term.cast("decimal(28,6)")).cast("double").alias("_s")
    )
    one = (
        srow.select(
            F.lit(n).cast("long").alias("n"),
            F.lit(k).cast("int").alias("k"),
            F.col("_s"),
            F.lit(Decimal(tie_sum)).cast("decimal(38,0)").alias("_ts"),
            F.lit(Decimal(denom_t)).cast("decimal(38,0)").alias("_dt"),
            F.lit(dfree).cast("int").alias("df"),
        )
        .withColumn(
            "h",
            F.lit(12.0)
            / (
                F.col("n").cast("double")
                * (F.col("n").cast("double") + F.lit(1.0))
            )
            * F.col("_s")
            - F.lit(3.0) * (F.col("n").cast("double") + F.lit(1.0)),
        )
        .withColumn(
            "hc",
            F.col("h")
            / (
                F.lit(1.0)
                - F.col("_ts").cast("double")
                / F.col("_dt").cast("double")
            ),
        )
    )
    hcol = F.col("hc")
    dd = F.col("df").cast("double")
    wh_mu = F.lit(1.0) - F.lit(2.0) / (F.lit(9.0) * dd)
    wh_sd = F.sqrt(F.lit(2.0) / (F.lit(9.0) * dd))
    z = (
        F.pow(
            F.greatest(hcol, F.lit(0.0)) / dd, F.lit(1.0) / F.lit(3.0)
        )
        - wh_mu
    ) / wh_sd
    p = F.round(
        F.least(
            F.lit(1.0),
            F.greatest(
                F.lit(0.0),
                F.when(z >= 0, normal_sf_col(z)).otherwise(
                    F.lit(1.0) - normal_sf_col(-z)
                ),
            ),
        ),
        6,
    )
    return one.select(
        "n",
        "k",
        F.round("h", 6).alias("h_stat"),
        F.round("hc", 6).alias("h_tie_corrected"),
        "df",
        p.alias("p_value"),
    )


def simpsons_check(
    df: DataFrame,
    segment_col: str,
    treatment_col: str,
    outcome_col: str,
) -> DataFrame:
    """Simpson's-paradox audit: per-segment treatment effects next to
    the pooled effect, flagging segments whose effect SIGN disagrees
    with the pooled sign — the aggregation trap every pooled A/B or
    cohort comparison should be screened for (the pooled number can
    invert when segment mix correlates with assignment; acting on it
    then optimizes the wrong direction for every actual segment).

    Rates are exact integer ratios per (segment, arm) from ONE
    groupBy; the pooled rates come from the same counts re-summed
    (bit-identical inputs, no second scan). ``reversed`` uses strict
    sign opposition (a zero effect on either side is not a reversal).

    Output: one row per segment with both arms present —
    (segment, n_treat long, rate_treat, n_ctrl long, rate_ctrl,
    effect, pooled_effect — 6 dp, reversed boolean), ordered by
    segment; plus nothing pooled-only (read pooled_effect off any
    row).
    """
    base = df.where(
        F.col(segment_col).isNotNull()
        & F.col(treatment_col).isNotNull()
        & F.col(outcome_col).isNotNull()
    ).select(
        F.col(segment_col).cast("string").alias("_s"),
        F.col(treatment_col).cast("boolean").cast("int").alias("_t"),
        F.col(outcome_col).cast("boolean").cast("int").alias("_y"),
    )
    seg = base.groupBy("_s").agg(
        F.sum("_t").alias("_nt"),
        F.sum(F.col("_t") * F.col("_y")).alias("_ct"),
        F.sum(1 - F.col("_t")).alias("_nc"),
        F.sum((1 - F.col("_t")) * F.col("_y")).alias("_cc"),
    )
    seg = seg.persist()
    try:
        pooled = seg.agg(
            F.sum("_nt").alias("_pnt"),
            F.sum("_ct").alias("_pct"),
            F.sum("_nc").alias("_pnc"),
            F.sum("_cc").alias("_pcc"),
        )
        rt = F.col("_ct").cast("double") / F.col("_nt")
        rc = F.col("_cc").cast("double") / F.col("_nc")
        prt = F.col("_pct").cast("double") / F.col("_pnt")
        prc = F.col("_pcc").cast("double") / F.col("_pnc")
        eff = rt - rc
        peff = prt - prc
        out = (
            seg.where((F.col("_nt") > 0) & (F.col("_nc") > 0))
            .crossJoin(F.broadcast(pooled))
            .select(
                F.col("_s").alias("segment"),
                F.col("_nt").cast("long").alias("n_treat"),
                F.round(rt, 6).alias("rate_treat"),
                F.col("_nc").cast("long").alias("n_ctrl"),
                F.round(rc, 6).alias("rate_ctrl"),
                F.round(eff, 6).alias("effect"),
                F.round(peff, 6).alias("pooled_effect"),
                (
                    ((eff > 0) & (peff < 0))
                    | ((eff < 0) & (peff > 0))
                ).alias("reversed"),
            )
            .orderBy("segment")
        )
        out = out.localCheckpoint(eager=True)
    finally:
        seg.unpersist()
    return out


def p_adjust_panel(
    tests: DataFrame,
    test_col: str,
    p_col: str,
    alpha: float = 0.05,
) -> DataFrame:
    """Multiple-testing decisions under FOUR corrections at once —
    Bonferroni, Holm step-down, Benjamini–Hochberg and
    Benjamini–Yekutieli — over a results frame (one row per
    hypothesis), the side-by-side panel a metrics review actually
    wants: FWER-conservative to FDR-liberal in one table, so
    disagreements between corrections are visible instead of hidden
    behind a single method choice. Complements :func:`fdr_bh` (kept —
    the focused BH table with thresholds).

    Windows run over the tiny results frame; ties in p break on the
    test id. BY's harmonic constant c(m) = Σ 1/j accumulates as
    DECIMAL over 12-dp terms, so every rejection boundary is derived
    from identical inputs in any engine.

    Output: (test, p_value 6 dp, rank int, m long, rej_bonferroni,
    rej_holm, rej_bh, rej_by), ordered by rank. Monotone by
    construction: rej_bonferroni ⊆ rej_holm ⊆ rej_bh and
    rej_by ⊆ rej_bh.
    """
    base = tests.select(
        F.col(test_col).cast("string").alias("test"),
        F.col(p_col).cast("double").alias("p_value"),
    ).where(F.col("p_value").isNotNull())
    w = Window.orderBy("p_value", "test")
    full = Window.partitionBy()
    a = F.lit(float(alpha))
    ranked = (
        base.withColumn("rank", F.row_number().over(w))
        .withColumn("m", F.count(F.lit(1)).over(full))
        .withColumn(
            "_cm",
            F.sum(
                F.round(
                    F.lit(1.0) / F.col("rank").cast("double"), 12
                ).cast("decimal(28,12)")
            )
            .over(full)
            .cast("double"),
        )
    )
    md = F.col("m").cast("double")
    rd = F.col("rank").cast("double")
    p = F.col("p_value")
    holm_fail = p > a / (md - rd + F.lit(1.0))
    first_fail = F.min(
        F.when(holm_fail, F.col("rank"))
    ).over(full)
    bh_crit = F.max(
        F.when(p <= rd / md * a, F.col("rank"))
    ).over(full)
    by_crit = F.max(
        F.when(p <= rd * a / (md * F.col("_cm")), F.col("rank"))
    ).over(full)
    return (
        ranked.select(
            "test",
            F.round(p, 6).alias("p_value"),
            F.col("rank").cast("int").alias("rank"),
            F.col("m").cast("long").alias("m"),
            (p <= a / md).alias("rej_bonferroni"),
            F.coalesce(
                F.col("rank") < first_fail, F.lit(True)
            ).alias("rej_holm"),
            F.coalesce(
                F.col("rank") <= bh_crit, F.lit(False)
            ).alias("rej_bh"),
            F.coalesce(
                F.col("rank") <= by_crit, F.lit(False)
            ).alias("rej_by"),
        )
        .orderBy("rank")
    )


def theil_sen_trend(
    df: DataFrame,
    group_col: str,
    x_col: str,
    y_col: str,
    max_points: int = 2000,
) -> DataFrame:
    """Per-group Theil–Sen robust trend: the MEDIAN of all pairwise
    slopes (y_j−y_i)/(x_j−x_i), x_i < x_j — up to ~29% outlier
    breakdown vs OLS's zero (the robust counterpart of
    ops/retention-family trend_ols). Intercept = median over points of
    (y − slope·x), the standard Theil–Sen intercept.

    Pairs come from a self-equi-join ON THE GROUP KEY (never cross);
    the op is O(m²) per group by definition, so any group larger than
    ``max_points`` raises — fit is meant for per-series trend tables
    (daily aggregates), not raw events; pre-aggregate first.

    Medians are exact order statistics (avg of the two middles on even
    counts) via row_number — the same convention both an oracle and
    the rolling-median ops use. Output: (group, n_points long,
    n_pairs long, slope 6 dp, intercept 6 dp), ordered by group. A
    group with NO valid slope pair (a single point, or every point
    sharing one x) still emits its row — (n_pairs=0, slope=null,
    intercept=null) — so a per-series trend audit never silently loses
    a series (round-12 advice; the loud-gate convention).
    """
    pts = df.select(
        F.col(group_col).cast("string").alias("_g"),
        F.col(x_col).cast("double").alias("_x"),
        F.col(y_col).cast("double").alias("_y"),
    ).where(F.col("_x").isNotNull() & F.col("_y").isNotNull())
    pts = pts.persist()
    try:
        sizes = pts.groupBy("_g").agg(F.count(F.lit(1)).alias("_m"))
        too_big = sizes.where(F.col("_m") > int(max_points)).limit(1).collect()
        if too_big:
            raise ValueError(
                f"theil_sen_trend: group {too_big[0]['_g']!r} has "
                f"{too_big[0]['_m']} points > max_points={max_points} "
                f"(the pair join is O(m^2)) — pre-aggregate the series "
                f"or raise max_points explicitly"
            )
        a = pts.select("_g", F.col("_x").alias("_xa"), F.col("_y").alias("_ya"))
        b = pts.select("_g", F.col("_x").alias("_xb"), F.col("_y").alias("_yb"))
        slopes = (
            a.join(b, "_g")
            .where(F.col("_xa") < F.col("_xb"))
            .select(
                "_g",
                (
                    (F.col("_yb") - F.col("_ya"))
                    / (F.col("_xb") - F.col("_xa"))
                ).alias("_s"),
            )
        )
        slope = _grouped_median(slopes, "_g", "_s").withColumnRenamed(
            "_median", "_slope"
        ).withColumnRenamed("_cnt", "_n_pairs")
        resid = pts.join(slope, "_g").select(
            "_g", (F.col("_y") - F.col("_slope") * F.col("_x")).alias("_r")
        )
        inter = _grouped_median(resid, "_g", "_r").select(
            "_g", F.col("_median").alias("_icept")
        )
        out = (
            sizes.join(slope, "_g", "left")
            .join(inter, "_g", "left")
            .select(
                F.col("_g").alias("group"),
                F.col("_m").cast("long").alias("n_points"),
                F.coalesce(F.col("_n_pairs"), F.lit(0))
                .cast("long")
                .alias("n_pairs"),
                F.round("_slope", 6).alias("slope"),
                F.round("_icept", 6).alias("intercept"),
            )
            .orderBy("group")
        )
        out = out.localCheckpoint(eager=True)
    finally:
        pts.unpersist()
    return out


def ljung_box(
    df: DataFrame,
    ts_col: str,
    value_col: str,
    bucket_seconds: int = 3600,
    max_lag: int = 12,
) -> DataFrame:
    """Ljung–Box portmanteau test over the bucketed metric series —
    "is there ANY autocorrelation up to lag h" as one number per h,
    the white-noise gate a forecasting/monitoring pipeline runs before
    trusting residual-based alerts (a significant Q says the residuals
    still carry structure the model missed).

    Builds on :func:`~metadata_etl_framework_spark.functions.aggregations.acf_table`
    (same per-bucket series, same global-mean estimator):
    Q(h) = n(n+2)·Σ_{k≤h} r_k²/(n−k), cumulated over the ≤ max_lag
    ACF rows by an ordered running sum (sequential in both engines).
    The p-value is the χ²_h survival via the Wilson–Hilferty cube-root
    normal approximation through the A&S tail — pure
    arithmetic+exp+pow, SQL-replayable; accurate to ~1e-3 for h ≥ 3.
    Lags the irregular series breaks contribute no ACF row and are
    simply absent from the cumulation (acf_table's documented gap
    behavior). Lags ≥ n are dropped (the n−k denominator).

    Output: (lag int, acf 6dp, q_stat 6dp, p_value 6dp,
    white_noise_rejected bool — p < 0.05), ordered by lag; null
    q/p on a constant series (acf null).
    """
    from metadata_etl_framework_spark.functions.aggregations import (
        acf_table,
    )

    acf = acf_table(
        df, ts_col, value_col,
        bucket_seconds=bucket_seconds, max_lag=max_lag,
    )
    x = F.col(value_col).cast("double")
    nser = (
        df.where(F.col(ts_col).isNotNull() & x.isNotNull())
        .select(
            F.floor(
                F.unix_timestamp(F.col(ts_col)) / bucket_seconds
            ).alias("i")
        )
        .distinct()
        .agg(F.count(F.lit(1)).alias("_n"))
    )
    base = (
        acf.crossJoin(F.broadcast(nser))
        .where(F.col("lag") < F.col("_n"))
        .withColumn(
            "_term",
            F.col("acf") * F.col("acf")
            / (F.col("_n") - F.col("lag")).cast("double"),
        )
    )
    wcum = (
        Window.orderBy("lag")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    nd = F.col("_n").cast("double")
    q = nd * (nd + F.lit(2.0)) * F.sum("_term").over(wcum)
    hd = F.col("lag").cast("double")
    wh_mu = F.lit(1.0) - F.lit(2.0) / (F.lit(9.0) * hd)
    wh_sd = F.sqrt(F.lit(2.0) / (F.lit(9.0) * hd))
    z = (F.pow(q / hd, F.lit(1.0) / F.lit(3.0)) - wh_mu) / wh_sd
    p = F.round(
        F.least(
            F.lit(1.0),
            F.greatest(
                F.lit(0.0),
                F.when(z >= 0, normal_sf_col(z)).otherwise(
                    F.lit(1.0) - normal_sf_col(-z)
                ),
            ),
        ),
        6,
    )
    return (
        base.select(
            F.col("lag"),
            F.col("acf"),
            F.round(q, 6).alias("q_stat"),
            p.alias("p_value"),
            (p < F.lit(0.05)).alias("white_noise_rejected"),
        )
        .orderBy("lag")
    )


def _grouped_median(df: DataFrame, g: str, v: str) -> DataFrame:
    """Exact per-group median of ``v``: avg of the two middle order
    statistics (equal on odd counts)."""
    w = Window.partitionBy(g).orderBy(v)
    ranked = df.withColumn("_rn", F.row_number().over(w)).withColumn(
        "_cnt", F.count(F.lit(1)).over(Window.partitionBy(g))
    )
    mid_lo = (F.col("_cnt") + 1) / 2
    mid_hi = (F.col("_cnt") + 2) / 2
    return ranked.groupBy(g).agg(
        F.avg(
            F.when(
                (F.col("_rn") == F.floor(mid_lo))
                | (F.col("_rn") == F.floor(mid_hi)),
                F.col(v),
            )
        ).alias("_median"),
        F.first("_cnt").alias("_cnt"),
    )


# Abramowitz & Stegun 26.2.17 — normal tail probability with |err| <
# 7.5e-8, pure arithmetic + exp, so Spark and any SQL oracle evaluate
# bit-comparable values from the SAME literals and Horner nesting
AS_COEFFS = (0.319381530, -0.356563782, 1.781477937,
             -1.821255978, 1.330274429)
AS_T = 0.2316419
INV_SQRT_2PI = 0.3989422804014327


def normal_sf_col(x):
    """1 − Φ(x) for a non-negative Column, A&S 26.2.17 (Horner form —
    mirror the nesting when replaying in SQL)."""
    b1, b2, b3, b4, b5 = AS_COEFFS
    t = F.lit(1.0) / (F.lit(1.0) + F.lit(AS_T) * x)
    poly = (
        (
            (
                ((F.lit(b5) * t + F.lit(b4)) * t + F.lit(b3)) * t
                + F.lit(b2)
            )
            * t
            + F.lit(b1)
        )
        * t
    )
    return F.lit(INV_SQRT_2PI) * F.exp(F.lit(-0.5) * x * x) * poly


def normal_cdf_col(x):
    """Φ(x) for any Column via the tail symmetry."""
    return F.when(
        x >= 0, F.lit(1.0) - normal_sf_col(x)
    ).otherwise(normal_sf_col(-x))


def ab_power(
    df: DataFrame,
    variant_col: str,
    converted_col: str,
    unit_col: str,
    alpha: float = 0.05,
) -> DataFrame:
    """Post-hoc power / sample-size readout for a two-proportion A/B —
    the "could this experiment even have detected its effect" audit
    that belongs next to every ab_test readout.

    From the observed per-arm conversion rates (same per-unit
    reduction and contamination rule as
    :func:`~metadata_etl_framework_spark.ops.retention.ab_test_proportions`):
    achieved power at the current sample sizes
    power = Φ(|Δ|/SE − z_{α/2}), SE = √(p₁q₁/n₁ + p₂q₂/n₂), and the
    required per-arm n for 80% / 90% power at the observed Δ:
    n = ⌈(z_{α/2}+z_β)²·(p₁q₁+p₂q₂)/Δ²⌉. Δ = 0 yields null ns and
    power = α's coin-flip floor by construction. Normal quantile
    literals are fixed (1.959964, 0.841621, 1.281552), Φ is the A&S
    polynomial — every number replayable in SQL.

    Output: 1 row — (variant_a, n_a, rate_a, variant_b, n_b, rate_b,
    delta, power 6 dp, n_per_arm_80 long, n_per_arm_90 long).
    """
    if abs(alpha - 0.05) > 1e-12:
        raise ValueError(
            "ab_power pins alpha=0.05 (z literals are fixed for "
            "oracle replay); parameterized quantiles need an inverse "
            "normal implementation"
        )
    per_unit = (
        df.where(F.col(unit_col).isNotNull())
        .groupBy(F.col(unit_col).alias("_u"))
        .agg(
            F.max(F.col(variant_col).cast("string")).alias("_g"),
            F.countDistinct(F.col(variant_col).cast("string")).alias("_nv"),
            F.max(F.col(converted_col).cast("int")).alias("_c"),
        )
        .where(F.col("_nv") == 1)
    )
    rows = (
        per_unit.groupBy("_g")
        .agg(F.count(F.lit(1)).alias("_n"), F.sum("_c").alias("_k"))
        .orderBy("_g")
        .collect()
    )
    if len(rows) != 2:
        raise ValueError(
            f"ab_power needs exactly 2 variants, got "
            f"{[r['_g'] for r in rows]}"
        )
    a, b = rows
    one = df.sparkSession.createDataFrame(
        [(a["_g"], a["_n"], a["_k"], b["_g"], b["_n"], b["_k"])],
        "ga string, na long, ka long, gb string, nb long, kb long",
    )
    ra = F.col("ka").cast("double") / F.col("na")
    rb = F.col("kb").cast("double") / F.col("nb")
    qa = ra * (F.lit(1.0) - ra)
    qb = rb * (F.lit(1.0) - rb)
    delta = ra - rb
    se = F.sqrt(qa / F.col("na") + qb / F.col("nb"))
    z_eff = F.when(se > 0, F.abs(delta) / se - F.lit(1.959964))
    power = F.when(
        z_eff.isNotNull(), F.round(normal_cdf_col(z_eff), 6)
    )
    n80 = F.when(
        F.abs(delta) > 0,
        F.ceil(
            F.lit((1.959964 + 0.841621) ** 2) * (qa + qb)
            / (delta * delta)
        ).cast("long"),
    )
    n90 = F.when(
        F.abs(delta) > 0,
        F.ceil(
            F.lit((1.959964 + 1.281552) ** 2) * (qa + qb)
            / (delta * delta)
        ).cast("long"),
    )
    return one.select(
        F.col("ga").alias("variant_a"),
        F.col("na").alias("n_a"),
        F.round(ra, 6).alias("rate_a"),
        F.col("gb").alias("variant_b"),
        F.col("nb").alias("n_b"),
        F.round(rb, 6).alias("rate_b"),
        F.round(delta, 6).alias("delta"),
        power.alias("power"),
        n80.alias("n_per_arm_80"),
        n90.alias("n_per_arm_90"),
    )


def mann_whitney_u(
    df: DataFrame,
    group_col: str,
    value_col: str,
) -> DataFrame:
    """Two-sample Mann–Whitney U (Wilcoxon rank-sum) with Cliff's
    delta — the distribution-free "are these two groups' values drawn
    from the same distribution" test, plus the effect size that does
    not depend on n: δ = P(x>y) − P(x<y) = 2U/(n₁n₂) − 1.

    Rank machinery at scale: ONE groupBy on the value (per-distinct
    conditional counts for both groups), then the scale-safe two-phase
    prefix scan (ops/packing.py::global_prefix_sum — never a
    partitionless window over the distinct-value frame) yields
    average ranks as exact half-integers; the rank sum accumulates as
    DECIMAL(·,1) (half-grain exact in any engine), and the tie
    correction Σ(t³−t) as DECIMAL — every downstream double is a
    closed form over exact inputs. p-value via the tie-corrected
    normal approximation (valid n ≳ 20 per side; no continuity
    correction — documented) through the A&S tail.

    Output: 1 row — (variant_a, n_a, variant_b, n_b, u_a, cliffs_delta,
    z_score, p_value — 6 dp, significant_95).
    """
    from .packing import global_prefix_sum

    base = df.where(
        F.col(group_col).isNotNull() & F.col(value_col).isNotNull()
    ).select(
        F.col(group_col).cast("string").alias("_g"),
        F.col(value_col).cast("double").alias("_v"),
    )
    labels = [
        r["_g"]
        for r in base.select("_g").distinct().orderBy("_g").collect()
    ]
    if len(labels) != 2:
        raise ValueError(
            f"mann_whitney_u needs exactly 2 groups, got {labels}"
        )
    ga, gb = labels
    counts = base.groupBy("_v").agg(
        F.sum(F.when(F.col("_g") == ga, 1).otherwise(0)).alias("_c1"),
        F.sum(F.when(F.col("_g") != ga, 1).otherwise(0)).alias("_c2"),
    ).withColumn("_t", F.col("_c1") + F.col("_c2"))
    persisted: list = []
    try:
        pref = global_prefix_sum(
            counts, "_v", "_t", out="_cum", persisted=persisted
        )
        avg_rank = (F.col("_cum") - F.col("_t")) + (
            F.col("_t") + F.lit(1)
        ) / F.lit(2.0)
        t_dec = F.col("_t").cast("decimal(12,0)")
        sums = pref.select(
            "_c1",
            "_c2",
            (
                F.col("_c1").cast("decimal(15,0)")
                * avg_rank.cast("decimal(20,1)")
            ).alias("_pr"),
            (t_dec * t_dec * t_dec - t_dec).alias("_tt"),
        ).agg(
            F.sum("_c1").alias("_n1"),
            F.sum("_c2").alias("_n2"),
            F.sum("_pr").alias("_r1"),
            F.sum("_tt").alias("_ties"),
        ).collect()[0]
    finally:
        for h in persisted:
            h.unpersist()
    spark = df.sparkSession
    one = spark.createDataFrame(
        [(ga, sums["_n1"], gb, sums["_n2"], sums["_r1"], sums["_ties"])],
        "ga string, n1 long, gb string, n2 long, "
        "r1 decimal(38,1), ties decimal(38,0)",
    )
    n1d = F.col("n1").cast("double")
    n2d = F.col("n2").cast("double")
    nd = (F.col("n1") + F.col("n2")).cast("double")
    r1d = F.col("r1").cast("double")
    tiesd = F.col("ties").cast("double")
    u1 = r1d - n1d * (n1d + F.lit(1.0)) / F.lit(2.0)
    mu = n1d * n2d / F.lit(2.0)
    varu = F.when(
        nd > 1,
        (n1d * n2d / F.lit(12.0))
        * (
            (nd + F.lit(1.0))
            - tiesd / (nd * (nd - F.lit(1.0)))
        ),
    )
    z = F.when(varu > 0, (u1 - mu) / F.sqrt(varu))
    p = F.when(
        z.isNotNull(),
        F.round(
            F.least(
                F.lit(1.0),
                F.greatest(
                    F.lit(0.0),
                    F.lit(2.0) * normal_sf_col(F.abs(z)),
                ),
            ),
            6,
        ),
    )
    return one.select(
        F.col("ga").alias("variant_a"),
        F.col("n1").alias("n_a"),
        F.col("gb").alias("variant_b"),
        F.col("n2").alias("n_b"),
        F.round(u1, 6).alias("u_a"),
        F.round(
            F.lit(2.0) * u1 / (n1d * n2d) - F.lit(1.0), 6
        ).alias("cliffs_delta"),
        F.round(z, 6).alias("z_score"),
        p.alias("p_value"),
        (p < F.lit(0.05)).alias("significant_95"),
    )


def _two_group_micro_moments(
    df: DataFrame, group_col: str, value_col: str, op_name: str
):
    """Shared two-sample sufficient-statistic collection (welch /
    cohens_d): 6-dp micro-unit DECIMAL(19,0) values — (19,0)² is
    exactly the 38-digit cap — with exact Σv and Σv² per group;
    exactly two groups or raises."""
    base = df.where(
        F.col(group_col).isNotNull() & F.col(value_col).isNotNull()
    ).select(
        F.col(group_col).cast("string").alias("_g"),
        F.round(F.col(value_col).cast("double") * F.lit(1_000_000.0))
        .cast("decimal(19,0)")
        .alias("_v"),
    )
    rows = (
        base.groupBy("_g")
        .agg(
            F.count(F.lit(1)).alias("_n"),
            F.sum("_v").alias("_s"),
            F.sum(F.col("_v") * F.col("_v")).alias("_sq"),
        )
        .orderBy("_g")
        .collect()
    )
    if len(rows) != 2:
        raise ValueError(
            f"{op_name} needs exactly 2 groups, got "
            f"{[r['_g'] for r in rows]}"
        )
    return rows[0], rows[1]


def cohens_d(
    df: DataFrame,
    group_col: str,
    value_col: str,
) -> DataFrame:
    """Standardized two-sample effect size — Cohen's d over the pooled
    SD plus the small-sample Hedges' g correction — the magnitude
    readout that makes a significant :func:`welch_t_test` actionable
    (with big n everything is significant; d says whether it MATTERS;
    0.2/0.5/0.8 are the conventional small/medium/large flags).

    Shares :func:`welch_t_test`'s exact micro-unit sufficient
    statistics: the pooled variance numerator combines the per-group
    centered numerators in exact integer arithmetic —
    sp² = (varnum_a/n_a + varnum_b/n_b) / (n_a+n_b−2) / 1e12 — so only
    integer→double casts feed the ratios. g = d·J with
    J = 1 − 3/(4(n_a+n_b) − 9) (the standard approximation to the
    exact gamma ratio).

    Output: 1 row — (variant_a, n_a, mean_a, variant_b, n_b, mean_b,
    pooled_sd, cohens_d, hedges_g — 6 dp, magnitude ∈
    {negligible, small, medium, large} on |d|); null d/g on zero
    pooled variance or n_a+n_b < 3.
    """
    a, b = _two_group_micro_moments(df, group_col, value_col, "cohens_d")

    def _varnum(r):
        return int(r["_n"]) * int(r["_sq"]) - int(r["_s"]) * int(r["_s"])

    from decimal import Decimal

    spark = df.sparkSession
    one = spark.createDataFrame(
        [(a["_g"], a["_n"], Decimal(int(a["_s"])), Decimal(_varnum(a)),
          b["_g"], b["_n"], Decimal(int(b["_s"])), Decimal(_varnum(b)))],
        "ga string, na long, sa decimal(38,0), vna decimal(38,0), "
        "gb string, nb long, sb decimal(38,0), vnb decimal(38,0)",
    )
    nad = F.col("na").cast("double")
    nbd = F.col("nb").cast("double")
    ma = F.col("sa").cast("double") / nad / F.lit(1e6)
    mb = F.col("sb").cast("double") / nbd / F.lit(1e6)
    # varnum/n = (n−1)·s² in pico-units; pooled over both arms
    sp2 = F.when(
        F.col("na") + F.col("nb") > 2,
        (
            F.col("vna").cast("double") / nad
            + F.col("vnb").cast("double") / nbd
        )
        / (nad + nbd - F.lit(2.0))
        / F.lit(1e12),
    )
    sp = F.sqrt(sp2)
    d = F.when(sp > 0, (ma - mb) / sp)
    j = F.lit(1.0) - F.lit(3.0) / (
        F.lit(4.0) * (nad + nbd) - F.lit(9.0)
    )
    g = d * j
    mag = F.when(
        d.isNull(), F.lit(None).cast("string")
    ).when(F.abs(d) < 0.2, "negligible").when(
        F.abs(d) < 0.5, "small"
    ).when(F.abs(d) < 0.8, "medium").otherwise("large")
    return one.select(
        F.col("ga").alias("variant_a"),
        F.col("na").alias("n_a"),
        F.round(ma, 6).alias("mean_a"),
        F.col("gb").alias("variant_b"),
        F.col("nb").alias("n_b"),
        F.round(mb, 6).alias("mean_b"),
        F.round(sp, 6).alias("pooled_sd"),
        F.round(d, 6).alias("cohens_d"),
        F.round(g, 6).alias("hedges_g"),
        mag.alias("magnitude"),
    )


def welch_t_test(
    df: DataFrame,
    group_col: str,
    value_col: str,
) -> DataFrame:
    """Welch's unequal-variance t-test on a continuous metric — the
    default two-sample mean comparison (Student's equal-variance form
    is strictly dominated; Welch is what "t-test" should mean in a
    pipeline). Complements ab_test_proportions (rates) and
    mann_whitney_u (ranks) with the parametric mean readout.

    Values round to 6 dp and carry as INTEGER micro-units
    (DECIMAL(19,0) ×10⁶): the sums Σv and Σv² are exact integers, and
    the centered variance numerator n·Σv² − (Σv)² is computed in
    EXACT arbitrary-precision arithmetic on the collected 1-row
    moments — never as a cancellation of two large doubles. The only
    engine-boundary conversions left are integer→double casts, which
    IEEE defines exactly (a DECIMAL(·,s)→double cast does NOT — the
    two engines disagree in the last ulp, and the variance
    cancellation amplifies that ulp ~n-fold, observed on real data).
    Degrees of freedom via Welch–Satterthwaite; the p-value uses the
    NORMAL approximation to the t distribution through the A&S tail —
    accurate to ~1e-3 for df ≳ 30 and reported alongside df so a
    caller with tiny samples can see why not to trust it.

    Output: 1 row — (variant_a, n_a, mean_a, var_a, variant_b, n_b,
    mean_b, var_b, t_stat, df, p_value — 6 dp, significant_95).
    """
    a, b = _two_group_micro_moments(
        df, group_col, value_col, "welch_t_test"
    )

    def _varnum(r):  # n·Σv² − (Σv)², exact python int
        return int(r["_n"]) * int(r["_sq"]) - int(r["_s"]) * int(r["_s"])

    from decimal import Decimal

    spark = df.sparkSession
    one = spark.createDataFrame(
        [(a["_g"], a["_n"], Decimal(int(a["_s"])), Decimal(_varnum(a)),
          b["_g"], b["_n"], Decimal(int(b["_s"])), Decimal(_varnum(b)))],
        "ga string, na long, sa decimal(38,0), vna decimal(38,0), "
        "gb string, nb long, sb decimal(38,0), vnb decimal(38,0)",
    )
    scale_m = F.lit(1_000_000.0)
    scale_v = F.lit(1_000_000_000_000.0)
    nad = F.col("na").cast("double")
    nbd = F.col("nb").cast("double")
    ma = F.col("sa").cast("double") / nad / scale_m
    mb = F.col("sb").cast("double") / nbd / scale_m
    va = F.when(
        F.col("na") > 1,
        F.col("vna").cast("double")
        / (nad * (nad - F.lit(1.0)))
        / scale_v,
    )
    vb = F.when(
        F.col("nb") > 1,
        F.col("vnb").cast("double")
        / (nbd * (nbd - F.lit(1.0)))
        / scale_v,
    )
    sea = va / nad
    seb = vb / nbd
    se2 = sea + seb
    t = F.when(se2 > 0, (ma - mb) / F.sqrt(se2))
    dof = F.when(
        se2 > 0,
        (se2 * se2)
        / (
            sea * sea / (nad - F.lit(1.0))
            + seb * seb / (nbd - F.lit(1.0))
        ),
    )
    p = F.when(
        t.isNotNull(),
        F.round(
            F.least(
                F.lit(1.0),
                F.greatest(
                    F.lit(0.0),
                    F.lit(2.0) * normal_sf_col(F.abs(t)),
                ),
            ),
            6,
        ),
    )
    return one.select(
        F.col("ga").alias("variant_a"),
        F.col("na").alias("n_a"),
        F.round(ma, 6).alias("mean_a"),
        F.round(va, 6).alias("var_a"),
        F.col("gb").alias("variant_b"),
        F.col("nb").alias("n_b"),
        F.round(mb, 6).alias("mean_b"),
        F.round(vb, 6).alias("var_b"),
        F.round(t, 6).alias("t_stat"),
        F.round(dof, 6).alias("df"),
        p.alias("p_value"),
        (p < F.lit(0.05)).alias("significant_95"),
    )


def ar_forecast(
    df: DataFrame,
    ts_col: str,
    value_col: str,
    bucket_seconds: int = 3600,
    horizon: int = 3,
) -> DataFrame:
    """AR(2) forecast of a bucketed metric series via Yule–Walker —
    the closed-form autoregressive companion to the ACF readout
    (:func:`functions.aggregations.acf_table` tells you the series is
    persistent; this turns that persistence into h-step forecasts
    without an ML runtime).

    Pipeline (everything after the bucket groupBy runs on the bounded
    bucket grid): per-bucket mean series y_i (DECIMAL-sum exact) →
    series mean ȳ from an exact pico-int sum → lag-{0,1,2}
    autocovariance sums over CONSECUTIVE-index pairs, each per-pair
    product rounded to pico-ints (×10¹²) and summed as DECIMAL(38,0)
    (merge-order free) → Yule–Walker closed form on the driver:
    r_k = γ_k/γ_0, φ₁ = r₁(1−r₂)/(1−r₁²), φ₂ = (r₂−r₁²)/(1−r₁²),
    each rounded 12 dp → the forecast recursion
    ŷ_{T+h} = ȳ + φ₁(ŷ_{T+h−1}−ȳ) + φ₂(ŷ_{T+h−2}−ȳ) unrolled on the
    driver from the LAST TWO OBSERVED buckets (gaps: the recursion
    conditions on observed buckets, the irregular-series
    simplification acf_table documents), 12 dp per step. Every stage
    is engine-replayable — an unrolled-CTE oracle reproduces the
    forecasts bit-exactly.

    Degenerate guards (replayable CASEs, not errors): zero variance
    (γ₀ ≤ 0) or a singular YW system (1−r₁² = 0) → φ = 0 and the
    forecast collapses to ȳ.

    Output: one row per step — (step int 1..horizon, forecast 6 dp,
    mu 6 dp, phi1 6 dp, phi2 6 dp, n_buckets long).
    """
    if horizon < 1:
        raise ValueError("horizon must be >= 1")
    if bucket_seconds < 1:
        raise ValueError("bucket_seconds must be >= 1")
    x = F.col(value_col).cast("double")
    series = (
        df.where(F.col(ts_col).isNotNull() & x.isNotNull())
        .groupBy(
            F.floor(
                F.unix_timestamp(F.col(ts_col)) / bucket_seconds
            ).alias("i")
        )
        .agg(
            (
                F.sum(x.cast(_DEC)).cast("double")
                / F.count(F.lit(1))
            ).alias("y")
        )
        .persist()
    )
    try:
        head = series.agg(
            F.count(F.lit(1)).alias("_n"),
            F.sum(
                F.round(F.col("y") * F.lit(1e12)).cast("decimal(38,0)")
            ).alias("_sy"),
        ).collect()[0]
        n = int(head["_n"])
        if n < 3:
            raise ValueError(
                f"ar_forecast: need >= 3 buckets, got {n}"
            )
        mu = round(float(int(head["_sy"])) / 1e12 / n, 12)
        s1, s2 = series.alias("s1"), series.alias("s2")
        pairs = s1.join(
            s2,
            (F.col("s2.i") >= F.col("s1.i"))
            & (F.col("s2.i") <= F.col("s1.i") + 2),
        ).select(
            (F.col("s2.i") - F.col("s1.i")).cast("int").alias("lag"),
            F.round(
                (F.col("s1.y") - F.lit(mu))
                * (F.col("s2.y") - F.lit(mu))
                * F.lit(1e12)
            ).cast("decimal(38,0)").alias("p"),
        )
        g = {
            int(r["lag"]): int(r["s"])
            for r in pairs.groupBy("lag")
            .agg(F.sum("p").alias("s"))
            .collect()
        }
        g0 = float(g.get(0, 0))
        g1 = float(g.get(1, 0))
        g2 = float(g.get(2, 0))
        if g0 > 0:
            r1 = g1 / g0
            r2 = g2 / g0
            den = 1.0 - r1 * r1
            if den != 0.0:
                phi1 = round(r1 * (1.0 - r2) / den, 12)
                phi2 = round((r2 - r1 * r1) / den, 12)
            else:
                phi1 = phi2 = 0.0
        else:
            phi1 = phi2 = 0.0
        last = series.orderBy(F.col("i").desc()).limit(2).collect()
        prev1 = float(last[0]["y"])
        prev2 = float(last[1]["y"])
    finally:
        series.unpersist()
    fc = []
    for h in range(1, int(horizon) + 1):
        f = round(
            mu + phi1 * (prev1 - mu) + phi2 * (prev2 - mu), 12
        )
        fc.append(f)
        prev2, prev1 = prev1, f
    spark = df.sparkSession
    return spark.createDataFrame(
        [
            (
                h + 1,
                round(fc[h], 6),
                round(mu, 6),
                round(phi1, 6),
                round(phi2, 6),
                n,
            )
            for h in range(len(fc))
        ],
        "step int, forecast double, mu double, phi1 double, "
        "phi2 double, n_buckets long",
    ).orderBy("step")


def holt_winters_backtest(
    df: DataFrame,
    ts_col: str,
    value_col: str,
    bucket_seconds: int = 3600,
    season: int = 24,
    train_window: int = 72,
    holdout: int = 24,
    alpha: float = 0.3,
    beta: float = 0.05,
    gamma: float = 0.2,
) -> DataFrame:
    """Additive Holt-Winters (triple exponential smoothing) BACKTEST —
    the level+trend+seasonality forecaster between the seasonal-naive
    baseline (functions/aggregations.py::forecast_baseline_eval) and
    the AR(2) line (:func:`ar_forecast`): train on the last
    ``train_window`` observed buckets before a ``holdout`` tail, then
    score the holdout forecasts with the SAME metric conventions as
    the baseline harness (MAE / RMSE / sMAPE with the both-zero→0
    rule; MASE = MAE ÷ train persistence MAE).

    Recursion (standard additive HW, smoothing constants fixed —
    they are plan parameters, not fitted):
    ``l_t = α(y_t − s_{t−m}) + (1−α)(l_{t−1} + b_{t−1})``,
    ``b_t = β(l_t − l_{t−1}) + (1−β)b_{t−1}``,
    ``s_t = γ(y_t − l_t) + (1−γ)s_{t−m}``; init over the first two
    seasons of the train window: l₀ = mean(season 1), b₀ =
    (mean(season 2) − mean(season 1))/m, s_j = y_j − l₀ — the means
    from EXACT pico-int sums so they are order-independent. Forecast
    ``ŷ_{T+h} = l_T + h·b_T + s_{T−m+((h−1) mod m)}``.

    Scale/replay design: the bucket series is a distributed row-scale
    groupBy; everything after runs on the CALENDAR-BOUNDED bucket
    grid, and only the last ``train_window + holdout`` bucket rows
    (≤ a few hundred BY CONSTRUCTION — the window is a fixed
    parameter, not data-sized) are collected for the driver-side
    recursion. Every recursion step rounds to 12 dp, so a fixed-step
    unrolled-CTE oracle replays the whole backtest bit-exactly — the
    reason ``train_window`` is a fixed parameter (a data-dependent
    length could not be unrolled). Buckets are consumed POSITIONALLY
    in bucket order (phase = position mod m) — gaps are treated as
    consecutive observations, :func:`ar_forecast`'s irregular-series
    simplification. Metric error terms round to 12-dp pico-ints and
    sum exactly.

    Raises if the series has fewer than ``train_window + holdout``
    buckets or ``train_window < 2·season`` (the init needs two full
    seasons). Output: 1 row — (season, alpha, beta, gamma, n_train,
    n_test, level 6dp, trend 6dp, mae 6dp, rmse 6dp, smape 6dp,
    mase 6dp).
    """
    if bucket_seconds < 1:
        raise ValueError("bucket_seconds must be >= 1")
    if season < 2:
        raise ValueError("season must be >= 2")
    if train_window < 2 * season:
        raise ValueError("train_window must be >= 2*season")
    if holdout < 1:
        raise ValueError("holdout must be >= 1")
    if train_window + holdout > 4096:
        raise ValueError(
            "train_window + holdout > 4096 — the driver-side "
            "recursion window must stay bounded"
        )
    for nm, v in (("alpha", alpha), ("beta", beta), ("gamma", gamma)):
        if not (0.0 < float(v) < 1.0):
            raise ValueError(f"{nm} must be in (0, 1)")
    x = F.col(value_col).cast("double")
    w = int(train_window) + int(holdout)
    series = (
        df.where(F.col(ts_col).isNotNull() & x.isNotNull())
        .groupBy(
            F.floor(
                F.unix_timestamp(F.col(ts_col)) / bucket_seconds
            ).alias("i")
        )
        .agg(
            (
                F.sum(x.cast(_DEC)).cast("double")
                / F.count(F.lit(1))
            ).alias("y")
        )
    )
    tail = series.orderBy(F.col("i").desc()).limit(w).collect()
    if len(tail) < w:
        raise ValueError(
            f"holt_winters_backtest: need >= {w} buckets, "
            f"got {len(tail)}"
        )
    ys = [float(r["y"]) for r in sorted(tail, key=lambda r: r["i"])]
    m = int(season)
    T = int(train_window)
    a, b_, g_ = float(alpha), float(beta), float(gamma)
    # init means from exact pico-int sums (order-independent)
    sum1 = sum(round(y * 1e12) for y in ys[:m])
    sum2 = sum(round(y * 1e12) for y in ys[m:2 * m])
    l = round(float(sum1) / 1e12 / m, 12)
    b = round((float(sum2) - float(sum1)) / 1e12 / m / m, 12)
    s = [round(ys[j] - l, 12) for j in range(m)]
    for t in range(m, T):
        sp = s[t - m]
        ln = round(a * (ys[t] - sp) + (1.0 - a) * (l + b), 12)
        b = round(b_ * (ln - l) + (1.0 - b_) * b, 12)
        s.append(round(g_ * (ys[t] - ln) + (1.0 - g_) * sp, 12))
        l = ln
    # holdout forecasts + exact pico-int metric sums
    sae = sse = ssm = 0
    for h in range(1, int(holdout) + 1):
        f = round(l + h * b + s[T - m + ((h - 1) % m)], 12)
        y = ys[T + h - 1]
        ae = abs(y - f)
        sae += round(ae * 1e12)
        sse += round(ae * ae * 1e12)
        den = abs(y) + abs(f)
        ssm += round((2.0 * ae / den if den > 0 else 0.0) * 1e12)
    nae = sum(
        round(abs(ys[t] - ys[t - 1]) * 1e12) for t in range(1, T)
    )
    import math

    n_test = int(holdout)
    mae = float(sae) / 1e12 / n_test
    rmse = math.sqrt(float(sse) / 1e12 / n_test)
    smape = float(ssm) / 1e12 / n_test
    naive_mae = float(nae) / 1e12 / (T - 1)
    mase = mae / naive_mae if naive_mae > 0 else None
    return df.sparkSession.createDataFrame(
        [
            (
                m,
                a,
                b_,
                g_,
                T,
                n_test,
                round(l, 6),
                round(b, 6),
                round(mae, 6),
                round(rmse, 6),
                round(smape, 6),
                round(mase, 6) if mase is not None else None,
            )
        ],
        "season int, alpha double, beta double, gamma double, "
        "n_train long, n_test long, level double, trend double, "
        "mae double, rmse double, smape double, mase double",
    )


def esd_outliers(
    df: DataFrame,
    ts_col: str,
    value_col: "str | None" = None,
    bucket_seconds: int = 3600,
    k: int = 3,
    threshold: float = 3.0,
    season: int = 24,
) -> DataFrame:
    """Seasonal ESD outlier sweep over a bucketed event series (the
    S-H-ESD shape popularized for production event streams): bucket
    the stream, remove the seasonal level (per-phase EXACT median —
    hour-of-day for hourly buckets with ``season=24``), then run ``k``
    generalized-ESD iterations on the residuals: each round computes
    the residual mean/SD from EXACT pico-int sums, takes the most
    extreme remaining bucket, flags it if its studentized deviation
    exceeds ``threshold``, and removes it before the next round (so
    one masked spike cannot hide another — the advantage over a
    single z-score pass).

    ``value_col=None`` audits VOLUME (per-bucket row count);
    otherwise the per-bucket DECIMAL-exact mean of the column.

    Determinism: the per-round argmax orders by the pico-int deviation
    (exact integer) DESC then bucket index ASC — ties cannot reorder
    across engines; a fixed ``threshold`` replaces the t-quantile λ_i
    so every branch is closed-form (document the threshold you
    publish). Every round is ONE aggregation + ONE
    TakeOrderedAndProject on the bounded bucket grid.

    Output: one row per iteration — (iteration int 1..k,
    bucket_start timestamp, metric 6 dp, residual 6 dp, r_stat 6 dp,
    flagged boolean).
    """
    if k < 1:
        raise ValueError("k must be >= 1")
    if season < 1:
        raise ValueError("season must be >= 1")
    if bucket_seconds < 1:
        raise ValueError("bucket_seconds must be >= 1")
    base = df.where(F.col(ts_col).isNotNull())
    if value_col is None:
        metric = F.count(F.lit(1)).cast("double").alias("y")
        base = base.groupBy(
            F.floor(
                F.unix_timestamp(F.col(ts_col)) / bucket_seconds
            ).alias("i")
        ).agg(metric)
    else:
        x = F.col(value_col).cast("double")
        base = (
            base.where(x.isNotNull())
            .groupBy(
                F.floor(
                    F.unix_timestamp(F.col(ts_col)) / bucket_seconds
                ).alias("i")
            )
            .agg(
                (
                    F.sum(x.cast(_DEC)).cast("double")
                    / F.count(F.lit(1))
                ).alias("y")
            )
        )
    base = base.withColumn("ph", (F.col("i") % season).cast("int"))
    med = _grouped_median(base, "ph", "y").select(
        "ph", F.col("_median").alias("m")
    )
    resid = (
        base.join(med, "ph")
        .select(
            "i",
            "y",
            (F.col("y") - F.col("m")).alias("r"),
        )
        .persist()
    )
    rows = []
    spark = df.sparkSession
    try:
        cur = resid
        for it in range(1, int(k) + 1):
            st = cur.agg(
                F.count(F.lit(1)).alias("_n"),
                F.sum(
                    F.round(F.col("r") * F.lit(1e12)).cast(
                        "decimal(38,0)"
                    )
                ).alias("_s"),
                F.sum(
                    F.round(
                        F.col("r") * F.col("r") * F.lit(1e12)
                    ).cast("decimal(38,0)")
                ).alias("_ss"),
            ).collect()[0]
            n = int(st["_n"])
            if n < 3:
                break
            s = float(int(st["_s"]))
            ss = float(int(st["_ss"]))
            mean = s / 1e12 / n
            var = (ss / 1e12 - (s / 1e12) * (s / 1e12) / n) / (n - 1)
            sd = var ** 0.5 if var > 0 else 0.0
            top = (
                cur.select(
                    "i",
                    "y",
                    "r",
                    F.abs(
                        F.round(
                            (F.col("r") - F.lit(mean)) * F.lit(1e12)
                        ).cast("decimal(38,0)")
                    ).alias("_dev"),
                )
                .orderBy(F.col("_dev").desc(), F.col("i").asc())
                .limit(1)
                .collect()[0]
            )
            r_stat = (
                abs(float(top["r"]) - mean) / sd if sd > 0 else 0.0
            )
            rows.append(
                (
                    it,
                    int(top["i"]) * int(bucket_seconds),
                    round(float(top["y"]), 6),
                    round(float(top["r"]), 6),
                    round(r_stat, 6),
                    bool(r_stat > float(threshold)),
                )
            )
            cur = cur.where(F.col("i") != int(top["i"]))
    finally:
        resid.unpersist()
    out = spark.createDataFrame(
        rows,
        "iteration int, _epoch long, metric double, residual double, "
        "r_stat double, flagged boolean",
    )
    return out.select(
        "iteration",
        F.timestamp_seconds(F.col("_epoch")).alias("bucket_start"),
        "metric",
        "residual",
        "r_stat",
        "flagged",
    ).orderBy("iteration")


def ab_ratio_delta(
    df: DataFrame,
    variant_col: str,
    num_col: str,
    den_col: str,
    unit_col: str,
) -> DataFrame:
    """Delta-method inference for RATIO metrics (revenue per session,
    clicks per view, cost per conversion) — the A/B panel member the
    mean/rate tests cannot cover: when the metric is a ratio of
    per-unit sums, naive row-level variance ignores the within-unit
    correlation between numerator and denominator and overstates
    significance (Deng et al., the standard large-scale-experimentation
    correction).

    Per unit (user), numerator and denominator sums accumulate as
    DECIMAL then round to 6-dp micro-ints; units appearing in BOTH
    arms are dropped (the CUPED contamination rule). Per arm the ratio
    is R = ΣX/ΣY and its delta-method variance
    var(R) ≈ (s²ₓ + R²·s²ᵧ − 2R·sₓᵧ)/(n·Ȳ²) uses sample (co)variances
    whose centered numerators n·ΣX² − (ΣX)² etc. are EXACT python-int
    arithmetic on collected 1-row moments (the welch_t_test ulp
    discipline — never a cancellation of two large doubles). The
    two-sided p-value uses the A&S normal tail; the CI multiplier is
    1.959964.

    Output: 1 row — (variant_a, n_a, ratio_a, variant_b, n_b,
    ratio_b, diff, se, z_stat, p_value, ci_lo, ci_hi — 6 dp,
    significant_95 boolean); inference NULL when either arm has < 2
    units, zero denominator, or zero variance.
    """
    base = df.where(
        F.col(variant_col).isNotNull()
        & F.col(unit_col).isNotNull()
        & F.col(num_col).isNotNull()
        & F.col(den_col).isNotNull()
    ).select(
        F.col(variant_col).cast("string").alias("_g"),
        F.col(unit_col).alias("_u"),
        F.col(num_col).cast("double").alias("_x"),
        F.col(den_col).cast("double").alias("_y"),
    )
    per_unit = base.groupBy("_u").agg(
        F.count_distinct(F.col("_g")).alias("_ng"),
        F.max("_g").alias("_g2"),
        F.round(
            F.sum(F.col("_x").cast(_DEC)).cast("double")
            * F.lit(1_000_000.0)
        ).cast("decimal(19,0)").alias("_xs"),
        F.round(
            F.sum(F.col("_y").cast(_DEC)).cast("double")
            * F.lit(1_000_000.0)
        ).cast("decimal(19,0)").alias("_ys"),
    ).where(F.col("_ng") == 1)
    rows = (
        per_unit.groupBy("_g2")
        .agg(
            F.count(F.lit(1)).alias("_n"),
            F.sum("_xs").alias("_sx"),
            F.sum("_ys").alias("_sy"),
            F.sum(F.col("_xs") * F.col("_xs")).alias("_sxx"),
            F.sum(F.col("_ys") * F.col("_ys")).alias("_syy"),
            F.sum(F.col("_xs") * F.col("_ys")).alias("_sxy"),
        )
        .orderBy("_g2")
        .collect()
    )
    if len(rows) != 2:
        raise ValueError(
            f"ab_ratio_delta needs exactly 2 variants, got "
            f"{[r['_g2'] for r in rows]}"
        )
    from decimal import Decimal

    def _mom(r):
        n = int(r["_n"])
        sx, sy = int(r["_sx"]), int(r["_sy"])
        sxx, syy, sxy = int(r["_sxx"]), int(r["_syy"]), int(r["_sxy"])
        return (
            r["_g2"], n, Decimal(sx), Decimal(sy),
            Decimal(n * sxx - sx * sx),
            Decimal(n * syy - sy * sy),
            Decimal(n * sxy - sx * sy),
        )

    a, b = _mom(rows[0]), _mom(rows[1])
    spark = df.sparkSession
    one = spark.createDataFrame(
        [a + b],
        "ga string, na long, sxa decimal(38,0), sya decimal(38,0), "
        "vxa decimal(38,0), vya decimal(38,0), cxa decimal(38,0), "
        "gb string, nb long, sxb decimal(38,0), syb decimal(38,0), "
        "vxb decimal(38,0), vyb decimal(38,0), cxb decimal(38,0)",
    )
    scale_v = F.lit(1e12)

    def _arm(sfx):
        n = F.col(f"n{sfx}").cast("double")
        sx = F.col(f"sx{sfx}").cast("double")
        sy = F.col(f"sy{sfx}").cast("double")
        r = F.when(sy != 0, sx / sy)
        ybar = sy / n / F.lit(1_000_000.0)
        den = n * (n - F.lit(1.0))
        s2x = F.col(f"vx{sfx}").cast("double") / den / scale_v
        s2y = F.col(f"vy{sfx}").cast("double") / den / scale_v
        sxy = F.col(f"cx{sfx}").cast("double") / den / scale_v
        var = F.when(
            (F.col(f"n{sfx}") > 1) & (sy != 0),
            F.greatest(
                F.lit(0.0),
                (s2x + r * r * s2y - F.lit(2.0) * r * sxy)
                / (n * ybar * ybar),
            ),
        )
        return r, var

    ra, va = _arm("a")
    rb, vb = _arm("b")
    diff = rb - ra
    se2 = va + vb
    se = F.when(se2 > 0, F.sqrt(se2))
    z = F.when(se.isNotNull(), diff / se)
    p = F.when(
        z.isNotNull(),
        F.round(
            F.least(
                F.lit(1.0),
                F.greatest(
                    F.lit(0.0), F.lit(2.0) * normal_sf_col(F.abs(z))
                ),
            ),
            6,
        ),
    )
    return one.select(
        F.col("ga").alias("variant_a"),
        F.col("na").alias("n_a"),
        F.round(ra, 6).alias("ratio_a"),
        F.col("gb").alias("variant_b"),
        F.col("nb").alias("n_b"),
        F.round(rb, 6).alias("ratio_b"),
        F.round(diff, 6).alias("diff"),
        F.round(se, 6).alias("se"),
        F.round(z, 6).alias("z_stat"),
        p.alias("p_value"),
        F.round(diff - F.lit(1.959964) * se, 6).alias("ci_lo"),
        F.round(diff + F.lit(1.959964) * se, 6).alias("ci_hi"),
        F.when(p.isNotNull(), p < 0.05).alias("significant_95"),
    )
