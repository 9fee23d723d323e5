"""Unit tests for ops/stats.py — bootstrap, CUPED, BH-FDR, Theil–Sen."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from metadata_etl_framework_spark.ops.stats import (
    POISSON1_CDF,
    cuped_adjusted_effect,
    fdr_bh,
    poisson_bootstrap_ci,
    theil_sen_trend,
)


def test_poisson_cdf_ladder_is_monotone():
    assert list(POISSON1_CDF) == sorted(POISSON1_CDF)
    assert 0.0 < POISSON1_CDF[0] < POISSON1_CDF[-1] < 1.0


def test_bootstrap_ci_brackets_mean_and_is_deterministic(spark):
    df = spark.range(1, 2001).select(
        F.col("id").alias("k"), (F.col("id") % 100).cast("double").alias("v")
    )
    a = poisson_bootstrap_ci(df, "v", "k", n_boot=50).collect()[0]
    b = poisson_bootstrap_ci(df, "v", "k", n_boot=50).collect()[0]
    assert a == b  # hash-seeded -> fully deterministic
    assert a["n_rows"] == 2000 and a["n_boot"] == 50
    assert a["ci_lo"] <= a["point_est"] <= a["ci_hi"]
    # CI of a mean over 2000 rows must be tight around ~49.5
    assert a["ci_hi"] - a["ci_lo"] < 5.0


def test_bootstrap_n_boot_gate(spark):
    df = spark.range(10).select(
        F.col("id").alias("k"), F.col("id").cast("double").alias("v")
    )
    with pytest.raises(ValueError, match="n_boot"):
        poisson_bootstrap_ci(df, "v", "k", n_boot=20_001)


def test_cuped_reduces_to_plain_diff_when_theta_zero(spark):
    # covariate constant -> var(x)=0 -> theta=0 -> adj == raw
    rows = [(1, "A", 10.0, 5.0), (2, "A", 12.0, 5.0),
            (3, "B", 9.0, 5.0), (4, "B", 11.0, 5.0)]
    df = spark.createDataFrame(rows, "u long, g string, y double, x double")
    r = cuped_adjusted_effect(df, "g", "y", "x", "u").collect()[0]
    assert r["theta"] == 0.0 and r["var_reduction_pct"] == 0.0
    assert r["mean_a"] == r["adj_mean_a"] == 11.0
    assert r["diff"] == r["adj_diff"] == 1.0


def test_cuped_perfect_covariate_kills_variance(spark):
    # y = 2x exactly -> corr^2 = 1 -> 100% variance reduction and the
    # adjusted means collapse to the grand adjusted value in both arms
    rows = [(i, "A" if i % 2 == 0 else "B", 2.0 * v, v)
            for i, v in enumerate([1.0, 2.0, 3.0, 4.0, 5.0, 6.0])]
    df = spark.createDataFrame(rows, "u long, g string, y double, x double")
    r = cuped_adjusted_effect(df, "g", "y", "x", "u").collect()[0]
    assert r["theta"] == 2.0
    assert r["var_reduction_pct"] == 100.0
    assert r["adj_diff"] == 0.0


def test_cuped_contaminated_units_dropped(spark):
    rows = [(1, "A", 1.0, 1.0), (1, "B", 1.0, 1.0),  # unit 1 in both arms
            (2, "A", 3.0, 1.0), (3, "B", 5.0, 1.0)]
    df = spark.createDataFrame(rows, "u long, g string, y double, x double")
    r = cuped_adjusted_effect(df, "g", "y", "x", "u").collect()[0]
    assert r["n_a"] == 1 and r["n_b"] == 1
    assert r["mean_a"] == 3.0 and r["mean_b"] == 5.0


def test_cuped_requires_two_variants(spark):
    df = spark.createDataFrame(
        [(1, "A", 1.0, 1.0)], "u long, g string, y double, x double"
    )
    with pytest.raises(ValueError, match="2 variants"):
        cuped_adjusted_effect(df, "g", "y", "x", "u")


def test_fdr_bh_textbook_example(spark):
    # classic BH: m=5, q=0.25; thresholds i/5*0.25 = .05 .10 .15 .20 .25
    pvals = [("t1", 0.01), ("t2", 0.04), ("t3", 0.12),
             ("t4", 0.30), ("t5", 0.90)]
    df = spark.createDataFrame(pvals, "t string, p double")
    out = {r["test"]: r for r in fdr_bh(df, "t", "p", q=0.25).collect()}
    # largest i with p_(i) <= i/m*q: i=3 (0.12 <= 0.15), so the step-up
    # rejects t1..t3 even though plain per-test q would keep only t1,t2
    assert [out[t]["rejected"] for t in ("t1", "t2", "t3", "t4", "t5")] == [
        True, True, True, False, False
    ]
    assert out["t5"]["rank"] == 5 and out["t1"]["m"] == 5


def test_fdr_bh_no_rejections(spark):
    df = spark.createDataFrame(
        [("a", 0.9), ("b", 0.95)], "t string, p double"
    )
    out = fdr_bh(df, "t", "p", q=0.05).collect()
    assert all(not r["rejected"] for r in out)


def test_theil_sen_exact_line_and_outlier_resistance(spark):
    # group g1: exact y = 3x + 2; group g2: same line + one wild outlier
    pts = [("g1", float(x), 3.0 * x + 2.0) for x in range(10)]
    pts += [("g2", float(x), 3.0 * x + 2.0) for x in range(10)]
    pts += [("g2", 10.0, 1000.0)]
    df = spark.createDataFrame(pts, "g string, x double, y double")
    out = {r["group"]: r for r in
           theil_sen_trend(df, "g", "x", "y").collect()}
    assert out["g1"]["slope"] == 3.0 and out["g1"]["intercept"] == 2.0
    # median slope shrugs off the outlier (OLS would report ~ 11.9)
    assert out["g2"]["slope"] == 3.0
    assert out["g1"]["n_pairs"] == 45 and out["g2"]["n_pairs"] == 55


def test_theil_sen_max_points_gate(spark):
    df = spark.range(100).select(
        F.lit("g").alias("g"),
        F.col("id").cast("double").alias("x"),
        F.col("id").cast("double").alias("y"),
    )
    with pytest.raises(ValueError, match="max_points"):
        theil_sen_trend(df, "g", "x", "y", max_points=50)


def test_ab_power_known_rates(spark):
    # 200 units/arm, A converts 60%, B converts 40%
    rows = []
    for i in range(200):
        rows.append((i, "A", i % 5 < 3))
        rows.append((1000 + i, "B", i % 5 < 2))
    df = spark.createDataFrame(rows, "u long, g string, c boolean")
    from metadata_etl_framework_spark.ops.stats import ab_power

    r = ab_power(df, "g", "c", "u").collect()[0]
    assert r["rate_a"] == 0.6 and r["rate_b"] == 0.4
    assert r["delta"] == pytest.approx(0.2)
    # a 20-point lift at n=200/arm is decisively powered
    assert r["power"] > 0.95
    # closed-form n for 80% power at these rates: ~ (2.8016^2 * 0.48)/0.04
    assert 90 <= r["n_per_arm_80"] <= 100
    assert r["n_per_arm_90"] > r["n_per_arm_80"]


def test_ab_power_zero_delta(spark):
    rows = [(i, "A" if i < 50 else "B", i % 2 == 0) for i in range(100)]
    df = spark.createDataFrame(rows, "u long, g string, c boolean")
    from metadata_etl_framework_spark.ops.stats import ab_power

    r = ab_power(df, "g", "c", "u").collect()[0]
    assert r["delta"] == 0.0
    assert r["n_per_arm_80"] is None and r["n_per_arm_90"] is None
    # power at delta=0 is the alpha floor Phi(-z_alpha) ~ 0.025
    assert r["power"] == pytest.approx(0.025, abs=0.001)


def test_normal_cdf_matches_scipy_free_reference(spark):
    # A&S 26.2.17 is within 7.5e-8 of the true Phi; pin a few values
    import math

    from metadata_etl_framework_spark.ops.stats import normal_cdf_col

    df = spark.createDataFrame(
        [(0.0,), (1.0,), (-1.0,), (1.96,), (3.0,)], "x double"
    )
    from pyspark.sql import functions as FF

    out = {r["x"]: r["p"] for r in
           df.select("x", normal_cdf_col(FF.col("x")).alias("p")).collect()}
    ref = {x: 0.5 * (1.0 + math.erf(x / math.sqrt(2.0)))
           for x in out}
    for x, p in out.items():
        assert p == pytest.approx(ref[x], abs=1e-7), x


def test_conformal_coverage_guarantee_and_width(spark):
    # residuals are |N(0,1)|-ish via a deterministic triangle wave;
    # the audit must land coverage >= ~1-alpha on the test half
    from metadata_etl_framework_spark.ops.evaluation import (
        conformal_coverage,
    )

    df = spark.range(1, 4001).select(
        F.col("id").alias("k"),
        (F.col("id") % 97).cast("double").alias("y"),
        ((F.col("id") % 97) + (F.col("id") % 13) - 6.0).alias("pred"),
    )
    r = conformal_coverage(df, "y", "pred", "k", alpha=0.1).collect()[0]
    assert r["n_calib"] + r["n_test"] == 4000
    # both halves populated by the hash split
    assert min(r["n_calib"], r["n_test"]) > 1500
    # distribution-free guarantee (exchangeable halves): coverage ~>= 0.9
    assert r["coverage"] >= 0.88
    assert r["avg_width"] == round(2 * r["q_hat"], 6)
    # residuals span 0..6, so q_hat must sit inside that range
    assert 0.0 < r["q_hat"] <= 6.0


def test_conformal_perfect_model_zero_width(spark):
    from metadata_etl_framework_spark.ops.evaluation import (
        conformal_coverage,
    )

    df = spark.range(1, 501).select(
        F.col("id").alias("k"),
        F.col("id").cast("double").alias("y"),
        F.col("id").cast("double").alias("pred"),
    )
    r = conformal_coverage(df, "y", "pred", "k", alpha=0.1).collect()[0]
    assert r["q_hat"] == 0.0 and r["coverage"] == 1.0


def test_mann_whitney_separated_vs_identical(spark):
    from metadata_etl_framework_spark.ops.stats import mann_whitney_u

    # clearly shifted distributions -> dominant delta, significant
    rows = [("A", float(100 + i % 10)) for i in range(60)]
    rows += [("B", float(i % 10)) for i in range(60)]
    df = spark.createDataFrame(rows, "g string, v double")
    r = mann_whitney_u(df, "g", "v").collect()[0]
    assert r["n_a"] == 60 and r["n_b"] == 60
    assert r["cliffs_delta"] == 1.0     # every A beats every B
    assert r["u_a"] == 3600.0           # n1*n2 pairs all won
    assert r["p_value"] < 0.001 and r["significant_95"]

    # identical distributions (heavy ties) -> U ~ n1*n2/2, delta ~ 0
    rows2 = [("A", float(i % 5)) for i in range(50)]
    rows2 += [("B", float(i % 5)) for i in range(50)]
    df2 = spark.createDataFrame(rows2, "g string, v double")
    r2 = mann_whitney_u(df2, "g", "v").collect()[0]
    assert r2["cliffs_delta"] == 0.0 and r2["u_a"] == 1250.0
    assert r2["p_value"] == 1.0 and not r2["significant_95"]


def test_mann_whitney_requires_two_groups(spark):
    from metadata_etl_framework_spark.ops.stats import mann_whitney_u

    df = spark.createDataFrame([("A", 1.0)], "g string, v double")
    with pytest.raises(ValueError, match="2 groups"):
        mann_whitney_u(df, "g", "v")


def test_stratified_ate_recovers_constant_effect(spark):
    from metadata_etl_framework_spark.ops.evaluation import stratified_ate

    # outcome = 10*propensity-bucket + 5*treated: every stratum's
    # within-arm comparison must read ~5 regardless of confounding
    rows = []
    for i in range(200):
        p = (i % 100) / 100.0 + 0.005
        t = (i % 3 == 0)
        y = 10.0 * round(p * 5) + (5.0 if t else 0.0)
        rows.append((i, t, y, p))
    df = spark.createDataFrame(rows, "id long, t boolean, y double, p double")
    out = stratified_ate(df, "t", "y", "p", "id", n_strata=5).collect()
    assert [r["stratum"] for r in out] == [1, 2, 3, 4, 5]
    assert sum(r["n"] for r in out) == 200
    for r in out:
        assert r["n_treat"] > 0 and r["n_ctrl"] > 0
        # constant additive effect recovered within every stratum
        # (strata are propensity-homogeneous, so the 10*bucket
        # confounder mostly cancels; allow the bucket-boundary slack)
        assert abs(r["effect"] - 5.0) <= 5.0


def test_classical_decompose_reconstructs_planted_series(spark):
    import pytest as _pt

    from metadata_etl_framework_spark.functions.aggregations import (
        classical_decompose,
    )

    # y = 2x (trend) + seasonal pattern of period 4 summing to zero
    season = {0: 3.0, 1: -1.0, 2: -2.0, 3: 0.0}
    rows = [(x, 2.0 * x + season[x % 4]) for x in range(24)]
    df = spark.createDataFrame(rows, "x long, y double")
    out = {r["x"]: r for r in
           classical_decompose(df, "x", "y", period=4).collect()}
    assert len(out) == 24
    # edges have no full MA window -> null trend/remainder
    assert out[0]["trend"] is None and out[23]["trend"] is None
    mid = [out[x] for x in range(2, 22)]
    for r in mid:
        # the centered MA of a linear trend is the trend itself, and
        # the planted seasonal is recovered exactly (it sums to zero)
        assert r["trend"] == _pt.approx(2.0 * r["x"], abs=1e-6)
        assert r["seasonal"] == _pt.approx(season[r["x"] % 4], abs=1e-6)
        assert r["remainder"] == _pt.approx(0.0, abs=1e-6)


def test_classical_decompose_period_gate(spark):
    from metadata_etl_framework_spark.functions.aggregations import (
        classical_decompose,
    )

    df = spark.createDataFrame([(0, 1.0)], "x long, y double")
    with pytest.raises(ValueError, match="period"):
        classical_decompose(df, "x", "y", period=1)


def test_welch_t_known_values(spark):
    from metadata_etl_framework_spark.ops.stats import welch_t_test

    # A: {1..10} mean 5.5 var 9.1666..; B: {11..20} mean 15.5 same var
    rows = [("A", float(i)) for i in range(1, 11)]
    rows += [("B", float(i)) for i in range(11, 21)]
    df = spark.createDataFrame(rows, "g string, v double")
    r = welch_t_test(df, "g", "v").collect()[0]
    assert r["n_a"] == 10 and r["mean_a"] == 5.5 and r["mean_b"] == 15.5
    assert r["var_a"] == pytest.approx(55 / 6, abs=1e-6)
    # equal variances -> Welch df = n1+n2-2 = 18
    assert r["df"] == pytest.approx(18.0, abs=1e-6)
    # t = -10 / sqrt(2*9.1667/10) = -7.3855
    assert r["t_stat"] == pytest.approx(-7.385489, abs=1e-5)
    assert r["p_value"] < 0.001 and r["significant_95"]


def test_welch_t_identical_groups(spark):
    from metadata_etl_framework_spark.ops.stats import welch_t_test

    rows = [("A", float(i % 7)) for i in range(70)]
    rows += [("B", float(i % 7)) for i in range(70)]
    df = spark.createDataFrame(rows, "g string, v double")
    r = welch_t_test(df, "g", "v").collect()[0]
    assert r["t_stat"] == 0.0 and r["p_value"] == 1.0
    assert not r["significant_95"]


def test_cvm_zero_on_identical_and_positive_on_shift(spark):
    from metadata_etl_framework_spark.quality.drift import cvm_statistic

    a = spark.createDataFrame(
        [(float(i % 50),) for i in range(500)], "x double"
    )
    r = cvm_statistic(a, a, "x").collect()[0]
    assert r["cvm_stat"] == 0.0 and not r["drift_05"]
    b = spark.createDataFrame(
        [(float(i % 50) + 25.0,) for i in range(500)], "x double"
    )
    r2 = cvm_statistic(a, b, "x").collect()[0]
    # a half-range shift is gross drift: far beyond the 1% critical value
    assert r2["cvm_stat"] > 0.743 and r2["drift_01"]


def test_bootstrap_rejects_non_numeric_key(spark):
    # round-12 advice: a string key would cast("long")->null, null u,
    # constant weight 7 everywhere, CI silently collapsed to a point —
    # the op must fail loud instead
    df = spark.createDataFrame(
        [("a", 1.0), ("b", 2.0)], "k string, v double"
    )
    with pytest.raises(TypeError, match="numeric"):
        poisson_bootstrap_ci(df, "v", "k", n_boot=10)


def test_conformal_rejects_non_numeric_key(spark):
    from metadata_etl_framework_spark.ops.evaluation import (
        conformal_coverage,
    )

    df = spark.createDataFrame(
        [("a", 1.0, 1.1), ("b", 2.0, 1.9)],
        "k string, y double, p double",
    )
    with pytest.raises(TypeError, match="numeric"):
        conformal_coverage(df, "y", "p", "k")


def test_theil_sen_emits_degenerate_groups(spark):
    # round-12 advice: a group with a single point (or one distinct x)
    # has no slope pair — it must still appear with n_pairs=0 and null
    # slope/intercept, never silently vanish from the trend table
    rows = [
        ("g1", 1.0, 1.0), ("g1", 2.0, 3.0), ("g1", 3.0, 5.0),
        ("lonely", 4.0, 2.0),
        ("flat_x", 7.0, 1.0), ("flat_x", 7.0, 9.0),
    ]
    df = spark.createDataFrame(rows, "g string, x double, y double")
    out = {r["group"]: r for r in
           theil_sen_trend(df, "g", "x", "y").collect()}
    assert set(out) == {"g1", "lonely", "flat_x"}
    assert out["g1"]["slope"] == 2.0 and out["g1"]["n_pairs"] == 3
    for g, npts in (("lonely", 1), ("flat_x", 2)):
        r = out[g]
        assert r["n_points"] == npts and r["n_pairs"] == 0
        assert r["slope"] is None and r["intercept"] is None


def test_cuped_large_offset_exact_theta(spark):
    """Round-12 ulp sweep adversarial pin: covariate = 1e9 + 0.01·i
    (huge offset, tiny variance) with metric exactly 2× the covariate.
    In exact integer micro-unit arithmetic covnum = 2·varxnum EXACTLY,
    so θ = 2.0 and var_reduction = 100% bit-exactly. The old
    DECIMAL→double-then-cancel path loses the entire variance to the
    cast ulp here (|Σx²| ~ 1e21·n vs varnum ~ 1e2 — the n-fold
    amplification class) and returns garbage θ."""
    rows = []
    for i in range(400):
        x = 1e9 + 0.01 * i
        rows.append((i, "A" if i % 2 == 0 else "B", 2.0 * x, x))
    df = spark.createDataFrame(
        rows, "u long, g string, y double, x double"
    )
    r = cuped_adjusted_effect(df, "g", "y", "x", "u").first()
    assert r["theta"] == 2.0
    assert r["var_reduction_pct"] == 100.0
    # CUPED with a perfectly-correlated covariate: adjusted means of
    # both arms collapse to the same value -> adj_diff 0
    assert r["adj_diff"] == 0.0


def test_bootstrap_diff_brackets_true_difference(spark):
    from metadata_etl_framework_spark.ops.stats import (
        poisson_bootstrap_diff,
    )

    # arm A mean ~60, arm B mean ~50 -> true diff 10
    df = spark.range(1, 4001).select(
        F.col("id").alias("k"),
        F.when(F.col("id") % 2 == 0, "A").otherwise("B").alias("g"),
        (
            (F.col("id") % 100).cast("double")
            + F.when(F.col("id") % 2 == 0, 10.0).otherwise(0.0)
        ).alias("v"),
    )
    a = poisson_bootstrap_diff(df, "g", "v", "k", n_boot=60).collect()[0]
    b = poisson_bootstrap_diff(df, "g", "v", "k", n_boot=60).collect()[0]
    assert a == b  # hash-seeded -> fully deterministic
    assert a["variant_a"] == "A" and a["variant_b"] == "B"
    assert a["n_a"] == 2000 and a["n_b"] == 2000
    assert a["ci_lo"] <= a["point_diff"] <= a["ci_hi"]
    assert abs(a["point_diff"] - (a["mean_a"] - a["mean_b"])) < 1e-9
    assert 5.0 < a["point_diff"] < 15.0
    assert a["n_boot_used"] == 60


def test_bootstrap_diff_needs_two_groups(spark):
    from metadata_etl_framework_spark.ops.stats import (
        poisson_bootstrap_diff,
    )

    df = spark.range(10).select(
        F.col("id").alias("k"), F.lit("only").alias("g"),
        F.col("id").cast("double").alias("v"),
    )
    with pytest.raises(ValueError, match="exactly 2 groups"):
        poisson_bootstrap_diff(df, "g", "v", "k", n_boot=5)


def test_ljung_box_separates_noise_from_structure(spark):
    from metadata_etl_framework_spark.ops.stats import ljung_box
    import math

    # hourly buckets: one value per hour so the bucket mean IS the
    # series. Deterministic pseudo-noise vs a slow sine.
    import random

    rng = random.Random(3)
    rows_noise, rows_sine = [], []
    for i in range(200):
        rows_noise.append((i, rng.random()))
        rows_sine.append((i, math.sin(2 * math.pi * i / 48.0)))
    import datetime

    def frame(rows):
        base = datetime.datetime(2024, 1, 1)
        return spark.createDataFrame(
            [(base + datetime.timedelta(hours=i), v) for i, v in rows],
            "ts timestamp, value double",
        )

    noise = {r["lag"]: r for r in
             ljung_box(frame(rows_noise), "ts", "value",
                       3600, max_lag=6).collect()}
    sine = {r["lag"]: r for r in
            ljung_box(frame(rows_sine), "ts", "value",
                      3600, max_lag=6).collect()}
    assert set(noise) == set(range(1, 7))
    # the sine's lag-structure must be detected decisively
    assert sine[6]["p_value"] < 0.001 and sine[6]["white_noise_rejected"]
    # the hash noise shows no structure at the 5% level
    assert noise[6]["p_value"] > 0.05
    assert not noise[6]["white_noise_rejected"]
    # Q is cumulative: monotone nondecreasing in h
    qs = [sine[h]["q_stat"] for h in range(1, 7)]
    assert qs == sorted(qs)


def test_ljung_box_constant_series_null(spark):
    from metadata_etl_framework_spark.ops.stats import ljung_box
    import datetime

    base = datetime.datetime(2024, 1, 1)
    df = spark.createDataFrame(
        [(base + datetime.timedelta(hours=i), 5.0) for i in range(30)],
        "ts timestamp, value double",
    )
    out = ljung_box(df, "ts", "value", 3600, max_lag=3).collect()
    assert len(out) == 3
    assert all(r["acf"] is None and r["q_stat"] is None for r in out)


def test_p_adjust_panel_four_methods_disagree(spark):
    from metadata_etl_framework_spark.ops.stats import p_adjust_panel

    ps = [0.001, 0.002, 0.0055, 0.02, 0.04, 0.2, 0.3, 0.5, 0.7, 0.9]
    df = spark.createDataFrame(
        [(f"t{i:02d}", p) for i, p in enumerate(ps)],
        "name string, p double",
    )
    out = {r["rank"]: r for r in
           p_adjust_panel(df, "name", "p", alpha=0.05).collect()}
    assert len(out) == 10 and out[1]["m"] == 10
    counts = {
        m: sum(1 for r in out.values() if r[m])
        for m in ("rej_bonferroni", "rej_holm", "rej_bh", "rej_by")
    }
    # constructed so all four corrections disagree:
    # bonferroni 2 (alpha/m = .005), holm 3 (step-down thresholds
    # .005/.00556/.00625 pass, .00714 fails), BH 4 (p4 = .02 <= 4/10*a),
    # BY 2 (harmonic c(10) ~ 2.929 shrinks the BH line)
    assert counts == {
        "rej_bonferroni": 2, "rej_holm": 3, "rej_bh": 4, "rej_by": 2
    }, counts
    # monotone containment holds row-wise
    for r in out.values():
        assert not r["rej_bonferroni"] or r["rej_holm"]
        assert not r["rej_holm"] or r["rej_bh"]
        assert not r["rej_by"] or r["rej_bh"]


def test_cohens_d_known_values_and_degenerate(spark):
    from metadata_etl_framework_spark.ops.stats import cohens_d

    rows = [("a", float(v)) for v in (1, 2, 3, 4, 5)] + [
        ("b", float(v)) for v in (2, 3, 4, 5, 6)
    ]
    df = spark.createDataFrame(rows, "g string, v double")
    r = cohens_d(df, "g", "v").first()
    assert (r["variant_a"], r["variant_b"]) == ("a", "b")
    assert r["pooled_sd"] == round(2.5 ** 0.5, 6)
    assert r["cohens_d"] == round(-1.0 / 2.5 ** 0.5, 6)
    j = 1.0 - 3.0 / (4 * 10 - 9)
    assert r["hedges_g"] == round((-1.0 / 2.5 ** 0.5) * j, 6)
    assert r["magnitude"] == "medium"
    # zero pooled variance -> null d/g, null magnitude
    flat = spark.createDataFrame(
        [("a", 1.0), ("a", 1.0), ("b", 1.0), ("b", 1.0)],
        "g string, v double",
    )
    r2 = cohens_d(flat, "g", "v").first()
    assert r2["cohens_d"] is None and r2["magnitude"] is None


def test_simpsons_check_classic_reversal(spark):
    """The textbook construction: treatment wins INSIDE both segments
    but loses pooled, because assignment correlates with segment mix."""
    from metadata_etl_framework_spark.ops.stats import simpsons_check

    rows = []
    uid = 0

    def add(seg, treated, conv, n):
        nonlocal uid, rows
        for _ in range(n):
            rows.append((seg, treated, conv))
            uid += 1

    # easy segment: ctrl-heavy; treatment 95% vs ctrl 90%
    add("easy", True, True, 19); add("easy", True, False, 1)
    add("easy", False, True, 180); add("easy", False, False, 20)
    # hard segment: treat-heavy; treatment 30% vs ctrl 20%
    add("hard", True, True, 60); add("hard", True, False, 140)
    add("hard", False, True, 4); add("hard", False, False, 16)
    df = spark.createDataFrame(rows, "seg string, t boolean, y boolean")
    out = {r["segment"]: r for r in
           simpsons_check(df, "seg", "t", "y").collect()}
    easy, hard = out["easy"], out["hard"]
    assert easy["effect"] > 0 and hard["effect"] > 0
    assert easy["pooled_effect"] < 0  # the paradox
    assert easy["reversed"] and hard["reversed"]
    # exact integer-ratio rates
    assert easy["rate_treat"] == 0.95 and easy["rate_ctrl"] == 0.9
    assert hard["rate_treat"] == 0.3 and hard["rate_ctrl"] == 0.2


def test_simpsons_check_no_reversal_and_single_arm_drop(spark):
    from metadata_etl_framework_spark.ops.stats import simpsons_check

    rows = ([("a", True, True)] * 8 + [("a", True, False)] * 2
            + [("a", False, True)] * 5 + [("a", False, False)] * 5
            + [("only_treat", True, True)] * 5)
    df = spark.createDataFrame(rows, "seg string, t boolean, y boolean")
    out = {r["segment"]: r for r in
           simpsons_check(df, "seg", "t", "y").collect()}
    assert set(out) == {"a"}  # single-arm segment emits no row
    assert not out["a"]["reversed"]


def test_spearman_monotone_and_ties(spark):
    from metadata_etl_framework_spark.ops.stats import spearman_corr

    # perfect nonlinear monotone: rho exactly 1 (Pearson would be < 1)
    import math

    mono = spark.createDataFrame(
        [(float(i), math.exp(i / 3.0)) for i in range(30)],
        "a double, b double",
    )
    r = spearman_corr(mono, "a", "b").first()
    assert r["rho"] == 1.0 and r["p_value"] == 0.0 and r["n"] == 30
    anti = spark.createDataFrame(
        [(float(i), -math.exp(i / 3.0)) for i in range(30)],
        "a double, b double",
    )
    assert spearman_corr(anti, "a", "b").first()["rho"] == -1.0

    # tie convention against a python replica (average ranks)
    rows = [(1.0, 1.0), (2.0, 3.0), (2.0, 2.0), (3.0, 4.0)]
    df = spark.createDataFrame(rows, "a double, b double")
    got = spearman_corr(df, "a", "b").first()["rho"]
    ra = [1, 2.5, 2.5, 4]
    rb = [1, 3, 2, 4]
    n = 4
    sa, sb = sum(ra), sum(rb)
    cov = n * sum(x * y for x, y in zip(ra, rb)) - sa * sb
    va = n * sum(x * x for x in ra) - sa * sa
    vb = n * sum(y * y for y in rb) - sb * sb
    assert got == round(cov / (va * vb) ** 0.5, 6)


def test_spearman_degenerate(spark):
    from metadata_etl_framework_spark.ops.stats import spearman_corr

    const = spark.createDataFrame(
        [(1.0, float(i)) for i in range(5)], "a double, b double"
    )
    r = spearman_corr(const, "a", "b").first()
    assert r["rho"] is None and r["p_value"] is None


def test_kruskal_wallis_known_value_and_detection(spark):
    from metadata_etl_framework_spark.ops.stats import kruskal_wallis

    # three clearly shifted groups: H large, p tiny
    rows = ([("a", float(v)) for v in range(10)]
            + [("b", float(v) + 20) for v in range(10)]
            + [("c", float(v) + 40) for v in range(10)])
    df = spark.createDataFrame(rows, "g string, v double")
    r = kruskal_wallis(df, "g", "v").first()
    assert r["n"] == 30 and r["k"] == 3 and r["df"] == 2
    # no ties: R_a = 55, R_b = 155, R_c = 255 ->
    # H = 12/(30*31)*(55^2/10 + 155^2/10 + 255^2/10) - 3*31
    expect = 12.0 / (30 * 31) * ((55 ** 2 + 155 ** 2 + 255 ** 2) / 10.0) - 93.0
    assert r["h_stat"] == round(expect, 6)
    assert r["h_tie_corrected"] == r["h_stat"]  # no ties -> corr = 1
    assert r["p_value"] < 0.001

    # identical distributions: H near 0, p near 1
    same = spark.createDataFrame(
        [(g, float(i % 10)) for g in ("a", "b", "c") for i in range(30)],
        "g string, v double",
    )
    r2 = kruskal_wallis(same, "g", "v").first()
    assert r2["p_value"] > 0.9


def test_kruskal_wallis_degenerate(spark):
    from metadata_etl_framework_spark.ops.stats import kruskal_wallis

    allsame = spark.createDataFrame(
        [("a", 1.0), ("b", 1.0), ("b", 1.0)], "g string, v double"
    )
    r = kruskal_wallis(allsame, "g", "v").first()
    assert r["h_stat"] is None and r["p_value"] is None
    onegroup = spark.createDataFrame(
        [("a", 1.0), ("a", 2.0)], "g string, v double"
    )
    r2 = kruskal_wallis(onegroup, "g", "v").first()
    assert r2["k"] == 1 and r2["h_stat"] is None


# ---- ar_forecast (round-13 continuation) ----


def _ar_replica(series, horizon=3):
    """Pure-python replica of ar_forecast's arithmetic on an already-
    bucketed (i, y) series."""
    import math

    ys = [y for _, y in sorted(series)]
    n = len(ys)
    syi = sum(round(y * 1e12) for y in ys)
    mu = round(float(syi) / 1e12 / n, 12)
    idx = {i: y for i, y in series}
    g = {0: 0, 1: 0, 2: 0}
    for i, y in series:
        for k in (0, 1, 2):
            if i + k in idx:
                g[k] += round((y - mu) * (idx[i + k] - mu) * 1e12)
    g0, g1, g2 = float(g[0]), float(g[1]), float(g[2])
    if g0 > 0:
        r1, r2 = g1 / g0, g2 / g0
        den = 1.0 - r1 * r1
        if den != 0.0:
            phi1 = round(r1 * (1.0 - r2) / den, 12)
            phi2 = round((r2 - r1 * r1) / den, 12)
        else:
            phi1 = phi2 = 0.0
    else:
        phi1 = phi2 = 0.0
    hi = sorted(series)[-1][1]
    lo = sorted(series)[-2][1]
    prev1, prev2 = hi, lo
    out = []
    for _ in range(horizon):
        f = round(mu + phi1 * (prev1 - mu) + phi2 * (prev2 - mu), 12)
        out.append(round(f, 6))
        prev2, prev1 = prev1, f
    return out, round(mu, 6), round(phi1, 6), round(phi2, 6)


def test_ar_forecast_matches_python_replica(spark):
    """One event per hourly bucket with a decaying AR-ish value —
    forecasts must equal the pure-python replica bit-for-bit."""
    from metadata_etl_framework_spark.ops.stats import ar_forecast

    series = [(i, 10.0 + 5.0 * ((0.6) ** (i % 7))) for i in range(48)]
    rows = [(i * 3600, y) for i, y in series]
    df = spark.createDataFrame(rows, "epoch long, value double").select(
        F.timestamp_seconds(F.col("epoch")).alias("ts"), "value"
    )
    got = ar_forecast(df, "ts", "value", 3600, horizon=3).collect()
    exp_fc, exp_mu, exp_p1, exp_p2 = _ar_replica(series)
    assert [r["forecast"] for r in got] == exp_fc
    assert got[0]["mu"] == exp_mu
    assert got[0]["phi1"] == exp_p1
    assert got[0]["phi2"] == exp_p2
    assert got[0]["n_buckets"] == 48


def test_ar_forecast_constant_series_collapses_to_mean(spark):
    from metadata_etl_framework_spark.ops.stats import ar_forecast

    rows = [(i * 3600, 7.5) for i in range(10)]
    df = spark.createDataFrame(rows, "epoch long, value double").select(
        F.timestamp_seconds(F.col("epoch")).alias("ts"), "value"
    )
    got = ar_forecast(df, "ts", "value", 3600, horizon=2).collect()
    assert all(r["forecast"] == 7.5 for r in got)
    assert all(r["phi1"] == 0.0 and r["phi2"] == 0.0 for r in got)


def test_ar_forecast_gates(spark):
    from metadata_etl_framework_spark.ops.stats import ar_forecast

    df = spark.createDataFrame(
        [(0, 1.0), (3600, 2.0)], "epoch long, value double"
    ).select(F.timestamp_seconds(F.col("epoch")).alias("ts"), "value")
    with pytest.raises(ValueError, match="horizon"):
        ar_forecast(df, "ts", "value", horizon=0)
    with pytest.raises(ValueError, match=">= 3 buckets"):
        ar_forecast(df, "ts", "value")


# ---- esd_outliers (round-13 continuation) ----


def test_esd_unmasks_second_spike(spark):
    """Flat-ish hourly volume with TWO planted spikes: a single
    z-score pass centered on contaminated stats can miss the second;
    ESD removes the first then flags the second. Baseline counts
    alternate 10/12 so the residual SD is nonzero."""
    from metadata_etl_framework_spark.ops.stats import esd_outliers

    rows = []
    for i in range(72):  # 3 days so each phase's median has 3 samples
        n = 10 if i % 2 == 0 else 12
        if i == 17:
            n = 60
        if i == 31:
            n = 50
        for j in range(n):
            rows.append((i * 3600 + j,))
    df = spark.createDataFrame(rows, "epoch long").select(
        F.timestamp_seconds(F.col("epoch")).alias("ts")
    )
    got = esd_outliers(df, "ts", None, 3600, k=3, threshold=3.0,
                       season=24).collect()
    assert [r["iteration"] for r in got] == [1, 2, 3]
    assert got[0]["metric"] == 60.0 and got[0]["flagged"]
    assert got[1]["metric"] == 50.0 and got[1]["flagged"]
    assert not got[2]["flagged"]
    # epoch 17*3600 -> bucket_start hour 17
    assert got[0]["bucket_start"].hour == 17


def test_esd_seasonal_median_absorbs_cycle(spark):
    """A strong 24h cycle (hour 0 always 100, others 10) must NOT be
    flagged — the hour-of-day median removes it; a genuine spike on
    top of the cycle IS flagged."""
    from metadata_etl_framework_spark.ops.stats import esd_outliers

    rows = []
    for i in range(72):
        n = 100 if i % 24 == 0 else (10 if i % 2 == 0 else 12)
        if i == 49:  # genuine anomaly on a normal hour
            n = 80
        for j in range(n):
            rows.append((i * 3600 + j,))
    df = spark.createDataFrame(rows, "epoch long").select(
        F.timestamp_seconds(F.col("epoch")).alias("ts")
    )
    got = esd_outliers(df, "ts", None, 3600, k=2, threshold=3.0,
                       season=24).collect()
    assert got[0]["metric"] == 80.0 and got[0]["flagged"]
    assert not got[1]["flagged"]


def test_esd_gates(spark):
    from metadata_etl_framework_spark.ops.stats import esd_outliers

    df = spark.createDataFrame([(0,)], "epoch long").select(
        F.timestamp_seconds(F.col("epoch")).alias("ts")
    )
    with pytest.raises(ValueError, match="k must"):
        esd_outliers(df, "ts", k=0)
    with pytest.raises(ValueError, match="season"):
        esd_outliers(df, "ts", season=0)


# ---- aipw_ate (round-13 continuation) ----


def test_aipw_constant_effect_and_overlap_drop(spark):
    """Constant additive effect +10 with both arms present in every
    stratum -> ate_outcome == ate_aipw == 10 exactly (the correction
    term cancels when the outcome model is exact). A stratum whose
    control arm is removed must be dropped and counted."""
    from metadata_etl_framework_spark.ops.evaluation import aipw_ate

    rows = []
    for i in range(200):
        p = (i % 10 + 1) / 12.0
        t = i % 2 == 0
        y = 50.0 + (10.0 if t else 0.0)
        rows.append((i, t, y, p))
    df = spark.createDataFrame(
        rows, "id long, t boolean, y double, p double"
    )
    r = aipw_ate(df, "t", "y", "p", "id", n_strata=5).first()
    assert r["n"] == 200 and r["n_used"] == 200
    assert r["strata_used"] == 5 and r["strata_dropped"] == 0
    assert r["ate_outcome"] == 10.0
    assert r["ate_aipw"] == 10.0
    # a no-overlap stratum: low-p rows mixed arms, high-p rows ALL
    # treated -> with n_strata=2 the top stratum must be dropped
    rows2 = [(i, i % 2 == 0, 50.0 + (10.0 if i % 2 == 0 else 0.0),
              0.2) for i in range(20)]
    rows2 += [(100 + i, True, 60.0, 0.8) for i in range(20)]
    df2 = spark.createDataFrame(
        rows2, "id long, t boolean, y double, p double"
    )
    r2 = aipw_ate(df2, "t", "y", "p", "id", n_strata=2).first()
    assert r2["strata_dropped"] == 1 and r2["strata_used"] == 1
    assert r2["n"] == 40 and r2["n_used"] == 20
    assert r2["ate_aipw"] == 10.0  # constant effect survives the drop


def test_aipw_corrects_confounded_outcome_model(spark):
    """When treatment probability rises with the outcome level, the
    naive arm-mean difference is biased; the stratified outcome model
    plus IPW correction pulls the estimate toward the true 0 effect."""
    from metadata_etl_framework_spark.ops.evaluation import aipw_ate

    rows = []
    for i in range(1000):
        lvl = i % 10  # confounder
        p = (lvl + 1) / 12.0
        t = (i * 7 % 12) < (lvl + 1)  # treated more when lvl high
        y = float(lvl * 10)  # outcome depends ONLY on confounder
        rows.append((i, t, y, p))
    df = spark.createDataFrame(
        rows, "id long, t boolean, y double, p double"
    )
    naive = df.agg(
        (F.avg(F.when(F.col("t"), F.col("y")))
         - F.avg(F.when(~F.col("t"), F.col("y")))).alias("d")
    ).first()["d"]
    r = aipw_ate(df, "t", "y", "p", "id", n_strata=10).first()
    assert abs(naive) > 5.0
    assert abs(r["ate_aipw"]) < abs(naive) / 4
    with pytest.raises(ValueError, match="clip"):
        aipw_ate(df, "t", "y", "p", "id", clip=0.7)


# ---- ab_ratio_delta (round-13 continuation) ----


def test_ab_ratio_delta_hand_ratios_and_contamination(spark):
    """Arm A: 2 users with (x,y) = (2,4),(4,4) -> R_A = 6/8 = 0.75;
    arm B: (3,2),(9,6) -> R_B = 12/8 = 1.5. A unit logged in BOTH
    arms must be dropped."""
    from metadata_etl_framework_spark.ops.stats import ab_ratio_delta

    rows = [
        ("A", 1, 2.0, 4.0), ("A", 2, 4.0, 4.0),
        ("B", 3, 3.0, 2.0), ("B", 4, 9.0, 6.0),
        ("A", 5, 100.0, 1.0), ("B", 5, 100.0, 1.0),  # contaminated
    ]
    df = spark.createDataFrame(rows, "g string, u long, x double, y double")
    r = ab_ratio_delta(df, "g", "x", "y", "u").first()
    assert r["n_a"] == 2 and r["n_b"] == 2
    assert r["ratio_a"] == 0.75 and r["ratio_b"] == 1.5
    assert r["diff"] == 0.75
    assert r["se"] is not None and r["se"] > 0
    assert r["ci_lo"] < r["diff"] < r["ci_hi"]


def test_ab_ratio_delta_covariance_term_tightens_se(spark):
    """When numerator and denominator are perfectly proportional per
    unit (x = 2y), the ratio is constant -> delta-method variance
    collapses to ~0 even though x and y individually vary; a naive
    variance would not. Inference goes NULL at zero variance."""
    from metadata_etl_framework_spark.ops.stats import ab_ratio_delta

    rows = []
    for i in range(40):
        y = float(1 + i % 7)
        g = "A" if i % 2 == 0 else "B"
        rows.append((g, i, 2.0 * y, y))
    df = spark.createDataFrame(rows, "g string, u long, x double, y double")
    r = ab_ratio_delta(df, "g", "x", "y", "u").first()
    assert r["ratio_a"] == 2.0 and r["ratio_b"] == 2.0
    assert r["diff"] == 0.0
    # constant ratio -> se None (zero variance) or ~0
    assert r["se"] is None or r["se"] < 1e-6


def test_ab_ratio_delta_two_variant_gate(spark):
    from metadata_etl_framework_spark.ops.stats import ab_ratio_delta

    df = spark.createDataFrame(
        [("A", 1, 1.0, 1.0)], "g string, u long, x double, y double"
    )
    with pytest.raises(ValueError, match="2 variants"):
        ab_ratio_delta(df, "g", "x", "y", "u")


def _hw_series_df(spark, n=120, season=6, trend=0.5, amp=10.0):
    """Synthetic hourly series with linear trend + season-6 pattern."""
    import datetime

    base = datetime.datetime(2024, 1, 1)
    rows = []
    for t in range(n):
        y = 100.0 + trend * t + amp * ((t % season) - season / 2.0)
        rows.append((base + datetime.timedelta(hours=t), y))
    return spark.createDataFrame(rows, "ts timestamp, value double")


def test_holt_winters_beats_persistence_on_seasonal_trend(spark):
    """On a clean trend+season series Holt-Winters must backtest with
    MASE well below 1 (persistence is blind to both components) and a
    positive fitted trend near the true slope."""
    from metadata_etl_framework_spark.ops.stats import (
        holt_winters_backtest,
    )

    df = _hw_series_df(spark, n=120, season=6, trend=0.5, amp=10.0)
    row = holt_winters_backtest(
        df, "ts", "value", bucket_seconds=3600, season=6,
        train_window=96, holdout=24, alpha=0.5, beta=0.1, gamma=0.3,
    ).collect()[0]
    assert row["n_train"] == 96 and row["n_test"] == 24
    assert row["mase"] < 0.5
    assert 0.2 < row["trend"] < 0.8
    assert row["smape"] < 0.05


def test_holt_winters_python_replica(spark):
    """Bit-exact pin of init + recursion + forecast + metrics against
    a pure-python replica with the same 12-dp/pico-int conventions."""
    from metadata_etl_framework_spark.ops.stats import (
        holt_winters_backtest,
    )

    n, m, T, H = 60, 4, 40, 20
    a, be, ga = 0.3, 0.05, 0.2
    import datetime

    base = datetime.datetime(2024, 1, 1)
    ys = [50.0 + 0.3 * t + 5.0 * ((t * t) % 7) for t in range(n)]
    df = spark.createDataFrame(
        [(base + datetime.timedelta(hours=t), ys[t]) for t in range(n)],
        "ts timestamp, value double",
    )
    row = holt_winters_backtest(
        df, "ts", "value", season=m, train_window=T, holdout=H,
        alpha=a, beta=be, gamma=ga,
    ).collect()[0]

    w = ys[-(T + H):]
    s1 = sum(round(y * 1e12) for y in w[:m])
    s2 = sum(round(y * 1e12) for y in w[m:2 * m])
    l = round(float(s1) / 1e12 / m, 12)
    b = round((float(s2) - float(s1)) / 1e12 / m / m, 12)
    s = [round(w[j] - l, 12) for j in range(m)]
    for t in range(m, T):
        sp = s[t - m]
        ln = round(a * (w[t] - sp) + (1.0 - a) * (l + b), 12)
        b = round(be * (ln - l) + (1.0 - be) * b, 12)
        s.append(round(ga * (w[t] - ln) + (1.0 - ga) * sp, 12))
        l = ln
    sae = 0
    for h in range(1, H + 1):
        f = round(l + h * b + s[T - m + ((h - 1) % m)], 12)
        sae += round(abs(w[T + h - 1] - f) * 1e12)
    assert row["level"] == round(l, 6)
    assert row["trend"] == round(b, 6)
    assert row["mae"] == round(float(sae) / 1e12 / H, 6)


def test_holt_winters_gates(spark):
    from metadata_etl_framework_spark.ops.stats import (
        holt_winters_backtest,
    )

    df = _hw_series_df(spark, n=30, season=6)
    with pytest.raises(ValueError, match="train_window"):
        holt_winters_backtest(df, "ts", "value", season=24,
                              train_window=24)
    with pytest.raises(ValueError, match="alpha"):
        holt_winters_backtest(df, "ts", "value", season=6,
                              train_window=12, alpha=1.0)
    with pytest.raises(ValueError, match="need >="):
        holt_winters_backtest(df, "ts", "value", season=6,
                              train_window=24, holdout=24)


def test_spearman_robust_driver_gate_parity(spark, monkeypatch):
    """The Arrow-collect driver twins of spearman_corr and
    robust_moments must reproduce the distributed prefix-scan chains
    bit-for-bit — same fixture (heavy ties + an outlier), gate on vs
    forced off, exact frame equality."""
    import pandas as pd

    from metadata_etl_framework_spark.functions.aggregations import (
        robust_moments,
    )
    from metadata_etl_framework_spark.ops.stats import spearman_corr

    rows = [
        (
            float(i % 13) / 7.0,
            float((i * 5) % 17) / 3.0 + (900.0 if i == 77 else 0.0),
        )
        for i in range(400)
    ]
    df = spark.createDataFrame(rows, "a double, b double")
    def _run():
        return (
            spearman_corr(df, "a", "b").toPandas(),
            robust_moments(df, "b", trim=0.1).toPandas(),
        )

    on = _run()
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_GATE", "0")
    off = _run()
    for a, b in zip(on, off):
        pd.testing.assert_frame_equal(a, b, check_exact=True)
