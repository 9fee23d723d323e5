"""Unit tests for ops/glm.py — in-engine IRLS logistic regression."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from metadata_etl_framework_spark.ops.glm import logistic_train


def test_logit_recovers_separating_direction(spark):
    # y depends on x through a steep logistic: recovered slope must be
    # strongly positive, intercept near -2 (P(y|x=0) = sigmoid(-2))
    df = spark.range(4000).select(
        ((F.col("id") % 40).cast("double") / 10.0).alias("x"),
        # deterministic threshold stand-in for sampling: y = 1 where
        # sigmoid(2x - 4) > (hash-based uniform)
        (
            F.lit(1.0)
            / (
                F.lit(1.0)
                + F.exp(
                    -(
                        F.lit(2.0) * (F.col("id") % 40).cast("double")
                        / 10.0
                        - 4.0
                    )
                )
            )
            > (F.abs(F.hash("id")) % 1000).cast("double") / 1000.0
        ).alias("y"),
    )
    out = {r["term"]: r for r in
           logistic_train(df, ["x"], "y", iterations=6).collect()}
    assert set(out) == {"_intercept", "x"}
    assert out["x"]["beta"] > 1.0
    assert out["_intercept"]["beta"] < -1.0
    assert out["x"]["n_rows"] == 4000 and out["x"]["iterations"] == 6


def test_logit_matches_python_replica_exactly(spark):
    """The strongest pin: replicate the IRLS loop in pure python with
    the identical pico-int rounding and 2x2 closed form — coefficients
    must match to the last bit."""
    rows = [(float(i % 7) / 3.0, (i % 3 == 0)) for i in range(200)]
    df = spark.createDataFrame(rows, "x double, y boolean")
    out = {r["term"]: r["beta"] for r in
           logistic_train(df, ["x"], "y", iterations=3,
                          ridge=1e-6).collect()}

    b0, b1 = 0.0, 0.0
    ridge_i = 10**6
    for _ in range(3):
        g0i = g1i = h00i = h01i = h11i = 0
        for x, yb in rows:
            y = 1.0 if yb else 0.0
            z = b0 + b1 * x
            zc = max(min(z, 30.0), -30.0)
            p = 1.0 / (1.0 + math.exp(-zc))
            w = p * (1.0 - p)
            # mirror Spark's expression order: ((y-p)*xj)*1e12
            g0i += round((y - p) * 1.0 * 1e12)
            g1i += round((y - p) * x * 1e12)
            h00i += round(w * 1.0 * 1.0 * 1e12)
            h01i += round(w * 1.0 * x * 1e12)
            h11i += round(w * x * x * 1e12)
        h00 = float(h00i + ridge_i)
        h11 = float(h11i + ridge_i)
        h01 = float(h01i)
        g0, g1 = float(g0i), float(g1i)
        det = h00 * h11 - h01 * h01
        b0 = round(b0 + (h11 * g0 - h01 * g1) / det, 12)
        b1 = round(b1 + (h00 * g1 - h01 * g0) / det, 12)
    assert out["_intercept"] == b0
    assert out["x"] == b1


def test_logit_gates(spark):
    df = spark.createDataFrame([(1.0, True)], "x double, y boolean")
    with pytest.raises(ValueError, match="non-empty"):
        logistic_train(df, [], "y")
    with pytest.raises(ValueError, match="max_features"):
        logistic_train(df, [f"x{i}" for i in range(9)], "y")
    with pytest.raises(ValueError, match="iterations"):
        logistic_train(df, ["x"], "y", iterations=0)


def test_logit_multifeature_gaussian_path(spark):
    # d=3 exercises the Gaussian-elimination branch; constructed so
    # only x1 carries signal
    df = spark.range(2000).select(
        ((F.col("id") % 20).cast("double") / 5.0).alias("x1"),
        ((F.col("id") % 7).cast("double") / 7.0).alias("x2"),
        ((F.col("id") % 20) >= 10).alias("y"),
    )
    out = {r["term"]: r["beta"] for r in
           logistic_train(df, ["x1", "x2"], "y", iterations=5).collect()}
    assert out["x1"] > 1.0
    assert abs(out["x2"]) < abs(out["x1"]) / 2


def test_linear_recovers_exact_line(spark):
    from metadata_etl_framework_spark.ops.glm import linear_train

    # y = 3 + 2x exactly -> betas exact (up to pico rounding), r2 = 1
    df = spark.range(100).select(
        (F.col("id").cast("double") / 10.0).alias("x"),
    ).withColumn("y", F.lit(3.0) + F.lit(2.0) * F.col("x"))
    out = {r["term"]: r for r in
           linear_train(df, ["x"], "y").collect()}
    assert abs(out["_intercept"]["beta"] - 3.0) < 1e-9
    assert abs(out["x"]["beta"] - 2.0) < 1e-9
    assert out["x"]["r2"] == 1.0
    assert out["x"]["n_rows"] == 100


def test_linear_multifeature_and_ridge(spark):
    from metadata_etl_framework_spark.ops.glm import linear_train

    # y = 1 + 2*x1 - 3*x2 with decorrelated features
    df = spark.range(500).select(
        ((F.col("id") % 25).cast("double") / 5.0).alias("x1"),
        ((F.col("id") % 7).cast("double") / 2.0).alias("x2"),
    ).withColumn(
        "y", F.lit(1.0) + F.lit(2.0) * F.col("x1") - F.lit(3.0) * F.col("x2")
    )
    out = {r["term"]: r["beta"] for r in
           linear_train(df, ["x1", "x2"], "y").collect()}
    assert abs(out["x1"] - 2.0) < 1e-6
    assert abs(out["x2"] + 3.0) < 1e-6
    assert abs(out["_intercept"] - 1.0) < 1e-6
    # heavy ridge shrinks coefficients toward zero
    shrunk = {r["term"]: r["beta"] for r in
              linear_train(df, ["x1", "x2"], "y",
                           ridge=1e6).collect()}
    assert abs(shrunk["x1"]) < abs(out["x1"])
    assert abs(shrunk["x2"]) < abs(out["x2"])


def test_linear_constant_label_r2_null(spark):
    from metadata_etl_framework_spark.ops.glm import linear_train

    df = spark.range(50).select(
        (F.col("id").cast("double")).alias("x"), F.lit(7.0).alias("y")
    )
    out = linear_train(df, ["x"], "y").collect()
    assert all(r["r2"] is None for r in out)


# ---------------------------------------------------------------------------
# linear_cv (round 13)
# ---------------------------------------------------------------------------


def test_linear_cv_perfect_fit(spark):
    """Noise-free y = 3 + 2x: every fold's held-out RMSE collapses to
    the pico-rounding floor and R² = 1."""
    from pyspark.sql import functions as F

    from metadata_etl_framework_spark.ops.glm import linear_cv

    df = spark.range(400).select(
        F.col("id").alias("rid"),
        (F.col("id") % 37).cast("double").alias("x"),
        (3.0 + 2.0 * (F.col("id") % 37)).alias("y"),
    )
    rows = linear_cv(df, ["x"], "y", "rid", n_folds=4).collect()
    assert [r["fold"] for r in rows] == ["0", "1", "2", "3", "pooled"]
    assert sum(r["n_test"] for r in rows[:-1]) == 400
    assert rows[-1]["n_test"] == 400
    for r in rows:
        assert r["rmse"] < 1e-5
        assert r["r2"] > 0.999999


def test_linear_cv_equals_direct_leave_one_fold_out(spark):
    """Fold 0's held-out SSE from linear_cv equals training
    linear_train directly on folds 1..3 and scoring fold 0 — the
    integer-subtraction trick is exact, not an approximation."""
    import math

    from pyspark.sql import functions as F

    from metadata_etl_framework_spark.ops.glm import (
        linear_cv,
        linear_train,
    )
    from metadata_etl_framework_spark.ops.sketch import hash32

    df = spark.range(500).select(
        F.col("id").alias("rid"),
        ((F.col("id") * 7) % 23).cast("double").alias("x"),
        (
            1.5
            + 0.5 * ((F.col("id") * 7) % 23)
            + ((F.col("id") * 13) % 11).cast("double") / 10.0
        ).alias("y"),
    ).withColumn("fold", hash32(F.col("rid")) % F.lit(4))
    cv0 = [
        r
        for r in linear_cv(df, ["x"], "y", "rid", n_folds=4).collect()
        if r["fold"] == "0"
    ][0]
    model = {
        r["term"]: r["beta"]
        for r in linear_train(
            df.where(F.col("fold") != 0), ["x"], "y"
        ).collect()
    }
    held = df.where(F.col("fold") == 0)
    err = F.col("y") - (
        F.lit(model["_intercept"]) + F.lit(model["x"]) * F.col("x")
    )
    agg = held.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(
            F.round(err * err * F.lit(1e12)).cast("decimal(38,0)")
        ).alias("sse"),
    ).collect()[0]
    rmse = round(
        math.sqrt(float(int(agg["sse"])) / 1e12 / int(agg["n"])), 6
    )
    assert cv0["n_test"] == agg["n"]
    assert cv0["rmse"] == rmse


def test_logistic_cv_equals_direct_leave_one_fold_out(spark):
    """Fold 0's held-out model from logistic_cv must equal training
    logistic_train directly on folds 1..3 — identical betas via the
    grouped-cells integer sums, so identical held-out log-loss."""
    import math

    from pyspark.sql import functions as F

    from metadata_etl_framework_spark.ops.glm import (
        logistic_cv,
        logistic_train,
    )
    from metadata_etl_framework_spark.ops.sketch import hash32

    df = spark.range(600).select(
        F.col("id").alias("rid"),
        (((F.col("id") * 7) % 21).cast("double") / 10.0).alias("x"),
        (((F.col("id") * 7) % 21) >= 10).alias("y"),
    ).withColumn("fold", hash32(F.col("rid")) % F.lit(4))
    cv = {
        r["fold"]: r
        for r in logistic_cv(
            df, ["x"], "y", "rid", n_folds=4, iterations=3
        ).collect()
    }
    model = {
        r["term"]: r["beta"]
        for r in logistic_train(
            df.where(F.col("fold") != 0), ["x"], "y", iterations=3
        ).collect()
    }
    held = df.where(F.col("fold") == 0)
    z = F.lit(model["_intercept"]) + F.lit(model["x"]) * F.col("x")
    zc = F.greatest(F.least(z, F.lit(30.0)), F.lit(-30.0))
    p = F.lit(1.0) / (F.lit(1.0) + F.exp(-zc))
    yd = F.col("y").cast("int").cast("double")
    ll = -(yd * F.log(p) + (F.lit(1.0) - yd) * F.log(F.lit(1.0) - p))
    agg = held.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(
            F.round(ll * F.lit(1e12)).cast("decimal(38,0)")
        ).alias("llp"),
    ).collect()[0]
    direct_ll = round(float(int(agg["llp"])) / 1e12 / int(agg["n"]), 6)
    assert cv["0"]["n_test"] == agg["n"]
    assert cv["0"]["logloss"] == direct_ll
    # pooled row present and separable classes fit well
    assert cv["pooled"]["accuracy"] > 0.9


def test_poisson_matches_python_replica_exactly(spark):
    """Pin the Poisson IRLS loop against a pure-python replica with
    identical pico-int rounding, ln(mean) init, clamp, and 2x2 solve
    — coefficients must match to the last bit."""
    from metadata_etl_framework_spark.ops.glm import poisson_train

    rows = [(float(i % 5) / 2.0, float((i * 7) % 11)) for i in range(300)]
    df = spark.createDataFrame(rows, "x double, y double")
    out = {r["term"]: r["beta"] for r in
           poisson_train(df, ["x"], "y", iterations=3,
                         ridge=1e-6).collect()}

    syi = sum(round(y * 1e12) for _, y in rows)
    n = len(rows)
    b0 = round(math.log(float(syi) / 1e12 / n), 12)
    b1 = 0.0
    ridge_i = 10**6
    for _ in range(3):
        g0i = g1i = h00i = h01i = h11i = 0
        for x, y in rows:
            z = b0 + b1 * x
            zc = max(min(z, 30.0), -30.0)
            mu = math.exp(zc)
            g0i += round((y - mu) * 1.0 * 1e12)
            g1i += round((y - mu) * x * 1e12)
            h00i += round(mu * 1.0 * 1.0 * 1e12)
            h01i += round(mu * 1.0 * x * 1e12)
            h11i += round(mu * x * x * 1e12)
        h00 = float(h00i + ridge_i)
        h11 = float(h11i + ridge_i)
        h01 = float(h01i)
        g0, g1 = float(g0i), float(g1i)
        det = h00 * h11 - h01 * h01
        b0 = round(b0 + (h11 * g0 - h01 * g1) / det, 12)
        b1 = round(b1 + (h00 * g1 - h01 * g0) / det, 12)
    assert out["_intercept"] == b0
    assert out["x"] == b1


def test_poisson_recovers_log_rate(spark):
    """Exact Poisson means: y = exp(1 + 0.5x) evaluated at integer
    means — the fit recovers the generating coefficients closely and
    converges (3 vs 6 iterations agree to 6dp)."""
    from metadata_etl_framework_spark.ops.glm import poisson_train

    rows = []
    for i in range(400):
        x = float(i % 5)
        mu = math.exp(1.0 + 0.5 * x)
        rows.append((x, float(round(mu))))
    df = spark.createDataFrame(rows, "x double, y double")
    got3 = {r["term"]: r["beta"] for r in
            poisson_train(df, ["x"], "y", iterations=3).collect()}
    got5 = {r["term"]: r["beta"] for r in
            poisson_train(df, ["x"], "y", iterations=5).collect()}
    got6 = {r["term"]: r["beta"] for r in
            poisson_train(df, ["x"], "y", iterations=6).collect()}
    assert abs(got3["x"] - 0.5) < 0.02
    assert abs(got3["_intercept"] - 1.0) < 0.05
    # Newton has converged by iteration 5 (fixed point to 12dp)
    assert got5 == got6


def test_poisson_gates(spark):
    from metadata_etl_framework_spark.ops.glm import poisson_train

    df = spark.createDataFrame([(1.0, 2.0)], "x double, y double")
    with pytest.raises(ValueError, match="non-empty"):
        poisson_train(df, [], "y")
    with pytest.raises(ValueError, match="max_features"):
        poisson_train(df, [f"x{i}" for i in range(9)], "y")
    with pytest.raises(ValueError, match="no usable rows"):
        poisson_train(df.where(F.col("x") > 5), ["x"], "y")


def test_huber_matches_python_replica_exactly(spark):
    """Pin the Huber IRLS loop (OLS init + 2 reweighted passes)
    against a pure-python replica with identical pico-int rounding."""
    from metadata_etl_framework_spark.ops.glm import huber_train

    rows = [(float(i % 9) / 4.0, 1.0 + 0.5 * (i % 9) / 4.0
             + (5.0 if i % 17 == 0 else 0.0)) for i in range(250)]
    df = spark.createDataFrame(rows, "x double, y double")
    out = {r["term"]: r["beta"] for r in
           huber_train(df, ["x"], "y", delta=0.5, iterations=2,
                       ridge=1e-6).collect()}

    ridge_i = 10**6

    def wpass(b0, b1, use_w):
        g0i = g1i = h00i = h01i = h11i = 0
        for x, y in rows:
            if use_w:
                r = y - (b0 + b1 * x)
                w = 1.0 if abs(r) <= 0.5 else 0.5 / abs(r)
            else:
                w = 1.0
            g0i += round(w * 1.0 * y * 1e12)
            g1i += round(w * x * y * 1e12)
            h00i += round(w * 1.0 * 1.0 * 1e12)
            h01i += round(w * 1.0 * x * 1e12)
            h11i += round(w * x * x * 1e12)
        h00 = float(h00i + ridge_i)
        h11 = float(h11i + ridge_i)
        h01 = float(h01i)
        g0, g1 = float(g0i), float(g1i)
        det = h00 * h11 - h01 * h01
        return (round((h11 * g0 - h01 * g1) / det, 12),
                round((h00 * g1 - h01 * g0) / det, 12))

    b0, b1 = wpass(0.0, 0.0, False)
    for _ in range(2):
        b0, b1 = wpass(b0, b1, True)
    assert out["_intercept"] == b0
    assert out["x"] == b1


def test_huber_resists_outliers_vs_ols(spark):
    """Clean line y = 2 + 3x plus 4% wild outliers: the Huber slope
    must land closer to 3 than the OLS slope."""
    from metadata_etl_framework_spark.ops.glm import (
        huber_train,
        linear_train,
    )

    rows = []
    for i in range(500):
        x = float(i % 10)
        y = 2.0 + 3.0 * x + (200.0 if i % 25 == 0 else 0.0)
        rows.append((x, y))
    df = spark.createDataFrame(rows, "x double, y double")
    ols = {r["term"]: r["beta"] for r in
           linear_train(df, ["x"], "y").collect()}
    hub = {r["term"]: r["beta"] for r in
           huber_train(df, ["x"], "y", delta=2.0,
                       iterations=5).collect()}
    assert abs(hub["x"] - 3.0) < abs(ols["x"] - 3.0)
    assert abs(hub["_intercept"] - 2.0) < abs(ols["_intercept"] - 2.0)
    with pytest.raises(ValueError, match="delta"):
        huber_train(df, ["x"], "y", delta=0.0)


def test_quantile_matches_python_replica_exactly(spark):
    """Pin the quantile-IRLS loop (shared OLS init + 2 reweighted
    passes per tau) against a pure-python replica with identical
    pico-int rounding and the same |r|-floor literal."""
    from metadata_etl_framework_spark.ops.glm import quantile_train

    rows = [(float(i % 9) / 4.0,
             1.0 + 0.5 * (i % 9) / 4.0 + 0.31 * (i % 7) - 0.9)
            for i in range(250)]
    df = spark.createDataFrame(rows, "x double, y double")
    out = {(r["tau"], r["term"]): r["beta"] for r in
           quantile_train(df, ["x"], "y", taus=(0.5, 0.9),
                          iterations=2, ridge=1e-6,
                          eps=1e-6).collect()}

    ridge_i = 10**6

    def wpass(tau, b0, b1, use_w):
        g0i = g1i = h00i = h01i = h11i = 0
        for x, y in rows:
            if use_w:
                r = y - (b0 + b1 * x)
                w = abs(tau - (1.0 if r < 0 else 0.0)) / max(
                    abs(r), 1e-6
                )
            else:
                w = 1.0
            g0i += round(w * 1.0 * y * 1e12)
            g1i += round(w * x * y * 1e12)
            h00i += round(w * 1.0 * 1.0 * 1e12)
            h01i += round(w * 1.0 * x * 1e12)
            h11i += round(w * x * x * 1e12)
        h00 = float(h00i + ridge_i)
        h11 = float(h11i + ridge_i)
        h01 = float(h01i)
        g0, g1 = float(g0i), float(g1i)
        det = h00 * h11 - h01 * h01
        return (round((h11 * g0 - h01 * g1) / det, 12),
                round((h00 * g1 - h01 * g0) / det, 12))

    for tau in (0.5, 0.9):
        b0, b1 = wpass(tau, 0.0, 0.0, False)
        for _ in range(2):
            b0, b1 = wpass(tau, b0, b1, True)
        assert out[(tau, "_intercept")] == b0
        assert out[(tau, "x")] == b1


def test_quantile_orders_by_tau(spark):
    """On right-skewed noise the fitted P90 line must sit ABOVE the
    P50 line across the x range, and each tau's fit must score better
    on ITS OWN pinball loss than the other tau's fit."""
    from metadata_etl_framework_spark.ops.glm import quantile_train

    rows = []
    for i in range(2000):
        x = float(i % 10)
        noise = (i % 20) ** 2 / 40.0  # right-skewed 0..~9
        rows.append((x, 1.0 + 2.0 * x + noise))
    df = spark.createDataFrame(rows, "x double, y double")
    got = {(r["tau"], r["term"]): r["beta"] for r in
           quantile_train(df, ["x"], "y", taus=(0.5, 0.9),
                          iterations=8).collect()}
    for x in (0.0, 5.0, 9.0):
        lo = got[(0.5, "_intercept")] + got[(0.5, "x")] * x
        hi = got[(0.9, "_intercept")] + got[(0.9, "x")] * x
        assert hi > lo

    def pinball(tau, b0, b1):
        tot = 0.0
        for x, y in rows:
            r = y - (b0 + b1 * x)
            tot += r * tau if r >= 0 else -r * (1.0 - tau)
        return tot / len(rows)

    for tau, other in ((0.5, 0.9), (0.9, 0.5)):
        own = pinball(tau, got[(tau, "_intercept")], got[(tau, "x")])
        cross = pinball(
            tau, got[(other, "_intercept")], got[(other, "x")]
        )
        assert own < cross


def test_quantile_gates(spark):
    from metadata_etl_framework_spark.ops.glm import quantile_train

    df = spark.createDataFrame([(1.0, 2.0)], "x double, y double")
    with pytest.raises(ValueError, match="non-empty"):
        quantile_train(df, [], "y")
    with pytest.raises(ValueError, match="tau"):
        quantile_train(df, ["x"], "y", taus=())
    with pytest.raises(ValueError, match="tau"):
        quantile_train(df, ["x"], "y", taus=(0.5, 0.5))
    with pytest.raises(ValueError, match="tau"):
        quantile_train(df, ["x"], "y", taus=(1.5,))
    with pytest.raises(ValueError, match="eps"):
        quantile_train(df, ["x"], "y", eps=0.0)
    with pytest.raises(ValueError, match="no usable rows"):
        quantile_train(df.where(F.col("x") > 5), ["x"], "y")


def test_driver_gate_parity_all_trainers(spark, monkeypatch):
    """The bounded driver fast path (n_rows <= GLM_DRIVER_MAX_ROWS,
    one Arrow collect + vectorized IRLS) must reproduce the
    distributed passes BIT-FOR-BIT — same fixture, gate on vs forced
    off, exact frame equality. Exercises the exp/log kernels (CV
    scoring) and the weighted trainers."""
    import pandas as pd

    from metadata_etl_framework_spark.ops.glm import (
        huber_train,
        logistic_cv,
        quantile_train,
    )

    rows = [
        (
            i,
            float(i % 37) / 9.0,
            float((i * 7) % 23) / 11.0,
            1.0 if (i * 13) % 17 > 8 else 0.0,
            float((i * 3) % 29) / 7.0 + (6.0 if i % 31 == 0 else 0.0),
        )
        for i in range(700)
    ]
    df = spark.createDataFrame(
        rows, "rid long, x1 double, x2 double, yb double, yc double"
    )
    cases = [
        lambda: huber_train(
            df, ["x1", "x2"], "yc", delta=1.0, iterations=2
        ),
        lambda: quantile_train(
            df, ["x1"], "yc", taus=(0.25, 0.5, 0.9), iterations=2
        ),
        lambda: logistic_cv(
            df, ["x1", "x2"], "yb", "rid", n_folds=4, iterations=3
        ),
    ]
    on = [make().toPandas() for make in cases]
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_GATE", "0")
    for make, want in zip(cases, on):
        pd.testing.assert_frame_equal(
            make().toPandas(), want, check_exact=True
        )
