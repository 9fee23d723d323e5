"""In-engine logistic regression — IRLS/Newton over exact integer
sufficient statistics, the second trainable model (after
ops/classify.py's Naive Bayes) that needs NO ML runtime: each Newton
step is ONE aggregation pass collecting the d×d Hessian and d-vector
gradient as pico-unit (×10¹²) integer sums, the tiny solve happens on
the driver, and the new coefficients re-enter the next pass as plan
literals.

The reference's analytics plane has no trainable-model surface
(cf. /root/reference/src/transformations/transform_engine.py);
beyond-reference capability. Logistic regression is chosen because its
sufficient statistics are per-row products — the whole training loop
is engine-replayable: an oracle can unroll the fixed iteration count
as CTEs and reproduce the coefficients to the last bit.

Scale design:
- One scan per Newton iteration, no caching requirement (iterations
  are few and bounded); work per row is O(d²) for the Hessian upper
  triangle with ``max_features`` keeping d small — the regime where
  Newton is the right distributed algorithm (d×d solve is free on the
  driver; SGD's sequential dependence is what does NOT distribute).
- Determinism (the welch_t_test micro-unit discipline): per-row terms
  round to pico-ints via the multiply-first convention and sum as
  DECIMAL(38,0) — merge-order free, engine-exact; the solve runs on
  integer→double casts (IEEE-identical everywhere) with a fixed
  closed-form 2×2 path mirrored by the SQL oracle, and coefficients
  round to 12 dp between iterations so every pass starts from
  identical literals in any engine.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from metadata_etl_framework_spark.ops.driver_exact import (
    column_np,
    driver_table,
    pico_int,
)
from metadata_etl_framework_spark.ops.exact_agg import exact_pico_sums

__all__ = [
    "logistic_train",
    "linear_train",
    "linear_cv",
    "logistic_cv",
    "poisson_train",
    "huber_train",
    "quantile_train",
]

_SCALE = 10**12
_ZCLAMP = 30.0


def _sigmoid(z):
    zc = F.greatest(F.least(z, F.lit(_ZCLAMP)), F.lit(-_ZCLAMP))
    return F.lit(1.0) / (F.lit(1.0) + F.exp(-zc))


def _solve(h: "list[list[float]]", g: "list[float]") -> "list[float]":
    """Solve H·δ = g. d=2 uses the EXACT closed form the SQL oracle
    mirrors (adjugate over determinant, same op order); d>2 uses
    Gaussian elimination with partial pivoting (deterministic, but not
    oracle-mirrored — register such models as rows-only entries)."""
    d = len(g)
    if d == 2:
        det = h[0][0] * h[1][1] - h[0][1] * h[0][1]
        if det == 0:
            raise ValueError("logistic_train: singular Hessian (det=0)")
        return [
            (h[1][1] * g[0] - h[0][1] * g[1]) / det,
            (h[0][0] * g[1] - h[0][1] * g[0]) / det,
        ]
    a = [row[:] + [g[i]] for i, row in enumerate(h)]
    for col in range(d):
        piv = max(range(col, d), key=lambda r: abs(a[r][col]))
        if a[piv][col] == 0:
            raise ValueError("logistic_train: singular Hessian")
        a[col], a[piv] = a[piv], a[col]
        for r in range(d):
            if r != col:
                f = a[r][col] / a[col][col]
                for c in range(col, d + 1):
                    a[r][c] -= f * a[col][c]
    return [a[i][d] / a[i][i] for i in range(d)]


def _hess_terms(xs, w=None, prefix: str = "_"):
    """The upper-triangle Hessian streams of one pass, as (name, term)
    pairs ``{prefix}h{j}{k}`` (j ≤ k): ``(w·xⱼ)·xₖ``, or ``xⱼ·xₖ`` with
    no weight. Plan Columns and the driver twins' NumPy arrays both go
    through here, so the two arms sum the same left-associative
    products. Lazy, so a twin holds one row-sized term at a time."""
    d = len(xs)
    for j in range(d):
        for k in range(j, d):
            yield (
                f"{prefix}h{j}{k}",
                xs[j] * xs[k] if w is None else w * xs[j] * xs[k],
            )


def _normal_solve(sums, d: int, ridge_i: int, prefix: str = "_", base=None):
    """One solve of the normal equations from exact integer sums: the
    gradient ``sums[{prefix}g{j}]`` and the Hessian's upper triangle
    ``sums[{prefix}h{j}{k}]``, with the pico-int ridge added to the
    integer diagonal before the cast to double. Returns the 12-dp
    coefficients: ``round(base + δ, 12)`` for a Newton step from
    ``base``, ``round(δ, 12)`` for a closed-form solve."""
    g = [float(int(sums[f"{prefix}g{j}"])) for j in range(d)]
    h = [[0.0] * d for _ in range(d)]
    for j in range(d):
        for k in range(j, d):
            h[j][k] = h[k][j] = float(
                int(sums[f"{prefix}h{j}{k}"]) + (ridge_i if j == k else 0)
            )
    delta = _solve(h, g)
    if base is None:
        return [round(b, 12) for b in delta]
    return [round(base[j] + delta[j], 12) for j in range(d)]


# --------------------------------------------------------------------------
# Driver twin cap: at or under GLM_DRIVER_MAX_ROWS usable rows the
# projected (_y, _x…) frame — every cast/filter/hash already applied in
# Spark — crosses the driver_table seam once, and every IRLS/EM/scoring
# pass runs vectorized on the driver in milliseconds, versus one full
# aggregation job per pass at the benched scale (0.8–2 s each at sf0.1
# on local[32]). The numeric kernels are the exact driver twins of the
# pico-int pipeline (ops/driver_exact.py: HALF_UP-on-shortest-decimal
# rounding, exact big-int sums), so the arms agree bit-for-bit with the
# gate toggled (tests/test_glm.py). Above the cap the distributed passes
# run — the right plan at fact scale.
GLM_DRIVER_MAX_ROWS = 2_000_000


def _np_sigmoid(z):
    """Driver twin of :func:`_sigmoid` — same clamp order
    (least(z, 30) then greatest(·, −30)), same NaN flow (Spark's
    least/greatest treat NaN as largest, so a NaN logit clamps to
    +30)."""
    import numpy as np

    zc = np.minimum(z, _ZCLAMP)
    zc = np.maximum(zc, -_ZCLAMP)
    return 1.0 / (1.0 + np.exp(-np.where(np.isnan(z), _ZCLAMP, zc)))


def linear_train(
    df: DataFrame,
    feature_cols: "list[str]",
    label_col: str,
    ridge: float = 0.0,
    max_features: int = 8,
) -> DataFrame:
    """Multi-feature OLS/ridge regression in ONE aggregation pass — the
    normal equations (XᵀX + λI)β = Xᵀy solved on the driver from exact
    pico-int sufficient statistics (the :func:`logistic_train`
    machinery without the iteration: linear least squares IS its
    single Newton step).

    Per-row terms xⱼ·xₖ, xⱼ·y, y² round to pico-ints (multiply-first)
    and sum as DECIMAL(38,0); the d×d solve uses the closed-form 2×2
    path (SQL-oracle-mirrored) or partial-pivot elimination for wider
    models. R² is computed from the SAME collected sums via
    SSE = Σy² − 2βᵀXᵀy + βᵀ(XᵀX)β — no second data pass. Intercept is
    implicit (x₀ = 1). Standardize large-magnitude features yourself
    (pico-int grid assumes per-row terms ≤ ~1e13).

    Output: one row per coefficient — (term: '_intercept' then feature
    names, beta 12 dp, n_rows long, r2 6 dp), intercept first.
    """
    if not feature_cols:
        raise ValueError("feature_cols must be non-empty")
    if len(feature_cols) > max_features:
        raise ValueError(
            f"linear_train: {len(feature_cols)} features > "
            f"max_features={max_features}"
        )
    cond = F.col(label_col).isNotNull()
    for c in feature_cols:
        cond = cond & F.col(c).isNotNull()
    base = df.where(cond).select(
        F.col(label_col).cast("double").alias("_y"),
        *[
            F.col(c).cast("double").alias(f"_x{j + 1}")
            for j, c in enumerate(feature_cols)
        ],
    )
    d = len(feature_cols) + 1
    xs = [F.lit(1.0)] + [F.col(f"_x{j}") for j in range(1, d)]
    # two-level exact sums (ops/exact_agg.py): bit-identical to the
    # single-level DECIMAL streams, ~3× cheaper per scan
    terms = {"_yy": F.col("_y") * F.col("_y")}
    for j in range(d):
        terms[f"_g{j}"] = xs[j] * F.col("_y")
    terms.update(_hess_terms(xs))
    row = exact_pico_sums(base, terms, count_alias="_n").collect()[0]
    n_rows = int(row["_n"])
    if n_rows == 0:
        raise ValueError("linear_train: no usable rows")
    betas = _normal_solve(row, d, pico_int(ridge))
    g = [float(int(row[f"_g{j}"])) for j in range(d)]
    # R² from the same sums: SSE = Σy² − 2βᵀg + βᵀHβ (H here WITHOUT
    # ridge — use the raw integer sums), SST = Σy² − (Σy)²/n; the Σy
    # and Σ1 terms live inside g0/h00 (x₀ = 1)
    yy = float(int(row["_yy"]))
    h_raw = [
        [float(int(row[f"_h{min(j, k)}{max(j, k)}"])) for k in range(d)]
        for j in range(d)
    ]
    bhb = sum(
        betas[j] * h_raw[j][k] * betas[k]
        for j in range(d)
        for k in range(d)
    )
    bg = sum(betas[j] * g[j] for j in range(d))
    sse = yy - 2.0 * bg + bhb
    sy = g[0]  # Σ(1·y) in pico-units
    n_pico = float(int(row["_h00"]))  # Σ(1·1) in pico-units = n·1e12
    sst = yy - sy * sy / n_pico
    r2 = 1.0 - sse / sst if sst > 0 else None
    spark = df.sparkSession
    terms = ["_intercept"] + list(feature_cols)
    return spark.createDataFrame(
        [
            (
                i,
                t,
                betas[i],
                n_rows,
                round(r2, 6) if r2 is not None else None,
            )
            for i, t in enumerate(terms)
        ],
        "ord int, term string, beta double, n_rows long, r2 double",
    ).orderBy("ord").drop("ord")


def logistic_train(
    df: DataFrame,
    feature_cols: "list[str]",
    label_col: str,
    iterations: int = 3,
    ridge: float = 1e-6,
    max_features: int = 8,
) -> DataFrame:
    """Train P(y=1|x) = σ(β₀ + Σ βⱼ·xⱼ) by ``iterations`` Newton/IRLS
    steps from β = 0.

    Per step, one aggregation pass computes (all as exact pico-int
    DECIMAL(38,0) sums of 12-dp-rounded per-row terms):
    gradient gⱼ = Σ (y − p)·xⱼ and Hessian Hⱼₖ = Σ p(1−p)·xⱼ·xₖ
    (+ ridge·I — kept OUT of the integer sums and added exactly on the
    driver), then β ← β + H⁻¹g with coefficients rounded to 12 dp. The
    logit is clamped to ±30 before exp (overflow guard; identical
    clamp in the oracle). Rows with any NULL feature/label are
    excluded; ``label_col`` casts through boolean (0/1).

    Standardize or pre-scale features yourself — Newton converges in
    a handful of steps on O(1)-magnitude features, and the pico-int
    grid assumes per-row terms ≤ ~1e13.

    Output: one row per coefficient — (term string: '_intercept' then
    feature names, beta 12 dp, n_rows long, iterations int), ordered
    with the intercept first then feature order.
    """
    if not feature_cols:
        raise ValueError("feature_cols must be non-empty")
    if len(feature_cols) > max_features:
        raise ValueError(
            f"logistic_train: {len(feature_cols)} features > "
            f"max_features={max_features} — the per-row Hessian work "
            f"is O(d²); raise the gate explicitly for genuinely wide "
            f"models"
        )
    if iterations < 1:
        raise ValueError("iterations must be >= 1")
    cond = F.col(label_col).isNotNull()
    for c in feature_cols:
        cond = cond & F.col(c).isNotNull()
    base = df.where(cond).select(
        F.col(label_col).cast("boolean").cast("int").cast("double").alias(
            "_y"
        ),
        *[
            F.col(c).cast("double").alias(f"_x{j + 1}")
            for j, c in enumerate(feature_cols)
        ],
    )
    d = len(feature_cols) + 1
    xs = [F.lit(1.0)] + [F.col(f"_x{j}") for j in range(1, d)]
    betas = [0.0] * d
    ridge_i = pico_int(ridge)
    # one projection feeds every Newton pass — persist so iterations
    # read cached rows; released before every exit (incl. the raise)
    base = base.persist()
    try:
        for _ in range(int(iterations)):
            z = F.lit(betas[0])
            for j in range(1, d):
                z = z + F.lit(betas[j]) * xs[j]
            p = _sigmoid(z)
            # two-level exact sums (ops/exact_agg.py): bit-identical to
            # the single-level DECIMAL streams, ~3× cheaper per pass
            terms = {f"_g{j}": (F.col("_y") - p) * xs[j] for j in range(d)}
            terms.update(_hess_terms(xs, p * (F.lit(1.0) - p)))
            row = exact_pico_sums(base, terms, count_alias="_n").collect()[0]
            n_rows = int(row["_n"])
            if n_rows == 0:
                raise ValueError("logistic_train: no usable rows")
            betas = _normal_solve(row, d, ridge_i, base=betas)
    finally:
        base.unpersist()
    return _glm_coef_frame(
        df.sparkSession, feature_cols, betas, n_rows, iterations
    )


def _glm_coef_frame(
    spark, feature_cols, betas, n_rows, iterations
) -> DataFrame:
    """Shared (term, beta, n_rows, iterations) output frame — the
    distributed and the driver arms both return through here."""
    terms = ["_intercept"] + list(feature_cols)
    return spark.createDataFrame(
        [
            (i, t, betas[i], n_rows, int(iterations))
            for i, t in enumerate(terms)
        ],
        "ord int, term string, beta double, n_rows long, iterations int",
    ).orderBy("ord").drop("ord")


def linear_cv(
    df: DataFrame,
    feature_cols: "list[str]",
    label_col: str,
    id_col: str,
    n_folds: int = 4,
    ridge: float = 0.0,
    max_features: int = 8,
) -> DataFrame:
    """K-fold cross-validated ridge/OLS — per-fold AND pooled held-out
    metrics in TWO data scans total, for all K models at once:

    1. ONE grouped pass collects the per-fold pico-int normal-equation
       sums (the :func:`linear_train` statistics, GROUP BY the
       deterministic portable-hash fold of ``id_col`` —
       ops/features.py::fold_assign's convention, so folds are
       identical in any engine). Fold f's TRAINING sums are then
       GLOBAL − fold_f by exact integer subtraction — the
       leave-one-fold-out trick that makes K-fold CV cost one scan
       instead of K.
    2. ONE scoring pass: each row's prediction uses ITS OWN fold's
       held-out betas (K sets of plan literals in a CASE chain — no
       join, no second model pass), accumulating per-fold pico-int
       squared/absolute error sums.

    Metrics math runs driver-side on the collected per-fold integers
    (IEEE-identical everywhere): RMSE = √(SSE/n), MAE, and held-out
    R² = 1 − SSE/SST with SST from the fold's own label sums. The
    ``pooled`` row sums the per-fold integer components before the
    same formulas. Betas round to 12 dp (the glm convention), so a
    SQL oracle unrolls the whole procedure bit-for-bit.

    Output: one row per fold then 'pooled' —
    (fold string, n_test long, rmse 6 dp, mae 6 dp, r2 6 dp).
    """
    if not feature_cols:
        raise ValueError("feature_cols must be non-empty")
    if len(feature_cols) > max_features:
        raise ValueError(
            f"linear_cv: {len(feature_cols)} features > "
            f"max_features={max_features}"
        )
    if n_folds < 2:
        raise ValueError("n_folds must be >= 2")
    from metadata_etl_framework_spark.ops.sketch import hash32

    cond = F.col(label_col).isNotNull() & F.col(id_col).isNotNull()
    for c in feature_cols:
        cond = cond & F.col(c).isNotNull()
    base = df.where(cond).select(
        (hash32(F.col(id_col)) % F.lit(int(n_folds))).alias("_fold"),
        F.col(label_col).cast("double").alias("_y"),
        *[
            F.col(c).cast("double").alias(f"_x{j + 1}")
            for j, c in enumerate(feature_cols)
        ],
    )
    d = len(feature_cols) + 1
    xs = [F.lit(1.0)] + [F.col(f"_x{j}") for j in range(1, d)]
    # both passes read one persisted projection; released at exit
    base = base.persist()
    try:
        # two-level exact sums (ops/exact_agg.py): bit-identical
        # to the single-level DECIMAL streams, ~3× cheaper per scan
        terms = {"_yy": F.col("_y") * F.col("_y")}
        for j in range(d):
            terms[f"_g{j}"] = xs[j] * F.col("_y")
        terms.update(_hess_terms(xs))
        per_fold = {
            int(r["_fold"]): {
                k: int(r[k]) for k in r.asDict() if k != "_fold"
            }
            for r in exact_pico_sums(
                base, terms, group_cols=["_fold"], count_alias="_n"
            ).collect()
        }
        if not per_fold:
            raise ValueError("linear_cv: no usable rows")
        betas_by_fold = _loo_beta_sets(per_fold, d, pico_int(ridge))
        # scoring pass: fold-specific betas as a CASE chain
        pred = None
        for f in sorted(per_fold):
            b = betas_by_fold[f]
            z = F.lit(b[0])
            for j in range(1, d):
                z = z + F.lit(b[j]) * F.col(f"_x{j}")
            pred = (
                F.when(F.col("_fold") == f, z)
                if pred is None
                else pred.when(F.col("_fold") == f, z)
            )
        err = F.col("_y") - pred
        met = {
            int(r["_fold"]): {
                "_sse": int(r["_sse"]), "_sae": int(r["_sae"])
            }
            for r in exact_pico_sums(
                base,
                {"_sse": err * err, "_sae": F.abs(err)},
                group_cols=["_fold"],
            ).collect()
        }
    finally:
        base.unpersist()
    folds = sorted(per_fold)

    def _row(label: str, n: int, sse: int, sae: int, yy: int, sy: int):
        import math

        ssed, saed = float(sse), float(sae)
        # math.sqrt, not ** 0.5: pow(x, 0.5) is not guaranteed to be
        # the correctly-rounded root the SQL oracle's SQRT computes
        rmse = round(math.sqrt(ssed / 1e12 / n), 6)
        mae = round(saed / 1e12 / n, 6)
        sstd = float(yy) - float(sy) * float(sy) / (n * 1e12)
        r2 = round(1.0 - ssed / sstd, 6) if sstd > 0 else None
        return (label, n, rmse, mae, r2)

    rows = []
    p_n = p_sse = p_sae = p_yy = p_sy = 0
    for f in folds:
        n = int(per_fold[f]["_n"])
        sse = int(met[f]["_sse"])
        sae = int(met[f]["_sae"])
        yy = int(per_fold[f]["_yy"])
        sy = int(per_fold[f]["_g0"])
        rows.append(_row(str(f), n, sse, sae, yy, sy))
        p_n += n
        p_sse += sse
        p_sae += sae
        p_yy += yy
        p_sy += sy
    rows.append(_row("pooled", p_n, p_sse, p_sae, p_yy, p_sy))
    return df.sparkSession.createDataFrame(
        rows,
        "fold string, n_test long, rmse double, mae double, r2 double",
    )


def _loo_beta_sets(
    per_fold: "dict[int, dict[str, int]]", d: int, ridge_i: int
) -> "dict[int, list[float]]":
    """Leave-one-fold-out betas from :func:`linear_cv`'s per-fold
    integer sums (exact integer subtraction, then the shared solve and
    12-dp rounding)."""
    folds = sorted(per_fold)
    keys = [k for k in per_fold[folds[0]] if k != "_fold"]
    tot = {k: sum(per_fold[f][k] for f in folds) for k in keys}
    return {
        f: _normal_solve(
            {k: tot[k] - per_fold[f][k] for k in keys}, d, ridge_i
        )
        for f in folds
    }


def logistic_cv(
    df: DataFrame,
    feature_cols: "list[str]",
    label_col: str,
    id_col: str,
    n_folds: int = 4,
    iterations: int = 3,
    ridge: float = 1e-6,
    max_features: int = 8,
) -> DataFrame:
    """K-fold cross-validated IRLS logistic regression — all K
    held-out models advance together, ONE grouped pass per Newton
    iteration (no row explosion, no per-fold retraining):

    Each iteration groups rows by their portable-hash fold g and, for
    EVERY model f, accumulates that model's gradient/Hessian terms
    (computed under βf, which are plan literals) as pico-int DECIMAL
    sums — a K×(d + d(d+1)/2) aggregate grid of K rows. Model f's
    training statistics are then Σ over cells g ≠ f on the driver
    (exact integer addition — the :func:`linear_cv` leave-one-fold-out
    idea lifted to the iterative setting), followed by the closed-form
    2×2 / pivoted solve and 12-dp rounding per model per iteration.

    The final scoring pass evaluates each row under ITS OWN fold's
    model (held-out by construction): log-loss and Brier as pico-int
    sums, accuracy at the 0.5 threshold as an exact count. All
    arithmetic follows the :func:`logistic_train` oracle conventions
    (±30 logit clamp, multiply-first pico rounding), so a SQL oracle
    unrolls iterations × folds bit-for-bit.

    Cost: ``iterations`` grouped scans + 1 scoring scan, each with
    K× the single-model aggregate width — the right trade at scale,
    where scans dominate and K·d² extra agg columns are noise.

    Output: one row per PRESENT fold then 'pooled' — (fold string,
    n_test long, logloss 6 dp, brier 6 dp, accuracy 6 dp).
    """
    if not feature_cols:
        raise ValueError("feature_cols must be non-empty")
    if len(feature_cols) > max_features:
        raise ValueError(
            f"logistic_cv: {len(feature_cols)} features > "
            f"max_features={max_features}"
        )
    if n_folds < 2:
        raise ValueError("n_folds must be >= 2")
    if iterations < 1:
        raise ValueError("iterations must be >= 1")
    from metadata_etl_framework_spark.ops.sketch import hash32

    cond = F.col(label_col).isNotNull() & F.col(id_col).isNotNull()
    for c in feature_cols:
        cond = cond & F.col(c).isNotNull()
    base = df.where(cond).select(
        (hash32(F.col(id_col)) % F.lit(int(n_folds))).alias("_fold"),
        F.col(label_col)
        .cast("boolean")
        .cast("int")
        .cast("double")
        .alias("_y"),
        *[
            F.col(c).cast("double").alias(f"_x{j + 1}")
            for j, c in enumerate(feature_cols)
        ],
    )
    base = base.persist()
    try:
        d = len(feature_cols) + 1
        xs = [F.lit(1.0)] + [F.col(f"_x{j}") for j in range(1, d)]
        folds = list(range(int(n_folds)))
        betas = {f: [0.0] * d for f in folds}
        ridge_i = pico_int(ridge)
        n_rows = base.count()
        if n_rows == 0:
            raise ValueError("logistic_cv: no usable rows")
        tbl = driver_table(base, GLM_DRIVER_MAX_ROWS, size=n_rows)
        if tbl is not None:
            # bit-identical to the passes below up to the exp/log
            # kernels (parity-tested with the gate toggled)
            met = _logistic_cv_driver(
                tbl, d, folds, int(iterations), ridge_i
            )
            return _logistic_cv_frame(df.sparkSession, met)
        for _ in range(int(iterations)):
            # two-level exact sums (ops/exact_agg.py) over the K×d² grid
            # grouped by fold — bit-identical, ~3× cheaper per pass
            terms = {}
            for f in folds:
                z = F.lit(betas[f][0])
                for j in range(1, d):
                    z = z + F.lit(betas[f][j]) * xs[j]
                p = _sigmoid(z)
                for j in range(d):
                    terms[f"_f{f}_g{j}"] = (F.col("_y") - p) * xs[j]
                terms.update(
                    _hess_terms(xs, p * (F.lit(1.0) - p), f"_f{f}_")
                )
            cells = {
                int(r["_fold"]): {k: int(r[k] or 0) for k in terms}
                for r in exact_pico_sums(
                    base, terms, group_cols=["_fold"], count_alias="_n"
                ).collect()
            }
            if not cells:
                raise ValueError("logistic_cv: no usable rows")
            betas = _loo_newton_steps(cells, betas, d, ridge_i)
        # held-out scoring: each row under its OWN fold's model
        pred = None
        for f in folds:
            z = F.lit(betas[f][0])
            for j in range(1, d):
                z = z + F.lit(betas[f][j]) * xs[j]
            pred = (
                F.when(F.col("_fold") == f, _sigmoid(z))
                if pred is None
                else pred.when(F.col("_fold") == f, _sigmoid(z))
            )
        y = F.col("_y")
        ll = -(
            y * F.log(pred) + (F.lit(1.0) - y) * F.log(F.lit(1.0) - pred)
        )
        brier = (y - pred) * (y - pred)
        hit = (
            (pred >= F.lit(0.5)).cast("int").cast("double") == y
        ).cast("long")
        met = {
            int(r["_fold"]): {
                "_n": int(r["_n"]),
                "_ll": int(r["_ll"]),
                "_br": int(r["_br"]),
                "_acc": int(r["_acc"]),
            }
            for r in exact_pico_sums(
                base,
                {"_ll": ll, "_br": brier},
                group_cols=["_fold"],
                long_terms={"_acc": hit},
                count_alias="_n",
            ).collect()
        }
        return _logistic_cv_frame(df.sparkSession, met)
    finally:
        base.unpersist()


def _loo_newton_steps(cells, betas, d: int, ridge_i: int) -> dict:
    """One Newton step of every :func:`logistic_cv` model f from the
    per-fold integer sums ``cells[g]``: model f trains on the exact
    totals over the present folds g ≠ f (its ``_f{f}_`` streams)."""
    out = {}
    for f, b in betas.items():
        loo = {
            k: sum(c[k] for g, c in cells.items() if g != f)
            for k in next(iter(cells.values()))
        }
        out[f] = _normal_solve(loo, d, ridge_i, f"_f{f}_", base=b)
    return out


def _logistic_cv_frame(spark, met: "dict[int, dict[str, int]]") -> DataFrame:
    """Shared (fold, n_test, logloss, brier, accuracy) output frame —
    the distributed and the driver :func:`logistic_cv` arms both
    return through here (identical per-fold then pooled rounding)."""

    def _row(label: str, n: int, llp: int, brp: int, acc: int):
        return (
            label,
            n,
            round(float(llp) / 1e12 / n, 6),
            round(float(brp) / 1e12 / n, 6),
            round(acc / n, 6),
        )

    rows = []
    p_n = p_ll = p_br = p_acc = 0
    for f in sorted(met):
        r = met[f]
        n = int(r["_n"])
        llp, brp, acc = int(r["_ll"]), int(r["_br"]), int(r["_acc"])
        rows.append(_row(str(f), n, llp, brp, acc))
        p_n += n
        p_ll += llp
        p_br += brp
        p_acc += acc
    rows.append(_row("pooled", p_n, p_ll, p_br, p_acc))
    return spark.createDataFrame(
        rows,
        "fold string, n_test long, logloss double, brier double, "
        "accuracy double",
    )


def _logistic_cv_driver(
    tbl,
    d: int,
    folds: "list[int]",
    iterations: int,
    ridge_i: int,
) -> "dict[int, dict[str, int]]":
    """Driver twin of the :func:`logistic_cv` passes: per-iteration
    K×(d + d(d+1)/2) grouped pico-int grid under each fold's betas
    (identical left-associative predictor, ±30 clamp, multiply-first
    term order, HALF_UP pico rounding, exact integer sums), then the
    leave-own-fold-out solve and 12-dp rounding per model, then the
    held-out scoring pass (each row under ITS OWN fold's model) —
    same log-loss/Brier pico sums and exact 0.5-threshold hit count.
    Returns the met dict :func:`_logistic_cv_frame` renders."""
    import numpy as np

    from metadata_etl_framework_spark.ops.driver_exact import (
        exact_sum_i64,
        round_half_up_int64,
    )

    fold = column_np(tbl, "_fold")
    y = column_np(tbl, "_y")
    xs = [np.ones_like(y)] + [
        column_np(tbl, f"_x{j}") for j in range(1, d)
    ]
    # ones ARRAY, not a scalar: the distributed terms multiply a
    # per-row F.lit(1.0), so constant-only products must still sum
    # over every row
    present = [int(g) for g in np.unique(fold)]
    masks = {g: fold == g for g in present}

    def _grouped(term) -> "dict[int, int]":
        term = np.asarray(term, dtype=np.float64)
        if term.size and not np.isfinite(term).all():
            raise ValueError(
                "logistic_cv: non-finite term (the distributed ANSI "
                "cast would raise ArithmeticException here)"
            )
        pi = round_half_up_int64(term * 1e12)
        return {g: exact_sum_i64(pi[masks[g]]) for g in present}

    betas = {f: [0.0] * d for f in folds}
    for _ in range(iterations):
        if not present:
            raise ValueError("logistic_cv: no usable rows")
        cells: "dict[int, dict[str, int]]" = {g: {} for g in present}
        for f in folds:
            z = betas[f][0]
            for j in range(1, d):
                z = z + betas[f][j] * xs[j]
            p = _np_sigmoid(z)
            grads = ((f"_f{f}_g{j}", (y - p) * xs[j]) for j in range(d))
            for terms in (grads, _hess_terms(xs, p * (1.0 - p), f"_f{f}_")):
                for name, t in terms:
                    for g, v in _grouped(t).items():
                        cells[g][name] = v
        betas = _loo_newton_steps(cells, betas, d, ridge_i)
    # held-out scoring: each row under its OWN fold's model
    pred = np.empty_like(y)
    for f in folds:
        z = betas[f][0]
        for j in range(1, d):
            z = z + betas[f][j] * xs[j]
        pf = _np_sigmoid(z)
        m = fold == f
        pred[m] = np.broadcast_to(np.asarray(pf), y.shape)[m]
    ll = -(y * np.log(pred) + (1.0 - y) * np.log(1.0 - pred))
    brier = (y - pred) * (y - pred)
    hit = np.where(pred >= 0.5, 1.0, 0.0) == y
    met: "dict[int, dict[str, int]]" = {
        g: {"_n": int(masks[g].sum()), "_acc": int(hit[masks[g]].sum())}
        for g in present
    }
    for k, t in [("_ll", ll), ("_br", brier)]:
        for g, v in _grouped(t).items():
            met[g][k] = v
    return met


def poisson_train(
    df: DataFrame,
    feature_cols: "list[str]",
    label_col: str,
    iterations: int = 3,
    ridge: float = 1e-6,
    max_features: int = 8,
) -> DataFrame:
    """Poisson regression (log link) for count targets — orders per
    customer, events per session, defects per batch: train
    E[y|x] = exp(β₀ + Σ βⱼ·xⱼ) by ``iterations`` Newton/IRLS steps.
    Completes the in-engine GLM family (logistic for rates, OLS/ridge
    for levels, Poisson for counts) on the same machinery: per step
    ONE aggregation pass collects gradient gⱼ = Σ (y − μ)·xⱼ and
    Hessian Hⱼₖ = Σ μ·xⱼ·xₖ as exact pico-int (×10¹²) DECIMAL(38,0)
    sums; the tiny solve runs on the driver and the new coefficients
    re-enter the next pass as plan literals.

    The intercept starts at ln(ȳ) (the canonical-link MLE of the
    null model) instead of 0 — Newton from β = 0 on a mean-10 target
    spends ~10 wasted steps walking the log-scale overshoot back down
    (measured), while from ln(ȳ) it converges in 2–3. The init costs
    one extra aggregation pass (Σy as a pico-int sum, ln on the
    driver, rounded to 12 dp) and is itself engine-replayable. The
    linear predictor is clamped to ±30 before exp (same guard and
    bound as :func:`logistic_train`); coefficients round to 12 dp
    between passes so an unrolled-CTE oracle reproduces the training
    loop bit-exactly.

    Output: one row per coefficient — (term '_intercept' then feature
    names, beta 12 dp, n_rows long, iterations int), intercept first.
    """
    if not feature_cols:
        raise ValueError("feature_cols must be non-empty")
    if len(feature_cols) > max_features:
        raise ValueError(
            f"poisson_train: {len(feature_cols)} features > "
            f"max_features={max_features}"
        )
    if iterations < 1:
        raise ValueError("iterations must be >= 1")
    cond = F.col(label_col).isNotNull()
    for c in feature_cols:
        cond = cond & F.col(c).isNotNull()
    base = df.where(cond).select(
        F.col(label_col).cast("double").alias("_y"),
        *[
            F.col(c).cast("double").alias(f"_x{j + 1}")
            for j, c in enumerate(feature_cols)
        ],
    )
    d = len(feature_cols) + 1
    xs = [F.lit(1.0)] + [F.col(f"_x{j}") for j in range(1, d)]
    base = base.persist()
    # plain count first (materializes the persist) so every aggregate
    # pass can carry row_hint — poisson's typical frame is a per-entity
    # rollup (small × few streams), where the two-level split measured
    # SLOWER than the single-level decimal sum (r14 driver bench:
    # 1.89 → 2.62 s); row_hint lets exact_pico_sums pick per call
    try:
        n_rows = base.count()
        if n_rows == 0:
            raise ValueError("poisson_train: no usable rows")
        ridge_i = pico_int(ridge)
        init = exact_pico_sums(
            base, {"_sy": F.col("_y")}, row_hint=n_rows
        ).collect()[0]
        sy = int(init["_sy"])
        import math

        b0 = (
            round(math.log(float(sy) / 1e12 / n_rows), 12) if sy > 0 else 0.0
        )
        betas = [b0] + [0.0] * (d - 1)
        for _ in range(int(iterations)):
            z = F.lit(betas[0])
            for j in range(1, d):
                z = z + F.lit(betas[j]) * xs[j]
            mu = F.exp(
                F.greatest(F.least(z, F.lit(_ZCLAMP)), F.lit(-_ZCLAMP))
            )
            # exact pico sums with row_hint: small per-entity frames keep
            # the single-level DECIMAL sum, large ones get the two-level
            # split — bit-identical either way (ops/exact_agg.py)
            terms = {f"_g{j}": (F.col("_y") - mu) * xs[j] for j in range(d)}
            terms.update(_hess_terms(xs, mu))
            row = exact_pico_sums(base, terms, row_hint=n_rows).collect()[0]
            betas = _normal_solve(row, d, ridge_i, base=betas)
    finally:
        # released on every exit, a singular Hessian's raise included
        base.unpersist()
    return _glm_coef_frame(
        df.sparkSession, feature_cols, betas, n_rows, iterations
    )


def huber_train(
    df: DataFrame,
    feature_cols: "list[str]",
    label_col: str,
    delta: float = 1.0,
    iterations: int = 3,
    ridge: float = 1e-6,
    max_features: int = 8,
) -> DataFrame:
    """Huber robust regression by IRLS — the GLM family's answer to
    contaminated labels (the reference's quality plane flags outliers;
    this FITS THROUGH them): quadratic loss inside ``delta``, linear
    outside, so a mislabeled row pulls the fit with bounded force
    instead of its squared residual.

    Starts from the closed-form OLS solution (one
    :func:`linear_train`-shaped pass — itself oracle-replayable),
    then ``iterations`` reweighted passes: per row
    w = 1 if |r| ≤ δ else δ/|r| (w = 1 when r = 0), and the weighted
    normal equations (XᵀWX + λI)β = XᵀWy are re-collected as exact
    pico-int (×10¹²) DECIMAL(38,0) sums and solved on the driver
    (closed-form 2×2 path mirrored by the SQL oracle). Coefficients
    round to 12 dp between passes — the whole training loop unrolls
    as CTEs and replays bit-exactly.

    Scale ``delta`` to the label's units (it is a residual threshold,
    not a quantile). Output: one row per coefficient — (term, beta
    12 dp, n_rows long, iterations int), intercept first.
    """
    if not feature_cols:
        raise ValueError("feature_cols must be non-empty")
    if len(feature_cols) > max_features:
        raise ValueError(
            f"huber_train: {len(feature_cols)} features > "
            f"max_features={max_features}"
        )
    if iterations < 1:
        raise ValueError("iterations must be >= 1")
    if delta <= 0:
        raise ValueError("delta must be > 0")
    cond = F.col(label_col).isNotNull()
    for c in feature_cols:
        cond = cond & F.col(c).isNotNull()
    base = df.where(cond).select(
        F.col(label_col).cast("double").alias("_y"),
        *[
            F.col(c).cast("double").alias(f"_x{j + 1}")
            for j, c in enumerate(feature_cols)
        ],
    )
    d = len(feature_cols) + 1
    xs = [F.lit(1.0)] + [F.col(f"_x{j}") for j in range(1, d)]
    ridge_i = pico_int(ridge)

    def _collect_pass(w) -> "list[float]":
        # two-level exact sums (ops/exact_agg.py): bit-identical to the
        # single-level DECIMAL streams, ~3× cheaper per pass — the
        # reweighted normal equations are pure pico-int totals
        terms = {f"_g{j}": w * xs[j] * F.col("_y") for j in range(d)}
        terms.update(_hess_terms(xs, w))
        return _normal_solve(
            exact_pico_sums(base, terms).collect()[0], d, ridge_i
        )

    # OLS init (w = 1); one persisted projection feeds every pass and
    # is released before the driver twin runs
    base = base.persist()
    try:
        n_rows = base.count()
        if n_rows == 0:
            raise ValueError("huber_train: no usable rows")
        tbl = driver_table(base, GLM_DRIVER_MAX_ROWS, size=n_rows)
        if tbl is None:
            betas = _collect_pass(F.lit(1.0))
            dl = float(delta)
            for _ in range(int(iterations)):
                z = F.lit(betas[0])
                for j in range(1, d):
                    z = z + F.lit(betas[j]) * xs[j]
                r = F.col("_y") - z
                betas = _collect_pass(
                    F.when(F.abs(r) <= F.lit(dl), F.lit(1.0)).otherwise(
                        F.lit(dl) / F.abs(r)
                    )
                )
    finally:
        base.unpersist()
    if tbl is not None:
        betas = _huber_driver_betas(
            tbl, d, float(delta), int(iterations), ridge_i
        )
    return _glm_coef_frame(
        df.sparkSession, feature_cols, betas, n_rows, iterations
    )


def _huber_driver_betas(
    tbl, d: int, dl: float, iterations: int, ridge_i: int
) -> "list[float]":
    """Driver twin of the :func:`huber_train` passes — identical
    weight rule (1 inside δ, δ/|r| outside, lazy-branch NaN flow),
    term order, pico rounding, exact sums, solve and 12-dp rounding.
    Pure products and comparisons — exact by construction."""
    import numpy as np

    from metadata_etl_framework_spark.ops.driver_exact import pico_sum

    y = column_np(tbl, "_y")
    xs = [np.ones_like(y)] + [
        column_np(tbl, f"_x{j}") for j in range(1, d)
    ]
    # ones ARRAY, not a scalar: the distributed terms multiply a
    # per-row F.lit(1.0), so constant-only products (e.g. the h00
    # cell) must still sum over every row

    def _pass(w) -> "list[float]":
        sums = {f"_g{j}": pico_sum(w * xs[j] * y) for j in range(d)}
        sums.update((k, pico_sum(t)) for k, t in _hess_terms(xs, w))
        return _normal_solve(sums, d, ridge_i)

    betas = _pass(np.float64(1.0))
    for _ in range(iterations):
        z = betas[0]
        for j in range(1, d):
            z = z + betas[j] * xs[j]
        r = y - z
        ar = np.abs(r)
        with np.errstate(divide="ignore", invalid="ignore"):
            w = np.where(ar <= dl, np.float64(1.0), dl / ar)
        betas = _pass(w)
    return betas


def quantile_train(
    df: DataFrame,
    feature_cols: "list[str]",
    label_col: str,
    taus: "Sequence[float]" = (0.5, 0.9),
    iterations: int = 3,
    ridge: float = 1e-6,
    eps: float = 1e-3,
    max_features: int = 8,
) -> DataFrame:
    """Quantile (pinball-loss) regression by IRLS — completes the
    in-engine GLM family across the target's SHAPE: OLS/ridge fit the
    mean, :func:`huber_train` fits the mean robustly, logistic fits a
    rate, Poisson fits a count, and this fits the τ-QUANTILE of
    y | x — the P50/P90 latency line, the demand band, the fee
    percentile — the regression a capacity or pricing pipeline
    actually wants when the tail matters more than the average. The
    eval metric already exists (ops/evaluation.py::pinball_loss); this
    is its trainer.

    Minimizing Σ ρ_τ(r), ρ_τ(r) = r·(τ − 1[r<0]), by the classic IRLS
    surrogate: ρ_τ(r) = w(r)·r² with w = |τ − 1[r<0]| / |r|, so each
    pass solves the weighted normal equations (XᵀWX + λI)β = XᵀWy
    under the weights of the PREVIOUS betas, with |r| floored at
    ``eps`` (the standard smoothing that keeps zero residuals finite;
    the floor is a plan literal an oracle replays). Starts from the
    closed-form OLS solution, exactly like :func:`huber_train`.

    ``eps`` also CAPS the per-row weight at max(τ, 1−τ)/eps, and that
    cap is a numeric contract, not just smoothing: with eps = 1e-3
    and O(1)-scaled features the largest pico-int term is ~1e16,
    comfortably inside the long-partial bound of the two-level exact
    path (finer 2048-way sub-buckets are used for the reweighted
    passes since near-line rows concentrate weight). eps = 1e-6 was
    measured to overflow at sf0.1 — a single row within 1e-6 of the
    line carries weight 1e6 and a ~1e19 pico term; ANSI mode fails
    such a case loudly rather than corrupting the fit. Scale ``eps``
    with the label's units (it is a residual threshold).

    ALL requested quantiles train in the same passes: iteration i is
    ONE scan collecting every τ's gradient/Hessian pico-int sums
    side by side (|taus|·(d + d(d+1)/2) streams through the two-level
    exact path — ops/exact_agg.py), so the τ-grid costs scans, not
    scans × quantiles. Coefficients round to 12 dp between passes; the
    whole unroll replays bit-exactly as CTEs (the glm oracle
    convention).

    IRLS for quantile loss converges in distribution-typical cases but
    is a fixed-point heuristic (exact LP solutions need simplex /
    interior-point — wrong shape for one-pass distributed scans); a
    fixed small ``iterations`` is both the scale-right and the
    replayable choice.

    Output: one row per (tau, coefficient) — (tau double, term string,
    beta 12 dp, n_rows long, iterations int), tau ascending, intercept
    first within tau.
    """
    if not feature_cols:
        raise ValueError("feature_cols must be non-empty")
    if len(feature_cols) > max_features:
        raise ValueError(
            f"quantile_train: {len(feature_cols)} features > "
            f"max_features={max_features}"
        )
    if iterations < 1:
        raise ValueError("iterations must be >= 1")
    if not taus:
        raise ValueError("taus must be non-empty")
    ts = [float(t) for t in taus]
    if len(set(ts)) != len(ts):
        raise ValueError("taus must be distinct")
    if any(not (0.0 < t < 1.0) for t in ts):
        raise ValueError("each tau must be in (0, 1)")
    if eps <= 0:
        raise ValueError("eps must be > 0")
    cond = F.col(label_col).isNotNull()
    for c in feature_cols:
        cond = cond & F.col(c).isNotNull()
    base = df.where(cond).select(
        F.col(label_col).cast("double").alias("_y"),
        *[
            F.col(c).cast("double").alias(f"_x{j + 1}")
            for j, c in enumerate(feature_cols)
        ],
    )
    d = len(feature_cols) + 1
    xs = [F.lit(1.0)] + [F.col(f"_x{j}") for j in range(1, d)]
    ridge_i = pico_int(ridge)
    base = base.persist()
    try:
        n_rows = base.count()
        if n_rows == 0:
            raise ValueError("quantile_train: no usable rows")
        tbl = driver_table(base, GLM_DRIVER_MAX_ROWS, size=n_rows)
        if tbl is not None:
            betas = _quantile_driver_betas(
                tbl, d, ts, int(iterations), ridge_i, float(eps)
            )
        else:
            betas = _quantile_dist_betas(
                base, xs, d, ts, int(iterations), ridge_i, float(eps)
            )
    finally:
        base.unpersist()
    spark = df.sparkSession
    names = ["_intercept"] + list(feature_cols)
    return spark.createDataFrame(
        [
            (ti, i, t, nm, betas[t][i], n_rows, int(iterations))
            for ti, t in enumerate(sorted(ts))
            for i, nm in enumerate(names)
        ],
        "tord int, ord int, tau double, term string, beta double, "
        "n_rows long, iterations int",
    ).orderBy("tord", "ord").drop("tord", "ord")


def _quantile_dist_betas(
    base, xs, d, ts, iterations, ridge_i, eps
) -> dict:
    """The distributed :func:`quantile_train` passes, unchanged —
    split out so the gate reads as one dispatch."""
    # shared OLS init (w = 1): one pass, τ-independent
    terms = {f"_g{j}": xs[j] * F.col("_y") for j in range(d)}
    terms.update(_hess_terms(xs))
    row = exact_pico_sums(base, terms).collect()[0]
    betas = {t: _normal_solve(row, d, ridge_i) for t in ts}
    for _ in range(int(iterations)):
        terms = {}
        for ti, t in enumerate(ts):
            z = F.lit(betas[t][0])
            for j in range(1, d):
                z = z + F.lit(betas[t][j]) * xs[j]
            r = F.col("_y") - z
            w = F.abs(
                F.lit(t) - F.when(r < 0, F.lit(1.0)).otherwise(0.0)
            ) / F.greatest(F.abs(r), F.lit(float(eps)))
            for j in range(d):
                terms[f"_t{ti}_g{j}"] = w * xs[j] * F.col("_y")
            terms.update(_hess_terms(xs, w, f"_t{ti}_"))
        # Near-line rows carry IRLS weights up to w_cap =
        # max(τ,1−τ)/eps, multiplying the per-row pico bound the
        # level-1 long partials are sized for, so derive the
        # sub-bucket count from the cap instead of fixing it:
        # doubling headroom per power of two of w_cap keeps the
        # ≥45× margin of the unit-weight trainers PROVIDED
        # high-weight rows are sparse (only rows within eps of the
        # fitted line approach w_cap — the residual-concentration
        # assumption that pairs with the eps floor above). If a
        # pathological dataset concentrates mass at the line, the
        # pinned ANSI mode (session.py) makes the partial overflow
        # a loud ArithmeticException, never a silent wrap.
        w_cap = max(max(t, 1.0 - t) for t in ts) / float(eps)
        sub_buckets = min(
            1 << 16, max(2048, 1 << (int(w_cap).bit_length() + 1))
        )
        row = exact_pico_sums(
            base, terms, sub_buckets=sub_buckets
        ).collect()[0]
        betas = {
            t: _normal_solve(row, d, ridge_i, f"_t{ti}_")
            for ti, t in enumerate(ts)
        }
    return betas


def _quantile_driver_betas(
    tbl, d: int, ts, iterations: int, ridge_i: int, eps: float
) -> dict:
    """Driver twin of the :func:`quantile_train` passes — identical
    per-row term order (weight-first products, left-associative
    linear predictor), NaN flow (greatest treats NaN as largest),
    HALF_UP pico rounding, exact integer sums, solve, and 12-dp
    rounding. Pure products and comparisons — no transcendentals —
    so the twin is exact by construction."""
    import numpy as np

    from metadata_etl_framework_spark.ops.driver_exact import pico_sum

    y = column_np(tbl, "_y")
    xs = [np.ones_like(y)] + [
        column_np(tbl, f"_x{j}") for j in range(1, d)
    ]
    # ones ARRAY, not a scalar: the distributed terms multiply a
    # per-row F.lit(1.0), so constant-only products (e.g. the h00
    # cell) must still sum over every row

    def _solve_np(w) -> "list[float]":
        sums = {
            f"_g{j}": pico_sum(xs[j] * y if w is None else w * xs[j] * y)
            for j in range(d)
        }
        sums.update((k, pico_sum(t)) for k, t in _hess_terms(xs, w))
        return _normal_solve(sums, d, ridge_i)

    init = _solve_np(None)
    betas = {t: list(init) for t in ts}
    for _ in range(iterations):
        new = {}
        for t in ts:
            z = betas[t][0]
            for j in range(1, d):
                z = z + betas[t][j] * xs[j]
            r = y - z
            ind = np.where(r < 0, np.float64(1.0), np.float64(0.0))
            ar = np.abs(r)
            den = np.maximum(ar, np.float64(eps))
            with np.errstate(invalid="ignore"):
                w = np.abs(np.float64(t) - ind) / den
            new[t] = _solve_np(w)
        betas = new
    return betas
