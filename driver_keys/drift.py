"""Distribution-drift keys: PSI, KS, EMD, chi-square, CvM, binned and
kernel (MMD) drift."""

from __future__ import annotations

from pyspark.sql import functions as F

from driver_keys.common import (
    _DRIFT_CUR,
    _drift_frames,
    _DRIFT_REF,
    _ks_ctes,
    _t,
)
from driver_keys.registry import register


def _drift_psi_price(spark, sf_dir):
    """PSI of l_extendedprice between pre/post-1997 shipments: fixed-width
    bins from the reference half's exact min/max, per-bin terms + total
    (quality/drift.py::psi_numeric — 3 aggs + a tiny join, no sort)."""
    from metadata_etl_framework_spark.quality.drift import psi_numeric

    ref, cur = _drift_frames(spark, sf_dir)
    return psi_numeric(ref, cur, "l_extendedprice", n_bins=10)


def _drift_ks_quantity(spark, sf_dir):
    """Exact two-sample KS statistic on l_quantity via per-value counts +
    the dual distributed prefix scan (no single-task global window)."""
    from metadata_etl_framework_spark.quality.drift import ks_statistic

    ref, cur = _drift_frames(spark, sf_dir)
    return ks_statistic(ref, cur, "l_quantity")


def _drift_ks_binned(spark, sf_dir):
    """Binned KS on l_extendedprice (the 100-TB arm): per-side bucket
    counts over the pooled exact [min, max] — post-scan size O(n_bins)
    at any cardinality — with the provable bracket ks_stat <= D_exact <=
    ks_stat + err_bound (quality/drift.py::ks_statistic n_bins=64)."""
    from metadata_etl_framework_spark.quality.drift import ks_statistic

    ref, cur = _drift_frames(spark, sf_dir)
    return ks_statistic(ref, cur, "l_extendedprice", n_bins=64)


def _drift_emd_binned(spark, sf_dir):
    """Binned Wasserstein-1 on l_extendedprice (the 100-TB arm): O(64)
    post-scan rows at any cardinality, |W1_exact - emd| <= err_bound =
    2*bin_width (quality/drift.py::emd_1d n_bins=64)."""
    from metadata_etl_framework_spark.quality.drift import emd_1d

    ref, cur = _drift_frames(spark, sf_dir)
    return emd_1d(ref, cur, "l_extendedprice", n_bins=64)


def _drift_emd_quantity(spark, sf_dir):
    """Exact 1-D Wasserstein distance on l_quantity: per-value counts +
    dual prefix scan + distributed LEAD (next-partition first value
    piggybacked on the offset collect) — magnitude-aware drift in value
    units (quality/drift.py::emd_1d)."""
    from metadata_etl_framework_spark.quality.drift import emd_1d

    ref, cur = _drift_frames(spark, sf_dir)
    return emd_1d(ref, cur, "l_quantity")


def _drift_psi_by_flag(spark, sf_dir):
    """Per-group PSI: price-distribution stability per l_returnflag
    between the pre/post-1997 halves, all groups in one pass on a shared
    global bin grid (quality/drift.py::psi_by_group)."""
    from metadata_etl_framework_spark.quality.drift import psi_by_group

    ref, cur = _drift_frames(spark, sf_dir)
    return psi_by_group(ref, cur, "l_extendedprice", "l_returnflag")


def _drift_psi_categorical(spark, sf_dir):
    """Categorical PSI on l_linestatus between the pre/post-1997 halves
    (strongly shipdate-correlated, so the drift signal is real):
    per-level terms + total, NULL as its own level
    (quality/drift.py::psi_categorical)."""
    from metadata_etl_framework_spark.quality.drift import psi_categorical

    ref, cur = _drift_frames(spark, sf_dir)
    return psi_categorical(ref, cur, "l_linestatus")


def _drift_chi2_returnflag(spark, sf_dir):
    """Chi-square drift statistic for the l_returnflag categorical."""
    from metadata_etl_framework_spark.quality.drift import (
        chi_square_categorical,
    )

    ref, cur = _drift_frames(spark, sf_dir)
    return chi_square_categorical(ref, cur, "l_returnflag")


def _drift_suite(spark, sf_dir):
    """Tall drift dashboard: PSI + KS for two numerics, chi-square for two
    categoricals, one row per (column, metric)."""
    from metadata_etl_framework_spark.quality.drift import drift_suite

    ref, cur = _drift_frames(spark, sf_dir)
    # release=False: keep the LAZY plan so the driver/bench/plan-audit
    # see the real suite shape (library default eagerly frees caches)
    return drift_suite(
        ref,
        cur,
        numeric_cols=["l_quantity", "l_extendedprice"],
        categorical_cols=["l_returnflag", "l_linestatus"],
        release=False,
    )


def _drift_qq_deciles(spark, sf_dir):
    """QQ drift table (quality/drift.py::qq_table): both snapshots'
    exact deciles side by side with abs/relative diffs — WHERE the
    drift lives, each side on the scale-safe prefix-scan quantiles."""
    from metadata_etl_framework_spark.quality.drift import qq_table

    ref, cur = _drift_frames(spark, sf_dir)
    return qq_table(ref, cur, "l_extendedprice")


def _drift_ks_significance(spark, sf_dir):
    """KS + asymptotic two-sided p-value (quality/drift.py::
    ks_significance): fixed 20-term Kolmogorov series over
    λ = (√n_e + 0.12 + 0.11/√n_e)·D — 'is the drift real or sampling
    noise', deterministically replayable."""
    from metadata_etl_framework_spark.quality.drift import ks_significance

    ref, cur = _drift_frames(spark, sf_dir)
    return ks_significance(ref, cur, "l_quantity")


def _drift_suite_forced_binned(spark, sf_dir):
    """drift_suite with the approx-distinct gate forced to 0 — the arm
    every numeric column takes at 100-TB cardinalities (ONE joint
    groupBy on (psi_bin, ks_bin), post-scan size O(n_bins·ks_bins)).
    PSI is bit-identical to the exact arm (bin-defined); KS carries the
    provable err_bound bracket. Benched per round so the scale path's
    cost is tracked, not just its correctness (r7 verdict item 6)."""
    from metadata_etl_framework_spark.quality.drift import drift_suite

    ref, cur = _drift_frames(spark, sf_dir)
    return drift_suite(
        ref,
        cur,
        numeric_cols=["l_quantity", "l_extendedprice"],
        categorical_cols=["l_returnflag", "l_linestatus"],
        ks_exact_max_distinct=0,
        release=False,
    )


def _drift_psi_by_week(spark, sf_dir):
    """Temporal drift monitor: weekly PSI of the events value stream vs
    the previous week on a global bin grid
    (quality/drift.py::psi_by_period) — one groupBy(period, bin) is the
    only row-scale shuffle."""
    from metadata_etl_framework_spark.quality.drift import psi_by_period

    ev = _t(spark, sf_dir, "events")
    return psi_by_period(ev, "ts", "value", period="week")


def _drift_mmd_embeddings(spark, sf_dir):
    """Kernel two-sample drift between the even/odd embedding halves
    (quality/drift.py::embedding_mmd_rff): RBF-kernel MMD² via
    deterministic random Fourier features — 8 integer-recurrence
    planes (det_hyperplanes_mixed) + recurrence phase offsets, exact
    DECIMAL plane dots, pico-int cosine-feature sums, 10-dp DECIMAL
    cross-feature total — ONE aggregation pass over both snapshots,
    no pairs formed (the linear-time arm where exact quadratic MMD is
    hopeless at corpus scale). The oracle regenerates the planes and
    replays every feature mean bit-exactly."""
    from metadata_etl_framework_spark.quality.drift import (
        embedding_mmd_rff,
    )

    emb = _t(spark, sf_dir, "embeddings")
    return embedding_mmd_rff(
        emb.where(F.col("vec_id") % 2 == 0),
        emb.where(F.col("vec_id") % 2 == 1),
        n_features=8,
    )


def _psi_ctes(col: str) -> str:
    return f"""
        ref AS (SELECT CAST({col} AS DOUBLE) AS x FROM lineitem WHERE {_DRIFT_REF}),
        cur AS (SELECT CAST({col} AS DOUBLE) AS x FROM lineitem WHERE {_DRIFT_CUR}),
        edges AS (SELECT MIN(x) AS mn, MAX(x) AS mx FROM ref),
        rb AS (
          SELECT CASE WHEN x < mn THEN -1
                      WHEN x > mx THEN 10
                      WHEN mx = mn THEN 0
                      ELSE LEAST(CAST(FLOOR((x - mn) / ((mx - mn) / 10.0)) AS INT), 9)
                 END AS bin, COUNT(*) AS ref_cnt
          FROM ref, edges WHERE x IS NOT NULL GROUP BY 1),
        cb AS (
          SELECT CASE WHEN x < mn THEN -1
                      WHEN x > mx THEN 10
                      WHEN mx = mn THEN 0
                      ELSE LEAST(CAST(FLOOR((x - mn) / ((mx - mn) / 10.0)) AS INT), 9)
                 END AS bin, COUNT(*) AS cur_cnt
          FROM cur, edges WHERE x IS NOT NULL GROUP BY 1),
        j AS (SELECT COALESCE(rb.bin, cb.bin) AS bin,
                     COALESCE(ref_cnt, 0) AS ref_cnt,
                     COALESCE(cur_cnt, 0) AS cur_cnt
              FROM rb FULL OUTER JOIN cb ON rb.bin = cb.bin),
        t AS (SELECT SUM(ref_cnt) AS n_ref, SUM(cur_cnt) AS n_cur FROM j),
        terms AS (SELECT bin,
                         ROUND(ref_cnt / n_ref, 6) AS ref_frac,
                         ROUND(cur_cnt / n_cur, 6) AS cur_frac,
                         ROUND((cur_cnt / n_cur - ref_cnt / n_ref)
                               * LN(GREATEST(cur_cnt / n_cur, 0.000001)
                                    / GREATEST(ref_cnt / n_ref, 0.000001)),
                               6) AS psi_term
                  FROM j, t)
    """


def _ks_binned_ctes(col: str, nb: int) -> str:
    """Binned-KS CTEs replaying quality/drift.py::_drift_numeric_binned's
    KS half: both sides bucketed over the POOLED exact [min, max] into
    ``nb`` fixed-width bins, prefix sums over binned counts."""
    return f"""
        ref AS (SELECT CAST({col} AS DOUBLE) AS x FROM lineitem WHERE {_DRIFT_REF}),
        cur AS (SELECT CAST({col} AS DOUBLE) AS x FROM lineitem WHERE {_DRIFT_CUR}),
        tagged AS (SELECT x AS v, 1 AS is_ref FROM ref WHERE x IS NOT NULL
                   UNION ALL
                   SELECT x AS v, 0 AS is_ref FROM cur WHERE x IS NOT NULL),
        pe AS (SELECT MIN(v) AS pmn, MAX(v) AS pmx FROM tagged),
        b AS (SELECT CASE WHEN pmx = pmn THEN 0
                     ELSE LEAST(CAST(FLOOR((v - pmn)
                          / ((pmx - pmn) / {nb}.0)) AS INT), {nb - 1})
                     END AS bin,
                     SUM(is_ref) AS rc, SUM(1 - is_ref) AS cc
              FROM tagged, pe GROUP BY 1),
        t AS (SELECT SUM(rc) AS n_ref, SUM(cc) AS n_cur FROM b),
        s AS (SELECT rc, cc, SUM(rc) OVER (ORDER BY bin) AS ca,
                     SUM(cc) OVER (ORDER BY bin) AS cb FROM b)
    """


def _ks_pvalue_sql() -> str:
    """DuckDB replay of ks_significance: _ks_ctes exact KS + the SAME
    fixed 20-term Kolmogorov series with identical literal coefficients
    and left-associative arithmetic."""
    terms = " + ".join(
        f"({float((-1) ** (j - 1)) * 2.0!r}) * "
        f"EXP(({-2.0 * j * j!r}) * lam * lam)"
        for j in range(1, 21)
    )
    return f"""
        WITH {_ks_ctes('l_quantity')},
        k AS (SELECT ROUND(MAX(ABS(ca / n_ref - cb / n_cur)), 6) AS ks_stat,
                     CAST(n_ref AS BIGINT) AS n_ref,
                     CAST(n_cur AS BIGINT) AS n_cur
              FROM s, t GROUP BY n_ref, n_cur),
        l AS (SELECT *,
                     (SQRT(n_ref * n_cur / (n_ref + n_cur)) + 0.12
                      + 0.11 / SQRT(n_ref * n_cur / (n_ref + n_cur)))
                     * ks_stat AS lam
              FROM k)
        SELECT ks_stat, n_ref, n_cur,
               ROUND(CASE WHEN lam < 0.1 THEN 1.0
                          ELSE LEAST(1.0, GREATEST(0.0, {terms}))
                     END, 6) AS p_value,
               ROUND(lam, 6) AS lambda
        FROM l
    """


def _chi2_ctes(col: str) -> str:
    return f"""
        tagged AS (
          SELECT CAST({col} AS VARCHAR) AS cat, 1 AS is_ref
          FROM lineitem WHERE {_DRIFT_REF}
          UNION ALL
          SELECT CAST({col} AS VARCHAR) AS cat, 0 AS is_ref
          FROM lineitem WHERE {_DRIFT_CUR}),
        counts AS (SELECT cat, SUM(is_ref) AS rc, SUM(1 - is_ref) AS cc
                   FROM tagged GROUP BY cat),
        t AS (SELECT SUM(rc) AS n_ref, SUM(cc) AS n_cur FROM counts),
        terms AS (SELECT ROUND(
            POWER(rc - (rc + cc) * n_ref / (n_ref + n_cur), 2)
              / ((rc + cc) * n_ref / (n_ref + n_cur))
          + POWER(cc - (rc + cc) * n_cur / (n_ref + n_cur), 2)
              / ((rc + cc) * n_cur / (n_ref + n_cur)), 6) AS term
          FROM counts, t)
    """


_KS_SELECT = """
        SELECT ROUND(MAX(ABS(ca / n_ref - cb / n_cur)), 6) AS ks_stat,
               CAST(n_ref AS BIGINT) AS n_ref, CAST(n_cur AS BIGINT) AS n_cur
        FROM s, t GROUP BY n_ref, n_cur
"""


register("drift_psi_price", build=_drift_psi_price, oracle=f"""
            WITH {_psi_ctes('l_extendedprice')}
            SELECT bin, ref_frac, cur_frac, psi_term,
                   (SELECT ROUND(SUM(psi_term), 6) FROM terms) AS psi_total
            FROM terms
        """)

register("drift_ks_quantity", build=_drift_ks_quantity, oracle=f"""
            WITH {_ks_ctes('l_quantity')}
            {_KS_SELECT}
        """)

register("drift_emd_binned", build=_drift_emd_binned, tags=("headline",), oracle=f"""
            WITH ref AS (SELECT CAST(l_extendedprice AS DOUBLE) AS x
                         FROM lineitem WHERE {_DRIFT_REF}),
            cur AS (SELECT CAST(l_extendedprice AS DOUBLE) AS x
                    FROM lineitem WHERE {_DRIFT_CUR}),
            tagged AS (SELECT x AS v, 1 AS is_ref FROM ref
                       WHERE x IS NOT NULL
                       UNION ALL
                       SELECT x AS v, 0 AS is_ref FROM cur
                       WHERE x IS NOT NULL),
            pe AS (SELECT MIN(v) AS pmn, MAX(v) AS pmx FROM tagged),
            b AS (SELECT CASE WHEN pmx = pmn THEN 0
                         ELSE LEAST(CAST(FLOOR((v - pmn)
                              / ((pmx - pmn) / 64.0)) AS INT), 63)
                         END AS bin,
                         SUM(is_ref) AS rc, SUM(1 - is_ref) AS cc,
                         FIRST((pmx - pmn) / 64.0) AS w
                  FROM tagged, pe GROUP BY 1),
            t AS (SELECT SUM(rc) AS n_ref, SUM(cc) AS n_cur FROM b),
            s AS (SELECT bin, rc, cc, w,
                         SUM(rc) OVER (ORDER BY bin) AS ca,
                         SUM(cc) OVER (ORDER BY bin) AS cb,
                         LEAD(bin) OVER (ORDER BY bin) AS nb FROM b)
            SELECT ROUND(CAST(SUM(CAST(ABS(ca / n_ref - cb / n_cur) * w
                              * (nb - bin) AS DECIMAL(28,12)))
                         AS DOUBLE), 6) AS emd,
                   CAST(n_ref AS BIGINT) AS n_ref,
                   CAST(n_cur AS BIGINT) AS n_cur,
                   ROUND(MAX(w) * 2, 6) AS err_bound
            FROM s, t WHERE nb IS NOT NULL GROUP BY n_ref, n_cur
        """)

register("drift_ks_binned", build=_drift_ks_binned, tags=("headline",), oracle=f"""
            WITH ref AS (SELECT CAST(l_extendedprice AS DOUBLE) AS x
                         FROM lineitem WHERE {_DRIFT_REF}),
            cur AS (SELECT CAST(l_extendedprice AS DOUBLE) AS x
                    FROM lineitem WHERE {_DRIFT_CUR}),
            tagged AS (SELECT x AS v, 1 AS is_ref FROM ref
                       WHERE x IS NOT NULL
                       UNION ALL
                       SELECT x AS v, 0 AS is_ref FROM cur
                       WHERE x IS NOT NULL),
            pe AS (SELECT MIN(v) AS pmn, MAX(v) AS pmx FROM tagged),
            b AS (SELECT CASE WHEN pmx = pmn THEN 0
                         ELSE LEAST(CAST(FLOOR((v - pmn)
                              / ((pmx - pmn) / 64.0)) AS INT), 63)
                         END AS bin,
                         SUM(is_ref) AS rc, SUM(1 - is_ref) AS cc
                  FROM tagged, pe GROUP BY 1),
            t AS (SELECT SUM(rc) AS n_ref, SUM(cc) AS n_cur FROM b),
            s AS (SELECT rc, cc, SUM(rc) OVER (ORDER BY bin) AS ca,
                         SUM(cc) OVER (ORDER BY bin) AS cb FROM b)
            SELECT ROUND(MAX(ABS(ca / n_ref - cb / n_cur)), 6) AS ks_stat,
                   CAST(n_ref AS BIGINT) AS n_ref,
                   CAST(n_cur AS BIGINT) AS n_cur,
                   ROUND(MAX(GREATEST(rc / n_ref, cc / n_cur)), 6)
                     AS err_bound
            FROM s, t GROUP BY n_ref, n_cur
        """)

register("drift_psi_by_flag", build=_drift_psi_by_flag, oracle=f"""
            WITH ref AS (SELECT l_returnflag AS g,
                                CAST(l_extendedprice AS DOUBLE) AS x
                         FROM lineitem WHERE {_DRIFT_REF}),
            cur AS (SELECT l_returnflag AS g,
                           CAST(l_extendedprice AS DOUBLE) AS x
                    FROM lineitem WHERE {_DRIFT_CUR}),
            edges AS (SELECT MIN(x) AS mn, MAX(x) AS mx FROM ref),
            rb AS (SELECT g,
                          CASE WHEN x < mn THEN -1
                               WHEN x > mx THEN 10
                               WHEN mx = mn THEN 0
                               ELSE LEAST(CAST(FLOOR((x - mn)
                                    / ((mx - mn) / 10.0)) AS INT), 9)
                          END AS bin, COUNT(*) AS rc
                   FROM ref, edges WHERE x IS NOT NULL GROUP BY 1, 2),
            cb AS (SELECT g,
                          CASE WHEN x < mn THEN -1
                               WHEN x > mx THEN 10
                               WHEN mx = mn THEN 0
                               ELSE LEAST(CAST(FLOOR((x - mn)
                                    / ((mx - mn) / 10.0)) AS INT), 9)
                          END AS bin, COUNT(*) AS cc
                   FROM cur, edges WHERE x IS NOT NULL GROUP BY 1, 2),
            j AS (SELECT COALESCE(rb.g, cb.g) AS g,
                         COALESCE(rb.bin, cb.bin) AS bin,
                         COALESCE(rc, 0) AS rc, COALESCE(cc, 0) AS cc
                  FROM rb FULL OUTER JOIN cb
                    ON rb.g = cb.g AND rb.bin = cb.bin),
            t AS (SELECT g, SUM(rc) AS n_ref, SUM(cc) AS n_cur
                  FROM j GROUP BY g),
            terms AS (SELECT j.g, t.n_ref, t.n_cur,
                ROUND((CASE WHEN n_cur > 0 THEN cc / n_cur ELSE 0.0 END
                       - CASE WHEN n_ref > 0 THEN rc / n_ref ELSE 0.0 END)
                      * LN(GREATEST(CASE WHEN n_cur > 0 THEN cc / n_cur
                                         ELSE 0.0 END, 0.000001)
                           / GREATEST(CASE WHEN n_ref > 0 THEN rc / n_ref
                                           ELSE 0.0 END, 0.000001)),
                      6) AS term
                FROM j JOIN t ON j.g = t.g)
            SELECT g AS l_returnflag, ROUND(SUM(term), 6) AS psi,
                   CAST(n_ref AS BIGINT) AS n_ref,
                   CAST(n_cur AS BIGINT) AS n_cur
            FROM terms GROUP BY g, n_ref, n_cur
        """)

register(
    "drift_emd_quantity", build=_drift_emd_quantity, tags=("headline",),
    oracle=f"""
            WITH {_ks_ctes('l_quantity')},
            s2 AS (SELECT v,
                          SUM(rc) OVER (ORDER BY v) AS ca,
                          SUM(cc) OVER (ORDER BY v) AS cb,
                          LEAD(v) OVER (ORDER BY v) AS nv
                   FROM m)
            SELECT ROUND(CAST(SUM(CAST(ABS(ca / n_ref - cb / n_cur)
                                        * (nv - v) AS DECIMAL(28,12)))
                              AS DOUBLE), 6) AS emd,
                   CAST(n_ref AS BIGINT) AS n_ref,
                   CAST(n_cur AS BIGINT) AS n_cur
            FROM s2, t WHERE nv IS NOT NULL GROUP BY n_ref, n_cur
        """,
)

register("drift_chi2_returnflag", build=_drift_chi2_returnflag, oracle=f"""
            WITH {_chi2_ctes('l_returnflag')}
            SELECT ROUND(SUM(term), 6) AS chi2,
                   CAST(COUNT(*) - 1 AS INT) AS dof,
                   CAST(COUNT(*) AS INT) AS n_categories
            FROM terms
        """)

register("drift_suite", build=_drift_suite, tags=("headline",), oracle=f"""
            SELECT 'l_quantity' AS "column", 'psi' AS metric,
                   (WITH {_psi_ctes('l_quantity')}
                    SELECT ROUND(SUM(psi_term), 6) FROM terms) AS value
            UNION ALL
            SELECT 'l_quantity', 'ks',
                   (WITH {_ks_ctes('l_quantity')}
                    SELECT ROUND(MAX(ABS(ca / n_ref - cb / n_cur)), 6)
                    FROM s, t)
            UNION ALL
            SELECT 'l_extendedprice', 'psi',
                   (WITH {_psi_ctes('l_extendedprice')}
                    SELECT ROUND(SUM(psi_term), 6) FROM terms)
            UNION ALL
            SELECT 'l_extendedprice', 'ks',
                   (WITH {_ks_ctes('l_extendedprice')}
                    SELECT ROUND(MAX(ABS(ca / n_ref - cb / n_cur)), 6)
                    FROM s, t)
            UNION ALL
            SELECT 'l_returnflag', 'chi2',
                   (WITH {_chi2_ctes('l_returnflag')}
                    SELECT ROUND(SUM(term), 6) FROM terms)
            UNION ALL
            SELECT 'l_linestatus', 'chi2',
                   (WITH {_chi2_ctes('l_linestatus')}
                    SELECT ROUND(SUM(term), 6) FROM terms)
        """)

register("drift_ks_significance", build=_drift_ks_significance, oracle=_ks_pvalue_sql())

register("drift_qq_deciles", build=_drift_qq_deciles, oracle=f"""
            WITH ref AS (SELECT CAST(l_extendedprice AS DOUBLE) AS x
                         FROM lineitem WHERE {_DRIFT_REF}),
            cur AS (SELECT CAST(l_extendedprice AS DOUBLE) AS x
                    FROM lineitem WHERE {_DRIFT_CUR}),
            rq0 AS (SELECT quantile_cont(x, [0.1,0.2,0.3,0.4,0.5,
                                             0.6,0.7,0.8,0.9]) AS vs
                    FROM ref),
            rq AS (SELECT UNNEST([0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9]) AS p,
                          ROUND(UNNEST(vs), 6) AS ref_value
                   FROM rq0),
            cq0 AS (SELECT quantile_cont(x, [0.1,0.2,0.3,0.4,0.5,
                                             0.6,0.7,0.8,0.9]) AS vs
                    FROM cur),
            cq AS (SELECT UNNEST([0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9]) AS p,
                          ROUND(UNNEST(vs), 6) AS cur_value
                   FROM cq0)
            SELECT rq.p, ref_value, cur_value,
                   ROUND(cur_value - ref_value, 6) AS diff,
                   ROUND(CASE WHEN ref_value <> 0
                              THEN (cur_value - ref_value) / ref_value
                         END, 6) AS rel_diff
            FROM rq JOIN cq ON rq.p = cq.p
            ORDER BY rq.p
        """)

# the gate-forced binned arm: PSI identical to the exact suite
# (bin-defined), KS over ks_bins=1000 pooled-edge buckets plus
# its err_bound bracket row, chi2 unchanged
register(
    "drift_suite_forced_binned", build=_drift_suite_forced_binned, tags=("headline",),
    oracle=f"""
            SELECT 'l_quantity' AS "column", 'psi' AS metric,
                   (WITH {_psi_ctes('l_quantity')}
                    SELECT ROUND(SUM(psi_term), 6) FROM terms) AS value
            UNION ALL
            SELECT 'l_quantity', 'ks',
                   (WITH {_ks_binned_ctes('l_quantity', 1000)}
                    SELECT ROUND(MAX(ABS(ca / n_ref - cb / n_cur)), 6)
                    FROM s, t)
            UNION ALL
            SELECT 'l_quantity', 'ks_err_bound',
                   (WITH {_ks_binned_ctes('l_quantity', 1000)}
                    SELECT ROUND(MAX(GREATEST(rc / n_ref, cc / n_cur)), 6)
                    FROM s, t)
            UNION ALL
            SELECT 'l_extendedprice', 'psi',
                   (WITH {_psi_ctes('l_extendedprice')}
                    SELECT ROUND(SUM(psi_term), 6) FROM terms)
            UNION ALL
            SELECT 'l_extendedprice', 'ks',
                   (WITH {_ks_binned_ctes('l_extendedprice', 1000)}
                    SELECT ROUND(MAX(ABS(ca / n_ref - cb / n_cur)), 6)
                    FROM s, t)
            UNION ALL
            SELECT 'l_extendedprice', 'ks_err_bound',
                   (WITH {_ks_binned_ctes('l_extendedprice', 1000)}
                    SELECT ROUND(MAX(GREATEST(rc / n_ref, cc / n_cur)), 6)
                    FROM s, t)
            UNION ALL
            SELECT 'l_returnflag', 'chi2',
                   (WITH {_chi2_ctes('l_returnflag')}
                    SELECT ROUND(SUM(term), 6) FROM terms)
            UNION ALL
            SELECT 'l_linestatus', 'chi2',
                   (WITH {_chi2_ctes('l_linestatus')}
                    SELECT ROUND(SUM(term), 6) FROM terms)
        """,
)

register("drift_psi_categorical", build=_drift_psi_categorical, oracle=f"""
            WITH tagged AS (
              SELECT CAST(l_linestatus AS VARCHAR) AS category, 1 AS is_ref
              FROM lineitem WHERE {_DRIFT_REF}
              UNION ALL
              SELECT CAST(l_linestatus AS VARCHAR) AS category, 0 AS is_ref
              FROM lineitem WHERE {_DRIFT_CUR}),
            counts AS (SELECT category, SUM(is_ref) AS rc,
                              SUM(1 - is_ref) AS cc
                       FROM tagged GROUP BY category),
            t AS (SELECT SUM(rc) AS n_ref, SUM(cc) AS n_cur FROM counts),
            terms AS (SELECT category,
                ROUND(rc / n_ref, 6) AS ref_frac,
                ROUND(cc / n_cur, 6) AS cur_frac,
                ROUND((cc / n_cur - rc / n_ref)
                      * LN(GREATEST(cc / n_cur, 0.000001)
                           / GREATEST(rc / n_ref, 0.000001)), 6) AS psi_term
              FROM counts, t)
            SELECT category, ref_frac, cur_frac, psi_term,
                   (SELECT ROUND(SUM(psi_term), 6) FROM terms) AS psi_total
            FROM terms
        """)

register("drift_psi_by_week", build=_drift_psi_by_week, oracle=r"""
            WITH d AS (
              SELECT DATE_TRUNC('week', ts) AS period,
                     CAST(value AS DOUBLE) AS x
              FROM events WHERE ts IS NOT NULL AND value IS NOT NULL),
            edges AS (SELECT MIN(x) AS mn, MAX(x) AS mx FROM d),
            counts AS (
              SELECT period,
                     CASE WHEN mx = mn THEN 0
                          ELSE LEAST(CAST(FLOOR((x - mn) / ((mx - mn) / 10.0))
                                          AS INT), 9)
                     END AS bin,
                     COUNT(*) AS c
              FROM d, edges GROUP BY 1, 2),
            periods AS (
              SELECT period, CAST(SUM(c) AS BIGINT) AS n,
                     ROW_NUMBER() OVER (ORDER BY period) AS idx
              FROM counts GROUP BY period),
            bins AS (SELECT UNNEST(GENERATE_SERIES(0, 9)) AS bin),
            grid AS (SELECT p.period, p.idx, p.n, b.bin
                     FROM periods p CROSS JOIN bins b),
            fr AS (SELECT g.period, g.idx, g.n, g.bin,
                          COALESCE(c.c, 0) / g.n AS f
                   FROM grid g LEFT JOIN counts c
                     ON c.period = g.period AND c.bin = g.bin),
            pairs AS (
              SELECT cur.period AS period, cur.n AS n,
                     ROUND((cur.f - prev.f)
                           * LN(GREATEST(cur.f, 0.000001)
                                / GREATEST(prev.f, 0.000001)), 6) AS term
              FROM fr cur JOIN fr prev
                ON cur.idx = prev.idx + 1 AND cur.bin = prev.bin)
            SELECT period, ROUND(SUM(term), 6) AS psi_vs_prev,
                   CAST(n AS BIGINT) AS n_rows
            FROM pairs GROUP BY period, n
        """)

register(
    "drift_mmd_embeddings", build=_drift_mmd_embeddings, tags=("headline",),
    oracle="""
            WITH planes AS (
              SELECT i.i AS pi,
                     LIST_TRANSFORM(RANGE(0, 64), j ->
                         ((((i.i + 1) * (j + 13) * (j + 13)
                            * 2654435761 + i.i * 97) % 65521)
                          / 65521.0) * 2 - 1) AS plane,
                     6.283185307179586
                       * (((i.i * 7919 + 104729) % 65521)
                          / 65521.0) AS b
              FROM (SELECT UNNEST(RANGE(0, 8)) AS i) i),
            tagged AS (
              SELECT vec_id, embedding,
                     CASE WHEN vec_id % 2 = 0 THEN 0 ELSE 1 END AS side
              FROM embeddings WHERE embedding IS NOT NULL),
            counts AS (
              SELECT SUM(CASE WHEN side = 0 THEN 1 ELSE 0 END) AS nr,
                     SUM(CASE WHEN side = 1 THEN 1 ELSE 0 END) AS nc
              FROM tagged),
            prod AS (
              SELECT t.side, t.vec_id, p.pi, p.b,
                     UNNEST(t.embedding) AS a, UNNEST(p.plane) AS w
              FROM tagged t, planes p),
            dots AS (
              SELECT side, vec_id, pi, ANY_VALUE(b) AS b,
                     CAST(SUM(CAST(CAST(a AS DOUBLE)
                                   * CAST(w AS DOUBLE)
                                   AS DECIMAL(30,15))) AS DOUBLE)
                       AS dot
              FROM prod GROUP BY side, vec_id, pi),
            feats AS (
              SELECT side, pi,
                     CAST(ROUND(COS(dot / 1.0 + b)
                          * 1000000000000.0, 0) AS HUGEINT) AS zp
              FROM dots),
            sums AS (
              SELECT pi,
                     SUM(CASE WHEN side = 0 THEN zp END) AS r,
                     SUM(CASE WHEN side = 1 THEN zp END) AS c
              FROM feats GROUP BY pi),
            terms AS (
              SELECT SUM(CAST(ROUND(
                         ((CAST(r AS DOUBLE) / 1000000000000.0 / nr)
                          - (CAST(c AS DOUBLE) / 1000000000000.0 / nc))
                         * ((CAST(r AS DOUBLE) / 1000000000000.0 / nr)
                            - (CAST(c AS DOUBLE)
                               / 1000000000000.0 / nc)), 10)
                         AS DECIMAL(28,10))) AS t
              FROM sums, counts)
            SELECT CAST(nr AS BIGINT) AS n_ref,
                   CAST(nc AS BIGINT) AS n_cur,
                   CAST(8 AS INT) AS n_features,
                   CASE WHEN nr > 0 AND nc > 0 THEN
                     ROUND(2.0 / 8.0 * CAST(t AS DOUBLE), 6) END
                       AS mmd2,
                   CASE WHEN nr > 0 AND nc > 0 THEN
                     ROUND(SQRT(GREATEST(
                         2.0 / 8.0 * CAST(t AS DOUBLE), 0.0)), 6) END
                       AS mmd
            FROM terms, counts
        """,
)


def _drift_cvm_quantity(spark, sf_dir):
    """Two-sample Cramér–von Mises criterion on l_quantity across the
    1997 ship-date split (quality/drift.py::cvm_statistic): the
    integrated-gap companion to KS on the same dual prefix scan."""
    from metadata_etl_framework_spark.quality.drift import cvm_statistic

    ref, cur = _drift_frames(spark, sf_dir)
    return cvm_statistic(ref, cur, "l_quantity")


register(
    "drift_cvm_quantity", build=_drift_cvm_quantity, tags=("headline",),
    oracle=f"""
            WITH
            ref AS (SELECT CAST(l_quantity AS DOUBLE) AS x
                    FROM lineitem WHERE {_DRIFT_REF}),
            cur AS (SELECT CAST(l_quantity AS DOUBLE) AS x
                    FROM lineitem WHERE {_DRIFT_CUR}),
            r AS (SELECT x AS v, COUNT(*) AS rc FROM ref
                  WHERE x IS NOT NULL GROUP BY 1),
            c AS (SELECT x AS v, COUNT(*) AS cc FROM cur
                  WHERE x IS NOT NULL GROUP BY 1),
            m AS (SELECT COALESCE(r.v, c.v) AS v,
                         COALESCE(rc, 0) AS rc, COALESCE(cc, 0) AS cc
                  FROM r FULL OUTER JOIN c ON r.v = c.v),
            t AS (SELECT SUM(rc) AS n_ref, SUM(cc) AS n_cur FROM m),
            s AS (SELECT rc, cc,
                         SUM(rc) OVER (ORDER BY v) AS ca,
                         SUM(cc) OVER (ORDER BY v) AS cb
                  FROM m),
            terms AS (SELECT CAST(ROUND((rc + cc)
                               * (ca / n_ref - cb / n_cur)
                               * (ca / n_ref - cb / n_cur), 12)
                               AS DECIMAL(28,12)) AS tt,
                             n_ref, n_cur
                      FROM s, t),
            agg AS (SELECT MIN(n_ref) AS n1, MIN(n_cur) AS n2,
                           SUM(tt) AS ssum
                    FROM terms)
            SELECT ROUND(CAST(n1 AS DOUBLE) * n2
                         / ((CAST(n1 AS DOUBLE) + n2)
                            * (CAST(n1 AS DOUBLE) + n2))
                         * CAST(ssum AS DOUBLE), 6) AS cvm_stat,
                   CAST(n1 AS BIGINT) AS n_ref,
                   CAST(n2 AS BIGINT) AS n_cur,
                   ROUND(CAST(n1 AS DOUBLE) * n2
                         / ((CAST(n1 AS DOUBLE) + n2)
                            * (CAST(n1 AS DOUBLE) + n2))
                         * CAST(ssum AS DOUBLE), 6) > 0.461 AS drift_05,
                   ROUND(CAST(n1 AS DOUBLE) * n2
                         / ((CAST(n1 AS DOUBLE) + n2)
                            * (CAST(n1 AS DOUBLE) + n2))
                         * CAST(ssum AS DOUBLE), 6) > 0.743 AS drift_01
            FROM agg
        """,
)
