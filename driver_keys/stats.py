"""Statistics keys: distributions, correlation, hypothesis tests, features
and GLMs."""

from __future__ import annotations

from pyspark.sql import functions as F

from metadata_etl_framework_spark.operators import TransformEngine

from driver_keys.common import (
    _drift_frames,
    _hash32_cte_sql,
    _ks_ctes,
    _normal_sf_sql,
    _t,
)
from driver_keys.registry import register


def _dist_gini_totalprice(spark, sf_dir):
    """Exact Gini concentration of order value: per-value counts + the
    distributed prefix scan for cumulative ranks — no full sort, no
    single-task window (functions/aggregations.py::gini_coefficient)."""
    from metadata_etl_framework_spark.functions.aggregations import (
        gini_coefficient,
    )

    return gini_coefficient(_t(spark, sf_dir, "orders"), "o_totalprice")


_CORR_COLS = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]


def _corr_matrix_lineitem(spark, sf_dir):
    """All-pairs Pearson correlation of four lineitem measures in ONE
    scan (functions/aggregations.py::corr_matrix, fast arm): k(k−1)/2
    native co-moment aggregates, whole-stage codegen — measured ~50×
    cheaper than the decimal-exact arm, 6 dp output verified
    partition-shape-stable and bit-equal to DuckDB CORR at every SF."""
    from metadata_etl_framework_spark.functions.aggregations import (
        corr_matrix,
    )

    return corr_matrix(_t(spark, sf_dir, "lineitem"), _CORR_COLS)


def _trend_ols_by_flag(spark, sf_dir):
    """Per-group OLS trend (functions/aggregations.py::groupwise_ols):
    price-vs-quantity slope/intercept/r² per returnflag from one pass of
    decimal sufficient statistics — the per-slice metric-trend monitor."""
    from metadata_etl_framework_spark.functions.aggregations import (
        groupwise_ols,
    )

    li = _t(spark, sf_dir, "lineitem")
    return groupwise_ols(
        li, ["l_returnflag"], "l_quantity", "l_extendedprice"
    )


def _dist_lorenz_price(spark, sf_dir):
    """Lorenz-curve points of order value (functions/aggregations.py::
    lorenz_curve): what share of total spend the bottom p of orders
    holds — the concentration table behind the Gini number, on the
    dual prefix scan."""
    from metadata_etl_framework_spark.functions.aggregations import (
        lorenz_curve,
    )

    return lorenz_curve(_t(spark, sf_dir, "orders"), "o_totalprice")


def _dist_gini_by_source(spark, sf_dir):
    """Per-source Gini of document length (functions/aggregations.py::
    gini_by_group): which sources are dominated by a few huge
    documents — within-group ranks from a group-partitioned window,
    decimal rank·value sums."""
    from metadata_etl_framework_spark.functions.aggregations import (
        gini_by_group,
    )

    return gini_by_group(
        _t(spark, sf_dir, "documents"), ["source"], "n_chars"
    )


def _dist_weighted_median(spark, sf_dir):
    """Exact weighted quantiles of price, weighted by quantity
    (functions/aggregations.py::weighted_quantile): per-value weight
    totals + the DECIMAL prefix scan — the lower weighted-quantile
    definition, no single-task buffer."""
    from metadata_etl_framework_spark.functions.aggregations import (
        weighted_quantile,
    )

    return weighted_quantile(
        _t(spark, sf_dir, "lineitem"),
        "l_extendedprice",
        "l_quantity",
        (0.25, 0.5, 0.75),
    )


def _corr_matrix_sql() -> str:
    """DuckDB replay of corr_matrix's fast arm: native CORR (verified
    6dp-bit-equal to Spark's co-moment aggregate across partitionings
    and scale factors) + per-pair non-null counts, from one scan."""
    cols = _CORR_COLS
    pairs = [
        (cols[i], cols[j])
        for i in range(len(cols))
        for j in range(i + 1, len(cols))
    ]
    stats, sels = [], []
    for i, (a, b) in enumerate(pairs):
        cond = f"{a} IS NOT NULL AND {b} IS NOT NULL"
        stats.append(f"ROUND(CORR({a}, {b}), 6) AS c{i}")
        stats.append(f"COUNT(CASE WHEN {cond} THEN 1 END) AS n{i}")
        sels.append(
            f"SELECT '{a}' AS col_x, '{b}' AS col_y, c{i} AS corr, "
            f"CAST(n{i} AS BIGINT) AS n_pairs FROM s"
        )
    return (
        "WITH s AS (SELECT " + ", ".join(stats) + " FROM lineitem) "
        + " UNION ALL ".join(sels)
    )


def _corr_qty_price(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return li.agg(F.round(F.corr("l_quantity", "l_extendedprice"), 6).alias("corr"))


def _dist_histogram2d(spark, sf_dir):
    """2-D fixed-width histogram of quantity × price (functions/
    aggregations.py::histogram2d): one bounds aggregate broadcast, one
    (x_bin, y_bin) groupBy — post-scan ≤ nx·ny cells at any row
    count."""
    from metadata_etl_framework_spark.functions.aggregations import (
        histogram2d,
    )

    return histogram2d(
        _t(spark, sf_dir, "lineitem"), "l_quantity", "l_extendedprice",
        nx=10, ny=10,
    )


def _orders_binary_target(spark, sf_dir):
    # deterministic binary target for the feature-encoding entries:
    # y = 1 iff the order is fulfilled ('F'); NULL status -> NULL y
    # (exercises the target-NULL exclusion path)
    return _t(spark, sf_dir, "orders").withColumn(
        "y",
        F.when(
            F.col("o_orderstatus").isNotNull(),
            (F.col("o_orderstatus") == "F").cast("int"),
        ),
    )


def _feat_target_encoding_orders(spark, sf_dir):
    """K-fold out-of-fold target-encoding grid (ops/features.py::
    target_encoding_table): fold = portable hash32(o_orderkey) % 5, so
    the DuckDB oracle replays the exact fold assignment; encoding for
    fold f uses only the other folds' sums, shrunk toward the
    out-of-fold global mean — one row-scale groupBy onto the
    (priority x fold) grid, bounded-grid arithmetic after."""
    from metadata_etl_framework_spark.ops.features import (
        target_encoding_table,
    )

    return target_encoding_table(
        _orders_binary_target(spark, sf_dir),
        "o_orderpriority",
        "y",
        "o_orderkey",
        n_folds=5,
        smoothing=20.0,
    )


def _feat_woe_iv_orders(spark, sf_dir):
    """Weight-of-evidence + information value per order priority
    against the fulfilled flag (ops/features.py::woe_iv): one groupBy
    to the category grid, 1-row totals broadcast, smoothed ln-odds —
    integer counts keep both engines' ln() inputs bit-identical."""
    from metadata_etl_framework_spark.ops.features import woe_iv

    return woe_iv(
        _orders_binary_target(spark, sf_dir), "o_orderpriority", "y"
    )


def _feat_hash_features_orders(spark, sf_dir):
    """Hashing-trick sparse features (ops/features.py::hash_features)
    over two categoricals + one numeric, md5-bucketed into 256 signed
    buckets (md5 evaluates identically in Spark and DuckDB, so the
    collision pattern replays bit-for-bit); rolled up per bucket in
    exact DECIMAL before the final double cast."""
    from metadata_etl_framework_spark.ops.features import hash_features

    h = hash_features(
        _t(spark, sf_dir, "orders"),
        "o_orderkey",
        categorical=["o_orderpriority", "o_orderstatus"],
        numeric=["o_totalprice"],
        n_buckets=256,
        decimal_out=True,
    )
    return h.groupBy("bucket").agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum("value").cast("double").alias("sum_value"),
    )


def _stats_cramers_v_docs(spark, sf_dir):
    """Pairwise Cramér's V over three categoricals — lang, source, and
    a derived length bucket (functions/aggregations.py::
    cramers_v_matrix): one stacked-pairs scan, observed-cells χ²
    closed form, bounded-grid arithmetic with 12dp-DECIMAL term
    sums."""
    from metadata_etl_framework_spark.functions.aggregations import (
        cramers_v_matrix,
    )

    d = _t(spark, sf_dir, "documents").withColumn(
        "len_bucket",
        F.floor(F.col("n_chars") / 150).cast("long").cast("string"),
    )
    return cramers_v_matrix(d, ["lang", "source", "len_bucket"])


register("dist_gini_totalprice", build=_dist_gini_totalprice, oracle="""
            WITH c AS (SELECT CAST(o_totalprice AS DOUBLE) AS v,
                              COUNT(*) AS c
                       FROM orders WHERE o_totalprice IS NOT NULL
                       GROUP BY 1),
            t AS (SELECT SUM(c) AS n,
                         SUM(CAST(v * c AS DECIMAL(30,10))) AS t FROM c),
            s AS (SELECT v, c, SUM(c) OVER (ORDER BY v) AS ca FROM c)
            SELECT ROUND(CASE WHEN t > 0 THEN
                     2.0 * CAST(SUM(CAST(v * (c * (ca - c)
                                  + c * (c + 1) / 2)
                                  AS DECIMAL(38,10))) AS DOUBLE)
                         / (n * CAST(t AS DOUBLE))
                     - (n + 1.0) / n ELSE 0.0 END, 6) AS gini,
                   CAST(n AS BIGINT) AS n_rows
            FROM s, t GROUP BY n, t
        """)

register("corr_qty_price", build=_corr_qty_price, oracle="""
            SELECT ROUND(CORR(l_quantity, l_extendedprice), 6) AS corr FROM lineitem
        """)

register(
    "corr_matrix_lineitem", build=_corr_matrix_lineitem, tags=("headline",),
    oracle=_corr_matrix_sql(),
)

register("trend_ols_by_flag", build=_trend_ols_by_flag, oracle="""
            WITH s AS (SELECT l_returnflag,
              COUNT(CASE WHEN l_quantity IS NOT NULL
                          AND l_extendedprice IS NOT NULL THEN 1 END) AS n,
              SUM(CAST(CASE WHEN l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL
                       THEN CAST(l_quantity AS DOUBLE) END AS DECIMAL(30,10))) AS sx,
              SUM(CAST(CASE WHEN l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL
                       THEN CAST(l_extendedprice AS DOUBLE) END AS DECIMAL(30,10))) AS sy,
              SUM(CAST(CASE WHEN l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL
                       THEN CAST(l_quantity AS DOUBLE) * CAST(l_extendedprice AS DOUBLE)
                       END AS DECIMAL(38,10))) AS sxy,
              SUM(CAST(CASE WHEN l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL
                       THEN CAST(l_quantity AS DOUBLE) * CAST(l_quantity AS DOUBLE)
                       END AS DECIMAL(38,10))) AS sxx,
              SUM(CAST(CASE WHEN l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL
                       THEN CAST(l_extendedprice AS DOUBLE) * CAST(l_extendedprice AS DOUBLE)
                       END AS DECIMAL(38,10))) AS syy
             FROM lineitem GROUP BY l_returnflag),
            d AS (SELECT l_returnflag, n,
                         CAST(n AS DOUBLE) AS nd,
                         CAST(sx AS DOUBLE) AS sxd, CAST(sy AS DOUBLE) AS syd,
                         CAST(sxy AS DOUBLE) AS sxyd,
                         CAST(sxx AS DOUBLE) AS sxxd, CAST(syy AS DOUBLE) AS syyd
                  FROM s),
            f AS (SELECT l_returnflag, n,
                         (nd * sxyd - sxd * syd) AS cov,
                         (nd * sxxd - sxd * sxd) AS vx,
                         (nd * syyd - syd * syd) AS vy,
                         nd, sxd, syd
                  FROM d)
            SELECT l_returnflag, CAST(n AS BIGINT) AS n,
                   ROUND(CASE WHEN n > 1 AND vx > 0 THEN cov / vx END, 6) AS slope,
                   ROUND((syd - (CASE WHEN n > 1 AND vx > 0 THEN cov / vx END)
                          * sxd) / nd, 6) AS intercept,
                   ROUND(CASE WHEN n > 1 AND vx > 0 AND vy > 0
                              THEN (cov / vx) * (cov / vx) * vx / vy END, 6) AS r2
            FROM f
        """)

register("dist_lorenz_price", build=_dist_lorenz_price, oracle="""
            WITH c AS (SELECT CAST(o_totalprice AS DOUBLE) AS v,
                              COUNT(*) AS c,
                              SUM(CAST(CAST(o_totalprice AS DOUBLE)
                                       AS DECIMAL(30,10))) AS m
                       FROM orders WHERE o_totalprice IS NOT NULL
                       GROUP BY 1),
            s AS (SELECT v, SUM(c) OVER (ORDER BY v) AS ca,
                         CAST(SUM(m) OVER (ORDER BY v)
                              AS DECIMAL(38,10)) AS cm
                  FROM c),
            t AS (SELECT SUM(c) AS n,
                         CAST(SUM(m) AS DECIMAL(38,10)) AS tm FROM c),
            q AS (SELECT UNNEST([0.1,0.2,0.3,0.4,0.5,
                                 0.6,0.7,0.8,0.9]) AS p),
            hit AS (SELECT q.p, s.v, s.cm
                    FROM s, t, q WHERE s.ca >= q.p * t.n),
            best AS (SELECT p, MIN(v) AS value FROM hit GROUP BY p),
            at AS (SELECT b.p, b.value, h.cm
                   FROM best b JOIN hit h
                     ON h.p = b.p AND h.v = b.value)
            SELECT at.p, at.value,
                   ROUND(CAST(at.cm AS DOUBLE) / CAST(t.tm AS DOUBLE),
                         6) AS cum_share
            FROM at, t ORDER BY at.p
        """)

register("dist_gini_by_source", build=_dist_gini_by_source, oracle="""
            WITH b AS (SELECT source, CAST(n_chars AS DOUBLE) AS v
                       FROM documents WHERE n_chars IS NOT NULL),
            r AS (SELECT source, v,
                         ROW_NUMBER() OVER (PARTITION BY source
                                            ORDER BY v) AS rk
                  FROM b),
            g AS (SELECT source, COUNT(*) AS n,
                         CAST(SUM(CAST(v AS DECIMAL(30,10)))
                              AS DECIMAL(38,10)) AS t,
                         SUM(CAST(v * rk AS DECIMAL(38,10))) AS rs
                  FROM r GROUP BY source)
            SELECT source,
                   ROUND(CASE WHEN CAST(t AS DOUBLE) > 0
                              THEN 2.0 * CAST(rs AS DOUBLE)
                                   / (n * CAST(t AS DOUBLE))
                                   - (n + 1.0) / n
                              ELSE 0.0 END, 6) AS gini,
                   CAST(n AS BIGINT) AS n_rows
            FROM g
        """)

register("dist_weighted_median", build=_dist_weighted_median, oracle="""
            WITH c AS (SELECT CAST(l_extendedprice AS DOUBLE) AS v,
                              SUM(CAST(CAST(l_quantity AS DOUBLE)
                                       AS DECIMAL(30,10))) AS w
                       FROM lineitem
                       WHERE l_extendedprice IS NOT NULL
                         AND l_quantity IS NOT NULL AND l_quantity > 0
                       GROUP BY 1),
            s AS (SELECT v, CAST(SUM(w) OVER (ORDER BY v)
                               AS DECIMAL(38,10)) AS cw FROM c),
            t AS (SELECT CAST(SUM(w) AS DECIMAL(38,10)) AS tw FROM c),
            q AS (SELECT UNNEST([0.25, 0.5, 0.75]) AS p)
            SELECT p, MIN(v) AS value FROM s, t, q
            WHERE CAST(cw AS DOUBLE) >= p * CAST(tw AS DOUBLE)
            GROUP BY p ORDER BY p
        """)

register("dist_histogram2d", build=_dist_histogram2d, oracle="""
            WITH d AS (SELECT CAST(l_quantity AS DOUBLE) AS x,
                              CAST(l_extendedprice AS DOUBLE) AS y
                       FROM lineitem
                       WHERE l_quantity IS NOT NULL
                         AND l_extendedprice IS NOT NULL),
            b AS (SELECT MIN(x) AS xlo, MAX(x) AS xhi,
                         MIN(y) AS ylo, MAX(y) AS yhi FROM d),
            binned AS (SELECT
                 CASE WHEN (xhi - xlo) / 10 > 0
                      THEN LEAST(9, CAST(FLOOR((x - xlo)
                                   / ((xhi - xlo) / 10)) AS INT))
                      ELSE 0 END AS x_bin,
                 CASE WHEN (yhi - ylo) / 10 > 0
                      THEN LEAST(9, CAST(FLOOR((y - ylo)
                                   / ((yhi - ylo) / 10)) AS INT))
                      ELSE 0 END AS y_bin,
                 xlo, xhi, ylo, yhi
               FROM d, b)
            SELECT x_bin, y_bin,
                   ROUND(xlo + x_bin * (xhi - xlo) / 10, 6) AS x_lo,
                   ROUND(xlo + (x_bin + 1) * (xhi - xlo) / 10, 6) AS x_hi,
                   ROUND(ylo + y_bin * (yhi - ylo) / 10, 6) AS y_lo,
                   ROUND(ylo + (y_bin + 1) * (yhi - ylo) / 10, 6) AS y_hi,
                   CAST(COUNT(*) AS BIGINT) AS cnt
            FROM binned
            GROUP BY x_bin, y_bin, xlo, xhi, ylo, yhi
            ORDER BY x_bin, y_bin
        """)

# feature-engineering oracles (ops/features.py): the out-of-fold
# target-encoding grid replayed on the identical hash32-fold
# assignment, WoE/IV from integer counts, and the md5 hashing trick
# replayed bucket-for-bucket (both engines evaluate md5 verbatim)
register(
    "feat_target_encoding_orders", build=_feat_target_encoding_orders,
    tags=("headline",),
    oracle=f"""
            WITH {_hash32_cte_sql(
                "SELECT o_orderkey AS x, o_orderpriority, o_orderstatus "
                "FROM orders")},
            base AS (SELECT o_orderpriority AS cat,
                            CAST(CASE WHEN o_orderstatus = 'F'
                                 THEN 1 ELSE 0 END
                                 AS DECIMAL(28,6)) AS y,
                            h % 5 AS fold
                     FROM hh WHERE o_orderstatus IS NOT NULL),
            grid AS (SELECT cat, fold, SUM(y) AS f_sum,
                            COUNT(*) AS f_cnt
                     FROM base GROUP BY 1, 2),
            per_cat AS (SELECT cat, SUM(f_sum) AS c_sum,
                               SUM(f_cnt) AS c_cnt
                        FROM grid GROUP BY 1),
            tot AS (SELECT SUM(f_sum) AS t_sum, SUM(f_cnt) AS t_cnt
                    FROM grid),
            pf AS (SELECT fold,
                          CAST(t_sum - SUM(f_sum) AS DOUBLE)
                            / CAST(t_cnt - SUM(f_cnt) AS DOUBLE)
                            AS prior
                   FROM grid, tot
                   GROUP BY fold, t_sum, t_cnt)
            SELECT g.cat, g.fold,
                   CAST(c.c_cnt - g.f_cnt AS BIGINT) AS n_oof,
                   ROUND((CAST(c.c_sum - g.f_sum AS DOUBLE)
                          + 20.0 * pf.prior)
                         / (CAST(c.c_cnt - g.f_cnt AS DOUBLE) + 20.0),
                         6) AS te
            FROM grid g
            JOIN per_cat c ON g.cat IS NOT DISTINCT FROM c.cat
            JOIN pf ON g.fold = pf.fold
        """,
)

register("feat_woe_iv_orders", build=_feat_woe_iv_orders, oracle="""
            WITH base AS (SELECT o_orderpriority AS cat,
                                 CASE WHEN o_orderstatus = 'F'
                                      THEN 1 ELSE 0 END AS y
                          FROM orders
                          WHERE o_orderstatus IS NOT NULL),
            per_cat AS (SELECT cat, SUM(y) AS n_pos,
                               SUM(1 - y) AS n_neg
                        FROM base GROUP BY 1),
            tot AS (SELECT SUM(n_pos) AS t_pos, SUM(n_neg) AS t_neg,
                           COUNT(*) AS k
                    FROM per_cat),
            d AS (SELECT cat, n_pos, n_neg,
                         (n_pos + 0.5) / (t_pos + 0.5 * k) AS dp,
                         (n_neg + 0.5) / (t_neg + 0.5 * k) AS dn
                  FROM per_cat, tot)
            SELECT cat,
                   CAST(n_pos AS BIGINT) AS n_pos,
                   CAST(n_neg AS BIGINT) AS n_neg,
                   ROUND(LN(dp / dn), 6) AS woe,
                   ROUND((dp - dn) * LN(dp / dn), 6) AS iv
            FROM d
        """)

register("feat_hash_features_orders", build=_feat_hash_features_orders, oracle="""
            WITH feats AS (
              SELECT o_orderkey AS id,
                     'o_orderpriority=' || COALESCE(o_orderpriority, '')
                       AS tok,
                     CAST(1 AS DECIMAL(28,6)) AS v
              FROM orders
              UNION ALL
              SELECT o_orderkey,
                     'o_orderstatus=' || COALESCE(o_orderstatus, ''),
                     CAST(1 AS DECIMAL(28,6))
              FROM orders
              UNION ALL
              SELECT o_orderkey, 'o_totalprice',
                     CAST(o_totalprice AS DECIMAL(28,6))
              FROM orders WHERE o_totalprice IS NOT NULL
            ),
            hx AS (SELECT id, md5(tok) AS hh, v FROM feats),
            sb AS (SELECT id,
                          ('0x' || substr(hh, 1, 8))::BIGINT % 256
                            AS bucket,
                          CASE WHEN ('0x' || substr(hh, 9, 1))::BIGINT
                                    % 2 = 0
                               THEN 1 ELSE -1 END AS sign,
                          v
                   FROM hx),
            pr AS (SELECT id, bucket,
                          SUM(CAST(sign * v AS DECIMAL(28,6))) AS value
                   FROM sb GROUP BY 1, 2)
            SELECT bucket,
                   CAST(COUNT(*) AS BIGINT) AS n_rows,
                   CAST(SUM(value) AS DOUBLE) AS sum_value
            FROM pr GROUP BY 1
        """)

# categorical-association + forecast-baseline oracles
# (functions/aggregations.py::cramers_v_matrix /
# forecast_baseline_eval): observed-cells chi-square closed form and
# the seasonal-naive backtest replayed with the same 12dp-DECIMAL term
# accumulation
register("stats_cramers_v_docs", build=_stats_cramers_v_docs, oracle="""
            WITH src0 AS (SELECT lang,
                                 source,
                                 CAST(CAST(FLOOR(n_chars / 150.0) AS
                                      BIGINT) AS VARCHAR) AS len_bucket
                          FROM documents),
            stacked AS (
              SELECT 'lang' AS pa, 'source' AS pb,
                     CAST(lang AS VARCHAR) AS a,
                     CAST(source AS VARCHAR) AS b
              FROM src0 WHERE lang IS NOT NULL AND source IS NOT NULL
              UNION ALL
              SELECT 'lang', 'len_bucket', CAST(lang AS VARCHAR),
                     len_bucket
              FROM src0
              WHERE lang IS NOT NULL AND len_bucket IS NOT NULL
              UNION ALL
              SELECT 'source', 'len_bucket', CAST(source AS VARCHAR),
                     len_bucket
              FROM src0
              WHERE source IS NOT NULL AND len_bucket IS NOT NULL
            ),
            joint AS (SELECT pa, pb, a, b, COUNT(*) AS c
                      FROM stacked GROUP BY 1, 2, 3, 4),
            ma AS (SELECT pa, pb, a, SUM(c) AS ca
                   FROM joint GROUP BY 1, 2, 3),
            mb AS (SELECT pa, pb, b, SUM(c) AS cb
                   FROM joint GROUP BY 1, 2, 3),
            tot AS (SELECT pa, pb, SUM(c) AS n, COUNT(*) AS k,
                           COUNT(DISTINCT a) AS ra,
                           COUNT(DISTINCT b) AS cb_l
                    FROM joint GROUP BY 1, 2),
            sums AS (SELECT j.pa, j.pb,
                            CAST(SUM(CAST(ROUND(
                              CAST(j.c * j.c AS DOUBLE)
                                / CAST(ma.ca * mb.cb AS DOUBLE), 12)
                              AS DECIMAL(28,12))) AS DOUBLE) AS s
                     FROM joint j
                     JOIN ma ON j.pa = ma.pa AND j.pb = ma.pb
                            AND j.a = ma.a
                     JOIN mb ON j.pa = mb.pa AND j.pb = mb.pb
                            AND j.b = mb.b
                     GROUP BY 1, 2)
            SELECT t.pa AS col_a, t.pb AS col_b,
                   CAST(t.n AS BIGINT) AS n_rows,
                   CAST(t.k AS BIGINT) AS n_cells,
                   ROUND(t.n * (s.s - 1.0), 6) AS chi2,
                   ROUND(CASE WHEN LEAST(t.ra - 1, t.cb_l - 1) > 0
                              AND t.n > 0
                         THEN SQRT(GREATEST(s.s - 1.0, 0.0)
                                   / LEAST(t.ra - 1, t.cb_l - 1)) END,
                         6) AS v
            FROM sums s JOIN tot t ON s.pa = t.pa AND s.pb = t.pb
        """)


# ---- round 11: distributed statistical inference (ops/stats.py) ----


def _stats_bootstrap_ci_price(spark, sf_dir):
    """Poisson-bootstrap percentile CI of mean order value
    (ops/stats.py::poisson_bootstrap_ci): per-(row, replicate)
    Poisson(1) weights from the portable mix hash — no resample
    shuffle, map-side partials collapse the 100× fan-out to 100 rows
    per task; cent-exact LONG sums (value_scale=100) and 6-dp
    replicate means before order-statistic selection."""
    from metadata_etl_framework_spark.ops.stats import poisson_bootstrap_ci

    o = _t(spark, sf_dir, "orders")
    return poisson_bootstrap_ci(
        o, "o_totalprice", "o_orderkey", n_boot=100, alpha=0.05,
        value_scale=100,
    )


def _stats_fdr_ks_lineitem(spark, sf_dir):
    """Benjamini–Hochberg FDR across the per-column KS drift tests
    (ops/stats.py::fdr_bh over quality/drift.py::ks_significance): the
    multiple-testing correction a wide drift dashboard needs — 4
    column-level p-values ranked, thresholded at rank/m·q, step-up
    rejection."""
    from metadata_etl_framework_spark.ops.stats import fdr_bh
    from metadata_etl_framework_spark.quality.drift import ks_significance

    ref, cur = _drift_frames(spark, sf_dir)
    parts = None
    for c in ("l_quantity", "l_extendedprice", "l_discount", "l_tax"):
        one = ks_significance(ref, cur, c).select(
            F.lit(c).alias("col_name"), "p_value"
        )
        parts = one if parts is None else parts.unionByName(one)
    return fdr_bh(parts, "col_name", "p_value", q=0.05)


# inverse-CDF ladder of Poisson(1) — the SAME literal text as
# ops/stats.py::POISSON1_CDF so both engines parse identical doubles
_P1_CDF_SQL = (
    "0.36787944117144233", "0.7357588823428847", "0.9196986029286058",
    "0.9810118431238463", "0.9963401531726563", "0.9994058151824183",
    "0.999916758850712",
)


def _poisson1_case_sql(u: str) -> str:
    whens = " ".join(
        f"WHEN {u} < {c} THEN {k}" for k, c in enumerate(_P1_CDF_SQL)
    )
    return f"CASE {whens} ELSE 7 END"


def _ks_p_subquery_sql(col: str) -> str:
    """Per-column KS p-value as a self-contained (WITH … SELECT)
    subquery — ks_significance's fixed 20-term Kolmogorov series with
    identical literals, emitting (test_name, p)."""
    terms = " + ".join(
        f"({float((-1) ** (j - 1)) * 2.0!r}) * "
        f"EXP(({-2.0 * j * j!r}) * lam * lam)"
        for j in range(1, 21)
    )
    return f"""(WITH {_ks_ctes(col)},
        k AS (SELECT ROUND(MAX(ABS(ca / n_ref - cb / n_cur)), 6) AS ks_stat,
                     n_ref, n_cur
              FROM s, t GROUP BY n_ref, n_cur),
        l AS (SELECT *,
                     (SQRT(n_ref * n_cur / (n_ref + n_cur)) + 0.12
                      + 0.11 / SQRT(n_ref * n_cur / (n_ref + n_cur)))
                     * ks_stat AS lam
              FROM k)
        SELECT '{col}' AS test_name,
               ROUND(CASE WHEN lam < 0.1 THEN 1.0
                          ELSE LEAST(1.0, GREATEST(0.0, {terms}))
                     END, 6) AS p
        FROM l)"""


register(
    "stats_bootstrap_ci_price", build=_stats_bootstrap_ci_price, tags=("headline",),
    oracle=f"""
            WITH {_hash32_cte_sql(
                "SELECT o_orderkey * 1000003 + r.b AS x, r.b AS rep, "
                "CAST(ROUND(CAST(o_totalprice AS DOUBLE) * 100, 0) "
                "AS BIGINT) AS val "
                "FROM orders CROSS JOIN "
                "(SELECT UNNEST(RANGE(0, 100)) AS b) r "
                "WHERE o_totalprice IS NOT NULL AND o_orderkey IS NOT NULL"
            )},
            weighted AS (SELECT rep, val,
                                {_poisson1_case_sql("h / 4294967296.0")} AS w
                         FROM hh),
            means AS (SELECT rep, SUM(w) AS n, SUM(w * val) AS s
                      FROM weighted GROUP BY 1 HAVING SUM(w) > 0),
            m2 AS (SELECT ROUND(CAST(s AS DOUBLE) / 100.0 / n, 6) AS m,
                          rep
                   FROM means),
            ranked AS (SELECT m,
                              ROW_NUMBER() OVER (ORDER BY m, rep) AS rn,
                              COUNT(*) OVER () AS r
                       FROM m2),
            sel AS (SELECT MIN(CASE WHEN rn = FLOOR(0.025 * r) + 1
                                    THEN m END) AS ci_lo,
                           MIN(CASE WHEN rn = CEIL(0.975 * r)
                                    THEN m END) AS ci_hi,
                           ROUND(CAST(SUM(CAST(m AS DECIMAL(20,6)))
                                      AS DOUBLE) / COUNT(*), 6) AS boot_mean
                    FROM ranked),
            pt AS (SELECT COUNT(*) AS n_rows,
                          ROUND(CAST(SUM(CAST(ROUND(CAST(o_totalprice
                                       AS DOUBLE) * 100, 0) AS BIGINT))
                                     AS DOUBLE) / 100.0 / COUNT(*), 6)
                              AS point_est
                   FROM orders
                   WHERE o_totalprice IS NOT NULL
                     AND o_orderkey IS NOT NULL)
            SELECT n_rows, point_est, boot_mean, ci_lo, ci_hi,
                   CAST(100 AS INT) AS n_boot
            FROM pt CROSS JOIN sel
        """,
)

register("stats_fdr_ks_lineitem", build=_stats_fdr_ks_lineitem, oracle=f"""
            WITH pv AS (
                SELECT * FROM {_ks_p_subquery_sql("l_quantity")}
                UNION ALL
                SELECT * FROM {_ks_p_subquery_sql("l_extendedprice")}
                UNION ALL
                SELECT * FROM {_ks_p_subquery_sql("l_discount")}
                UNION ALL
                SELECT * FROM {_ks_p_subquery_sql("l_tax")}
            ),
            ranked AS (SELECT test_name AS test, p AS p_value,
                              ROW_NUMBER() OVER (
                                  ORDER BY p, test_name) AS rnk,
                              COUNT(*) OVER () AS m
                       FROM pv),
            thr AS (SELECT *,
                           ROUND(rnk / CAST(m AS DOUBLE) * 0.05, 6)
                               AS bh_threshold
                    FROM ranked),
            t2 AS (SELECT *, p_value <= bh_threshold AS le FROM thr),
            crit AS (SELECT MAX(CASE WHEN le THEN rnk END) AS c FROM t2)
            SELECT test, ROUND(p_value, 6) AS p_value,
                   CAST(rnk AS INT) AS rank, CAST(m AS BIGINT) AS m,
                   bh_threshold,
                   COALESCE(rnk <= c, FALSE) AS rejected
            FROM t2 CROSS JOIN crit
            ORDER BY rank
        """)


# ---- round 11 close: rank-based inference (ops/stats.py) ----


def _stats_mannwhitney_price(spark, sf_dir):
    """Mann–Whitney U + Cliff's delta on order value between
    high-priority (1-URGENT/2-HIGH) and other orders
    (ops/stats.py::mann_whitney_u): one groupBy(value), scale-safe
    two-phase average-rank scan, DECIMAL half-grain rank sums,
    tie-corrected normal p through the A&S tail."""
    from metadata_etl_framework_spark.ops.stats import mann_whitney_u

    o = _t(spark, sf_dir, "orders").select(
        F.when(
            F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), "high"
        )
        .otherwise("low")
        .alias("prio"),
        "o_totalprice",
    )
    return mann_whitney_u(o, "prio", "o_totalprice")


register(
    "stats_mannwhitney_price", build=_stats_mannwhitney_price, tags=("headline",),
    oracle=f"""
            WITH base AS (SELECT CASE WHEN o_orderpriority IN
                                     ('1-URGENT', '2-HIGH')
                                      THEN 'high' ELSE 'low' END AS g,
                                 CAST(o_totalprice AS DOUBLE) AS v
                          FROM orders
                          WHERE o_totalprice IS NOT NULL),
            counts AS (SELECT v,
                              SUM(CASE WHEN g = 'high' THEN 1 ELSE 0 END)
                                  AS c1,
                              SUM(CASE WHEN g <> 'high' THEN 1 ELSE 0 END)
                                  AS c2
                       FROM base GROUP BY 1),
            cc AS (SELECT *, c1 + c2 AS t,
                          SUM(c1 + c2) OVER (ORDER BY v) AS cumt
                   FROM counts),
            rk AS (SELECT *, (cumt - t) + (t + 1) / 2.0 AS avg_rank
                   FROM cc),
            s AS (SELECT SUM(c1) AS n1, SUM(c2) AS n2,
                         SUM(CAST(c1 AS DECIMAL(15,0))
                             * CAST(avg_rank AS DECIMAL(20,1))) AS r1,
                         SUM(CAST(t AS DECIMAL(12,0))
                             * CAST(t AS DECIMAL(12,0))
                             * CAST(t AS DECIMAL(12,0))
                             - CAST(t AS DECIMAL(12,0))) AS ties
                  FROM rk),
            c AS (SELECT n1, n2,
                         CAST(r1 AS DOUBLE) AS r1d,
                         CAST(ties AS DOUBLE) AS tiesd,
                         CAST(n1 AS DOUBLE) AS n1d,
                         CAST(n2 AS DOUBLE) AS n2d,
                         CAST(n1 + n2 AS DOUBLE) AS nd
                  FROM s),
            c2 AS (SELECT *, r1d - n1d * (n1d + 1.0) / 2.0 AS u1
                   FROM c),
            c3 AS (SELECT *, n1d * n2d / 2.0 AS mu,
                          CASE WHEN nd > 1
                               THEN (n1d * n2d / 12.0)
                                    * ((nd + 1.0)
                                       - tiesd / (nd * (nd - 1.0)))
                          END AS varu
                   FROM c2),
            c4 AS (SELECT *,
                          CASE WHEN varu > 0
                               THEN (u1 - mu) / SQRT(varu)
                          END AS z
                   FROM c3),
            c5 AS (SELECT *,
                          CASE WHEN z IS NOT NULL THEN
                              ROUND(LEAST(1.0, GREATEST(0.0,
                                  2.0 * {_normal_sf_sql("ABS(z)")})), 6)
                          END AS p
                   FROM c4)
            SELECT 'high' AS variant_a, CAST(n1 AS BIGINT) AS n_a,
                   'low' AS variant_b, CAST(n2 AS BIGINT) AS n_b,
                   ROUND(u1, 6) AS u_a,
                   ROUND(2.0 * u1 / (n1d * n2d) - 1.0, 6)
                       AS cliffs_delta,
                   ROUND(z, 6) AS z_score,
                   p AS p_value,
                   p < 0.05 AS significant_95
            FROM c5
        """,
)


# ---- round 11 close: Welch's t + Cramér–von Mises drift ----


def _stats_welch_price(spark, sf_dir):
    """Welch's unequal-variance t-test on order value between priority
    cohorts (ops/stats.py::welch_t_test): DECIMAL(18,6) moment sums,
    Welch–Satterthwaite df, A&S-normal p reported WITH df."""
    from metadata_etl_framework_spark.ops.stats import welch_t_test

    o = _t(spark, sf_dir, "orders").select(
        F.when(
            F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), "high"
        )
        .otherwise("low")
        .alias("prio"),
        "o_totalprice",
    )
    return welch_t_test(o, "prio", "o_totalprice")


register("stats_welch_price", build=_stats_welch_price, oracle=f"""
            WITH base AS (SELECT CASE WHEN o_orderpriority IN
                                     ('1-URGENT', '2-HIGH')
                                      THEN 'high' ELSE 'low' END AS g,
                                 CAST(ROUND(CAST(o_totalprice AS DOUBLE)
                                            * 1000000.0, 0)
                                      AS HUGEINT) AS v
                          FROM orders
                          WHERE o_totalprice IS NOT NULL),
            pv AS (SELECT g, COUNT(*) AS n, SUM(v) AS s,
                          SUM(v * v) AS sq
                   FROM base GROUP BY 1),
            w AS (SELECT a.n AS na,
                         CAST(a.s AS DOUBLE) AS sa,
                         CAST(a.n * a.sq - a.s * a.s AS DOUBLE) AS vna,
                         CAST(a.n AS DOUBLE) AS nad,
                         b.n AS nb,
                         CAST(b.s AS DOUBLE) AS sb,
                         CAST(b.n * b.sq - b.s * b.s AS DOUBLE) AS vnb,
                         CAST(b.n AS DOUBLE) AS nbd
                  FROM (SELECT * FROM pv WHERE g = 'high') a,
                       (SELECT * FROM pv WHERE g = 'low') b),
            c1 AS (SELECT *,
                          sa / nad / 1000000.0 AS ma,
                          sb / nbd / 1000000.0 AS mb,
                          CASE WHEN na > 1 THEN
                              vna / (nad * (nad - 1.0))
                                  / 1000000000000.0
                          END AS va,
                          CASE WHEN nb > 1 THEN
                              vnb / (nbd * (nbd - 1.0))
                                  / 1000000000000.0
                          END AS vb
                   FROM w),
            c2 AS (SELECT *, va / nad AS sea, vb / nbd AS seb
                   FROM c1),
            c3 AS (SELECT *, sea + seb AS se2 FROM c2),
            c4 AS (SELECT *,
                          CASE WHEN se2 > 0
                               THEN (ma - mb) / SQRT(se2) END AS t,
                          CASE WHEN se2 > 0
                               THEN (se2 * se2)
                                    / (sea * sea / (nad - 1.0)
                                       + seb * seb / (nbd - 1.0))
                          END AS dof
                   FROM c3),
            c5 AS (SELECT *,
                          CASE WHEN t IS NOT NULL THEN
                              ROUND(LEAST(1.0, GREATEST(0.0,
                                  2.0 * {_normal_sf_sql("ABS(t)")})), 6)
                          END AS p
                   FROM c4)
            SELECT 'high' AS variant_a, CAST(na AS BIGINT) AS n_a,
                   ROUND(ma, 6) AS mean_a, ROUND(va, 6) AS var_a,
                   'low' AS variant_b, CAST(nb AS BIGINT) AS n_b,
                   ROUND(mb, 6) AS mean_b, ROUND(vb, 6) AS var_b,
                   ROUND(t, 6) AS t_stat, ROUND(dof, 6) AS df,
                   p AS p_value, p < 0.05 AS significant_95
            FROM c5
        """)


# ---- round 12: two-sample bootstrap, Ljung-Box, Naive Bayes, mSPRT ----


def _stats_bootstrap_diff_price(spark, sf_dir):
    """Two-sample Poisson-bootstrap CI of the high-vs-low-priority mean
    order-value difference (ops/stats.py::poisson_bootstrap_diff): the
    one-sample hash ladder lifted to the difference statistic — both
    arms reweighted per replicate, 6-dp arm means differenced, order
    statistics over the replicate diffs; cent-exact LONG sums."""
    from metadata_etl_framework_spark.ops.stats import (
        poisson_bootstrap_diff,
    )

    o = _t(spark, sf_dir, "orders").select(
        F.when(
            F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), "high"
        )
        .otherwise("low")
        .alias("prio"),
        "o_totalprice",
        "o_orderkey",
    )
    return poisson_bootstrap_diff(
        o, "prio", "o_totalprice", "o_orderkey",
        n_boot=100, alpha=0.05, value_scale=100,
    )


register(
    "stats_bootstrap_diff_price", build=_stats_bootstrap_diff_price, tags=("headline",),
    oracle=f"""
            WITH {_hash32_cte_sql(
                "SELECT o_orderkey * 1000003 + r.b AS x, r.b AS rep, "
                "CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') "
                "THEN 'high' ELSE 'low' END AS g, "
                "CAST(ROUND(CAST(o_totalprice AS DOUBLE) * 100, 0) "
                "AS BIGINT) AS val "
                "FROM orders CROSS JOIN "
                "(SELECT UNNEST(RANGE(0, 100)) AS b) r "
                "WHERE o_totalprice IS NOT NULL AND o_orderkey IS NOT NULL"
            )},
            weighted AS (SELECT rep, g, val,
                                {_poisson1_case_sql("h / 4294967296.0")} AS w
                         FROM hh),
            gm AS (SELECT rep, g,
                          ROUND(CAST(SUM(w * val) AS DOUBLE) / 100.0
                                / SUM(w), 6) AS m
                   FROM weighted GROUP BY 1, 2 HAVING SUM(w) > 0),
            diffs AS (SELECT a.rep,
                             ROUND(a.m - b.m, 6) AS d
                      FROM gm a JOIN gm b
                        ON a.rep = b.rep
                       AND a.g = 'high' AND b.g = 'low'),
            ranked AS (SELECT d,
                              ROW_NUMBER() OVER (ORDER BY d, rep) AS rn,
                              COUNT(*) OVER () AS r
                       FROM diffs),
            sel AS (SELECT MIN(CASE WHEN rn = FLOOR(0.025 * r) + 1
                                    THEN d END) AS ci_lo,
                           MIN(CASE WHEN rn = CEIL(0.975 * r)
                                    THEN d END) AS ci_hi,
                           ROUND(CAST(SUM(CAST(d AS DECIMAL(20,6)))
                                      AS DOUBLE) / COUNT(*), 6)
                               AS boot_mean_diff,
                           CAST(COUNT(*) AS INTEGER) AS n_boot_used
                    FROM ranked),
            pt AS (SELECT
                     COUNT(CASE WHEN g = 'high' THEN 1 END) AS n_a,
                     COUNT(CASE WHEN g = 'low' THEN 1 END) AS n_b,
                     ROUND(CAST(SUM(CASE WHEN g = 'high' THEN v END)
                                AS DOUBLE) / 100.0
                           / COUNT(CASE WHEN g = 'high' THEN 1 END), 6)
                         AS mean_a,
                     ROUND(CAST(SUM(CASE WHEN g = 'low' THEN v END)
                                AS DOUBLE) / 100.0
                           / COUNT(CASE WHEN g = 'low' THEN 1 END), 6)
                         AS mean_b
                   FROM (SELECT CASE WHEN o_orderpriority IN
                                     ('1-URGENT', '2-HIGH')
                                     THEN 'high' ELSE 'low' END AS g,
                                CAST(ROUND(CAST(o_totalprice AS DOUBLE)
                                           * 100, 0) AS BIGINT) AS v
                         FROM orders
                         WHERE o_totalprice IS NOT NULL
                           AND o_orderkey IS NOT NULL))
            SELECT 'high' AS variant_a, CAST(n_a AS BIGINT) AS n_a,
                   mean_a,
                   'low' AS variant_b, CAST(n_b AS BIGINT) AS n_b,
                   mean_b,
                   ROUND(mean_a - mean_b, 6) AS point_diff,
                   boot_mean_diff, ci_lo, ci_hi, n_boot_used
            FROM pt, sel
        """,
)


def _glm_logit_orders(spark, sf_dir):
    """In-engine IRLS logistic regression (ops/glm.py::logistic_train):
    P(urgent | price) with intercept + scaled price, 3 Newton steps —
    each ONE aggregation pass collecting pico-int gradient/Hessian
    sums, coefficients rounded to 12 dp between passes; the oracle
    unrolls the full training loop as CTEs (HUGEINT sums + the same
    closed-form 2×2 solve) and reproduces the betas bit-exactly."""
    from metadata_etl_framework_spark.ops.glm import logistic_train

    o = _t(spark, sf_dir, "orders").select(
        (F.col("o_orderpriority") == "1-URGENT").alias("urgent"),
        (F.col("o_totalprice").cast("double") / F.lit(100000.0)).alias(
            "x1"
        ),
    )
    return logistic_train(
        o, ["x1"], "urgent", iterations=3, ridge=1e-6
    )


def _glm_cv_logit_orders(spark, sf_dir):
    """4-fold cross-validated IRLS logistic regression
    (ops/glm.py::logistic_cv via the 'model_cv' step): all 4 held-out
    models advance together — per Newton iteration ONE groupBy(fold)
    pass computes every model's pico-int gradient/Hessian cells under
    its own β literals, model f trains on the Σ of cells g ≠ f
    (leave-one-fold-out integer addition), then one held-out scoring
    pass (log-loss / Brier / accuracy per fold + pooled). The oracle
    unrolls iterations × folds as CTE arithmetic."""
    o = _t(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("row_id"),
        (F.col("o_orderpriority") == "1-URGENT").alias("urgent"),
        (F.col("o_totalprice").cast("double") / F.lit(100000.0)).alias(
            "x1"
        ),
    ).where(F.col("o_orderkey").isNotNull())
    return TransformEngine(spark).apply_transform_step(
        o,
        {
            "type": "model_cv",
            "config": {
                "mode": "logistic",
                "feature_columns": ["x1"],
                "label_column": "urgent",
                "id_column": "row_id",
                "n_folds": 4,
                "iterations": 3,
            },
        },
        {},
    )


def _logit_cv_iter_sql(t: int, n_folds: int = 4) -> str:
    """One CV Newton iteration: per-fold cells for every model under
    bet{t-1}'s columns, then each model's leave-one-fold-out update."""
    cell_cols = []
    for f in range(n_folds):
        pf = (
            f"1.0 / (1.0 + EXP(-GREATEST(LEAST("
            f"b0_{f} + b1_{f} * x1, 30.0), -30.0)))"
        )
        wf = f"({pf}) * (1.0 - ({pf}))"
        cell_cols += [
            f"SUM(CAST(ROUND((y - ({pf})) * 1000000000000.0, 0) "
            f"AS HUGEINT)) AS g{f}_0",
            f"SUM(CAST(ROUND((y - ({pf})) * x1 * 1000000000000.0, 0) "
            f"AS HUGEINT)) AS g{f}_1",
            f"SUM(CAST(ROUND(({wf}) * 1000000000000.0, 0) "
            f"AS HUGEINT)) AS h{f}_00",
            f"SUM(CAST(ROUND(({wf}) * x1 * 1000000000000.0, 0) "
            f"AS HUGEINT)) AS h{f}_01",
            f"SUM(CAST(ROUND(({wf}) * x1 * x1 * 1000000000000.0, 0) "
            f"AS HUGEINT)) AS h{f}_11",
        ]
    # ridge joins the INTEGER sums before the double cast — the
    # glm_logit convention (above 2^53 an int-add-then-cast and a
    # cast-then-double-add differ by an ulp)
    loo_cols = []
    for f in range(n_folds):
        for nm, rdg in (
            ("g{f}_0", 0), ("g{f}_1", 0),
            ("h{f}_00", 1000000), ("h{f}_01", 0), ("h{f}_11", 1000000),
        ):
            c = nm.format(f=f)
            add = f" + {rdg}" if rdg else ""
            loo_cols.append(
                f"CAST(SUM({c}) FILTER (WHERE fold <> {f}){add} "
                f"AS DOUBLE) AS {c}d"
            )
    upd_cols = []
    for f in range(n_folds):
        det = f"(h{f}_00d * h{f}_11d - h{f}_01d * h{f}_01d)"
        upd_cols += [
            f"ROUND(b0_{f} + (h{f}_11d * g{f}_0d "
            f"- h{f}_01d * g{f}_1d) / {det}, 12) AS b0_{f}",
            f"ROUND(b1_{f} + (h{f}_00d * g{f}_1d "
            f"- h{f}_01d * g{f}_0d) / {det}, 12) AS b1_{f}",
        ]
    return f"""
            cells{t} AS MATERIALIZED (
              SELECT fold, {", ".join(cell_cols)}
              FROM base, bet{t - 1} GROUP BY fold),
            loo{t} AS (SELECT {", ".join(loo_cols)} FROM cells{t}),
            bet{t} AS MATERIALIZED (
              SELECT {", ".join(upd_cols)}
              FROM loo{t}, bet{t - 1})"""


def _logit_cv_sql(n_folds: int = 4, iterations: int = 3) -> str:
    zeros = ", ".join(
        f"0.0 AS b0_{f}, 0.0 AS b1_{f}" for f in range(n_folds)
    )
    pick = " ".join(
        f"WHEN fold = {f} THEN 1.0 / (1.0 + EXP(-GREATEST(LEAST("
        f"b0_{f} + b1_{f} * x1, 30.0), -30.0)))"
        for f in range(n_folds)
    )
    return f"""
            WITH feat AS (
              SELECT o_orderkey AS rid,
                     CASE WHEN o_orderpriority = '1-URGENT'
                          THEN 1.0 ELSE 0.0 END AS y,
                     CAST(o_totalprice AS DOUBLE) / 100000.0 AS x1
              FROM orders
              WHERE o_orderkey IS NOT NULL
                AND o_orderpriority IS NOT NULL
                AND o_totalprice IS NOT NULL),
            hb1 AS (SELECT y, x1,
                           ((rid % 2147483648) * 2654435761)
                             % 4294967296 AS a
                    FROM feat),
            hb2 AS (SELECT y, x1,
                           (xor(a, a >> 16) * 73244475)
                             % 4294967296 AS b
                    FROM hb1),
            base AS MATERIALIZED (
                 SELECT xor(b, b >> 16) % {n_folds} AS fold, y, x1
                 FROM hb2),
            bet0 AS (SELECT {zeros}),
            {",".join(
                _logit_cv_iter_sql(t, n_folds)
                for t in range(1, iterations + 1)
            )},
            scored AS (
              SELECT fold, y, CASE {pick} END AS p
              FROM base, bet{iterations}),
            met AS MATERIALIZED (
              SELECT fold, COUNT(*) AS n,
                     SUM(CAST(ROUND(-(y * LN(p)
                          + (1.0 - y) * LN(1.0 - p))
                          * 1000000000000.0, 0) AS HUGEINT)) AS llp,
                     SUM(CAST(ROUND((y - p) * (y - p)
                          * 1000000000000.0, 0) AS HUGEINT)) AS brp,
                     SUM(CASE WHEN (CASE WHEN p >= 0.5 THEN 1.0
                                    ELSE 0.0 END) = y
                              THEN 1 ELSE 0 END) AS acc
              FROM scored GROUP BY fold),
            fr AS (
              SELECT CAST(fold AS VARCHAR) AS fold, n, llp, brp, acc
              FROM met
              UNION ALL
              SELECT 'pooled', SUM(n), SUM(llp), SUM(brp), SUM(acc)
              FROM met)
            SELECT fold, CAST(n AS BIGINT) AS n_test,
                   ROUND(CAST(llp AS DOUBLE)
                         / 1000000000000.0 / n, 6) AS logloss,
                   ROUND(CAST(brp AS DOUBLE)
                         / 1000000000000.0 / n, 6) AS brier,
                   ROUND(acc / n, 6) AS accuracy
            FROM fr"""


register(
    "glm_cv_logit_orders", build=_glm_cv_logit_orders, tags=("headline", "gated",),
    oracle=_logit_cv_sql(),
)


def _logit_iter_sql(i: int) -> str:
    prev = f"b{i - 1}"
    return f"""
            p{i} AS (SELECT y, x1,
                            1.0 / (1.0 + EXP(-GREATEST(LEAST(
                                b0 + b1 * x1, 30.0), -30.0))) AS p
                     FROM base, {prev}),
            s{i} AS (SELECT COUNT(*) AS n,
                            SUM(CAST(ROUND((y - p) * 1000000000000.0,
                                           0) AS HUGEINT)) AS g0,
                            SUM(CAST(ROUND((y - p) * x1
                                           * 1000000000000.0, 0)
                                     AS HUGEINT)) AS g1,
                            SUM(CAST(ROUND(p * (1.0 - p)
                                           * 1000000000000.0, 0)
                                     AS HUGEINT)) AS h00,
                            SUM(CAST(ROUND(p * (1.0 - p) * x1
                                           * 1000000000000.0, 0)
                                     AS HUGEINT)) AS h01,
                            SUM(CAST(ROUND(p * (1.0 - p) * x1 * x1
                                           * 1000000000000.0, 0)
                                     AS HUGEINT)) AS h11
                     FROM p{i}),
            d{i} AS (SELECT n,
                            CAST(g0 AS DOUBLE) AS g0d,
                            CAST(g1 AS DOUBLE) AS g1d,
                            CAST(h00 + 1000000 AS DOUBLE) AS h00d,
                            CAST(h01 AS DOUBLE) AS h01d,
                            CAST(h11 + 1000000 AS DOUBLE) AS h11d
                     FROM s{i}),
            b{i} AS (SELECT n,
                            ROUND((SELECT b0 FROM {prev})
                                  + (h11d * g0d - h01d * g1d)
                                    / (h00d * h11d - h01d * h01d),
                                  12) AS b0,
                            ROUND((SELECT b1 FROM {prev})
                                  + (h00d * g1d - h01d * g0d)
                                    / (h00d * h11d - h01d * h01d),
                                  12) AS b1
                     FROM d{i})"""


register("glm_logit_orders", build=_glm_logit_orders, tags=("headline",), oracle=f"""
            WITH base AS (
              SELECT CASE WHEN o_orderpriority = '1-URGENT'
                          THEN 1.0 ELSE 0.0 END AS y,
                     CAST(o_totalprice AS DOUBLE) / 100000.0 AS x1
              FROM orders
              WHERE o_orderpriority IS NOT NULL
                AND o_totalprice IS NOT NULL),
            b0 AS (SELECT 0.0 AS b0, 0.0 AS b1),
            {",".join(_logit_iter_sql(i) for i in (1, 2, 3))}
            SELECT '_intercept' AS term, b0 AS beta,
                   CAST(n AS BIGINT) AS n_rows,
                   CAST(3 AS INTEGER) AS iterations
            FROM b3
            UNION ALL
            SELECT 'x1', b1, CAST(n AS BIGINT), CAST(3 AS INTEGER)
            FROM b3
        """)


def _glm_linear_lineitem(spark, sf_dir):
    """Closed-form OLS (ops/glm.py::linear_train): price-per-quantity
    line over lineitem from ONE aggregation pass of pico-int normal-
    equation sums; R² from the SAME sums (no second pass). The oracle
    replays sums, 2×2 solve and R² arithmetic bit-exactly."""
    from metadata_etl_framework_spark.ops.glm import linear_train

    li = _t(spark, sf_dir, "lineitem").select(
        (F.col("l_quantity").cast("double") / F.lit(10.0)).alias("x1"),
        (F.col("l_extendedprice").cast("double") / F.lit(100000.0))
        .alias("y"),
    )
    return linear_train(li, ["x1"], "y")


def _glm_cv_lineitem(spark, sf_dir):
    """K-fold cross-validated OLS as a declarative step (round 13):
    the 'model_cv' step type (operators/step_compiler.py::_model_cv →
    ops/glm.py::linear_cv) over the glm_linear feature scaling —
    4 hash folds of (l_orderkey·8 + l_linenumber), leave-one-fold-out
    training sums by exact integer subtraction (ONE grouped pass for
    all 4 models), fold-literal CASE scoring, per-fold + pooled
    held-out RMSE/MAE/R². The oracle replays folds, betas, and metric
    arithmetic bit-for-bit."""
    li = _t(spark, sf_dir, "lineitem").where(
        F.col("l_quantity").isNotNull()
        & F.col("l_extendedprice").isNotNull()
    )
    feat = li.select(
        (F.col("l_orderkey") * 8 + F.col("l_linenumber")).alias(
            "row_id"
        ),
        (F.col("l_quantity").cast("double") / 10.0).alias("x1"),
        (F.col("l_extendedprice").cast("double") / 100000.0).alias(
            "y"
        ),
    )
    return TransformEngine(spark).apply_transform_step(
        feat,
        {
            "type": "model_cv",
            "config": {
                "mode": "linear",
                "feature_columns": ["x1"],
                "label_column": "y",
                "id_column": "row_id",
                "n_folds": 4,
            },
        },
        {},
    )


register("glm_linear_lineitem", build=_glm_linear_lineitem, oracle="""
            WITH base AS (
              SELECT CAST(l_quantity AS DOUBLE) / 10.0 AS x1,
                     CAST(l_extendedprice AS DOUBLE) / 100000.0 AS y
              FROM lineitem
              WHERE l_quantity IS NOT NULL
                AND l_extendedprice IS NOT NULL),
            s AS (SELECT COUNT(*) AS n,
                         SUM(CAST(ROUND(y * y * 1000000000000.0, 0)
                                  AS HUGEINT)) AS yy,
                         SUM(CAST(ROUND(y * 1000000000000.0, 0)
                                  AS HUGEINT)) AS g0,
                         SUM(CAST(ROUND(x1 * y * 1000000000000.0, 0)
                                  AS HUGEINT)) AS g1,
                         SUM(CAST(ROUND(1000000000000.0, 0)
                                  AS HUGEINT)) AS h00,
                         SUM(CAST(ROUND(x1 * 1000000000000.0, 0)
                                  AS HUGEINT)) AS h01,
                         SUM(CAST(ROUND(x1 * x1 * 1000000000000.0, 0)
                                  AS HUGEINT)) AS h11
                  FROM base),
            d AS (SELECT n,
                         CAST(yy AS DOUBLE) AS yyd,
                         CAST(g0 AS DOUBLE) AS g0d,
                         CAST(g1 AS DOUBLE) AS g1d,
                         CAST(h00 AS DOUBLE) AS h00d,
                         CAST(h01 AS DOUBLE) AS h01d,
                         CAST(h11 AS DOUBLE) AS h11d
                  FROM s),
            b AS (SELECT *,
                         ROUND((h11d * g0d - h01d * g1d)
                               / (h00d * h11d - h01d * h01d), 12)
                             AS b0,
                         ROUND((h00d * g1d - h01d * g0d)
                               / (h00d * h11d - h01d * h01d), 12)
                             AS b1
                  FROM d),
            r AS (SELECT *,
                         yyd - 2.0 * (b0 * g0d + b1 * g1d)
                         + (b0 * h00d * b0 + b0 * h01d * b1
                            + b1 * h01d * b0 + b1 * h11d * b1) AS sse,
                         yyd - g0d * g0d / h00d AS sst
                  FROM b)
            SELECT '_intercept' AS term, b0 AS beta,
                   CAST(n AS BIGINT) AS n_rows,
                   CASE WHEN sst > 0
                        THEN ROUND(1.0 - sse / sst, 6) END AS r2
            FROM r
            UNION ALL
            SELECT 'x1', b1, CAST(n AS BIGINT),
                   CASE WHEN sst > 0
                        THEN ROUND(1.0 - sse / sst, 6) END
            FROM r
        """)

# round 13: 4-fold CV of the same model — portable-hash folds,
# leave-one-fold-out training sums by exact HUGEINT
# subtraction, fold-wise closed-form betas (12 dp), held-out
# pico-int error sums, per-fold + pooled metrics.
register("glm_cv_lineitem", build=_glm_cv_lineitem, tags=("headline",), oracle="""
            WITH feat AS (
              SELECT l_orderkey * 8 + l_linenumber AS rid,
                     CAST(l_quantity AS DOUBLE) / 10.0 AS x1,
                     CAST(l_extendedprice AS DOUBLE) / 100000.0 AS y
              FROM lineitem
              WHERE l_quantity IS NOT NULL
                AND l_extendedprice IS NOT NULL
                AND l_orderkey IS NOT NULL
                AND l_linenumber IS NOT NULL),
            hbase AS (SELECT y, x1,
                             ((rid % 2147483648) * 2654435761)
                               % 4294967296 AS a
                      FROM feat),
            hbase2 AS (SELECT y, x1,
                              (xor(a, a >> 16) * 73244475)
                                % 4294967296 AS b
                       FROM hbase),
            base AS MATERIALIZED (
                 SELECT xor(b, b >> 16) % 4 AS fold, y, x1
                 FROM hbase2),
            s AS MATERIALIZED (
              SELECT fold, COUNT(*) AS n,
                     SUM(CAST(ROUND(y * y * 1000000000000.0, 0)
                              AS HUGEINT)) AS yy,
                     SUM(CAST(ROUND(y * 1000000000000.0, 0)
                              AS HUGEINT)) AS g0,
                     SUM(CAST(ROUND(x1 * y * 1000000000000.0, 0)
                              AS HUGEINT)) AS g1,
                     SUM(CAST(ROUND(1000000000000.0, 0)
                              AS HUGEINT)) AS h00,
                     SUM(CAST(ROUND(x1 * 1000000000000.0, 0)
                              AS HUGEINT)) AS h01,
                     SUM(CAST(ROUND(x1 * x1 * 1000000000000.0, 0)
                              AS HUGEINT)) AS h11
              FROM base GROUP BY 1),
            tot AS (SELECT SUM(yy) AS yy, SUM(g0) AS g0,
                           SUM(g1) AS g1, SUM(h00) AS h00,
                           SUM(h01) AS h01, SUM(h11) AS h11
                    FROM s),
            tr AS MATERIALIZED (
              SELECT fold,
                     ROUND((h11d * g0d - h01d * g1d)
                           / (h00d * h11d - h01d * h01d), 12) AS b0,
                     ROUND((h00d * g1d - h01d * g0d)
                           / (h00d * h11d - h01d * h01d), 12) AS b1
              FROM (SELECT s.fold,
                           CAST(t.g0 - s.g0 AS DOUBLE) AS g0d,
                           CAST(t.g1 - s.g1 AS DOUBLE) AS g1d,
                           CAST(t.h00 - s.h00 AS DOUBLE) AS h00d,
                           CAST(t.h01 - s.h01 AS DOUBLE) AS h01d,
                           CAST(t.h11 - s.h11 AS DOUBLE) AS h11d
                    FROM s, tot t)),
            met AS MATERIALIZED (
              SELECT b.fold,
                     SUM(CAST(ROUND((b.y - (t.b0 + t.b1 * b.x1))
                              * (b.y - (t.b0 + t.b1 * b.x1))
                              * 1000000000000.0, 0)
                              AS HUGEINT)) AS sse,
                     SUM(CAST(ROUND(ABS(b.y - (t.b0 + t.b1 * b.x1))
                              * 1000000000000.0, 0)
                              AS HUGEINT)) AS sae
              FROM base b JOIN tr t ON b.fold = t.fold
              GROUP BY 1),
            fr AS (
              SELECT s.fold, s.n, m.sse, m.sae, s.yy, s.g0
              FROM s JOIN met m ON s.fold = m.fold
              UNION ALL
              SELECT -1, SUM(s.n), SUM(m.sse), SUM(m.sae),
                     SUM(s.yy), SUM(s.g0)
              FROM s JOIN met m ON s.fold = m.fold)
            SELECT CASE WHEN fold = -1 THEN 'pooled'
                        ELSE CAST(fold AS VARCHAR) END AS fold,
                   CAST(n AS BIGINT) AS n_test,
                   ROUND(SQRT(CAST(sse AS DOUBLE)
                              / 1000000000000.0 / n), 6) AS rmse,
                   ROUND(CAST(sae AS DOUBLE)
                         / 1000000000000.0 / n, 6) AS mae,
                   CASE WHEN CAST(yy AS DOUBLE)
                             - CAST(g0 AS DOUBLE) * CAST(g0 AS DOUBLE)
                               / (n * 1000000000000.0) > 0
                        THEN ROUND(1.0 - CAST(sse AS DOUBLE)
                             / (CAST(yy AS DOUBLE)
                                - CAST(g0 AS DOUBLE)
                                  * CAST(g0 AS DOUBLE)
                                  / (n * 1000000000000.0)), 6)
                   END AS r2
            FROM fr
        """)


def _stats_padjust_ks_lineitem(spark, sf_dir):
    """Four-way multiple-testing panel (ops/stats.py::p_adjust_panel)
    over the same per-column KS p-values as the BH gate entry:
    Bonferroni / Holm / BH / BY decisions side by side, BY's harmonic
    constant DECIMAL-accumulated."""
    from metadata_etl_framework_spark.ops.stats import p_adjust_panel
    from metadata_etl_framework_spark.quality.drift import (
        ks_significance,
    )

    ref, cur = _drift_frames(spark, sf_dir)
    tests = None
    for c in ("l_quantity", "l_extendedprice", "l_discount", "l_tax"):
        one = ks_significance(ref, cur, c).select(
            F.lit(c).alias("test_name"), "p_value"
        )
        tests = one if tests is None else tests.unionByName(one)
    return p_adjust_panel(tests, "test_name", "p_value", alpha=0.05)


def _stats_cohens_d_price(spark, sf_dir):
    """Standardized effect size of the high-vs-low-priority order-value
    gap (ops/stats.py::cohens_d): pooled-SD Cohen's d + Hedges' g from
    the welch micro-unit integer moments — the magnitude companion to
    stats_welch_price."""
    from metadata_etl_framework_spark.ops.stats import cohens_d

    o = _t(spark, sf_dir, "orders").select(
        F.when(
            F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), "high"
        )
        .otherwise("low")
        .alias("prio"),
        "o_totalprice",
    )
    return cohens_d(o, "prio", "o_totalprice")


register("stats_padjust_ks_lineitem", build=_stats_padjust_ks_lineitem, oracle=f"""
            WITH pv AS (
                SELECT * FROM {_ks_p_subquery_sql("l_quantity")}
                UNION ALL
                SELECT * FROM {_ks_p_subquery_sql("l_extendedprice")}
                UNION ALL
                SELECT * FROM {_ks_p_subquery_sql("l_discount")}
                UNION ALL
                SELECT * FROM {_ks_p_subquery_sql("l_tax")}
            ),
            ranked AS (SELECT test_name AS test, p AS p_value,
                              ROW_NUMBER() OVER (
                                  ORDER BY p, test_name) AS rnk,
                              COUNT(*) OVER () AS m
                       FROM pv),
            withcm AS (SELECT *,
                              CAST(SUM(CAST(ROUND(1.0 / rnk, 12)
                                            AS DECIMAL(28,12)))
                                   OVER () AS DOUBLE) AS cm
                       FROM ranked),
            marks AS (SELECT *,
                             p_value > 0.05
                                 / (CAST(m AS DOUBLE) - rnk + 1.0)
                                 AS holm_fail,
                             p_value <= CAST(rnk AS DOUBLE)
                                 / CAST(m AS DOUBLE) * 0.05 AS bh_ok,
                             p_value <= CAST(rnk AS DOUBLE) * 0.05
                                 / (CAST(m AS DOUBLE) * cm) AS by_ok
                      FROM withcm),
            crits AS (SELECT *,
                             MIN(CASE WHEN holm_fail THEN rnk END)
                                 OVER () AS first_fail,
                             MAX(CASE WHEN bh_ok THEN rnk END)
                                 OVER () AS bh_crit,
                             MAX(CASE WHEN by_ok THEN rnk END)
                                 OVER () AS by_crit
                      FROM marks)
            SELECT test, ROUND(p_value, 6) AS p_value,
                   CAST(rnk AS INT) AS rank, CAST(m AS BIGINT) AS m,
                   p_value <= 0.05 / CAST(m AS DOUBLE)
                       AS rej_bonferroni,
                   COALESCE(rnk < first_fail, TRUE) AS rej_holm,
                   COALESCE(rnk <= bh_crit, FALSE) AS rej_bh,
                   COALESCE(rnk <= by_crit, FALSE) AS rej_by
            FROM crits ORDER BY rank
        """)

register("stats_cohens_d_price", build=_stats_cohens_d_price, oracle="""
            WITH base AS (SELECT CASE WHEN o_orderpriority IN
                                     ('1-URGENT', '2-HIGH')
                                      THEN 'high' ELSE 'low' END AS g,
                                 CAST(ROUND(CAST(o_totalprice AS DOUBLE)
                                            * 1000000.0, 0)
                                      AS HUGEINT) AS v
                          FROM orders
                          WHERE o_totalprice IS NOT NULL
                            AND o_orderpriority IS NOT NULL),
            pv AS (SELECT g, COUNT(*) AS n, SUM(v) AS s,
                          SUM(v * v) AS sq
                   FROM base GROUP BY 1),
            w AS (SELECT a.n AS na,
                         CAST(a.s AS DOUBLE) AS sa,
                         CAST(a.n * a.sq - a.s * a.s AS DOUBLE) AS vna,
                         CAST(a.n AS DOUBLE) AS nad,
                         b.n AS nb,
                         CAST(b.s AS DOUBLE) AS sb,
                         CAST(b.n * b.sq - b.s * b.s AS DOUBLE) AS vnb,
                         CAST(b.n AS DOUBLE) AS nbd
                  FROM (SELECT * FROM pv WHERE g = 'high') a,
                       (SELECT * FROM pv WHERE g = 'low') b),
            c1 AS (SELECT *,
                          sa / nad / 1000000.0 AS ma,
                          sb / nbd / 1000000.0 AS mb,
                          CASE WHEN na + nb > 2 THEN
                              (vna / nad + vnb / nbd)
                              / (nad + nbd - 2.0)
                              / 1000000000000.0
                          END AS sp2
                   FROM w),
            c2 AS (SELECT *, SQRT(sp2) AS sp FROM c1),
            c3 AS (SELECT *,
                          CASE WHEN sp > 0 THEN (ma - mb) / sp END AS d,
                          1.0 - 3.0 / (4.0 * (nad + nbd) - 9.0) AS j
                   FROM c2)
            SELECT 'high' AS variant_a, CAST(na AS BIGINT) AS n_a,
                   ROUND(ma, 6) AS mean_a,
                   'low' AS variant_b, CAST(nb AS BIGINT) AS n_b,
                   ROUND(mb, 6) AS mean_b,
                   ROUND(sp, 6) AS pooled_sd,
                   ROUND(d, 6) AS cohens_d,
                   ROUND(d * j, 6) AS hedges_g,
                   CASE WHEN d IS NULL THEN NULL
                        WHEN ABS(d) < 0.2 THEN 'negligible'
                        WHEN ABS(d) < 0.5 THEN 'small'
                        WHEN ABS(d) < 0.8 THEN 'medium'
                        ELSE 'large' END AS magnitude
            FROM c3
        """)


def _stats_spearman_qty_price(spark, sf_dir):
    """Spearman rank correlation of quantity vs extended price
    (ops/stats.py::spearman_corr): exact tie-averaged ranks from
    per-value prefix scans, doubled-rank integer moments, welch-class
    exact centered numerators; t-approximated p through the A&S tail."""
    from metadata_etl_framework_spark.ops.stats import spearman_corr

    li = _t(spark, sf_dir, "lineitem")
    return spearman_corr(li, "l_quantity", "l_extendedprice")


register(
    "stats_spearman_qty_price", build=_stats_spearman_qty_price,
    tags=("headline", "gated",),
    oracle=f"""
            WITH base AS (
              SELECT CAST(l_quantity AS DOUBLE) AS a,
                     CAST(l_extendedprice AS DOUBLE) AS b
              FROM lineitem
              WHERE l_quantity IS NOT NULL
                AND l_extendedprice IS NOT NULL),
            ca AS (SELECT a, COUNT(*) AS c FROM base GROUP BY a),
            ra AS (SELECT a,
                          2 * SUM(c) OVER (ORDER BY a) - (c - 1) AS r
                   FROM ca),
            cb AS (SELECT b, COUNT(*) AS c FROM base GROUP BY b),
            rb AS (SELECT b,
                          2 * SUM(c) OVER (ORDER BY b) - (c - 1) AS r
                   FROM cb),
            j AS (SELECT CAST(ra.r AS HUGEINT) AS x,
                         CAST(rb.r AS HUGEINT) AS y
                  FROM base
                  JOIN ra USING (a) JOIN rb USING (b)),
            m AS (SELECT COUNT(*) AS n,
                         SUM(x) AS s1, SUM(y) AS s2,
                         SUM(x * x) AS s11, SUM(y * y) AS s22,
                         SUM(x * y) AS s12
                  FROM j),
            c AS (SELECT n,
                         CAST(n * s12 - s1 * s2 AS DOUBLE) AS cov,
                         CAST(n * s11 - s1 * s1 AS DOUBLE) AS va,
                         CAST(n * s22 - s2 * s2 AS DOUBLE) AS vb
                  FROM m),
            r2 AS (SELECT n, cov / SQRT(va * vb) AS rho
                   FROM c WHERE va <> 0 AND vb <> 0),
            tt AS (SELECT n, rho,
                          CASE WHEN ABS(rho) < 1 AND n > 2
                               THEN rho * SQRT((CAST(n AS DOUBLE) - 2.0)
                                               / (1.0 - rho * rho))
                          END AS t
                   FROM r2)
            SELECT CAST(n AS BIGINT) AS n, ROUND(rho, 6) AS rho,
                   CASE WHEN t IS NOT NULL THEN
                       ROUND(LEAST(1.0, GREATEST(0.0,
                           2.0 * {_normal_sf_sql("ABS(t)")})), 6)
                   WHEN ABS(rho) >= 1 THEN 0.0 END AS p_value
            FROM tt
        """,
)


def _stats_kruskal_price_prio(spark, sf_dir):
    """Kruskal–Wallis across the five order-priority groups
    (ops/stats.py::kruskal_wallis): exact tie-averaged ranks, exact
    integer per-group rank sums + tie correction, Wilson–Hilferty χ²
    survival — the nonparametric ANOVA for skewed metrics."""
    from metadata_etl_framework_spark.ops.stats import kruskal_wallis

    o = _t(spark, sf_dir, "orders")
    return kruskal_wallis(o, "o_orderpriority", "o_totalprice")


register(
    "stats_kruskal_price_prio", build=_stats_kruskal_price_prio, tags=("headline",),
    oracle=f"""
            WITH base AS (
              SELECT CAST(o_orderpriority AS VARCHAR) AS g,
                     CAST(o_totalprice AS DOUBLE) AS v
              FROM orders
              WHERE o_orderpriority IS NOT NULL
                AND o_totalprice IS NOT NULL),
            cnts AS (SELECT v, COUNT(*) AS c FROM base GROUP BY v),
            rk AS (SELECT v,
                          2 * SUM(c) OVER (ORDER BY v) - (c - 1) AS d
                   FROM cnts),
            pg AS (SELECT g, COUNT(*) AS ni,
                          SUM(CAST(d AS HUGEINT)) AS di
                   FROM base JOIN rk USING (v) GROUP BY g),
            nn AS (SELECT SUM(ni) AS n, COUNT(*) AS k FROM pg),
            tsum AS (SELECT SUM(CAST(c AS HUGEINT) * c * c - c) AS ts
                     FROM cnts),
            terms AS (SELECT ROUND(CAST(di * di AS DOUBLE)
                                   / 4.0 / ni, 6) AS t
                      FROM pg),
            sagg AS (SELECT CAST(SUM(CAST(t AS DECIMAL(28,6)))
                                 AS DOUBLE) AS s
                     FROM terms),
            calc AS (SELECT n, k, s, ts,
                            CAST(n AS HUGEINT) * n * n - n AS dt,
                            12.0 / (CAST(n AS DOUBLE)
                                    * (CAST(n AS DOUBLE) + 1.0)) * s
                            - 3.0 * (CAST(n AS DOUBLE) + 1.0) AS h
                     FROM nn, tsum, sagg),
            c2 AS (SELECT *,
                          h / (1.0 - CAST(ts AS DOUBLE)
                                     / CAST(dt AS DOUBLE)) AS hc,
                          CAST(k - 1 AS DOUBLE) AS dd
                   FROM calc),
            whz AS (SELECT *,
                           (POWER(GREATEST(hc, 0.0) / dd, 1.0 / 3.0)
                            - (1.0 - 2.0 / (9.0 * dd)))
                           / SQRT(2.0 / (9.0 * dd)) AS z
                    FROM c2)
            SELECT CAST(n AS BIGINT) AS n, CAST(k AS INT) AS k,
                   ROUND(h, 6) AS h_stat,
                   ROUND(hc, 6) AS h_tie_corrected,
                   CAST(k - 1 AS INT) AS df,
                   ROUND(LEAST(1.0, GREATEST(0.0,
                       CASE WHEN z >= 0 THEN {_normal_sf_sql("z")}
                            ELSE 1.0 - {_normal_sf_sql("(-z)")} END)),
                       6) AS p_value
            FROM whz
        """,
)


# ---- round 13 (cont.): Poisson GLM (ops/glm.py::poisson_train) ----


def _glm_poisson_orders(spark, sf_dir):
    """In-engine Poisson regression (ops/glm.py::poisson_train):
    orders-per-customer ~ scaled account balance, log link, 3 Newton
    steps from the ln(mean) intercept init — each step ONE aggregation
    pass of pico-int gradient/Hessian sums, coefficients rounded 12 dp
    between passes; the oracle unrolls init + all 3 steps as CTEs
    (HUGEINT sums, same clamp, same 2x2 closed-form solve) and
    reproduces the betas bit-exactly. Completes the GLM family:
    logistic (rates) / OLS-ridge (levels) / Poisson (counts)."""
    from metadata_etl_framework_spark.ops.glm import poisson_train

    o = (
        _t(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )
    c = _t(spark, sf_dir, "customer").select(
        "c_custkey",
        (F.col("c_acctbal").cast("double") / F.lit(10000.0)).alias(
            "x1"
        ),
    )
    base = c.join(
        o, c["c_custkey"] == o["o_custkey"], "left"
    ).select(
        "x1", F.coalesce(F.col("n_orders"), F.lit(0)).alias("y")
    )
    return poisson_train(base, ["x1"], "y", iterations=3, ridge=1e-6)


def _poisson_iter_sql(i: int) -> str:
    prev = f"b{i - 1}"
    return f"""
            p{i} AS (SELECT y, x1,
                            EXP(GREATEST(LEAST(
                                b0 + b1 * x1, 30.0), -30.0)) AS mu
                     FROM base, {prev}),
            s{i} AS (SELECT SUM(CAST(ROUND((y - mu)
                                           * 1000000000000.0, 0)
                                     AS HUGEINT)) AS g0,
                            SUM(CAST(ROUND((y - mu) * x1
                                           * 1000000000000.0, 0)
                                     AS HUGEINT)) AS g1,
                            SUM(CAST(ROUND(mu * 1000000000000.0, 0)
                                     AS HUGEINT)) AS h00,
                            SUM(CAST(ROUND(mu * x1
                                           * 1000000000000.0, 0)
                                     AS HUGEINT)) AS h01,
                            SUM(CAST(ROUND(mu * x1 * x1
                                           * 1000000000000.0, 0)
                                     AS HUGEINT)) AS h11
                     FROM p{i}),
            d{i} AS (SELECT CAST(g0 AS DOUBLE) AS g0d,
                            CAST(g1 AS DOUBLE) AS g1d,
                            CAST(h00 + 1000000 AS DOUBLE) AS h00d,
                            CAST(h01 AS DOUBLE) AS h01d,
                            CAST(h11 + 1000000 AS DOUBLE) AS h11d
                     FROM s{i}),
            b{i} AS (SELECT ROUND((SELECT b0 FROM {prev})
                                  + (h11d * g0d - h01d * g1d)
                                    / (h00d * h11d - h01d * h01d),
                                  12) AS b0,
                            ROUND((SELECT b1 FROM {prev})
                                  + (h00d * g1d - h01d * g0d)
                                    / (h00d * h11d - h01d * h01d),
                                  12) AS b1
                     FROM d{i})"""


register(
    "glm_poisson_orders", build=_glm_poisson_orders, tags=("headline",),
    oracle=f"""
            WITH base AS (
              SELECT c.c_acctbal / 10000.0 AS x1,
                     CAST(COALESCE(o.n_orders, 0) AS DOUBLE) AS y
              FROM customer c
              LEFT JOIN (SELECT o_custkey, COUNT(*) AS n_orders
                         FROM orders GROUP BY 1) o
                ON c.c_custkey = o.o_custkey
              WHERE c.c_acctbal IS NOT NULL),
            s0 AS (SELECT COUNT(*) AS n,
                          SUM(CAST(ROUND(y * 1000000000000.0, 0)
                                   AS HUGEINT)) AS sy
                   FROM base),
            b0 AS (SELECT CASE WHEN sy > 0
                               THEN ROUND(LN(CAST(sy AS DOUBLE)
                                             / 1000000000000.0 / n),
                                          12)
                               ELSE 0.0 END AS b0,
                          0.0 AS b1
                   FROM s0),
            {",".join(_poisson_iter_sql(i) for i in (1, 2, 3))}
            SELECT '_intercept' AS term, b0 AS beta,
                   (SELECT CAST(n AS BIGINT) FROM s0) AS n_rows,
                   CAST(3 AS INTEGER) AS iterations
            FROM b3
            UNION ALL
            SELECT 'x1', b1,
                   (SELECT CAST(n AS BIGINT) FROM s0),
                   CAST(3 AS INTEGER)
            FROM b3
        """,
)


# ---- round 13 (cont.): Huber robust regression (ops/glm.py) ----


def _glm_huber_lineitem(spark, sf_dir):
    """Huber robust regression (ops/glm.py::huber_train): the
    glm_linear price-per-quantity line refit with bounded-influence
    IRLS (delta=0.2 on the scaled label, 2 reweighted passes from the
    closed-form OLS start) — each pass ONE aggregation of pico-int
    weighted normal-equation sums; the oracle unrolls OLS init + both
    reweighted passes and reproduces the betas bit-exactly."""
    from metadata_etl_framework_spark.ops.glm import huber_train

    li = _t(spark, sf_dir, "lineitem").select(
        (F.col("l_quantity").cast("double") / F.lit(10.0)).alias("x1"),
        (F.col("l_extendedprice").cast("double") / F.lit(100000.0))
        .alias("y"),
    )
    return huber_train(
        li, ["x1"], "y", delta=0.2, iterations=2, ridge=1e-6
    )


def _huber_iter_sql(i: int) -> str:
    prev = f"hb{i - 1}"
    return f"""
            hp{i} AS (SELECT y, x1,
                             y - (b0 + b1 * x1) AS r
                      FROM base, {prev}),
            hw{i} AS (SELECT y, x1,
                             CASE WHEN ABS(r) <= 0.2 THEN 1.0
                                  ELSE 0.2 / ABS(r) END AS w
                      FROM hp{i}),
            hs{i} AS (SELECT COUNT(*) AS n,
                             SUM(CAST(ROUND(w * 1.0 * y
                                            * 1000000000000.0, 0)
                                      AS HUGEINT)) AS g0,
                             SUM(CAST(ROUND(w * x1 * y
                                            * 1000000000000.0, 0)
                                      AS HUGEINT)) AS g1,
                             SUM(CAST(ROUND(w * 1.0 * 1.0
                                            * 1000000000000.0, 0)
                                      AS HUGEINT)) AS h00,
                             SUM(CAST(ROUND(w * 1.0 * x1
                                            * 1000000000000.0, 0)
                                      AS HUGEINT)) AS h01,
                             SUM(CAST(ROUND(w * x1 * x1
                                            * 1000000000000.0, 0)
                                      AS HUGEINT)) AS h11
                      FROM hw{i}),
            hd{i} AS (SELECT n,
                             CAST(g0 AS DOUBLE) AS g0d,
                             CAST(g1 AS DOUBLE) AS g1d,
                             CAST(h00 + 1000000 AS DOUBLE) AS h00d,
                             CAST(h01 AS DOUBLE) AS h01d,
                             CAST(h11 + 1000000 AS DOUBLE) AS h11d
                      FROM hs{i}),
            hb{i} AS (SELECT n,
                             ROUND((h11d * g0d - h01d * g1d)
                                   / (h00d * h11d - h01d * h01d),
                                   12) AS b0,
                             ROUND((h00d * g1d - h01d * g0d)
                                   / (h00d * h11d - h01d * h01d),
                                   12) AS b1
                      FROM hd{i})"""


register(
    "glm_huber_lineitem", build=_glm_huber_lineitem, tags=("headline", "gated",),
    oracle=f"""
            WITH base AS (
              SELECT CAST(l_quantity AS DOUBLE) / 10.0 AS x1,
                     CAST(l_extendedprice AS DOUBLE) / 100000.0 AS y
              FROM lineitem
              WHERE l_quantity IS NOT NULL
                AND l_extendedprice IS NOT NULL),
            hs0 AS (SELECT COUNT(*) AS n,
                           SUM(CAST(ROUND(1.0 * 1.0 * y
                                          * 1000000000000.0, 0)
                                    AS HUGEINT)) AS g0,
                           SUM(CAST(ROUND(1.0 * x1 * y
                                          * 1000000000000.0, 0)
                                    AS HUGEINT)) AS g1,
                           SUM(CAST(ROUND(1.0 * 1.0 * 1.0
                                          * 1000000000000.0, 0)
                                    AS HUGEINT)) AS h00,
                           SUM(CAST(ROUND(1.0 * 1.0 * x1
                                          * 1000000000000.0, 0)
                                    AS HUGEINT)) AS h01,
                           SUM(CAST(ROUND(1.0 * x1 * x1
                                          * 1000000000000.0, 0)
                                    AS HUGEINT)) AS h11
                    FROM base),
            hd0 AS (SELECT n,
                           CAST(g0 AS DOUBLE) AS g0d,
                           CAST(g1 AS DOUBLE) AS g1d,
                           CAST(h00 + 1000000 AS DOUBLE) AS h00d,
                           CAST(h01 AS DOUBLE) AS h01d,
                           CAST(h11 + 1000000 AS DOUBLE) AS h11d
                    FROM hs0),
            hb0 AS (SELECT n,
                           ROUND((h11d * g0d - h01d * g1d)
                                 / (h00d * h11d - h01d * h01d), 12)
                               AS b0,
                           ROUND((h00d * g1d - h01d * g0d)
                                 / (h00d * h11d - h01d * h01d), 12)
                               AS b1
                    FROM hd0),
            {",".join(_huber_iter_sql(i) for i in (1, 2))}
            SELECT '_intercept' AS term, b0 AS beta,
                   CAST(n AS BIGINT) AS n_rows,
                   CAST(2 AS INTEGER) AS iterations
            FROM hb2
            UNION ALL
            SELECT 'x1', b1, CAST(n AS BIGINT), CAST(2 AS INTEGER)
            FROM hb2
        """,
)


# ---- round 13 (cont.): 2-component GMM via unrolled EM ----


def _stats_gmm2_price(spark, sf_dir):
    """1-D two-component Gaussian mixture (ops/clustering.py::
    gmm2_train): EM over scaled extended price — mean-split init, 3 EM
    rounds each ONE aggregation pass (log-space responsibilities with
    the +/-30 clamp, pico-int DECIMAL sums for BOTH components,
    log-sum-exp likelihood monitor), parameters re-entering as 12-dp
    literals. The oracle unrolls init + all 3 rounds and reproduces
    weights/means/sigmas bit-exactly."""
    from metadata_etl_framework_spark.ops.clustering import gmm2_train

    li = _t(spark, sf_dir, "lineitem").select(
        (F.col("l_extendedprice").cast("double") / F.lit(100000.0))
        .alias("x")
    )
    return gmm2_train(li, "x", iterations=3)


def _gmm2_iter_sql(i: int) -> str:
    prev = f"g{i - 1}"
    return f"""
            e{i} AS (SELECT x,
                            LN(pi1) - 0.5 * LN(2.0 * PI() * v1)
                            - (x - mu1) * (x - mu1) / (2.0 * v1)
                                AS l1,
                            LN(1.0 - pi1)
                            - 0.5 * LN(2.0 * PI() * v2)
                            - (x - mu2) * (x - mu2) / (2.0 * v2)
                                AS l2
                     FROM base, {prev}),
            q{i} AS (SELECT x, l1, l2,
                            1.0 / (1.0 + EXP(-GREATEST(LEAST(
                                l1 - l2, 30.0), -30.0))) AS r1
                     FROM e{i}),
            a{i} AS (SELECT
                       SUM(CAST(ROUND(r1 * 1000000000000.0, 0)
                                AS HUGEINT)) AS sr1,
                       SUM(CAST(ROUND(r1 * x * 1000000000000.0, 0)
                                AS HUGEINT)) AS sr1x,
                       SUM(CAST(ROUND(r1 * x * x
                                      * 1000000000000.0, 0)
                                AS HUGEINT)) AS sr1xx,
                       SUM(CAST(ROUND((GREATEST(l1, l2)
                           + LN(1.0 + EXP(LEAST(l1, l2)
                                          - GREATEST(l1, l2))))
                           * 1000000000000.0, 0)
                                AS HUGEINT)) AS sll
                     FROM q{i}),
            b{i} AS (SELECT sr1, sr1x, sr1xx, sll,
                            CAST(n AS HUGEINT) * 1000000000000
                                - sr1 AS sr2,
                            sx - sr1x AS sr2x,
                            sxx - sr1xx AS sr2xx
                     FROM a{i}, s0),
            m{i} AS (SELECT
                       ROUND(CAST(sr1x AS DOUBLE)
                             / CAST(sr1 AS DOUBLE), 12) AS mu1,
                       ROUND(CAST(sr2x AS DOUBLE)
                             / CAST(sr2 AS DOUBLE), 12) AS mu2,
                       sr1, sr2, sr1xx, sr2xx, sll
                     FROM b{i}),
            g{i} AS (SELECT mu1, mu2,
                            GREATEST(ROUND(CAST(sr1xx AS DOUBLE)
                                           / CAST(sr1 AS DOUBLE)
                                           - mu1 * mu1, 12),
                                     0.000001) AS v1,
                            GREATEST(ROUND(CAST(sr2xx AS DOUBLE)
                                           / CAST(sr2 AS DOUBLE)
                                           - mu2 * mu2, 12),
                                     0.000001) AS v2,
                            ROUND(CAST(sr1 AS DOUBLE)
                                  / 1000000000000.0
                                  / (SELECT n FROM s0), 12) AS pi1,
                            ROUND(CAST(sll AS DOUBLE)
                                  / 1000000000000.0
                                  / (SELECT n FROM s0), 12) AS ll
                     FROM m{i})"""


register(
    "stats_gmm2_price", build=_stats_gmm2_price, tags=("headline", "gated",),
    oracle=f"""
            WITH base AS (
              SELECT CAST(l_extendedprice AS DOUBLE) / 100000.0 AS x
              FROM lineitem WHERE l_extendedprice IS NOT NULL),
            s0 AS (SELECT COUNT(*) AS n,
                          SUM(CAST(ROUND(x * 1000000000000.0, 0)
                                   AS HUGEINT)) AS sx,
                          SUM(CAST(ROUND(x * x * 1000000000000.0, 0)
                                   AS HUGEINT)) AS sxx
                   FROM base),
            i0 AS (SELECT n,
                          ROUND(CAST(sx AS DOUBLE)
                                / 1000000000000.0 / n, 12) AS m
                   FROM s0),
            i1 AS (SELECT i0.n, i0.m,
                          GREATEST(ROUND(CAST(sxx AS DOUBLE)
                                         / 1000000000000.0 / i0.n
                                         - i0.m * i0.m, 12),
                                   0.000001) AS v
                   FROM s0, i0),
            sp AS (SELECT SUM(CASE WHEN x <= m THEN 1 ELSE 0 END)
                              AS n1,
                          SUM(CAST(ROUND(CASE WHEN x <= m THEN x
                                              ELSE 0.0 END
                                         * 1000000000000.0, 0)
                                   AS HUGEINT)) AS sl,
                          SUM(CAST(ROUND(CASE WHEN x > m THEN x
                                              ELSE 0.0 END
                                         * 1000000000000.0, 0)
                                   AS HUGEINT)) AS su
                   FROM base, i1
                   GROUP BY m),
            g0 AS (SELECT CASE WHEN n1 = 0 OR n - n1 = 0 THEN m
                          ELSE ROUND(CAST(sl AS DOUBLE)
                                     / 1000000000000.0 / n1, 12)
                          END AS mu1,
                          CASE WHEN n1 = 0 OR n - n1 = 0 THEN m
                          ELSE ROUND(CAST(su AS DOUBLE)
                                     / 1000000000000.0 / (n - n1),
                                     12)
                          END AS mu2,
                          v AS v1, v AS v2,
                          CASE WHEN n1 = 0 OR n - n1 = 0 THEN 0.5
                          ELSE ROUND(CAST(n1 AS DOUBLE) / n, 12)
                          END AS pi1
                   FROM sp, i1),
            {",".join(_gmm2_iter_sql(i) for i in (1, 2, 3))}
            SELECT CAST(c.component AS INTEGER) AS component,
                   CASE c.component WHEN 1 THEN ROUND(pi1, 6)
                        ELSE ROUND(1.0 - pi1, 6) END AS weight,
                   CASE c.component WHEN 1 THEN ROUND(mu1, 6)
                        ELSE ROUND(mu2, 6) END AS mu,
                   CASE c.component WHEN 1 THEN ROUND(SQRT(v1), 6)
                        ELSE ROUND(SQRT(v2), 6) END AS sigma,
                   (SELECT CAST(n AS BIGINT) FROM s0) AS n_rows,
                   CAST(3 AS INTEGER) AS iterations,
                   ROUND(ll, 6) AS mean_loglik
            FROM g3, (SELECT UNNEST([1, 2]) AS component) c
            ORDER BY component
        """,
)


# ---- round 14: quantile (pinball) regression ----


def _glm_quantile_lineitem(spark, sf_dir):
    """Quantile (pinball) regression (ops/glm.py::quantile_train):
    the P50 and P90 price-per-quantity lines fit together — shared
    closed-form OLS init, then 2 IRLS passes per tau with
    w = |tau − 1[r<0]| / max(|r|, 1e-3), BOTH taus' pico-int
    normal-equation sums collected in the SAME scan (two-level exact
    aggregation; the 1e-3 floor caps the weight so the long partials
    stay bounded — 1e-6 measured-overflowed at sf0.1). The oracle
    unrolls init + both taus' passes and reproduces every beta
    bit-exactly."""
    from metadata_etl_framework_spark.ops.glm import quantile_train

    li = _t(spark, sf_dir, "lineitem").select(
        (F.col("l_quantity").cast("double") / F.lit(10.0)).alias("x1"),
        (F.col("l_extendedprice").cast("double") / F.lit(100000.0))
        .alias("y"),
    )
    return quantile_train(
        li, ["x1"], "y", taus=(0.5, 0.9), iterations=2,
        ridge=1e-6, eps=1e-3,
    )


def _quantile_iter_sql(ti: int, tau: str, i: int) -> str:
    prev = "qb0" if i == 1 else f"qt{ti}b{i - 1}"
    return f"""
            qt{ti}p{i} AS (SELECT y, x1,
                                  y - (b0 + b1 * x1) AS r
                           FROM base, {prev}),
            qt{ti}w{i} AS (SELECT y, x1,
                                  ABS({tau} - CASE WHEN r < 0
                                              THEN 1.0 ELSE 0.0 END)
                                  / GREATEST(ABS(r), 0.001) AS w
                           FROM qt{ti}p{i}),
            qt{ti}s{i} AS (SELECT COUNT(*) AS n,
                             SUM(CAST(ROUND(w * 1.0 * y
                                            * 1000000000000.0, 0)
                                      AS HUGEINT)) AS g0,
                             SUM(CAST(ROUND(w * x1 * y
                                            * 1000000000000.0, 0)
                                      AS HUGEINT)) AS g1,
                             SUM(CAST(ROUND(w * 1.0 * 1.0
                                            * 1000000000000.0, 0)
                                      AS HUGEINT)) AS h00,
                             SUM(CAST(ROUND(w * 1.0 * x1
                                            * 1000000000000.0, 0)
                                      AS HUGEINT)) AS h01,
                             SUM(CAST(ROUND(w * x1 * x1
                                            * 1000000000000.0, 0)
                                      AS HUGEINT)) AS h11
                           FROM qt{ti}w{i}),
            qt{ti}d{i} AS (SELECT n,
                             CAST(g0 AS DOUBLE) AS g0d,
                             CAST(g1 AS DOUBLE) AS g1d,
                             CAST(h00 + 1000000 AS DOUBLE) AS h00d,
                             CAST(h01 AS DOUBLE) AS h01d,
                             CAST(h11 + 1000000 AS DOUBLE) AS h11d
                           FROM qt{ti}s{i}),
            qt{ti}b{i} AS (SELECT n,
                             ROUND((h11d * g0d - h01d * g1d)
                                   / (h00d * h11d - h01d * h01d),
                                   12) AS b0,
                             ROUND((h00d * g1d - h01d * g0d)
                                   / (h00d * h11d - h01d * h01d),
                                   12) AS b1
                           FROM qt{ti}d{i})"""


def _quantile_sql() -> str:
    iters = ",".join(
        _quantile_iter_sql(ti, tau, i)
        for ti, tau in ((0, "0.5"), (1, "0.9"))
        for i in (1, 2)
    )
    tail = "\n            UNION ALL\n".join(
        f"""            SELECT {tau} AS tau, '{term}' AS term,
                   {col} AS beta, CAST(n AS BIGINT) AS n_rows,
                   CAST(2 AS INTEGER) AS iterations
            FROM qt{ti}b2"""
        for ti, tau in ((0, "0.5"), (1, "0.9"))
        for term, col in (("_intercept", "b0"), ("x1", "b1"))
    )
    return f"""
            WITH base AS (
              SELECT CAST(l_quantity AS DOUBLE) / 10.0 AS x1,
                     CAST(l_extendedprice AS DOUBLE) / 100000.0 AS y
              FROM lineitem
              WHERE l_quantity IS NOT NULL
                AND l_extendedprice IS NOT NULL),
            qs0 AS (SELECT COUNT(*) AS n,
                           SUM(CAST(ROUND(1.0 * 1.0 * y
                                          * 1000000000000.0, 0)
                                    AS HUGEINT)) AS g0,
                           SUM(CAST(ROUND(1.0 * x1 * y
                                          * 1000000000000.0, 0)
                                    AS HUGEINT)) AS g1,
                           SUM(CAST(ROUND(1.0 * 1.0 * 1.0
                                          * 1000000000000.0, 0)
                                    AS HUGEINT)) AS h00,
                           SUM(CAST(ROUND(1.0 * 1.0 * x1
                                          * 1000000000000.0, 0)
                                    AS HUGEINT)) AS h01,
                           SUM(CAST(ROUND(1.0 * x1 * x1
                                          * 1000000000000.0, 0)
                                    AS HUGEINT)) AS h11
                    FROM base),
            qd0 AS (SELECT n,
                           CAST(g0 AS DOUBLE) AS g0d,
                           CAST(g1 AS DOUBLE) AS g1d,
                           CAST(h00 + 1000000 AS DOUBLE) AS h00d,
                           CAST(h01 AS DOUBLE) AS h01d,
                           CAST(h11 + 1000000 AS DOUBLE) AS h11d
                    FROM qs0),
            qb0 AS (SELECT n,
                           ROUND((h11d * g0d - h01d * g1d)
                                 / (h00d * h11d - h01d * h01d), 12)
                               AS b0,
                           ROUND((h00d * g1d - h01d * g0d)
                                 / (h00d * h11d - h01d * h01d), 12)
                               AS b1
                    FROM qd0),
            {iters}
{tail}
        """


register(
    "glm_quantile_lineitem", build=_glm_quantile_lineitem, tags=("headline", "gated",),
    oracle=_quantile_sql(),
)
