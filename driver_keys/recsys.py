"""Recommender keys: item-item CF, ALS, popularity and basket affinity."""

from __future__ import annotations

from pyspark.sql import functions as F

from driver_keys.common import _als_half_sql, _RECSYS_SIMS_CTE, _t
from driver_keys.registry import register


def _basket_brand_affinity(spark, sf_dir):
    """Market-basket affinity over order baskets of part BRANDS
    (ops/affinity.py::basket_affinity): distinct presence reduction,
    self-join on the basket key (never a cross join), exact
    support/confidence/lift — pairs co-occurring in ≥ 5 orders."""
    from metadata_etl_framework_spark.ops.affinity import basket_affinity

    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    p = _t(spark, sf_dir, "part").select("p_partkey", "p_brand")
    baskets = li.join(
        p, li["l_partkey"] == p["p_partkey"]
    ).select("l_orderkey", "p_brand")
    return basket_affinity(baskets, "l_orderkey", "p_brand",
                           min_pair_count=5)


register("basket_brand_affinity", build=_basket_brand_affinity, oracle="""
            WITH items AS (SELECT DISTINCT l_orderkey AS b, p_brand AS i
                           FROM lineitem JOIN part
                             ON l_partkey = p_partkey
                           WHERE l_orderkey IS NOT NULL
                             AND p_brand IS NOT NULL),
            n AS (SELECT COUNT(DISTINCT b) AS nb FROM items),
            ci AS (SELECT i, COUNT(*) AS c FROM items GROUP BY i),
            pr AS (SELECT a.i AS ia, c.i AS ib, COUNT(*) AS cab
                   FROM items a JOIN items c ON a.b = c.b AND a.i < c.i
                   GROUP BY 1, 2 HAVING COUNT(*) >= 5)
            SELECT pr.ia AS item_a, pr.ib AS item_b,
                   CAST(cab AS BIGINT) AS n_both,
                   ROUND(cab / nb, 6) AS support,
                   ROUND(cab / ca.c, 6) AS conf_a_to_b,
                   ROUND(cab / cb.c, 6) AS conf_b_to_a,
                   ROUND((cab * nb) / (ca.c * cb.c), 6) AS lift
            FROM pr
            JOIN ci ca ON ca.i = pr.ia
            JOIN ci cb ON cb.i = pr.ib
            CROSS JOIN n
        """)


# ---- round 11: item-based collaborative filtering (ops/recsys.py) ----


def _recsys_ub(spark, sf_dir):
    """Customer × part-brand interaction frame (binary presence)."""
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    p = _t(spark, sf_dir, "part").select("p_partkey", "p_brand")
    return (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(p, li["l_partkey"] == p["p_partkey"])
        .select("o_custkey", "p_brand")
    )


def _recsys_item_item_brands(spark, sf_dir):
    """Item-item cosine neighbors over the customer×brand matrix
    (ops/recsys.py::item_item_cosine): distinct-presence reduction,
    self-equi-join on the user key (never cross), exact integer-count
    cosine with n/(n+10) shrinkage, support floor 5 co-customers."""
    from metadata_etl_framework_spark.ops.recsys import item_item_cosine

    return item_item_cosine(
        _recsys_ub(spark, sf_dir), "o_custkey", "p_brand",
        min_cooc=5, shrinkage=10.0,
    )


def _recsys_user_brand_recs(spark, sf_dir):
    """Top-3 unseen-brand recommendations per customer
    (ops/recsys.py::recommend_items): symmetrized broadcast neighbor
    model, DECIMAL score accumulation (merge-order independent),
    deterministic (score desc, item asc) ranking."""
    from metadata_etl_framework_spark.ops.recsys import (
        item_item_cosine,
        recommend_items,
    )

    # the interaction build feeds BOTH ops (the model's dedup and the
    # scorer's seen set) — materialize it once instead of executing
    # the fact join per op (blocks freed by the ContextCleaner when
    # the returned plan drops its references)
    ub = _recsys_ub(spark, sf_dir).localCheckpoint(eager=True)
    sims = item_item_cosine(
        ub, "o_custkey", "p_brand", min_cooc=5, shrinkage=10.0
    )
    return recommend_items(ub, sims, "o_custkey", "p_brand", top_n=3)


def _recsys_topk_model(spark, sf_dir):
    """Top-k-bounded neighbor model (ops/recsys.py::item_item_cosine
    with top_k_per_item=5): symmetrize-rank-canonicalize prune keeps a
    pair iff either endpoint ranks it in its top 5 by shrunk cosine —
    the bound that makes the scoring model broadcast-sized at any
    catalog scale (round-12 verdict task 1)."""
    from metadata_etl_framework_spark.ops.recsys import item_item_cosine

    return item_item_cosine(
        _recsys_ub(spark, sf_dir), "o_custkey", "p_brand",
        min_cooc=5, shrinkage=10.0, top_k_per_item=5,
    )


def _als_ratings(spark, sf_dir):
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_quantity"
    )
    return (
        o.join(li, o["o_orderkey"] == li["l_orderkey"])
        .groupBy("o_custkey", "l_suppkey")
        .agg(F.sum("l_quantity").cast("double").alias("r"))
    )


def _recsys_als_factors(spark, sf_dir):
    """Rank-2 ALS factorization (ops/recsys.py::als_factorize) of the
    customer×supplier quantity matrix, 2 alternation rounds, λ=0.1:
    item factors initialize from the portable hash, each half-round is
    one groupBy collecting per-key 2×2 normal equations as pico-int
    DECIMAL sums with the closed-form adjugate solve as column
    arithmetic — the training loop unrolled bit-for-bit by the
    DuckDB oracle (the glm_logit IRLS convention). Returns the item
    (supplier) factor table."""
    from metadata_etl_framework_spark.ops.recsys import als_factorize

    _, itf = als_factorize(
        _als_ratings(spark, sf_dir), "o_custkey", "l_suppkey", "r",
        rounds=2, reg=0.1,
    )
    return itf.orderBy("l_suppkey")


def _recsys_als_recs(spark, sf_dir):
    """Top-3 unseen-supplier recommendations from the rank-2 ALS model
    (ops/recsys.py::als_recommend): broadcast item-factor scoring
    (bounded catalog side, measured gate with the ANN remediation
    path), seen anti-join, per-user window — (score DESC, item ASC)
    deterministic ordering replayed by the oracle."""
    from metadata_etl_framework_spark.ops.recsys import (
        als_factorize,
        als_recommend,
    )

    ratings = _als_ratings(spark, sf_dir)
    uf, itf = als_factorize(
        ratings, "o_custkey", "l_suppkey", "r", rounds=2, reg=0.1
    )
    return als_recommend(
        ratings, uf, itf, "o_custkey", "l_suppkey", top_n=3
    )


def _recsys_als_rmse(spark, sf_dir):
    """Training-fit evaluation of the same rank-2 ALS run
    (ops/recsys.py::als_evaluate): one joined pass, pico-int squared
    error sums — (n_ratings, n_users, n_items, rmse)."""
    from metadata_etl_framework_spark.ops.recsys import (
        als_evaluate,
        als_factorize,
    )

    ratings = _als_ratings(spark, sf_dir)
    uf, itf = als_factorize(
        ratings, "o_custkey", "l_suppkey", "r", rounds=2, reg=0.1
    )
    return als_evaluate(
        ratings, uf, itf, "o_custkey", "l_suppkey", "r"
    )


register("recsys_item_item_brands", build=_recsys_item_item_brands, oracle=f"""
            WITH {_RECSYS_SIMS_CTE}
            SELECT ia AS item_a, ib AS item_b, cab AS n_cooc,
                   cosine, shrunk AS shrunk_cosine
            FROM sims
        """)

register(
    "recsys_user_brand_recs", build=_recsys_user_brand_recs,
    tags=("headline", "gated",),
    oracle=f"""
            WITH {_RECSYS_SIMS_CTE},
            sym AS (SELECT ia AS i, ib AS j, shrunk AS s FROM sims
                    UNION ALL
                    SELECT ib AS i, ia AS j, shrunk AS s FROM sims),
            scored AS (SELECT inter.u, sym.j,
                              SUM(CAST(s AS DECIMAL(20,6))) AS sc
                       FROM inter JOIN sym ON inter.i = sym.i
                       GROUP BY 1, 2),
            unseen AS (SELECT scored.*
                       FROM scored
                       ANTI JOIN inter
                         ON scored.u = inter.u AND scored.j = inter.i),
            ranked AS (SELECT u, j, sc,
                              ROW_NUMBER() OVER (
                                  PARTITION BY u
                                  ORDER BY sc DESC, j ASC) AS rnk
                       FROM unseen)
            SELECT u AS "user", j AS item,
                   ROUND(CAST(sc AS DOUBLE), 6) AS score,
                   CAST(rnk AS INT) AS rank
            FROM ranked WHERE rnk <= 3
        """,
)

register(
    "recsys_topk_model", build=_recsys_topk_model, tags=("headline", "gated",),
    oracle=f"""
            WITH {_RECSYS_SIMS_CTE},
            sym AS (SELECT ia, ib, cab, cosine, shrunk, ia AS i, ib AS j
                    FROM sims
                    UNION ALL
                    SELECT ia, ib, cab, cosine, shrunk, ib AS i, ia AS j
                    FROM sims),
            ranked AS (SELECT ia, ib, cab, cosine, shrunk,
                              ROW_NUMBER() OVER (
                                  PARTITION BY i
                                  ORDER BY shrunk DESC, j ASC) AS rk
                       FROM sym)
            SELECT DISTINCT ia AS item_a, ib AS item_b, cab AS n_cooc,
                   cosine, shrunk AS shrunk_cosine
            FROM ranked WHERE rk <= 5
        """,
)


_ALS_PRELUDE_SQL = f"""
            WITH base AS MATERIALIZED (
              SELECT o_custkey AS u, l_suppkey AS it,
                     CAST(SUM(l_quantity) AS DOUBLE) AS r
              FROM orders JOIN lineitem ON o_orderkey = l_orderkey
              GROUP BY 1, 2
            ),
            it0 AS (SELECT DISTINCT it FROM base),
            ha AS (SELECT it,
                          ((it % 2147483648) * 2654435761)
                            % 4294967296 AS x1,
                          (((it + 7919) % 2147483648) * 2654435761)
                            % 4294967296 AS x2
                   FROM it0),
            hb AS (SELECT it,
                          (xor(x1, x1 >> 16) * 73244475)
                            % 4294967296 AS y1,
                          (xor(x2, x2 >> 16) * 73244475)
                            % 4294967296 AS y2
                   FROM ha),
            q0 AS MATERIALIZED (
                 SELECT it AS k,
                        ROUND(xor(y1, y1 >> 16) / 4294967296.0
                              - 0.5, 12) AS f1,
                        ROUND(xor(y2, y2 >> 16) / 4294967296.0
                              - 0.5, 12) AS f2
                 FROM hb),
            {_als_half_sql('p1', 'u', 'it', 'q0')},
            {_als_half_sql('q1', 'it', 'u', 'p1')},
            {_als_half_sql('p2', 'u', 'it', 'q1')},
            {_als_half_sql('q2', 'it', 'u', 'p2')}
"""


register(
    "recsys_als_factors", build=_recsys_als_factors, tags=("headline", "gated",),
    oracle=f"""
            {_ALS_PRELUDE_SQL}
            SELECT k AS l_suppkey, f1, f2 FROM q2 ORDER BY l_suppkey
        """,
)

register("recsys_als_recs", build=_recsys_als_recs, oracle=f"""
            {_ALS_PRELUDE_SQL},
            cross0 AS (SELECT p.k AS u, q.k AS it,
                              ROUND(p.f1 * q.f1 + p.f2 * q.f2, 6)
                                  AS score
                       FROM p2 p, q2 q),
            unseen AS (SELECT c.* FROM cross0 c
                       ANTI JOIN base b
                         ON c.u = b.u AND c.it = b.it),
            rk AS (SELECT u, it, score,
                          CAST(ROW_NUMBER() OVER (
                               PARTITION BY u
                               ORDER BY score DESC, it ASC)
                               AS INT) AS rank
                   FROM unseen)
            SELECT u AS o_custkey, it AS l_suppkey, score, rank
            FROM rk WHERE rank <= 3
        """)

register("recsys_als_rmse", build=_recsys_als_rmse, oracle=f"""
            {_ALS_PRELUDE_SQL}
            SELECT CAST(COUNT(*) AS BIGINT) AS n_ratings,
                   CAST(COUNT(DISTINCT b.u) AS BIGINT) AS n_users,
                   CAST(COUNT(DISTINCT b.it) AS BIGINT) AS n_items,
                   ROUND(SQRT(CAST(SUM(CAST(ROUND(
                       (b.r - (p.f1 * q.f1 + p.f2 * q.f2))
                       * (b.r - (p.f1 * q.f1 + p.f2 * q.f2))
                       * 1000000000000.0, 0) AS HUGEINT)) AS DOUBLE)
                       / 1000000000000.0 / COUNT(*)), 6) AS rmse
            FROM base b
            JOIN p2 p ON b.u = p.k
            JOIN q2 q ON b.it = q.k
        """)


# ---- round 11 close: rating-mode CF (DECIMAL dot-product arm) ----


def _recsys_item_item_qty(spark, sf_dir):
    """Rating-mode item-item cosine (ops/recsys.py::item_item_cosine
    with rating_col): quantity-weighted customer×brand matrix — the
    DECIMAL(18,6)-carried dot/norm arm, exact in any engine."""
    from metadata_etl_framework_spark.ops.recsys import item_item_cosine

    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_quantity"
    )
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    p = _t(spark, sf_dir, "part").select("p_partkey", "p_brand")
    ub = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(p, li["l_partkey"] == p["p_partkey"])
        .select("o_custkey", "p_brand", "l_quantity")
    )
    return item_item_cosine(
        ub, "o_custkey", "p_brand", rating_col="l_quantity",
        min_cooc=5, shrinkage=10.0,
    )


register("recsys_item_item_qty", build=_recsys_item_item_qty, oracle="""
            WITH raw AS (SELECT o_custkey AS u, p_brand AS i,
                                l_quantity AS r
                         FROM lineitem
                         JOIN orders ON l_orderkey = o_orderkey
                         JOIN part ON l_partkey = p_partkey
                         WHERE o_custkey IS NOT NULL
                           AND p_brand IS NOT NULL),
            inter AS (SELECT u, i,
                             CAST(ROUND(SUM(CAST(r AS DECIMAL(30,10))),
                                        6) AS DECIMAL(18,6)) AS r
                      FROM raw GROUP BY 1, 2),
            norms AS (SELECT i, COUNT(*) AS n,
                             SUM(CAST(r AS DECIMAL(20,6)) * r) AS sq
                      FROM inter GROUP BY 1),
            pr AS (SELECT a.i AS ia, b.i AS ib, COUNT(*) AS cab,
                          SUM(CAST(a.r AS DECIMAL(20,6)) * b.r) AS dot
                   FROM inter a JOIN inter b
                     ON a.u = b.u AND a.i < b.i
                   GROUP BY 1, 2 HAVING COUNT(*) >= 5)
            SELECT ia AS item_a, ib AS item_b,
                   CAST(cab AS BIGINT) AS n_cooc,
                   ROUND(CAST(dot AS DOUBLE)
                         / SQRT(CAST(na.sq AS DOUBLE)
                                * CAST(nb.sq AS DOUBLE)), 6) AS cosine,
                   ROUND((CAST(dot AS DOUBLE)
                          / SQRT(CAST(na.sq AS DOUBLE)
                                 * CAST(nb.sq AS DOUBLE)))
                         * (cab / (cab + 10.0)), 6) AS shrunk_cosine
            FROM pr
            JOIN norms na ON na.i = pr.ia
            JOIN norms nb ON nb.i = pr.ib
        """)


# ---- round 13 (cont.): popularity recs + beyond-accuracy audit ----

_POP_RECS_SQL_CTES = """
            ui AS (SELECT DISTINCT o_custkey AS usr, p_brand AS item
                   FROM lineitem
                   JOIN orders ON l_orderkey = o_orderkey
                   JOIN part ON l_partkey = p_partkey
                   WHERE o_custkey IS NOT NULL
                     AND p_brand IS NOT NULL),
            pop AS (SELECT item, COUNT(*) AS pop FROM ui GROUP BY 1),
            usrs AS (SELECT DISTINCT usr FROM ui),
            cand AS (SELECT usrs.usr, pop.item, pop.pop
                     FROM usrs CROSS JOIN pop
                     LEFT JOIN ui ON ui.usr = usrs.usr
                                 AND ui.item = pop.item
                     WHERE ui.usr IS NULL),
            rr AS (SELECT usr, item, pop,
                          ROW_NUMBER() OVER (PARTITION BY usr
                                             ORDER BY pop DESC, item)
                              AS rn
                   FROM cand)"""


def _recsys_pop_recs(spark, sf_dir):
    """Popularity-baseline recommender (ops/recsys.py::
    popularity_recommend): per-customer top-5 most-popular UNSEEN
    brands — distinct-reduced interactions, measured-catalog broadcast
    cross, seen anti-filter, one partitioned window with (pop DESC,
    item) determinism. The baseline every personalized path (CF, ALS)
    must beat."""
    from metadata_etl_framework_spark.ops.recsys import (
        popularity_recommend,
    )

    return popularity_recommend(
        _recsys_ub(spark, sf_dir), "o_custkey", "p_brand", n=5
    )


def _recsys_eval_coverage(spark, sf_dir):
    """Beyond-accuracy audit (ops/recsys.py::recsys_eval_coverage) of
    the popularity baseline: catalog coverage, mean self-information
    novelty (pico-int log2 sums), and the exact rank-formula Gini of
    recommendation concentration over the FULL catalog (zeros
    included) — the metrics that catch head-item collapse."""
    from metadata_etl_framework_spark.ops.recsys import (
        popularity_recommend,
        recsys_eval_coverage,
    )

    # ub feeds the recommender AND the coverage audit — one
    # materialization (see _recsys_user_brand_recs)
    ub = _recsys_ub(spark, sf_dir).localCheckpoint(eager=True)
    recs = popularity_recommend(ub, "o_custkey", "p_brand", n=5)
    return recsys_eval_coverage(
        recs.withColumnRenamed("user", "o_custkey")
        .withColumnRenamed("item", "p_brand"),
        ub,
        user_col="o_custkey",
        item_col="p_brand",
    )


register("recsys_pop_recs", build=_recsys_pop_recs, tags=("headline",), oracle=f"""
            WITH {_POP_RECS_SQL_CTES}
            SELECT usr AS "user", item, CAST(pop AS BIGINT) AS pop,
                   CAST(rn AS INT) AS rn
            FROM rr WHERE rn <= 5
        """)

register(
    "recsys_eval_coverage", build=_recsys_eval_coverage, tags=("headline",),
    oracle=f"""
            WITH {_POP_RECS_SQL_CTES},
            recs AS (SELECT usr, item FROM rr WHERE rn <= 5),
            nu AS (SELECT COUNT(DISTINCT usr) AS n_users FROM ui),
            rcount AS (SELECT item, COUNT(*) AS rc FROM recs
                       GROUP BY 1),
            nov AS (SELECT COUNT(*) AS n_rec_rows,
                           SUM(CASE WHEN pop.pop IS NULL
                                    THEN 1 ELSE 0 END) AS n_unscored,
                           SUM(CASE WHEN pop.pop IS NOT NULL THEN
                               CAST(ROUND(
                                   -LOG2(pop.pop
                                         / CAST(n_users AS DOUBLE))
                                   * 1000000000000.0, 0)
                                    AS HUGEINT) END) AS snov,
                           MAX(n_users) AS n_users
                    FROM recs LEFT JOIN pop ON recs.item = pop.item,
                         nu),
            grid AS (SELECT pop.item,
                            COALESCE(rcount.rc, 0) AS rc
                     FROM pop LEFT JOIN rcount
                       ON pop.item = rcount.item),
            rkd AS (SELECT rc,
                           ROW_NUMBER() OVER (ORDER BY rc, item)
                               AS i
                    FROM grid),
            gini AS (SELECT COUNT(*) AS catalog_size,
                            SUM(CAST(i AS HUGEINT) * rc) AS six,
                            SUM(CAST(rc AS HUGEINT)) AS ssx,
                            SUM(CASE WHEN rc > 0 THEN 1 ELSE 0 END)
                                AS items_recommended
                     FROM rkd)
            SELECT CAST(n_users AS BIGINT) AS n_users,
                   CAST(n_rec_rows AS BIGINT) AS n_rec_rows,
                   CAST(catalog_size AS BIGINT) AS catalog_size,
                   CAST(items_recommended AS BIGINT)
                       AS items_recommended,
                   CAST(n_unscored AS BIGINT) AS n_unscored,
                   ROUND(items_recommended
                         / CAST(catalog_size AS DOUBLE), 6)
                       AS coverage,
                   ROUND(CASE WHEN n_rec_rows - n_unscored > 0
                              THEN CAST(snov AS DOUBLE)
                                   / 1000000000000.0
                                   / (n_rec_rows - n_unscored) END,
                         6) AS novelty_bits,
                   ROUND(CASE WHEN ssx > 0 THEN
                         (2.0 * CAST(six AS DOUBLE)
                          - CAST(catalog_size + 1 AS DOUBLE)
                            * CAST(ssx AS DOUBLE))
                         / (CAST(catalog_size AS DOUBLE)
                            * CAST(ssx AS DOUBLE)) END, 6)
                       AS rec_gini
            FROM nov, gini
        """,
)
