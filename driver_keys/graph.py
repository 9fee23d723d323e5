"""Graph keys: PageRank, communities, centrality, walks and link prediction."""

from __future__ import annotations

from pyspark.sql import functions as F

from metadata_etl_framework_spark.ops import similarity as sim_ops

from driver_keys.common import (
    _als_half_sql,
    _copurchase_edges_sql,
    _gmod_phase1_ctes,
    _louvain_sql,
    _pagerank_sql,
    _t,
)
from driver_keys.registry import register


def _graph_pagerank_suppliers(spark, sf_dir):
    """Weighted PageRank over the customer↔supplier trade graph
    (ops/graph.py::pagerank — iterative edge⋈rank join, per-iteration
    persist/release, decimal-summed contributions): edges are
    order-volume counts in BOTH directions, 3 damped iterations. The
    whole iterative computation is replayed by unrolled SQL CTEs — an
    oracle-checked iterative graph algorithm."""
    from metadata_etl_framework_spark.ops.graph import pagerank

    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    pair = (
        o.join(li, o["o_orderkey"] == li["l_orderkey"])
        .groupBy("o_custkey", "l_suppkey")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    c = F.concat(F.lit("c"), F.col("o_custkey").cast("string"))
    s = F.concat(F.lit("s"), F.col("l_suppkey").cast("string"))
    # both directions via ONE explode instead of a self-union: a union
    # of two projections of the same aggregate executes the fact join
    # + groupBy twice; the exploded pair array emits the identical row
    # multiset in a single pass (guide §2.4 — the _pmi_pair_corpus
    # convention)
    edges = pair.select(
        F.explode(
            F.array(
                F.struct(c.alias("src"), s.alias("dst"), F.col("n")),
                F.struct(s.alias("src"), c.alias("dst"), F.col("n")),
            )
        ).alias("_e")
    ).select("_e.src", "_e.dst", "_e.n")
    return pagerank(
        edges, iterations=3, damping=0.85, weight_col="n",
        checkpoint_every=3,
    )


_PPR_SEEDS = ["c1", "c2", "c3"]


def _graph_ppr_customers(spark, sf_dir):
    """Personalized PageRank from a 3-customer seed set over the same
    trade graph (ops/graph.py::pagerank seed_nodes) — 'which suppliers
    matter to THESE customers', the related-items primitive; teleport
    is a per-row CASE, plan unchanged, iterations replayed in SQL."""
    from metadata_etl_framework_spark.ops.graph import pagerank

    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    pair = (
        o.join(li, o["o_orderkey"] == li["l_orderkey"])
        .groupBy("o_custkey", "l_suppkey")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    c = F.concat(F.lit("c"), F.col("o_custkey").cast("string"))
    s = F.concat(F.lit("s"), F.col("l_suppkey").cast("string"))
    # one explode, not a self-union (see _graph_pagerank_suppliers)
    edges = pair.select(
        F.explode(
            F.array(
                F.struct(c.alias("src"), s.alias("dst"), F.col("n")),
                F.struct(s.alias("src"), c.alias("dst"), F.col("n")),
            )
        ).alias("_e")
    ).select("_e.src", "_e.dst", "_e.n")
    return pagerank(
        edges, iterations=3, damping=0.85, weight_col="n",
        checkpoint_every=3, seed_nodes=_PPR_SEEDS,
    )


def _graph_pagerank_dangling(spark, sf_dir):
    """Mass-conserving PageRank on a graph WITH dangling nodes
    (ops/graph.py::pagerank redistribute_dangling=True): edges run
    customer→supplier ONLY, so every supplier is dangling; each
    iteration's dangling rank mass (one DECIMAL-summed 1-row aggregate,
    broadcast back via cross-join) re-enters through the uniform
    teleport, keeping Σ rank = 1. Replayed by unrolled SQL CTEs."""
    from metadata_etl_framework_spark.ops.graph import pagerank

    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    pair = (
        o.join(li, o["o_orderkey"] == li["l_orderkey"])
        .groupBy("o_custkey", "l_suppkey")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    c = F.concat(F.lit("c"), F.col("o_custkey").cast("string"))
    s = F.concat(F.lit("s"), F.col("l_suppkey").cast("string"))
    edges = pair.select(c.alias("src"), s.alias("dst"), F.col("n"))
    return pagerank(
        edges, iterations=3, damping=0.85, weight_col="n",
        checkpoint_every=3, redistribute_dangling=True,
    )


def _graph_pagerank_parts(spark, sf_dir):
    """Weighted PageRank over the SPARSE part co-purchase graph
    (ops/graph.py::pagerank): edge weight = number of distinct orders
    sharing the two parts (l_partkey%3 slice, both directions), 3
    damped iterations. This replaces graph_pagerank_suppliers as the
    centrality bench headliner (r15 verdict task 5): the supplier
    co-occurrence projection is near-complete at sf≥0.01 — quadratic
    edge growth — so as a bench key it measured graph density, not
    plan quality; the part graph's edge count scales with real
    co-purchase structure. Replayed by unrolled SQL CTEs."""
    from metadata_etl_framework_spark.ops.graph import pagerank

    li = (
        _t(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .where(F.col("l_partkey") % 3 == 0)
    )
    a, b = li.alias("pa"), li.alias("pb")
    pair = (
        a.join(
            b,
            (F.col("pa.l_orderkey") == F.col("pb.l_orderkey"))
            & (F.col("pa.l_partkey") < F.col("pb.l_partkey")),
        )
        .select(
            F.col("pa.l_orderkey").alias("o"),
            F.col("pa.l_partkey").alias("a"),
            F.col("pb.l_partkey").alias("b"),
        )
        .distinct()
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    # one explode, not a self-union (see _graph_pagerank_suppliers)
    edges = pair.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("a").alias("src"),
                    F.col("b").alias("dst"),
                    F.col("n"),
                ),
                F.struct(
                    F.col("b").alias("src"),
                    F.col("a").alias("dst"),
                    F.col("n"),
                ),
            )
        ).alias("_e")
    ).select("_e.src", "_e.dst", "_e.n")
    return pagerank(
        edges, iterations=3, damping=0.85, weight_col="n",
        checkpoint_every=3,
    )


_PARTS_PAGERANK_EDGE_CTES = [
    """pair AS (SELECT a, b, COUNT(*) AS n FROM (
                  SELECT DISTINCT x.l_orderkey AS o,
                         x.l_partkey AS a, y.l_partkey AS b
                  FROM lineitem x JOIN lineitem y
                    ON x.l_orderkey = y.l_orderkey
                   AND x.l_partkey < y.l_partkey
                  WHERE x.l_partkey % 3 = 0 AND y.l_partkey % 3 = 0)
                GROUP BY 1, 2)""",
    """e0 AS (SELECT a AS src, b AS dst, CAST(n AS DOUBLE) AS w
              FROM pair
              UNION ALL
              SELECT b, a, CAST(n AS DOUBLE) FROM pair)""",
]


def _cosupplier_edges(spark, sf_dir, part_mod=None):
    # co-supply graph: suppliers sharing a part in lineitem; canonical
    # (a < b) pairs, duplicates collapsed inside the graph ops
    li = _t(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    if part_mod is not None:
        li = li.where(F.col("l_partkey") % part_mod == 0)
    a, b = li.alias("ea"), li.alias("eb")
    return a.join(
        b,
        (F.col("ea.l_partkey") == F.col("eb.l_partkey"))
        & (F.col("ea.l_suppkey") < F.col("eb.l_suppkey")),
    ).select(
        F.col("ea.l_suppkey").alias("src"),
        F.col("eb.l_suppkey").alias("dst"),
    )


def _graph_triangles_suppliers(spark, sf_dir):
    """Degree-ordered triangle census (ops/graph.py::triangle_count —
    compact-forward orientation bounds wedge fan-out on hubs) over the
    co-supplier graph: node/edge/wedge/triangle counts +
    transitivity, wedge and closure joins replayed in SQL."""
    from metadata_etl_framework_spark.ops.graph import triangle_count

    return triangle_count(_cosupplier_edges(spark, sf_dir))


def _graph_triangles_ring(spark, sf_dir):
    """Triangle census on a SPARSE deterministic graph — 100k-node
    ring with chords at distances 1..3 (degree 6, closed-form truth:
    3n triangles, 15n wedges, transitivity 0.6) — the operator's
    design case for benching; the co-supplier entry covers the dense
    stress shape. Size is SF-independent by construction."""
    from metadata_etl_framework_spark.ops.graph import triangle_count

    n = 100_000
    ids = spark.range(n)
    parts = [
        ids.select(
            F.col("id").alias("src"),
            ((F.col("id") + c) % n).alias("dst"),
        )
        for c in (1, 2, 3)
    ]
    edges = parts[0]
    for p in parts[1:]:
        edges = edges.unionByName(p)
    return triangle_count(edges)


def _graph_degree_distribution(spark, sf_dir):
    """Undirected degree histogram (ops/graph.py::
    degree_distribution) of the co-supplier graph — the hub-skew
    advisor for the pair-generating graph ops."""
    from metadata_etl_framework_spark.ops.graph import degree_distribution

    return degree_distribution(_cosupplier_edges(spark, sf_dir))


def _graph_neighborhood_jaccard(spark, sf_dir):
    """Structural similarity (ops/graph.py::neighborhood_jaccard):
    Jaccard overlap of supplier neighbor sets on a part-sliced
    co-supplier graph — shared-neighbor blocking, canonical pairs,
    filter on the published 6dp value."""
    from metadata_etl_framework_spark.ops.graph import (
        neighborhood_jaccard,
    )

    return neighborhood_jaccard(
        _cosupplier_edges(spark, sf_dir, part_mod=3), min_sim=0.25
    )


def _ring_of_cliques(spark, n_groups=30, size=20):
    # G cliques of S nodes bridged in a ring — known community truth
    # for label propagation (each clique converges to its min member).
    # SF-independent by construction, like the triangle ring.
    ids = spark.range(n_groups * size).select(
        F.col("id"), F.expr(f"id DIV {size}").alias("g")
    )
    x, y = ids.alias("x"), ids.alias("y")
    cliques = x.join(
        y,
        (F.col("x.g") == F.col("y.g")) & (F.col("x.id") < F.col("y.id")),
    ).select(F.col("x.id").alias("src"), F.col("y.id").alias("dst"))
    bridges = spark.range(n_groups).select(
        (F.col("id") * size + (size - 1)).alias("src"),
        (((F.col("id") + 1) % n_groups) * size).alias("dst"),
    )
    return cliques.unionByName(bridges)


def _graph_label_propagation(spark, sf_dir):
    """Synchronous min-tie label propagation (ops/graph.py::
    label_propagation) on a 30x20 ring of cliques: 4 rounds of the
    most-frequent-neighbor/min-tie update — fully deterministic, so
    the oracle unrolls the rounds like the PageRank replay. Expected
    communities: each clique collapses onto its smallest member."""
    from metadata_etl_framework_spark.ops.graph import label_propagation

    return label_propagation(_ring_of_cliques(spark), iterations=4)


def _kcore_graph(spark, n=2000, chord_max=3, clique_mod=50):
    # ring with chords 1..3 (degree 6 everywhere) + a clique on the
    # multiples of clique_mod: the 8-core is exactly the clique, and
    # the first peel strips every ring-only node (cascade then stops)
    ids = spark.range(n)
    edges = None
    for c in range(1, chord_max + 1):
        p = ids.select(
            F.col("id").alias("src"), ((F.col("id") + c) % n).alias("dst")
        )
        edges = p if edges is None else edges.unionByName(p)
    m = ids.where(F.col("id") % clique_mod == 0)
    x, y = m.alias("x"), m.alias("y")
    clique = x.join(y, F.col("x.id") < F.col("y.id")).select(
        F.col("x.id").alias("src"), F.col("y.id").alias("dst")
    )
    return edges.unionByName(clique)


def _graph_kcore_ring(spark, sf_dir):
    """Iterative k-core peeling (ops/graph.py::k_core, k=8) on the
    chorded ring + embedded clique: converges in 3 peels (ring nodes
    strip, clique re-stabilizes); the oracle unrolls 6 fixed peels —
    a converged graph is a peel fixpoint, so extra rounds are
    no-ops and both sides agree regardless of the early stop."""
    from metadata_etl_framework_spark.ops.graph import k_core

    return k_core(_kcore_graph(spark), k=8, max_iter=10)


register(
    "graph_pagerank_suppliers", build=_graph_pagerank_suppliers,
    tags=("headline", "gated",),
    oracle=_pagerank_sql(),
)

register(
    "graph_pagerank_parts", build=_graph_pagerank_parts, tags=("headline", "gated",),
    oracle=_pagerank_sql(
            edge_ctes=_PARTS_PAGERANK_EDGE_CTES),
)

register(
    "graph_ppr_customers", build=_graph_ppr_customers,
    oracle=_pagerank_sql(seeds=_PPR_SEEDS),
)

register(
    "graph_pagerank_dangling", build=_graph_pagerank_dangling,
    tags=("headline", "gated",),
    oracle=_pagerank_sql(
            bidirectional=False, redistribute=True),
)


# community / k-core oracles (ops/graph.py): label propagation and
# the peel loop replayed as unrolled CTE rounds (both updates are
# deterministic pure functions of the previous state; extra k-core
# peels past the fixpoint are no-ops, so a fixed unroll >= the
# convergence depth matches the early-stopped Spark run exactly)
def _lpa_unrolled_sql(edges_sql: str, iterations: int) -> str:
    ctes = [
        f"""e0 AS ({edges_sql}),
        und AS (SELECT DISTINCT LEAST(src, dst) AS a,
                       GREATEST(src, dst) AS b
                FROM e0 WHERE src <> dst),
        adj AS (SELECT a AS v, b AS u FROM und
                UNION ALL SELECT b AS v, a AS u FROM und),
        l0 AS (SELECT DISTINCT v AS node, v AS label FROM adj)"""
    ]
    for i in range(1, iterations + 1):
        ctes.append(
            f"""c{i} AS (SELECT adj.v, l{i-1}.label AS lab,
                               COUNT(*) AS cnt
                        FROM adj JOIN l{i-1} ON adj.u = l{i-1}.node
                        GROUP BY 1, 2),
            l{i} AS (SELECT v AS node, lab AS label
                     FROM (SELECT v, lab,
                                  ROW_NUMBER() OVER (PARTITION BY v
                                    ORDER BY cnt DESC, lab) AS rn
                           FROM c{i})
                     WHERE rn = 1)"""
        )
    return (
        "WITH " + ",\n".join(ctes)
        + f" SELECT node, label FROM l{iterations}"
    )


def _kcore_unrolled_sql(edges_sql: str, k: int, unroll: int) -> str:
    # each round references the previous edge CTE three times; DuckDB
    # inlines CTEs by default, which would expand the chain
    # exponentially (the SQL twin of the Spark-plan blowup k_core's
    # localCheckpoint prevents) — MATERIALIZED forces one evaluation
    ctes = [
        f"""e0x AS ({edges_sql}),
        g0 AS MATERIALIZED (SELECT DISTINCT LEAST(src, dst) AS a,
                      GREATEST(src, dst) AS b
               FROM e0x WHERE src <> dst)"""
    ]
    for i in range(1, unroll + 1):
        ctes.append(
            f"""d{i} AS (SELECT v, COUNT(*) AS d
                        FROM (SELECT a AS v FROM g{i-1}
                              UNION ALL SELECT b AS v FROM g{i-1})
                        GROUP BY 1),
            k{i} AS MATERIALIZED (SELECT v FROM d{i} WHERE d >= {k}),
            g{i} AS MATERIALIZED (SELECT a, b FROM g{i-1}
                     WHERE a IN (SELECT v FROM k{i})
                       AND b IN (SELECT v FROM k{i}))"""
        )
    return (
        "WITH " + ",\n".join(ctes)
        + f""" SELECT v AS node, CAST(COUNT(*) AS BIGINT) AS degree
              FROM (SELECT a AS v FROM g{unroll}
                    UNION ALL SELECT b AS v FROM g{unroll})
              GROUP BY 1"""
    )


_RING_CLIQUES_EDGES_SQL = """
  SELECT x.i AS src, y.i AS dst
  FROM (SELECT UNNEST(GENERATE_SERIES(0, 599)) AS i) x
  JOIN (SELECT UNNEST(GENERATE_SERIES(0, 599)) AS i) y
    ON x.i // 20 = y.i // 20 AND x.i < y.i
  UNION ALL
  SELECT g * 20 + 19 AS src, ((g + 1) % 30) * 20 AS dst
  FROM (SELECT UNNEST(GENERATE_SERIES(0, 29)) AS g)
"""

_KCORE_RING_EDGES_SQL = """
  SELECT i AS src, (i + c) % 2000 AS dst
  FROM (SELECT UNNEST(GENERATE_SERIES(0, 1999)) AS i),
       (SELECT UNNEST([1, 2, 3]) AS c)
  UNION ALL
  SELECT x.i AS src, y.i AS dst
  FROM (SELECT UNNEST(GENERATE_SERIES(0, 1999, 50)) AS i) x
  JOIN (SELECT UNNEST(GENERATE_SERIES(0, 1999, 50)) AS i) y
    ON x.i < y.i
"""


register(
    "graph_label_propagation", build=_graph_label_propagation,
    tags=("headline", "gated",),
    oracle=_lpa_unrolled_sql(
            _RING_CLIQUES_EDGES_SQL, 4
        ),
)

register(
    "graph_kcore_ring", build=_graph_kcore_ring, tags=("headline",),
    oracle=_kcore_unrolled_sql(
            _KCORE_RING_EDGES_SQL, 8, 6
        ),
)


# graph-extension oracles: the degree-ordered triangle algorithm and
# shared-neighbor Jaccard replayed step-for-step
def _triangle_census_sql(edges_sql: str) -> str:
    """Degree-ordered triangle replay over any canonical (a < b)
    distinct edge CTE."""
    return f"""
            WITH edges AS ({edges_sql}),
            deg AS (SELECT v, COUNT(*) AS d
                    FROM (SELECT a AS v FROM edges
                          UNION ALL SELECT b AS v FROM edges)
                    GROUP BY 1),
            e AS (SELECT CASE WHEN da.d <= db.d THEN a ELSE b END AS u,
                         CASE WHEN da.d <= db.d THEN b ELSE a END AS w,
                         CASE WHEN da.d <= db.d THEN db.d ELSE da.d END
                           AS dw
                  FROM edges
                  JOIN deg da ON a = da.v
                  JOIN deg db ON b = db.v),
            wedge AS (SELECT x.w AS w1, y.w AS w2
                      FROM e x JOIN e y
                        ON x.u = y.u
                       AND (x.dw < y.dw
                            OR (x.dw = y.dw AND x.w < y.w))),
            tri AS (SELECT COUNT(*) AS t
                    FROM wedge JOIN e
                      ON e.u = wedge.w1 AND e.w = wedge.w2),
            nn AS (SELECT COUNT(*) AS n_nodes,
                          CAST(SUM(d * (d - 1) / 2) AS BIGINT)
                            AS n_wedges
                   FROM deg),
            ne AS (SELECT COUNT(*) AS n_edges FROM edges)
            SELECT CAST(n_nodes AS BIGINT) AS n_nodes,
                   CAST(n_edges AS BIGINT) AS n_edges,
                   n_wedges,
                   CAST(t AS BIGINT) AS n_triangles,
                   ROUND(CASE WHEN n_wedges > 0
                         THEN CAST(3 AS DOUBLE) * t / n_wedges END, 6)
                     AS transitivity
            FROM nn, ne, tri
        """


def _cosupplier_edges_sql(part_mod: "int | None" = None) -> str:
    filt = (
        f" AND x.l_partkey % {part_mod} = 0" if part_mod is not None else ""
    )
    return f"""
      SELECT DISTINCT x.l_suppkey AS a, y.l_suppkey AS b
      FROM lineitem x JOIN lineitem y
        ON x.l_partkey = y.l_partkey
       AND x.l_suppkey < y.l_suppkey{filt}
    """


# Not a headline: the dense stress shape (~90M triangles on a
# near-clique at sf0.1), a census workload; graph_triangles_ring is the
# sparse design case that the bench times.
register(
    "graph_triangles_suppliers", build=_graph_triangles_suppliers,
    oracle=_triangle_census_sql(
            _cosupplier_edges_sql()
        ),
)

register(
    "graph_triangles_ring", build=_graph_triangles_ring, tags=("headline",),
    oracle=_triangle_census_sql(
            """SELECT DISTINCT LEAST(i, j) AS a, GREATEST(i, j) AS b
               FROM (SELECT i, (i + c) % 100000 AS j
                     FROM (SELECT UNNEST(GENERATE_SERIES(0, 99999)) AS i),
                          (SELECT UNNEST([1, 2, 3]) AS c))
               WHERE i <> j"""
        ),
)

register("graph_degree_distribution", build=_graph_degree_distribution, oracle=f"""
            WITH edges AS ({_cosupplier_edges_sql()}),
            deg AS (SELECT v, COUNT(*) AS d
                    FROM (SELECT a AS v FROM edges
                          UNION ALL SELECT b AS v FROM edges)
                    GROUP BY 1)
            SELECT CAST(d AS BIGINT) AS degree,
                   CAST(COUNT(*) AS BIGINT) AS n_nodes
            FROM deg GROUP BY 1
        """)

register("graph_neighborhood_jaccard", build=_graph_neighborhood_jaccard, oracle=f"""
            WITH edges AS ({_cosupplier_edges_sql(part_mod=3)}),
            adj AS (SELECT a AS v, b AS n FROM edges
                    UNION ALL SELECT b AS v, a AS n FROM edges),
            deg AS (SELECT v, COUNT(*) AS d FROM adj GROUP BY 1),
            com AS (SELECT p.node AS node_a, q.node AS node_b,
                           COUNT(*) AS common
                    FROM (SELECT n AS via, v AS node FROM adj) p
                    JOIN (SELECT n AS via, v AS node FROM adj) q
                      ON p.via = q.via AND p.node < q.node
                    GROUP BY 1, 2),
            sim AS (SELECT node_a, node_b,
                           CAST(common AS BIGINT) AS common,
                           CAST(da.d AS BIGINT) AS degree_a,
                           CAST(db.d AS BIGINT) AS degree_b,
                           ROUND(CAST(common AS DOUBLE)
                                 / (da.d + db.d - common), 6) AS jaccard
                    FROM com
                    JOIN deg da ON node_a = da.v
                    JOIN deg db ON node_b = db.v)
            SELECT * FROM sim WHERE jaccard >= 0.25
        """)


# ---- round 11 close: sampled closeness centrality (ops/graph.py) ----


def _closeness_graph(spark, n=240, chords=(1, 5, 25, 60)):
    # chorded ring with long-range links: diameter ~7, so the BFS
    # converges fast and the oracle's fixed unroll covers it
    ids = spark.range(n)
    edges = None
    for c in chords:
        p = ids.select(
            F.col("id").alias("src"), ((F.col("id") + c) % n).alias("dst")
        )
        edges = p if edges is None else edges.unionByName(p)
    return edges


def _graph_closeness_ring(spark, sf_dir):
    """Sampled exact closeness + harmonic centrality
    (ops/graph.py::closeness_sampled): 4 seeds advance as ONE
    multi-source BFS frontier frame (equi-join per hop, anti-join
    visited, k_core materialization discipline) on the chorded ring;
    the oracle unrolls 9 MATERIALIZED BFS hops — the graph's diameter
    is ~7, so extra hops are no-ops and both sides agree."""
    from metadata_etl_framework_spark.ops.graph import closeness_sampled

    return closeness_sampled(
        _closeness_graph(spark), [0, 60, 120, 180], max_hops=12
    )


def _graph_betweenness_ring(spark, sf_dir):
    """Sampled betweenness centrality (ops/graph.py::
    betweenness_sampled): Brandes dependency accumulation from 4
    sampled sources on the chorded ring — forward multi-source BFS
    with σ path counting, then one backward pass per depth level
    (deepest first), 10-dp DECIMAL dependency sums. The oracle unrolls
    9 forward hops and 9 backward levels as MATERIALIZED CTEs;
    beyond-diameter levels are empty on both sides."""
    from metadata_etl_framework_spark.ops.graph import (
        betweenness_sampled,
    )

    return betweenness_sampled(
        _closeness_graph(spark), [0, 60, 120, 180], max_hops=12
    )


def _bfs_hop_sql(k: int) -> str:
    return f"""
            n{k} AS (SELECT DISTINCT f.s, a.b AS node
                     FROM h{k - 1} f JOIN adj a ON f.node = a.a),
            h{k} AS MATERIALIZED (SELECT n.s, n.node FROM n{k} n
                     ANTI JOIN v{k - 1} v
                       ON n.s = v.s AND n.node = v.node),
            v{k} AS MATERIALIZED (SELECT * FROM v{k - 1}
                     UNION ALL
                     SELECT s, node, {k} AS dist FROM h{k})"""


# Not a headline: fixed-size BFS overhead, not a data-scaled workload.
register("graph_closeness_ring", build=_graph_closeness_ring, oracle=f"""
            WITH raw AS (SELECT id AS x, (id + c) % 240 AS y
                         FROM (SELECT UNNEST(RANGE(0, 240)) AS id),
                              (SELECT UNNEST([1, 5, 25, 60]) AS c)),
            und AS (SELECT DISTINCT LEAST(x, y) AS a,
                           GREATEST(x, y) AS b
                    FROM raw WHERE x <> y),
            adj AS (SELECT a, b FROM und
                    UNION ALL SELECT b, a FROM und),
            seeds AS (SELECT UNNEST([0, 60, 120, 180]) AS s),
            v0 AS MATERIALIZED (SELECT s, s AS node, 0 AS dist
                                FROM seeds),
            h0 AS (SELECT s, s AS node FROM seeds),
            {",".join(_bfs_hop_sql(k) for k in range(1, 10))}
            SELECT s AS seed, CAST(COUNT(*) AS BIGINT) AS n_reached,
                   CAST(SUM(dist) AS BIGINT) AS total_dist,
                   ROUND(CAST(COUNT(*) - 1 AS DOUBLE) / SUM(dist), 6)
                       AS closeness,
                   ROUND(CAST(SUM(CAST(ROUND(CASE WHEN dist > 0
                                       THEN 1.0 / dist ELSE 0.0 END, 10)
                                  AS DECIMAL(24,10))) AS DOUBLE), 6)
                       AS harmonic
            FROM v9 GROUP BY s ORDER BY 1
        """)


# ---- round 13: sampled betweenness (Brandes) on the same ring ----
def _btw_fwd_sql(k: int) -> str:
    """Forward BFS hop with σ path counting: candidates grouped
    BEFORE the visited anti-join so every layer-(k−1) parent
    contributes its σ."""
    return f"""
            n{k} AS (SELECT f.s, a.b AS node, SUM(f.sigma) AS sigma
                     FROM h{k - 1} f JOIN adj a ON f.node = a.a
                     GROUP BY 1, 2),
            h{k} AS MATERIALIZED (SELECT n.s, n.node, n.sigma
                     FROM n{k} n
                     ANTI JOIN v{k - 1} v
                       ON n.s = v.s AND n.node = v.node),
            v{k} AS MATERIALIZED (SELECT * FROM v{k - 1}
                     UNION ALL
                     SELECT s, node, {k} AS dist, sigma FROM h{k})"""


def _btw_bwd_sql(h: int) -> str:
    """One backward Brandes level: layer h−1 node v receives
    Σ_w (σ_v/σ_w)(1+δ_w) over layer-h neighbors w, 10-dp DECIMAL
    terms, δ re-entering as a 10-dp double."""
    return f"""
            ct{h} AS (SELECT c.s, p.node,
                             SUM(CAST(ROUND((CAST(p.sigma AS DOUBLE)
                                  / CAST(c.sigma AS DOUBLE))
                                  * (1.0 + c.delta), 10)
                                  AS DECIMAL(28,10))) AS d
                      FROM cur{h} c
                      JOIN adj a ON c.node = a.a
                      JOIN lay{h - 1} p
                        ON c.s = p.s AND a.b = p.node
                      GROUP BY 1, 2),
            cur{h - 1} AS MATERIALIZED (
                 SELECT l.s, l.node, l.sigma,
                        COALESCE(ROUND(CAST(ct.d AS DOUBLE), 10), 0.0)
                            AS delta
                 FROM lay{h - 1} l
                 LEFT JOIN ct{h} ct
                   ON l.s = ct.s AND l.node = ct.node)"""


register(
    "graph_betweenness_ring", build=_graph_betweenness_ring,
    tags=("headline", "gated",),
    oracle=f"""
            WITH raw AS (SELECT id AS x, (id + c) % 240 AS y
                         FROM (SELECT UNNEST(RANGE(0, 240)) AS id),
                              (SELECT UNNEST([1, 5, 25, 60]) AS c)),
            und AS (SELECT DISTINCT LEAST(x, y) AS a,
                           GREATEST(x, y) AS b
                    FROM raw WHERE x <> y),
            adj AS (SELECT a, b FROM und
                    UNION ALL SELECT b, a FROM und),
            seeds AS (SELECT UNNEST([0, 60, 120, 180]) AS s),
            v0 AS MATERIALIZED (SELECT s, s AS node, 0 AS dist,
                                       1 AS sigma FROM seeds),
            h0 AS (SELECT s, s AS node, 1 AS sigma FROM seeds),
            {",".join(_btw_fwd_sql(k) for k in range(1, 10))},
            {",".join(
                f'''lay{h} AS (SELECT s, node, sigma FROM v9
                               WHERE dist = {h})'''
                for h in range(0, 10)
            )},
            cur9 AS (SELECT s, node, sigma, 0.0 AS delta FROM lay9),
            {",".join(_btw_bwd_sql(h) for h in range(9, 0, -1))},
            alldeps AS ({" UNION ALL ".join(
                f"SELECT s, node, delta FROM cur{h}"
                for h in range(0, 9)
            )})
            SELECT node,
                   ROUND(CAST(SUM(CAST(delta AS DECIMAL(28,10)))
                              AS DOUBLE), 6) AS betweenness
            FROM alldeps
            WHERE node <> s AND delta > 0
            GROUP BY node ORDER BY node
        """,
)


# ---- round 11 close: HITS hubs & authorities (ops/graph.py) ----


def _graph_hits_suppliers(spark, sf_dir):
    """HITS over the DIRECTED customer→supplier trade graph
    (ops/graph.py::hits, 2 fixed rounds): the bipartite shape makes
    customers pure hubs and suppliers pure authorities — the role
    asymmetry PageRank collapses; L1-normalized 12-dp rounds, the
    whole iteration replayed by unrolled MATERIALIZED CTEs."""
    from metadata_etl_framework_spark.ops.graph import hits

    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    edges = (
        o.join(li, o["o_orderkey"] == li["l_orderkey"])
        .select(
            F.concat(F.lit("c"), F.col("o_custkey").cast("string")).alias(
                "src"
            ),
            F.concat(F.lit("s"), F.col("l_suppkey").cast("string")).alias(
                "dst"
            ),
        )
    )
    return hits(edges, iterations=2)


def _hits_round_sql(k: int) -> str:
    """One HITS round: authority pull from h{k-1}, hub pull from a{k},
    each L1-normalized via a 1-row total — 12-dp rounds throughout."""
    return f"""
            ca{k} AS (SELECT p.v AS node,
                             SUM(CAST(h.h AS DECIMAL(28,12))) AS raw
                      FROM pair p JOIN h{k - 1} h ON p.u = h.node
                      GROUP BY 1),
            au{k} AS (SELECT nodes.node,
                             COALESCE(CAST(raw AS DOUBLE), 0.0) AS raw
                      FROM nodes LEFT JOIN ca{k}
                        ON nodes.node = ca{k}.node),
            ta{k} AS (SELECT SUM(CAST(ROUND(raw, 12)
                                 AS DECIMAL(28,12))) AS tt
                      FROM au{k}),
            a{k} AS MATERIALIZED (
                SELECT node,
                       CASE WHEN tt > 0
                            THEN ROUND(raw / CAST(tt AS DOUBLE), 12)
                            ELSE 0.0 END AS a
                FROM au{k}, ta{k}),
            ch{k} AS (SELECT p.u AS node,
                             SUM(CAST(a.a AS DECIMAL(28,12))) AS raw
                      FROM pair p JOIN a{k} a ON p.v = a.node
                      GROUP BY 1),
            hu{k} AS (SELECT nodes.node,
                             COALESCE(CAST(raw AS DOUBLE), 0.0) AS raw
                      FROM nodes LEFT JOIN ch{k}
                        ON nodes.node = ch{k}.node),
            th{k} AS (SELECT SUM(CAST(ROUND(raw, 12)
                                 AS DECIMAL(28,12))) AS tt
                      FROM hu{k}),
            h{k} AS MATERIALIZED (
                SELECT node,
                       CASE WHEN tt > 0
                            THEN ROUND(raw / CAST(tt AS DOUBLE), 12)
                            ELSE 0.0 END AS h
                FROM hu{k}, th{k})"""


register("graph_hits_suppliers", build=_graph_hits_suppliers, oracle=f"""
            WITH pair AS (SELECT DISTINCT
                              'c' || CAST(o_custkey AS VARCHAR) AS u,
                              's' || CAST(l_suppkey AS VARCHAR) AS v
                          FROM orders
                          JOIN lineitem ON o_orderkey = l_orderkey),
            nodes AS (SELECT u AS node FROM pair
                      UNION SELECT v FROM pair),
            t AS (SELECT COUNT(*) AS n FROM nodes),
            h0 AS (SELECT node, ROUND(1.0 / n, 12) AS h
                   FROM nodes, t),
            {",".join(_hits_round_sql(k) for k in (1, 2))}
            SELECT h2.node, ROUND(h2.h, 6) AS hub,
                   ROUND(a2.a, 6) AS authority
            FROM h2 JOIN a2 ON h2.node = a2.node
            ORDER BY 1
        """)


def _graph_walks_bipartite(spark, sf_dir):
    """Deterministic uniform random walks (ops/graph.py::random_walks)
    over the customer↔supplier bipartite graph (suppliers offset by
    1e6): hash-seeded neighbor choice instead of RNG state, so the
    oracle replays the exact walk corpus — the sampling primitive
    under DeepWalk-style embeddings and Monte-Carlo PageRank."""
    from metadata_etl_framework_spark.ops.graph import random_walks

    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    pair = li.join(o, li["l_orderkey"] == o["o_orderkey"]).select(
        F.col("o_custkey").alias("c"),
        (F.col("l_suppkey") + F.lit(1000000)).alias("s"),
    )
    edges = pair.select(
        F.col("c").alias("src"), F.col("s").alias("dst")
    ).unionByName(
        pair.select(F.col("s").alias("src"), F.col("c").alias("dst"))
    )
    return random_walks(edges, walk_length=3, seed=1)


def _walk_step_sql(t: int) -> str:
    # hash32 replay inline (x % 2^31 → Knuth multiply → xor-shift →
    # multiply → xor-shift), seed=1 folded into the additive constant
    return f"""
            w{t} AS (
              SELECT q.start, nb._d AS cur
              FROM (
                SELECT start, cur, xor(b2, b2 >> 16) AS h
                FROM (
                  SELECT start, cur,
                         (xor(a2, a2 >> 16) * 73244475)
                         % 4294967296 AS b2
                  FROM (
                    SELECT start, cur,
                           ((((cur % 2147483648) * 1000003
                              + (start % 65521) * 257 + {t + 7919})
                             % 2147483648) * 2654435761)
                           % 4294967296 AS a2
                    FROM w{t - 1}) qa) qb) q
              JOIN nbrs nb
                ON nb._s = q.cur AND nb._idx = q.h % nb._deg)"""


_WALK_CTES_SQL = f"""pair AS (
              SELECT DISTINCT o_custkey AS c,
                              l_suppkey + 1000000 AS s
              FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
            edges AS (
              SELECT c AS src, s AS dst FROM pair
              UNION
              SELECT s, c FROM pair),
            nbrs AS (
              SELECT src AS _s, dst AS _d,
                     ROW_NUMBER() OVER (PARTITION BY src
                                        ORDER BY dst) - 1 AS _idx,
                     COUNT(*) OVER (PARTITION BY src) AS _deg
              FROM edges
              WHERE src IS NOT NULL AND dst IS NOT NULL),
            w0 AS (SELECT DISTINCT _s AS start, _s AS cur FROM nbrs),
            {",".join(_walk_step_sql(t) for t in (1, 2, 3))},
            walks AS (
              SELECT start, CAST(0 AS INTEGER) AS step,
                     CAST(cur AS BIGINT) AS node FROM w0
              UNION ALL
              SELECT start, CAST(1 AS INTEGER), CAST(cur AS BIGINT)
              FROM w1
              UNION ALL
              SELECT start, CAST(2 AS INTEGER), CAST(cur AS BIGINT)
              FROM w2
              UNION ALL
              SELECT start, CAST(3 AS INTEGER), CAST(cur AS BIGINT)
              FROM w3)"""


register("graph_walks_bipartite", build=_graph_walks_bipartite, oracle=f"""
            WITH {_WALK_CTES_SQL}
            SELECT start, step, node FROM walks
            ORDER BY start, step
        """)


# ---- shared DeepWalk corpus builders ----
# graph_walk_pmi / graph_pmi_factors / graph_pmi_knn consume the SAME
# deterministic walks→cooccurrence→PMI prefix (identical edge
# projection, walk_length=3, seed=1, window=2); these builders share
# the construction code. Each key invocation builds its chain FRESH
# from the parquet inputs — a session-scoped memo that shared the
# corpus across keys was prototyped in round 16 and REVERTED: the
# optimization contract bans module-level memos of results, and a
# consumer key timed against another key's memoized intermediate does
# not measure computing from the inputs. (walk_cooccurrence eagerly
# checkpoints its own output, so WITHIN one invocation the corpus is
# still materialized once for the ALS rounds that iterate over it.)
def _pmi_pair_corpus(spark, sf_dir):
    """The counting half: deterministic walks + skip-gram PMI pairs."""
    from metadata_etl_framework_spark.ops.graph import (
        random_walks,
        walk_cooccurrence,
    )

    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    pair = li.join(o, li["l_orderkey"] == o["o_orderkey"]).select(
        F.col("o_custkey").alias("c"),
        (F.col("l_suppkey") + F.lit(1000000)).alias("s"),
    )
    # both directions via ONE explode instead of a self-union: a union
    # of two projections of the same join executes the join twice;
    # the exploded pair array emits the identical row multiset in a
    # single pass (guide §2.4 — same rows, same walk corpus)
    edges = pair.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("c").alias("src"), F.col("s").alias("dst")
                ),
                F.struct(
                    F.col("s").alias("src"), F.col("c").alias("dst")
                ),
            )
        ).alias("_e")
    ).select("_e.src", "_e.dst")
    walks = random_walks(edges, walk_length=3, seed=1)
    return walk_cooccurrence(walks, window=2)


def _pmi_factor_frame(spark, sf_dir):
    """The factorization half: rank-2 PPMI embeddings over the corpus
    (rounds=2, reg=0.1 — the pmi_embeddings defaults)."""
    from metadata_etl_framework_spark.ops.graph import pmi_embeddings

    return pmi_embeddings(
        _pmi_pair_corpus(spark, sf_dir), rounds=2, reg=0.1
    )


def _graph_walk_pmi(spark, sf_dir):
    """Skip-gram co-occurrence + PMI over the deterministic walk corpus
    (ops/graph.py::walk_cooccurrence, window=2): the DeepWalk counting
    half — band self-join on the walk key, canonical-pair counts,
    closed-form PMI from exact integers; the oracle replays walks AND
    counting."""
    return _pmi_pair_corpus(spark, sf_dir)


register(
    "graph_walk_pmi", build=_graph_walk_pmi, tags=("headline", "gated",),
    oracle=f"""
            WITH {_WALK_CTES_SQL},
            wp AS (
              SELECT LEAST(a.node, b.node) AS node_a,
                     GREATEST(a.node, b.node) AS node_b,
                     COUNT(*) AS n_cooc
              FROM walks a
              JOIN walks b
                ON a.start = b.start
               AND b.step > a.step AND b.step <= a.step + 2
               AND a.node <> b.node
              GROUP BY 1, 2),
            slots AS (
              SELECT n, SUM(n_cooc) AS cn
              FROM (SELECT node_a AS n, n_cooc FROM wp
                    UNION ALL
                    SELECT node_b, n_cooc FROM wp)
              GROUP BY 1),
            tt AS (SELECT SUM(n_cooc) AS t FROM wp)
            SELECT node_a, node_b,
                   CAST(n_cooc AS BIGINT) AS n_cooc,
                   ROUND(LN(
                       (CAST(n_cooc AS DOUBLE) / CAST(t AS DOUBLE))
                       / ((CAST(ca.cn AS DOUBLE)
                           / (2.0 * CAST(t AS DOUBLE)))
                          * (CAST(cb.cn AS DOUBLE)
                             / (2.0 * CAST(t AS DOUBLE))))), 6)
                       AS pmi
            FROM wp
            JOIN slots ca ON ca.n = wp.node_a
            JOIN slots cb ON cb.n = wp.node_b, tt
        """,
)


def _graph_pmi_factors(spark, sf_dir):
    """In-engine graph embeddings completing the DeepWalk pipeline
    (ops/graph.py::pmi_embeddings): the walk corpus + skip-gram PMI
    counting of graph_walk_pmi, then the Levy–Goldberg factorization
    half — positive-PMI cells symmetrized and factorized by the rank-2
    ALS machinery (2 alternation rounds, λ=0.1, portable-hash context
    init, pico-int 2×2 normal equations, 12-dp rounding between
    halves). The oracle replays walks, counting, the PPMI filter, and
    both ALS rounds bit-exactly (the recsys_als_factors convention)."""
    return _pmi_factor_frame(spark, sf_dir).orderBy("node")


# PMI-matrix ALS unroll: the walk/counting CTEs feed a symmetrized
# positive-PMI ratings table, then the exact _als_half_sql machinery
# runs both rounds (MATERIALIZED factor CTEs — each is referenced by
# two downstream halves, the k-ref blowup rule).
_PMI_BASE_SQL = f"""
            WITH {_WALK_CTES_SQL},
            wp AS (
              SELECT LEAST(a.node, b.node) AS node_a,
                     GREATEST(a.node, b.node) AS node_b,
                     COUNT(*) AS n_cooc
              FROM walks a
              JOIN walks b
                ON a.start = b.start
               AND b.step > a.step AND b.step <= a.step + 2
               AND a.node <> b.node
              GROUP BY 1, 2),
            slots AS (
              SELECT n, SUM(n_cooc) AS cn
              FROM (SELECT node_a AS n, n_cooc FROM wp
                    UNION ALL
                    SELECT node_b, n_cooc FROM wp)
              GROUP BY 1),
            tt AS (SELECT SUM(n_cooc) AS t FROM wp),
            pmip AS MATERIALIZED (
              SELECT node_a, node_b,
                     ROUND(LN(
                         (CAST(n_cooc AS DOUBLE) / CAST(t AS DOUBLE))
                         / ((CAST(ca.cn AS DOUBLE)
                             / (2.0 * CAST(t AS DOUBLE)))
                            * (CAST(cb.cn AS DOUBLE)
                               / (2.0 * CAST(t AS DOUBLE))))), 6)
                         AS pmi
              FROM wp
              JOIN slots ca ON ca.n = wp.node_a
              JOIN slots cb ON cb.n = wp.node_b, tt),
            base AS MATERIALIZED (
              SELECT node_a AS u, node_b AS it, CAST(pmi AS DOUBLE) AS r
              FROM pmip WHERE pmi > 0
              UNION ALL
              SELECT node_b AS u, node_a AS it, CAST(pmi AS DOUBLE) AS r
              FROM pmip WHERE pmi > 0
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

def _graph_pmi_knn(spark, sf_dir):
    """End-to-end graph-embedding consumption: the PMI-factorized node
    embeddings (ops/graph.py::pmi_embeddings) flow into the existing
    embedding surface — exact brute-force cosine top-3
    (ops/similarity.py::knn_join_topk, broadcast-query regime) for a
    fixed small query set, proving the factors are a first-class
    embedding column (array assembly, decimal-dot cosine, ranked
    window) and not just a coefficient table."""
    emb = _pmi_factor_frame(spark, sf_dir)
    vec = emb.select(
        "node", F.array(F.col("f1"), F.col("f2")).alias("embedding")
    )
    queries = vec.where(F.col("node") < 10).select(
        F.col("node").alias("query_id"), "embedding"
    )
    return sim_ops.knn_join_topk(
        vec,
        queries,
        k=3,
        id_col="node",
        vec_col="embedding",
        query_id_col="query_id",
        query_vec_col="embedding",
    )


register(
    "graph_pmi_factors", build=_graph_pmi_factors, tags=("headline", "gated",),
    oracle=f"""
            {_PMI_BASE_SQL}
            SELECT k AS node, ROUND(f1, 6) AS f1, ROUND(f2, 6) AS f2
            FROM p2 ORDER BY node
        """,
)

register("graph_pmi_knn", build=_graph_pmi_knn, tags=("headline", "gated",), oracle=f"""
            {_PMI_BASE_SQL},
            emb AS MATERIALIZED (
              SELECT k AS node, ROUND(f1, 6) AS f1, ROUND(f2, 6) AS f2
              FROM p2),
            scored AS (
              SELECT q.node AS query_id, e.node AS neighbor_id,
                     CAST(CAST(e.f1 * q.f1 AS DECIMAL(30,15))
                          + CAST(e.f2 * q.f2 AS DECIMAL(30,15))
                          AS DOUBLE)
                     / NULLIF(
                       SQRT(CAST(CAST(e.f1 * e.f1 AS DECIMAL(30,15))
                                 + CAST(e.f2 * e.f2 AS DECIMAL(30,15))
                                 AS DOUBLE))
                       * SQRT(CAST(CAST(q.f1 * q.f1 AS DECIMAL(30,15))
                                   + CAST(q.f2 * q.f2 AS DECIMAL(30,15))
                                   AS DOUBLE)), 0) AS sim
              FROM emb e, emb q WHERE q.node < 10),
            ranked AS (
              SELECT query_id, neighbor_id, ROUND(sim, 6) AS cosine,
                     CAST(ROW_NUMBER() OVER (
                       PARTITION BY query_id
                       ORDER BY sim DESC, neighbor_id
                     ) AS INTEGER) AS rank
              FROM scored)
            SELECT query_id, neighbor_id, cosine, rank
            FROM ranked WHERE rank <= 3
        """)


# ---- round 13 (cont.): link prediction / assortativity / modularity ----


def _copurchase_edges(spark, sf_dir, part_mod=None):
    # part co-purchase graph: parts sharing an order in lineitem —
    # SPARSE on the synthetic corpus (unlike the supplier projections,
    # which are complete graphs at sf>=0.01), so non-edges exist and
    # link prediction is meaningful
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey"
    )
    if part_mod is not None:
        li = li.where(F.col("l_partkey") % part_mod == 0)
    a, b = li.alias("pa"), li.alias("pb")
    return a.join(
        b,
        (F.col("pa.l_orderkey") == F.col("pb.l_orderkey"))
        & (F.col("pa.l_partkey") < F.col("pb.l_partkey")),
    ).select(
        F.col("pa.l_partkey").alias("src"),
        F.col("pb.l_partkey").alias("dst"),
    )


def _graph_link_prediction(spark, sf_dir):
    """Link prediction (ops/graph.py::link_prediction): score NON-edges
    of the part co-purchase graph (parts sharing an order, l_partkey%3
    slice) by common neighbors / Jaccard / Adamic-Adar / resource
    allocation / preferential attachment — shared-neighbor blocking
    (never all-pairs), existing edges removed by LEFT ANTI, AA/RA terms
    pico-int DECIMAL-summed; global top-100 by (adamic_adar DESC, a, b)
    — a total order, reproducible cut."""
    from metadata_etl_framework_spark.ops.graph import link_prediction

    return link_prediction(
        _copurchase_edges(spark, sf_dir, part_mod=3),
        min_common=2,
        top_k=100,
    )


def _graph_assortativity_parts(spark, sf_dir):
    """Degree assortativity (ops/graph.py::assortativity) of the full
    part co-purchase graph: Pearson of endpoint degrees over the
    symmetrized edge list from exact DECIMAL(38,0) integer sums —
    positive = hub-hub attachment. One row; tells the planner whether
    wedge work concentrates on hubs."""
    from metadata_etl_framework_spark.ops.graph import assortativity

    return assortativity(_copurchase_edges(spark, sf_dir))


def _graph_modularity_brands(spark, sf_dir):
    """Partition quality (ops/graph.py::modularity): Newman modularity
    of the brand partition over the part co-purchase graph — per
    community Q_c = e_c/m − (D_c/2m)² from two exact integer
    aggregations; the quality gate for any community assignment
    (label-prop output, dedup clusters)."""
    from metadata_etl_framework_spark.ops.graph import modularity

    p = _t(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("node"),
        F.col("p_brand").alias("community"),
    )
    return modularity(
        _copurchase_edges(spark, sf_dir), p
    )


register(
    "graph_link_prediction", build=_graph_link_prediction, tags=("headline",),
    oracle=f"""
            WITH e AS ({_copurchase_edges_sql(part_mod=3)}),
            adj AS (SELECT a AS v, b AS n FROM e
                    UNION ALL SELECT b AS v, a AS n FROM e),
            deg AS (SELECT v, COUNT(*) AS d FROM adj GROUP BY 1),
            mid AS (SELECT adj.n AS via, adj.v AS node, dv.d AS d_via
                    FROM adj JOIN deg dv ON adj.n = dv.v),
            cand AS (SELECT p.node AS a, q.node AS b,
                            COUNT(*) AS common,
                            SUM(CAST(ROUND(1000000000000.0
                                           / LN(p.d_via), 0)
                                     AS HUGEINT)) AS aa,
                            SUM(CAST(ROUND(1000000000000.0
                                           / p.d_via, 0)
                                     AS HUGEINT)) AS ra
                     FROM mid p JOIN mid q
                       ON p.via = q.via AND p.node < q.node
                     GROUP BY 1, 2
                     HAVING COUNT(*) >= 2),
            ne AS (SELECT cand.* FROM cand
                   LEFT JOIN e ON cand.a = e.a AND cand.b = e.b
                   WHERE e.a IS NULL),
            sc AS (SELECT ne.a AS node_a, ne.b AS node_b,
                          CAST(common AS BIGINT) AS common,
                          CAST(da.d AS BIGINT) AS degree_a,
                          CAST(db.d AS BIGINT) AS degree_b,
                          ROUND(CAST(common AS DOUBLE)
                                / (da.d + db.d - common), 6)
                              AS jaccard,
                          ROUND(CAST(aa AS DOUBLE)
                                / 1000000000000.0, 6) AS adamic_adar,
                          ROUND(CAST(ra AS DOUBLE)
                                / 1000000000000.0, 6)
                              AS resource_alloc,
                          CAST(da.d AS BIGINT) * CAST(db.d AS BIGINT)
                              AS pref_attach
                   FROM ne
                   JOIN deg da ON ne.a = da.v
                   JOIN deg db ON ne.b = db.v)
            SELECT * FROM sc
            ORDER BY adamic_adar DESC, node_a, node_b
            LIMIT 100
        """,
)

register(
    "graph_assortativity_parts", build=_graph_assortativity_parts, tags=("headline",),
    oracle=f"""
            WITH e AS ({_copurchase_edges_sql()}),
            adj AS (SELECT a AS v, b AS n FROM e
                    UNION ALL SELECT b AS v, a AS n FROM e),
            deg AS (SELECT v, COUNT(*) AS d FROM adj GROUP BY 1),
            bo AS (SELECT dx.d AS ddx, dy.d AS ddy
                     FROM adj
                     JOIN deg dx ON adj.v = dx.v
                     JOIN deg dy ON adj.n = dy.v),
            s AS (SELECT COUNT(*) AS m2,
                         SUM(CAST(ddx AS HUGEINT)) AS sx,
                         SUM(CAST(ddx AS HUGEINT) * ddy) AS sxy,
                         SUM(CAST(ddx AS HUGEINT) * ddx) AS sxx
                  FROM bo)
            SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM deg)
                       AS n_nodes,
                   (SELECT CAST(COUNT(*) AS BIGINT) FROM e)
                       AS n_edges,
                   CASE WHEN CAST(m2 AS DOUBLE)
                             * CAST(sxx AS DOUBLE)
                             - CAST(sx AS DOUBLE)
                               * CAST(sx AS DOUBLE) <> 0
                        THEN ROUND((CAST(m2 AS DOUBLE)
                                    * CAST(sxy AS DOUBLE)
                                    - CAST(sx AS DOUBLE)
                                      * CAST(sx AS DOUBLE))
                                   / (CAST(m2 AS DOUBLE)
                                      * CAST(sxx AS DOUBLE)
                                      - CAST(sx AS DOUBLE)
                                        * CAST(sx AS DOUBLE)), 6)
                   END AS assortativity
            FROM s
        """,
)

register(
    "graph_modularity_brands", build=_graph_modularity_brands, tags=("headline",),
    oracle=f"""
            WITH e0 AS ({_copurchase_edges_sql()}),
            e AS (SELECT e0.a, e0.b,
                         pa.p_brand AS ca, pb.p_brand AS cb
                  FROM e0
                  JOIN part pa ON e0.a = pa.p_partkey
                  JOIN part pb ON e0.b = pb.p_partkey),
            m AS (SELECT COUNT(*) AS m FROM e),
            adj AS (SELECT a AS v, ca AS c FROM e
                    UNION ALL SELECT b AS v, cb AS c FROM e),
            degsum AS (SELECT c, COUNT(*) AS degree_sum,
                              COUNT(DISTINCT v) AS n_nodes
                       FROM adj GROUP BY 1),
            intra AS (SELECT ca AS c, COUNT(*) AS intra_edges
                      FROM e WHERE ca = cb GROUP BY 1)
            SELECT degsum.c AS community,
                   CAST(n_nodes AS BIGINT) AS n_nodes,
                   CAST(COALESCE(intra_edges, 0) AS BIGINT)
                       AS intra_edges,
                   CAST(degree_sum AS BIGINT) AS degree_sum,
                   ROUND(COALESCE(intra_edges, 0) / m
                         - (degree_sum / (2.0 * m))
                           * (degree_sum / (2.0 * m)), 6)
                       AS q_contrib
            FROM degsum
            LEFT JOIN intra ON degsum.c = intra.c, m
            ORDER BY community
        """,
)


# ---- round 13 (cont.): eigenvector centrality (ops/graph.py) ----


def _graph_eigenvector_trade(spark, sf_dir):
    """Eigenvector centrality (ops/graph.py::eigenvector_centrality):
    3 power iterations over the bidirectional customer-supplier trade
    graph — DECIMAL contribution sums, exact pico-int squared-norm,
    driver sqrt re-entering as a 12-dp literal divisor; shifted
    (A+I) iteration so the bipartite trade graph cannot oscillate;
    the oracle unrolls all 3 rounds. No teleport: the
    raw principal-eigenvector importance, completing the centrality
    family."""
    from metadata_etl_framework_spark.ops.graph import (
        eigenvector_centrality,
    )

    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    pair = (
        o.join(li, o["o_orderkey"] == li["l_orderkey"])
        .groupBy("o_custkey", "l_suppkey")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    c = F.concat(F.lit("c"), F.col("o_custkey").cast("string"))
    s = F.concat(F.lit("s"), F.col("l_suppkey").cast("string"))
    edges = pair.select(
        c.alias("src"), s.alias("dst"), F.col("n")
    ).unionAll(pair.select(s.alias("src"), c.alias("dst"), F.col("n")))
    return eigenvector_centrality(
        edges, iterations=3, weight_col="n"
    )


def _eigenvector_sql() -> str:
    ctes = [
        """pair AS (SELECT o_custkey AS ck, l_suppkey AS sk,
                           COUNT(*) AS n
                    FROM orders JOIN lineitem
                      ON o_orderkey = l_orderkey
                    GROUP BY 1, 2)""",
        """e0 AS (SELECT 'c' || CAST(ck AS VARCHAR) AS src,
                         's' || CAST(sk AS VARCHAR) AS dst,
                         CAST(n AS DOUBLE) AS w FROM pair
                  UNION ALL
                  SELECT 's' || CAST(sk AS VARCHAR),
                         'c' || CAST(ck AS VARCHAR),
                         CAST(n AS DOUBLE) FROM pair)""",
        "nodes AS (SELECT src AS node FROM e0 UNION SELECT dst FROM e0)",
        "x0 AS (SELECT node, 1.0 AS x FROM nodes)",
    ]
    for k in range(1, 4):
        ctes.append(
            f"""c{k} AS (SELECT e0.dst AS node,
                       CAST(SUM(CAST(e0.w * p.x AS DECIMAL(28,12)))
                            AS DOUBLE) AS y
                 FROM e0 JOIN x{k - 1} p ON e0.src = p.node
                 GROUP BY 1)"""
        )
        ctes.append(
            f"""y{k} AS (SELECT p.node,
                       COALESCE(c{k}.y, 0.0) + p.x AS y
                 FROM x{k - 1} p LEFT JOIN c{k} ON p.node = c{k}.node)"""
        )
        ctes.append(
            f"""n{k} AS (SELECT ROUND(SQRT(
                       CAST(SUM(CAST(ROUND(y * y
                           * 1000000000000.0, 0) AS HUGEINT))
                           AS DOUBLE) / 1000000000000.0), 12) AS l2
                 FROM y{k})"""
        )
        ctes.append(
            f"""x{k} AS (SELECT node,
                       CASE WHEN l2 > 0 THEN y / l2 ELSE y END AS x
                 FROM y{k}, n{k})"""
        )
    return (
        "WITH " + ",\n".join(ctes)
        + "\nSELECT node, ROUND(x, 6) AS score FROM x3"
    )


register(
    "graph_eigenvector_trade", build=_graph_eigenvector_trade,
    tags=("headline", "gated",),
    oracle=_eigenvector_sql(),
)


# ---- round 14: greedy modularity local-move (Louvain phase-1 step) ----


def _graph_greedy_modularity(spark, sf_dir):
    """Louvain-style greedy modularity optimization (ops/graph.py::
    greedy_modularity_move): 4 deterministic min-ward local-move
    rounds from singleton communities on the part co-purchase graph —
    per round one adjacency⋈labels join, one (node, community) count,
    one community-degree aggregate, one argmax by exact 2m²-scaled
    integer ΔQ with smallest-label ties; moves only to smaller labels
    (swap-free, cycle-free). The oracle unrolls all 4 rounds as CTEs
    and reproduces the final labeling exactly."""
    from metadata_etl_framework_spark.ops.graph import (
        greedy_modularity_move,
    )

    return greedy_modularity_move(
        _copurchase_edges(spark, sf_dir, part_mod=3), rounds=4
    )


def _gmod_sql() -> str:
    return f"""
            WITH {_gmod_phase1_ctes()}
            SELECT node, community FROM l4
        """


register(
    "graph_greedy_modularity", build=_graph_greedy_modularity,
    tags=("headline", "gated",),
    oracle=_gmod_sql(),
)


# ---- round 14 (cont.): two-level Louvain with exact acceptance ----


def _graph_louvain_copurchase(spark, sf_dir):
    """Two-level Louvain (ops/graph.py::louvain_two_level): 4
    alternating move rounds on the raw co-purchase graph, contraction
    (inter-community counts → integer weights, intra counts →
    self-loops, strengths count self-loops twice), 4 weighted rounds
    on the contracted graph, then the EXACT integer acceptance test
    Q·4m² = Σ_c(4m·e_c − D_c²) picks the better partition (phase 1 on
    ties). The oracle unrolls both phases, the contraction, both
    Q·4m² evaluations, and the pick."""
    from metadata_etl_framework_spark.ops.graph import louvain_two_level

    return louvain_two_level(
        _copurchase_edges(spark, sf_dir, part_mod=3), rounds=4
    )


register(
    "graph_louvain_copurchase", build=_graph_louvain_copurchase,
    tags=("headline", "gated",),
    oracle=_louvain_sql(),
)
