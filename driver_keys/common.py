"""Helpers shared by more than one key family: table loading, exact sums,
the SQL-step query factory and oracle SQL fragments."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from metadata_etl_framework_spark.operators import TransformEngine
from metadata_etl_framework_spark.sources.tables import load_table


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


def _dsum(col: str, scale: str = "decimal(18,2)"):
    """Exact (order-independent) sum of a double column, back as double."""
    return F.sum(F.col(col).cast(scale)).cast("double")


_BM25_QUERIES = [
    ("q_stream", ["stream", "window"]),
    ("q_join", ["join", "merge"]),
    ("q_scan", ["scan", "filter", "sort"]),
]


def _bm25_join_sql() -> str:
    """DuckDB replay of bm25_join: the query rows inline as VALUES
    (same driver-side literals both engines consume), identical Lucene
    idf / tf arithmetic and decimal term accumulation."""
    qrows = ", ".join(
        f"('{qid}', '{t}')" for qid, terms in _BM25_QUERIES for t in terms
    )
    return f"""
        WITH qt AS (SELECT * FROM (VALUES {qrows}) AS v(query_id, t)),
        b AS (SELECT doc_id,
               CASE WHEN text IS NULL OR TRIM(text) = ''
                    THEN []::VARCHAR[]
                    ELSE REGEXP_SPLIT_TO_ARRAY(LOWER(TRIM(text)), '\\s+')
               END AS toks
             FROM documents),
        bl AS (SELECT doc_id, toks, LEN(toks) AS dl FROM b),
        stats AS (SELECT COUNT(*) AS n,
                         CAST(SUM(CAST(dl AS DECIMAL(30,10))) AS DOUBLE)
                           / COUNT(*) AS avgdl
                  FROM bl),
        p AS (SELECT doc_id, dl, t, CAST(COUNT(*) AS DOUBLE) AS tf
              FROM (SELECT doc_id, dl, UNNEST(toks) AS t FROM bl)
              WHERE t IN (SELECT DISTINCT t FROM qt)
              GROUP BY 1, 2, 3),
        dft AS (SELECT t, CAST(COUNT(*) AS DOUBLE) AS dfv FROM p GROUP BY t),
        terms AS (SELECT qt.query_id, p.doc_id,
               CAST(LN(1.0 + (n - dfv + 0.5) / (dfv + 0.5))
                    * ((tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * (dl / avgdl))))
                    AS DECIMAL(28,12)) AS s
            FROM p JOIN dft USING (t) JOIN qt USING (t), stats),
        sc AS (SELECT query_id, doc_id,
                      ROUND(CAST(SUM(s) AS DOUBLE), 6) AS score,
                      CAST(COUNT(*) AS INT) AS n_terms_hit
               FROM terms GROUP BY 1, 2),
        r AS (SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                             ORDER BY score DESC, doc_id) AS INT) AS rk
              FROM sc)
        SELECT query_id, doc_id, score, n_terms_hit, rk FROM r WHERE rk <= 5
    """


def _pagerank_sql(
    seeds: "list[str] | None" = None,
    bidirectional: bool = True,
    redistribute: bool = False,
    edge_ctes: "list[str] | None" = None,
) -> str:
    """DuckDB replay of the 3-iteration PageRank: identical edge
    construction, identical DECIMAL(28,12) contribution accumulation,
    identical double teleport arithmetic ((1.0−0.85)/nn and 1.0/nn are
    computed in IEEE doubles by both engines). ``bidirectional=False``
    keeps only customer→supplier edges (suppliers become dangling);
    ``redistribute`` replays the mass-conserving dangling arm — per
    iteration, the DECIMAL-summed rank on dangling nodes re-enters
    through the uniform teleport distribution. ``edge_ctes`` swaps the
    default trade-graph construction for caller CTEs that must end in
    ``e0(src, dst, w)``; everything from ``nodes`` on is shared."""
    e0 = """e0 AS (SELECT 'c' || CAST(ck AS VARCHAR) AS src,
                         's' || CAST(sk AS VARCHAR) AS dst,
                         CAST(n AS DOUBLE) AS w FROM pair"""
    if bidirectional:
        e0 += """
                  UNION ALL
                  SELECT 's' || CAST(sk AS VARCHAR),
                         'c' || CAST(ck AS VARCHAR),
                         CAST(n AS DOUBLE) FROM pair"""
    e0 += ")"
    ctes = edge_ctes if edge_ctes is not None else [
        """pair AS (SELECT o_custkey AS ck, l_suppkey AS sk, COUNT(*) AS n
                    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
                    GROUP BY 1, 2)""",
        e0,
    ]
    ctes = ctes + [
        "nodes AS (SELECT src AS node FROM e0 UNION SELECT dst FROM e0)",
        "t AS (SELECT CAST(COUNT(*) AS DOUBLE) AS nn FROM nodes)",
        """ow AS (SELECT src, CAST(SUM(CAST(w AS DECIMAL(30,10)))
                              AS DOUBLE) AS ow FROM e0 GROUP BY src)""",
        """e AS (SELECT e0.src, e0.dst, e0.w, ow.ow
                 FROM e0 JOIN ow ON e0.src = ow.src)""",
        (
            "r0 AS (SELECT node, CASE WHEN node IN ({sl}) THEN {init!r} "
            "ELSE 0.0 END AS r FROM nodes, t)".format(
                sl=", ".join(f"'{s}'" for s in seeds),
                init=1.0 / len(seeds),
            )
            if seeds
            else "r0 AS (SELECT node, 1.0 / nn AS r FROM nodes, t)"
        ),
    ]
    if seeds:
        base_sql = (
            "CASE WHEN node IN ({sl}) THEN {b!r} ELSE 0.0 END".format(
                sl=", ".join(f"'{s}'" for s in seeds),
                b=(1.0 - 0.85) / len(seeds),
            )
        )
    else:
        base_sql = "((1.0 - 0.85) / nn)"
    if redistribute:
        ctes.append(
            """dang AS (SELECT node FROM nodes
                 LEFT JOIN (SELECT DISTINCT src FROM e0) o ON node = o.src
                 WHERE o.src IS NULL)"""
        )
    for k in range(1, 4):
        ctes.append(
            f"""c{k} AS (SELECT e.dst,
                       CAST(SUM(CAST((p.r * e.w) / e.ow AS DECIMAL(28,12)))
                            AS DOUBLE) AS s
                 FROM e JOIN r{k - 1} p ON e.src = p.node GROUP BY e.dst)"""
        )
        if redistribute:
            ctes.append(
                f"""m{k} AS (SELECT CAST(SUM(CAST(r AS DECIMAL(38,12)))
                              AS DOUBLE) AS m
                     FROM r{k - 1} JOIN dang USING (node))"""
            )
            ctes.append(
                f"""r{k} AS (SELECT node,
                       {base_sql} + 0.85 * (COALESCE(s, 0.0)
                           + COALESCE(m, 0.0) * (1.0 / nn)) AS r
                 FROM nodes CROSS JOIN t CROSS JOIN m{k}
                 LEFT JOIN c{k} ON node = c{k}.dst)"""
            )
        else:
            ctes.append(
                f"""r{k} AS (SELECT node,
                       {base_sql} + 0.85 * COALESCE(s, 0.0) AS r
                 FROM nodes CROSS JOIN t
                 LEFT JOIN c{k} ON node = c{k}.dst)"""
            )
    return (
        "WITH " + ",\n".join(ctes)
        + "\nSELECT node, ROUND(r, 6) AS rank FROM r3"
    )


def _sql_query(sql: str, *tables: str):
    """TPC-H-shaped SQL through the sqltransform step (full-SQL surface)."""

    def run(spark, sf_dir):
        engine = TransformEngine(spark)
        sources = {t: _t(spark, sf_dir, t) for t in tables}
        return engine.execute_transformations(
            sources,
            {"primary_source": tables[0],
             "steps": [{"type": "sqltransform", "config": {"query": sql}}]},
        )

    return run


_DRIFT_SPLIT = "1997-01-01"  # ref = shipped before, cur = shipped after


def _drift_frames(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    ref = li.filter(F.col("l_shipdate") < _DRIFT_SPLIT)
    cur = li.filter(F.col("l_shipdate") >= _DRIFT_SPLIT)
    return ref, cur


# ---- drift oracles ---------------------------------------------------------
# Built by helpers because the suite entry composes the same statistic over
# four columns; each helper mirrors quality/drift.py arithmetic exactly.

_DRIFT_REF = "l_shipdate < TIMESTAMP '1997-01-01'"
_DRIFT_CUR = "l_shipdate >= TIMESTAMP '1997-01-01'"


def _ks_ctes(col: str) -> str:
    return f"""
        ref AS (SELECT CAST({col} AS DOUBLE) AS x FROM lineitem WHERE {_DRIFT_REF}),
        cur AS (SELECT CAST({col} AS DOUBLE) AS x FROM lineitem WHERE {_DRIFT_CUR}),
        r AS (SELECT x AS v, COUNT(*) AS rc FROM ref WHERE x IS NOT NULL GROUP BY 1),
        c AS (SELECT x AS v, COUNT(*) AS cc FROM cur WHERE x IS NOT NULL GROUP BY 1),
        m AS (SELECT COALESCE(r.v, c.v) AS v,
                     COALESCE(rc, 0) AS rc, COALESCE(cc, 0) AS cc
              FROM r FULL OUTER JOIN c ON r.v = c.v),
        t AS (SELECT SUM(rc) AS n_ref, SUM(cc) AS n_cur FROM m),
        s AS (SELECT SUM(rc) OVER (ORDER BY v) AS ca,
                     SUM(cc) OVER (ORDER BY v) AS cb FROM m)
    """


# sketch oracles: the portable 32-bit mix hash (ops/sketch.py::hash32)
# replayed as a CTE chain — every step is BIGINT %/*/xor/shift, so the
# register / KMV / count-min state matches bit-for-bit
def _hash32_cte_sql(src_select: str) -> str:
    """CTE chain hashing column x of ``src_select`` (which must yield
    (x [, carry...])) into h, preserving any extra columns."""
    return f"""
    src AS ({src_select}),
    hc1 AS (SELECT *, ((x % 2147483648) * 2654435761) % 4294967296 AS a
            FROM src),
    hc2 AS (SELECT *, (xor(a, a >> 16) * 73244475) % 4294967296 AS b
            FROM hc1),
    hh AS (SELECT *, xor(b, b >> 16) AS h FROM hc2)
    """


# shared oracle prelude: the customer×brand interaction matrix and its
# shrunk-cosine item-pair model, replayed exactly (integer counts under
# closed-form division, 6-dp rounding at the same point as Spark)
_RECSYS_SIMS_CTE = """
    inter AS (SELECT DISTINCT o_custkey AS u, p_brand AS i
              FROM lineitem
              JOIN orders ON l_orderkey = o_orderkey
              JOIN part ON l_partkey = p_partkey
              WHERE o_custkey IS NOT NULL AND p_brand IS NOT NULL),
    ci AS (SELECT i, COUNT(*) AS n FROM inter GROUP BY 1),
    pr AS (SELECT a.i AS ia, b.i AS ib, COUNT(*) AS cab
           FROM inter a JOIN inter b ON a.u = b.u AND a.i < b.i
           GROUP BY 1, 2 HAVING COUNT(*) >= 5),
    sims AS (SELECT ia, ib, CAST(cab AS BIGINT) AS cab,
                    ROUND(cab / SQRT(ca.n * cb.n), 6) AS cosine,
                    ROUND((cab / SQRT(ca.n * cb.n))
                          * (cab / (cab + 10.0)), 6) AS shrunk
             FROM pr
             JOIN ci ca ON ca.i = pr.ia
             JOIN ci cb ON cb.i = pr.ib)
"""


# ---- round 13: rank-2 ALS factorization (ops/recsys.py) ----
# The training loop unrolled as CTEs (the glm_logit IRLS convention):
# portable-hash item init, then per-half-round pico-int 2x2 normal
# equations + closed-form adjugate solve, coefficients rounded to
# 12 dp between halves. MATERIALIZED on every factor CTE: each is
# referenced by TWO downstream halves (the k-ref blowup rule).
def _als_half_sql(out: str, gkey: str, okey: str, f: str) -> str:
    return f"""
            {out} AS MATERIALIZED (
              SELECT k,
                     ROUND((a22 * b1 - a12 * b2)
                           / (a11 * a22 - a12 * a12), 12) AS f1,
                     ROUND((a11 * b2 - a12 * b1)
                           / (a11 * a22 - a12 * a12), 12) AS f2
              FROM (
                SELECT b.{gkey} AS k,
                       CAST(SUM(CAST(ROUND(f.f1 * f.f1
                                * 1000000000000.0, 0) AS HUGEINT))
                            + 100000000000 AS DOUBLE) AS a11,
                       CAST(SUM(CAST(ROUND(f.f1 * f.f2
                                * 1000000000000.0, 0) AS HUGEINT))
                            AS DOUBLE) AS a12,
                       CAST(SUM(CAST(ROUND(f.f2 * f.f2
                                * 1000000000000.0, 0) AS HUGEINT))
                            + 100000000000 AS DOUBLE) AS a22,
                       CAST(SUM(CAST(ROUND(b.r * f.f1
                                * 1000000000000.0, 0) AS HUGEINT))
                            AS DOUBLE) AS b1,
                       CAST(SUM(CAST(ROUND(b.r * f.f2
                                * 1000000000000.0, 0) AS HUGEINT))
                            AS DOUBLE) AS b2
                FROM base b JOIN {f} f ON b.{okey} = f.k
                GROUP BY 1))"""


def _normal_sf_sql(x: str) -> str:
    """A&S 26.2.17 normal tail 1−Φ(x) for expression ``x`` ≥ 0 — SAME
    literals and Horner nesting as ops/stats.py::normal_sf_col."""
    t = f"(1.0 / (1.0 + 0.2316419 * ({x})))"
    poly = (
        f"((((1.330274429 * {t} + -1.821255978) * {t} + 1.781477937)"
        f" * {t} + -0.356563782) * {t} + 0.319381530) * {t}"
    )
    return (
        f"(0.3989422804014327 * EXP(-0.5 * ({x}) * ({x})) * ({poly}))"
    )


def _copurchase_edges_sql(part_mod: "int | None" = None) -> str:
    filt = (
        f" AND x.l_partkey % {part_mod} = 0"
        f" AND y.l_partkey % {part_mod} = 0"
        if part_mod is not None
        else ""
    )
    return f"""
      SELECT DISTINCT x.l_partkey AS a, y.l_partkey AS b
      FROM lineitem x JOIN lineitem y
        ON x.l_orderkey = y.l_orderkey
       AND x.l_partkey < y.l_partkey{filt}
    """


def _move_round_sql(r: int, px: str, adj: str, deg: str, l: str) -> str:
    """One alternating-direction local-move round (the SQL dual of
    ops/graph.py::_greedy_move_rounds): ``adj`` must expose (v, u, w),
    ``deg`` (v, d); labels are ``{l}{r-1}`` → ``{l}{r}``. The edge
    weight generalizes the unweighted phase (w = 1, SUM(w) = COUNT(*))
    to the contracted phase's integer weights."""
    prev = f"{l}{r - 1}"
    # round r is 1-based here; spark round r-1 is 0-based: even spark
    # rounds move only to smaller labels, odd only to larger
    direction = "<=" if (r - 1) % 2 == 0 else ">="
    return f"""
            {px}kv{r} AS MATERIALIZED (
                      SELECT a.v AS v, l.community AS c,
                             SUM(a.w) AS k
                      FROM {adj} a JOIN {prev} l ON a.u = l.node
                      GROUP BY 1, 2),
            {px}cand{r} AS (SELECT v, c, MAX(k) AS k
                        FROM (SELECT v, c, k FROM {px}kv{r}
                              UNION ALL
                              SELECT node, community, 0 FROM {prev})
                        GROUP BY v, c),
            {px}tot{r} AS MATERIALIZED (
                       SELECT l.community AS c,
                              SUM(d.d) AS tot
                       FROM {prev} l JOIN {deg} d ON l.node = d.v
                       GROUP BY 1),
            {px}sc{r} AS (SELECT cd.v, cd.c,
                             2 * CAST(mm.m AS HUGEINT)
                                 * CAST(cd.k AS HUGEINT)
                             - CAST(dg.d AS HUGEINT)
                                 * (CAST(t.tot AS HUGEINT)
                                    - CASE WHEN cd.c = own.community
                                           THEN CAST(dg.d AS HUGEINT)
                                           ELSE CAST(0 AS HUGEINT)
                                      END) AS s
                      FROM {px}cand{r} cd
                      JOIN {px}tot{r} t ON cd.c = t.c
                      JOIN {prev} own ON cd.v = own.node
                      JOIN {deg} dg ON cd.v = dg.v
                      CROSS JOIN mm
                      WHERE cd.c {direction} own.community),
            {l}{r} AS MATERIALIZED (
                     SELECT v AS node, c AS community
                     FROM (SELECT v, c,
                                  ROW_NUMBER() OVER (
                                    PARTITION BY v
                                    ORDER BY s DESC, c) AS rn
                           FROM {px}sc{r})
                     WHERE rn = 1)"""


def _gmod_phase1_ctes() -> str:
    """Phase-1 CTE body shared by the greedy-modularity key and the
    two-level Louvain key: canonical co-purchase edges (part_mod=3),
    unit-weight adjacency, degrees, total edge count, singleton init,
    4 alternating move rounds ending at l4."""
    rounds = ",".join(
        _move_round_sql(r, "", "adj", "deg", "l") for r in (1, 2, 3, 4)
    )
    return f"""e AS MATERIALIZED ({_copurchase_edges_sql(part_mod=3)}),
            adj AS MATERIALIZED (
                    SELECT a AS v, b AS u, 1 AS w FROM e
                    UNION ALL
                    SELECT b AS v, a AS u, 1 AS w FROM e),
            deg AS MATERIALIZED (
                    SELECT v, SUM(w) AS d FROM adj GROUP BY v),
            mm AS MATERIALIZED (SELECT COUNT(*) AS m FROM e),
            l0 AS MATERIALIZED (
                    SELECT v AS node, v AS community FROM deg),
            {rounds}"""


def _louvain_q_ctes(px: str, lab: str) -> str:
    """Exact integer Q·4m² of labeling ``lab`` over the raw edges."""
    return f"""
            {px}e AS MATERIALIZED (
                  SELECT la.community AS ca, lb.community AS cb
                  FROM e JOIN {lab} la ON e.a = la.node
                         JOIN {lab} lb ON e.b = lb.node),
            {px}d AS (SELECT c, COUNT(*) AS D
                      FROM (SELECT ca AS c FROM {px}e
                            UNION ALL
                            SELECT cb AS c FROM {px}e)
                      GROUP BY c),
            {px}i AS (SELECT ca AS c, COUNT(*) AS ne
                      FROM {px}e WHERE ca = cb GROUP BY ca),
            {px}q AS MATERIALIZED (
                  SELECT SUM(4 * CAST(mm.m AS HUGEINT)
                             * CAST(COALESCE(i.ne, 0) AS HUGEINT)
                             - CAST(d.D AS HUGEINT)
                               * CAST(d.D AS HUGEINT)) AS q
                  FROM {px}d d LEFT JOIN {px}i i ON d.c = i.c
                  CROSS JOIN mm)"""


def _louvain_sql() -> str:
    p2_rounds = ",".join(
        _move_round_sql(r, "p2", "adj2", "deg2", "L2_")
        for r in (1, 2, 3, 4)
    )
    return f"""
            WITH {_gmod_phase1_ctes()},
            ce AS MATERIALIZED (
                  SELECT la.community AS ca, lb.community AS cb
                  FROM e JOIN l4 la ON e.a = la.node
                         JOIN l4 lb ON e.b = lb.node),
            inter AS MATERIALIZED (
                  SELECT LEAST(ca, cb) AS a, GREATEST(ca, cb) AS b,
                         COUNT(*) AS w
                  FROM ce WHERE ca <> cb GROUP BY 1, 2),
            selfw AS (SELECT ca AS v, COUNT(*) AS sw
                      FROM ce WHERE ca = cb GROUP BY 1),
            adj2 AS MATERIALIZED (
                  SELECT a AS v, b AS u, w FROM inter
                  UNION ALL
                  SELECT b AS v, a AS u, w FROM inter),
            deg2 AS MATERIALIZED (
                  SELECT v, SUM(w) AS d
                  FROM (SELECT v, w FROM adj2
                        UNION ALL
                        SELECT v, 2 * sw AS w FROM selfw)
                  GROUP BY v),
            L2_0 AS MATERIALIZED (
                  SELECT v AS node, v AS community FROM deg2),
            {p2_rounds},
            twolvl AS MATERIALIZED (
                  SELECT l4.node, s.community AS community
                  FROM l4 JOIN L2_4 s ON l4.community = s.node),
            {_louvain_q_ctes("q1", "l4")},
            {_louvain_q_ctes("q2", "twolvl")},
            pick AS MATERIALIZED (
                  SELECT (SELECT q FROM q2q) > (SELECT q FROM q1q)
                         AS two_wins)
            SELECT node, community FROM twolvl
            WHERE (SELECT two_wins FROM pick)
            UNION ALL
            SELECT node, community FROM l4
            WHERE NOT (SELECT two_wins FROM pick)
        """
