"""Graph analytics over edge lists: weighted PageRank.

The entity-importance primitive a pipeline wants once it has built a
relationship graph (customer↔supplier volume, document link graphs,
user↔item interactions): which nodes matter? Complements the dedup
module's connected components (ops/dedup.py — cluster MEMBERSHIP) with
iterative IMPORTANCE propagation.

Reference parity: the reference has no graph module; this extends the
event-analytics family (transition graphs from
src/analytics/event_analytics.py-shaped tables) the same way the drift
suite extends its single-snapshot validators.

Scale design: the classic Pregel-free formulation — each iteration is
one join of the (persisted, out-weight-annotated) edge list with the
current rank frame plus one aggregation by destination. Nothing is ever
collected; state per iteration is one rank frame of O(nodes) rows.
Contribution terms accumulate as DECIMAL so every iteration's ranks are
order-independent and cross-engine reproducible (the repo's
numeric-parity convention).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import IntegralType

from metadata_etl_framework_spark.ops.driver_exact import (
    column_np,
    driver_gates_enabled,
    driver_table,
)
from metadata_etl_framework_spark.ops.materialize import (
    BCAST_MAX_ROWS,
    Supersteps,
    checkpoint_leaf,
    count_rows,
    release,
)

__all__ = [
    "pagerank",
    "triangle_count",
    "degree_distribution",
    "neighborhood_jaccard",
    "label_propagation",
    "k_core",
    "random_walks",
    "walk_cooccurrence",
    "pmi_embeddings",
    "betweenness_sampled",
    "link_prediction",
    "assortativity",
    "modularity",
    "greedy_modularity_move",
    "louvain_two_level",
    "eigenvector_centrality",
]

def pagerank(
    edges: DataFrame,
    iterations: int = 10,
    damping: float = 0.85,
    src_col: str = "src",
    dst_col: str = "dst",
    weight_col: str | None = None,
    checkpoint_every: int = 1,
    seed_nodes: "Sequence[str] | None" = None,
    redistribute_dangling: bool = False,
    tol: float | None = None,
) -> DataFrame:
    """Weighted PageRank over a directed edge list.

    ``PR_{t+1}(v) = (1−d)/N + d · Σ_{(u,v)∈E} PR_t(u) · w(u,v)/outw(u)``
    for ``iterations`` rounds from the uniform start 1/N. By default,
    dangling nodes (no out-edges) simply stop propagating — their mass
    is not redistributed (the common simplification; total mass then
    decays toward the teleport term, which is fine for RANKING).
    ``redistribute_dangling=True`` switches to the mass-conserving
    formulation: each iteration adds ONE 1-row aggregate — the total
    rank sitting on dangling nodes, DECIMAL-accumulated — broadcast
    back into the update as ``d·m·teleport(v)`` (uniform 1/N, or the
    seed distribution under personalization), so Σ rank stays 1 and
    ranks are comparable across graphs with different dangling shares.
    The extra per-iteration cost is a semi-join onto the (persisted)
    dangling-node set plus a broadcast cross-join of one row — no new
    row-scale shuffle.

    Each iteration: edge⋈rank join (shuffle on src), contribution
    aggregation (shuffle on dst), left join back onto the node set.
    The edge list is out-weight-annotated once and persisted; the rank
    frame is cut to a checkpoint leaf every ``checkpoint_every``
    iterations (and always at the end), its predecessor released — plan
    depth and held state stay O(checkpoint_every). Raising
    ``checkpoint_every`` trades plan depth for fewer jobs: a handful of
    iterations can run as one job (Catalyst handles a few stacked
    join+agg rounds fine); at hundreds of iterations keep it small.
    Per-edge contribution terms are cast to DECIMAL(28,12) before the
    sum, making every iteration bitwise order-independent.

    ``seed_nodes`` switches to PERSONALIZED PageRank: the teleport mass
    (and the starting distribution) concentrates uniformly on the seed
    set instead of all nodes — "importance relative to THESE nodes",
    the related-items / similar-customers primitive. Seeds are a
    driver-side list (a query parameter, like an ANN query vector), so
    the distributed plan is unchanged: the teleport term becomes a
    per-row CASE on seed membership.

    ``tol`` enables convergence-based early termination: at every
    checkpoint materialization the L1 rank delta vs the previous
    checkpoint (an equi-join + 1-row DECIMAL aggregate on the O(nodes)
    frames, collected driver-side; its job fills the new leaf) is
    compared against ``tol``; below it,
    remaining iterations are skipped. With ``checkpoint_every > 1`` the
    delta spans that many iterations — coarser checks, fewer jobs.
    ``iterations`` stays the hard upper bound.

    Returns (node, rank) with rank rounded to 6 dp, read from the final
    iteration's checkpoint leaf (see ``ops/materialize.release``).
    """
    if iterations < 1:
        raise ValueError("iterations must be >= 1")
    if checkpoint_every < 1:
        raise ValueError("checkpoint_every must be >= 1")
    if seed_nodes is not None and not sorted(set(seed_nodes)):
        raise ValueError("seed_nodes must be non-empty when given")
    w = (
        F.col(weight_col).cast("double")
        if weight_col
        else F.lit(1.0)
    )
    e0 = edges.where(
        F.col(src_col).isNotNull() & F.col(dst_col).isNotNull()
    ).select(
        F.col(src_col).alias("_src"),
        F.col(dst_col).alias("_dst"),
        w.alias("_w"),
    )
    # the edge projection feeds FOUR distinct subtrees below (node
    # set, out-weights, the annotated edge join, the dangling
    # anti-join) — persisting it executes the caller's edge lineage
    # (often a join + groupBy, or a union that runs that join twice)
    # exactly once instead of once per subtree
    e0 = e0.persist()
    n_edges = e0.count()
    if n_edges == 0:
        e0.unpersist()
        return edges.sparkSession.createDataFrame(
            [], "node string, rank double"
        )
    tbl = driver_table(e0, _MOVE_BCAST_MAX_NODES, size=n_edges)
    if tbl is not None:
        # bit-identical: the driver_exact kernels replicate every
        # pinned cast/round of the loop below
        e0.unpersist()
        return _pagerank_driver_py(
            edges.sparkSession,
            tbl,
            edges.schema[src_col].dataType,
            iterations=int(iterations),
            damping=float(damping),
            checkpoint_every=int(checkpoint_every),
            seed_nodes=seed_nodes,
            redistribute_dangling=bool(redistribute_dangling),
            tol=tol,
        )
    # ONE exploded groupBy derives everything node-level the loop
    # needs — the distinct node set, each node's DECIMAL out-weight,
    # and the dangling flag — where the former chain paid three
    # separate shuffle passes over the edge cache (union+distinct for
    # nodes, groupBy(_src) for out-weights, an anti-join for dangling;
    # guide §2.4: shared exchanges). The out-weight sum skips the
    # dst-emitted rows (NULL _w), so it equals the old groupBy(_src)
    # term-for-term; nodes/dangling are narrow reads of the one cache.
    nodes_stats = (
        e0.select(
            F.explode(
                F.array(
                    F.struct(
                        F.col("_src").alias("node"),
                        F.col("_w").alias("_w"),
                        F.lit(1).alias("_o"),
                    ),
                    F.struct(
                        F.col("_dst").alias("node"),
                        F.lit(None).cast("double").alias("_w"),
                        F.lit(0).alias("_o"),
                    ),
                )
            ).alias("_x")
        )
        .select("_x.node", "_x._w", "_x._o")
        .groupBy("node")
        .agg(
            F.sum(F.col("_w").cast("decimal(30,10)"))
            .cast("double")
            .alias("_ow"),
            F.max("_o").alias("_has_out"),
        )
        .persist()
    )
    n = nodes_stats.count()
    nodes = nodes_stats.select("node")
    ow = nodes_stats.where(F.col("_has_out") == 1).select(
        F.col("node").alias("_src"), "_ow"
    )
    ow_small = n <= _MOVE_BCAST_MAX_NODES
    e = e0.join(F.broadcast(ow) if ow_small else ow, "_src").persist()
    e.count()
    dangling = None
    if redistribute_dangling:
        # nodes with no out-edges — a narrow filter of the cached
        # node stats, probed each iteration
        dangling = nodes_stats.where(F.col("_has_out") == 0).select(
            "node"
        )
    e0.unpersist()

    # both constants computed DRIVER-side in IEEE doubles so an external
    # SQL oracle computing (1−d)/N and 1/N in its own double arithmetic
    # reproduces them bit-for-bit
    if seed_nodes is not None:
        seeds = sorted(set(seed_nodes))
        is_seed = F.col("node").isin(list(seeds))
        base_col = F.when(
            is_seed, F.lit((1.0 - damping) / len(seeds))
        ).otherwise(F.lit(0.0))
        init_col = F.when(
            is_seed, F.lit(1.0 / len(seeds))
        ).otherwise(F.lit(0.0))
        # teleport distribution the dangling mass re-enters through:
        # uniform 1/N, or the seed distribution under personalization
        redist_col = init_col
    else:
        base_col = F.lit((1.0 - damping) / n)
        init_col = redist_col = F.lit(1.0 / n)
    # under the measured node gate the O(nodes) rank iterates coalesce
    # to _SMALL_GRAPH_NPART — cached plans compile without AQE
    # partition coalescing, so un-shrunk iterates keep all shuffle
    # partitions and every downstream stage pays the task overhead
    small = n <= _MOVE_BCAST_MAX_NODES
    # the start is a projection of the cached node stats: no cut needed
    rank = last_kept = _shrink(nodes.withColumn("rank", init_col), small)
    # the dangling arm references the rank frame TWICE per iteration
    # (the contribution join and the dangling-mass aggregate), so the
    # un-truncated plan DOUBLES per round (2^i, not linear — the
    # round-12 benched 3-iteration entry analyzed to 1055 exchanges).
    # r13 capped the segment at 3 rounds (per-round truncation then
    # measured 2.5× slower); r17 RE-measured with the broadcast
    # contribution join and the fused node-stats pass in place:
    # per-round localCheckpoint of the O(nodes) iterate is now the
    # FASTER arm (interleaved min-of-3 at sf0.1, gate off: 9.8 s for
    # the 3-round segment vs 8.3 s per-round — the 2³-reference
    # segment re-executes the edge-side join per reference, which
    # broadcasting made the dominant term). tol checks keep the OLD
    # cadence (ck_tol) so convergence positions — and results under
    # tol — are bit-identical, and the driver twin's cadence logic
    # needs no change. Non-dangling loops grow linearly and keep the
    # caller's cadence.
    ck_tol = checkpoint_every
    if redistribute_dangling:
        ck_tol = min(checkpoint_every, 3)
        checkpoint_every = 1
    # node-count broadcast gate for the per-iteration joins (guide
    # §3.1, the label-propagation/eigenvector convention): the rank
    # iterate is O(nodes) — broadcasting it as the build side of the
    # contribution join lets the persisted edge table stream MAP-SIDE
    # with no exchange per iteration (previously BOTH sides re-shuffled
    # every round), and the O(nodes) contribution frame broadcasts
    # into the left-join update the same way. Identical rows either
    # way; the DECIMAL sums are merge-order free.
    bc = F.broadcast if small else (lambda d: d)
    steps = Supersteps(iterations, every=checkpoint_every)
    for i in steps:
        jr = bc(rank)
        contrib = (
            e.join(jr, e["_src"] == jr["node"])
            .select(
                "_dst",
                ((F.col("rank") * F.col("_w")) / F.col("_ow"))
                .cast("decimal(28,12)")
                .alias("_t"),
            )
            .groupBy("_dst")
            .agg(F.sum("_t").cast("double").alias("_s"))
        )
        upd = nodes.join(bc(contrib), nodes["node"] == contrib["_dst"], "left")
        mass = F.coalesce(F.col("_s"), F.lit(0.0))
        if dangling is not None:
            # ONE 1-row aggregate: total rank on dangling nodes this
            # iteration, DECIMAL-accumulated (order-independent), then
            # broadcast back into the update via a 1-row cross-join —
            # the plan stays lazy, no per-iteration driver collect
            dm = dangling.join(bc(rank), "node").agg(
                F.sum(F.col("rank").cast("decimal(38,12)"))
                .cast("double")
                .alias("_dm")
            )
            upd = upd.crossJoin(F.broadcast(dm))
            mass = mass + F.coalesce(F.col("_dm"), F.lit(0.0)) * redist_col
        new_rank = upd.select(
            "node", (base_col + F.lit(damping) * mass).alias("rank")
        )
        at_tol = (i + 1) % ck_tol == 0
        probe = None
        if tol is not None and at_tol and i < iterations - 1:
            # the L1 delta vs the last tol position's iterate is the job
            # that fills this round's leaf
            prev = bc(last_kept.select("node", F.col("rank").alias("_p")))
            probe = lambda r: r.join(prev, "node").agg(  # noqa: E731
                F.sum(
                    F.abs(F.col("rank") - F.col("_p")).cast("decimal(38,12)")
                ).cast("double")
            )
        rank, row = steps.cut(_shrink(new_rank, small), probe)
        if at_tol:
            last_kept = rank
        steps.retain(rank, last_kept)
        if row is not None and row[0] is not None and row[0] < float(tol):
            break
    nodes_stats.unpersist()
    e.unpersist()
    out = rank.select("node", F.round("rank", 6).alias("rank"))
    steps.retain(out)
    return out


def _factorize_nodes(tbl):
    """Codes of the ``_src`` then ``_dst`` column values of an Arrow
    edge table (one array, length 2·rows) and the distinct node values
    in order of first appearance — Arrow's dictionary encoding, with
    no Python object per edge."""
    import pyarrow as pa

    src = tbl.column("_src")
    enc = (
        pa.chunked_array(src.chunks + tbl.column("_dst").chunks, src.type)
        .combine_chunks()
        .dictionary_encode()
    )
    return (
        enc.indices.to_numpy(zero_copy_only=False),
        enc.dictionary.to_numpy(zero_copy_only=False),
    )


def _pagerank_driver_py(
    spark,
    tbl,
    node_type,
    iterations: int,
    damping: float,
    checkpoint_every: int,
    seed_nodes,
    redistribute_dangling: bool,
    tol,
) -> DataFrame:
    """Driver-side replica of the :func:`pagerank` loop over the
    ``(_src, _dst, _w)`` edge table (Arrow; None weights arrive as NaN
    and null-flow out of the sums exactly like Spark's null-skipping
    aggregates). Every pinned numeric behavior is
    replicated through the driver_exact kernels: the decimal(30,10)
    out-weight cast + exact sum + double cast, the decimal(28,12)
    per-edge contribution fixed point, the decimal(38,12) dangling
    mass and tol-delta sums, the same IEEE expression order for the
    rank update, and the final 6-dp HALF_UP round. Bit-identical to
    the distributed loop by construction."""
    import numpy as np
    import pandas as pd

    from .driver_exact import (
        cast_decimal_i64,
        scaled_i64_to_f64,
        spark_round_f64,
    )

    codes, uniques = _factorize_nodes(tbl)
    m = tbl.num_rows
    scode = codes[:m]
    dcode = codes[m:]
    n = len(uniques)
    wv = column_np(tbl, "_w", np.float64)

    def _exact_sum(code, vals, scale, size):
        """Order-free decimal sum of vals cast to decimal(·, scale),
        grouped by code; returns (double values, has-any-row mask)."""
        ints, ok = cast_decimal_i64(vals, scale)
        ints = ints[ok]
        c = code[ok]
        acc = np.zeros(size, dtype=np.int64)
        if len(ints) and int(np.max(np.abs(ints))) * len(ints) >= (
            1 << 62
        ):
            accd: dict = {}
            for ci, vi in zip(c.tolist(), ints.tolist()):
                accd[ci] = accd.get(ci, 0) + vi
            out = np.zeros(size, dtype=np.float64)
            got = np.zeros(size, dtype=bool)
            from decimal import Decimal

            for ci, vi in accd.items():
                out[ci] = float(Decimal(vi).scaleb(-scale))
                got[ci] = True
            return out, got
        np.add.at(acc, c, ints)
        got = np.zeros(size, dtype=bool)
        got[c] = True
        return scaled_i64_to_f64(acc, scale), got

    # out-weights: decimal(30,10)-cast sum per src, like the groupBy
    ow, ow_ok = _exact_sum(scode, wv, 10, n)
    if seed_nodes is not None:
        seeds = sorted(set(seed_nodes))
        is_seed = pd.Series(uniques).isin(list(seeds)).to_numpy()
        base = np.where(is_seed, (1.0 - damping) / len(seeds), 0.0)
        init = np.where(is_seed, 1.0 / len(seeds), 0.0)
        redist = np.where(is_seed, 1.0 / len(seeds), 0.0)
    else:
        base = np.full(n, (1.0 - damping) / n)
        init = np.full(n, 1.0 / n)
        redist = np.full(n, 1.0 / n)
    has_out = np.zeros(n, dtype=bool)
    has_out[scode] = True
    rank = init.copy()
    last_kept = rank
    if redistribute_dangling:
        checkpoint_every = min(checkpoint_every, 3)
    dang = ~has_out
    # per-edge gather indices stay fixed; the contribution term
    # follows the exact Spark expression: (rank·w)/ow in doubles,
    # cast decimal(28,12), summed, cast double; missing groups stay
    # NULL → coalesce 0.0
    for i in range(iterations):
        t = (rank[scode] * wv) / np.where(ow_ok, ow, np.nan)[scode]
        s, s_ok = _exact_sum(dcode, t, 12, n)
        s = np.where(s_ok, s, 0.0)
        if redistribute_dangling:
            if dang.any():
                dints, dok = cast_decimal_i64(rank[dang], 12)
                tot = int(dints[dok].sum())
                from decimal import Decimal

                dm = float(Decimal(tot).scaleb(-12))
            else:
                dm = 0.0
            rank = base + damping * (s + dm * redist)
        else:
            rank = base + damping * s
        if (i + 1) % checkpoint_every == 0 or i == iterations - 1:
            converged = False
            if tol is not None and i < iterations - 1:
                vints, vok = cast_decimal_i64(
                    np.abs(rank - last_kept), 12
                )
                from decimal import Decimal

                delta = float(
                    Decimal(int(vints[vok].sum())).scaleb(-12)
                )
                converged = delta < float(tol)
            last_kept = rank
            if converged:
                break
    out = pd.DataFrame(
        {
            "node": uniques,
            "rank": spark_round_f64(rank, 6),
        }
    )
    return spark.createDataFrame(
        out, f"node {node_type.simpleString()}, rank double"
    )


def _undirected(edges: DataFrame, src: str, dst: str) -> DataFrame:
    """Canonical undirected edge set: self-loops dropped, (a, b) with
    a < b, duplicates collapsed — one row-scale distinct."""
    return (
        edges.where(
            F.col(src).isNotNull()
            & F.col(dst).isNotNull()
            & (F.col(src) != F.col(dst))
        )
        .select(
            F.least(F.col(src), F.col(dst)).alias("a"),
            F.greatest(F.col(src), F.col(dst)).alias("b"),
        )
        .distinct()
    )


def triangle_count(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """Global triangle census of an undirected graph: node/edge/wedge
    counts, triangle count and transitivity (3·T / wedges).

    Scale shape — the degree-ordered compact-forward algorithm: each
    canonical edge is oriented from its LOWER-degree endpoint
    (ties by id), so a hub of degree d generates wedges only from its
    low-degree side; the wedge count per node is bounded by the
    out-degree in the orientation, which the ordering provably keeps
    at O(sqrt(edges)) per node (Chiba–Nishizeki) instead of O(d²) on
    power-law hubs. Two shuffle equi-joins total: wedge generation
    (self-join on the low endpoint) and wedge closure (join against
    the oriented edge list). Every triangle is counted exactly once
    because its three vertices have a unique degree-order.

    Output: 1 row — (n_nodes, n_edges, n_wedges, n_triangles,
    transitivity 6dp; transitivity NULL when the graph has no
    wedges).
    """
    # r17 note: a broadcast/repartition variant of this chain (deg
    # broadcast into the annotations, the oriented list broadcast into
    # wedge+closure) was built and REJECTED by an interleaved A/B at
    # the benched ring shape — old min 3.37 s vs new 3.89 s: the graph
    # is uniform (no skew for the broadcasts to dodge) and the extra
    # gate count + broadcast builds cost more than the SMJ exchanges
    # they removed. The SMJ form also stays the right plan at dense
    # co-supplier scale, where the build sides outgrow any broadcast.
    und = _undirected(edges, src, dst).persist()
    deg = (
        und.select(F.col("a").alias("v"))
        .unionAll(und.select(F.col("b").alias("v")))
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("d"))
    ).persist()
    # orient: u = endpoint with the smaller (degree, id) key; carry the
    # far endpoint's degree for wedge-ordering comparisons
    da, db = deg.alias("da"), deg.alias("db")
    j = (
        und.join(da, F.col("a") == F.col("da.v"))
        .join(db, F.col("b") == F.col("db.v"))
        .select(
            "a", "b",
            F.col("da.d").alias("d_a"), F.col("db.d").alias("d_b"),
        )
    )
    # a < b always, so a degree tie orients a -> b
    e = j.select(
        F.when(F.col("d_a") <= F.col("d_b"), F.col("a"))
        .otherwise(F.col("b")).alias("u"),
        F.when(F.col("d_a") <= F.col("d_b"), F.col("b"))
        .otherwise(F.col("a")).alias("w"),
        F.when(F.col("d_a") <= F.col("d_b"), F.col("d_b"))
        .otherwise(F.col("d_a")).alias("dw"),
    ).persist()
    x, y = e.alias("x"), e.alias("y")
    wedges = x.join(
        y,
        (F.col("x.u") == F.col("y.u"))
        & (
            (F.col("x.dw") < F.col("y.dw"))
            | ((F.col("x.dw") == F.col("y.dw")) & (F.col("x.w") < F.col("y.w")))
        ),
    ).select(F.col("x.w").alias("w1"), F.col("y.w").alias("w2"))
    closed = wedges.join(
        e, (F.col("w1") == F.col("u")) & (F.col("w2") == F.col("w"))
    )
    tri = closed.agg(F.count(F.lit(1)).alias("n_triangles"))
    counts = und.agg(F.count(F.lit(1)).alias("n_edges"))
    nodes = deg.agg(
        F.count(F.lit(1)).alias("n_nodes"),
        F.sum(
            (F.col("d").cast("long") * (F.col("d") - 1)) / 2
        ).cast("long").alias("n_wedges"),
    )
    out = (
        nodes.crossJoin(F.broadcast(counts))
        .crossJoin(F.broadcast(tri))
        .select(
            "n_nodes",
            "n_edges",
            "n_wedges",
            "n_triangles",
            F.round(
                F.when(
                    F.col("n_wedges") > 0,
                    3.0 * F.col("n_triangles") / F.col("n_wedges"),
                ),
                6,
            ).alias("transitivity"),
        )
    )
    rows = out.collect()
    for h in (und, deg, e):
        h.unpersist()
    return edges.sparkSession.createDataFrame(rows, out.schema)


def degree_distribution(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """Undirected degree histogram: (degree, n_nodes) — the first
    question asked of any relationship graph, and the skew diagnostic
    that decides whether downstream pair-generating ops (wedges,
    neighborhood similarity) need a hub cap. One distinct + two
    groupBys; output is O(distinct degrees).
    """
    und = _undirected(edges, src, dst)
    deg = (
        und.select(F.col("a").alias("v"))
        .unionAll(und.select(F.col("b").alias("v")))
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    return (
        deg.groupBy(F.col("d").alias("degree"))
        .agg(F.count(F.lit(1)).alias("n_nodes"))
    )


def neighborhood_jaccard(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    min_sim: float = 0.0,
    max_degree: "int | None" = None,
) -> DataFrame:
    """Structural node similarity: Jaccard overlap of neighbor sets,
    |N(a) ∩ N(b)| / |N(a) ∪ N(b)|, for every node pair sharing at
    least one neighbor — the graph-side near-duplicate detector
    (two documents citing the same sources, two customers buying
    from the same suppliers).

    Scale shape: candidate pairs come from a self-join of the FULL
    adjacency on the shared neighbor — the same blocking idea as the
    LSH dedup family (never all-pairs). Hubs make this quadratic, so
    ``max_degree`` drops nodes above the cap from the MIDDLE position
    (their neighborhoods still count toward each endpoint's degree);
    :func:`degree_distribution` is the advisor for picking the cap.
    Pairs emit canonically (a < b) once.

    Output: (node_a, node_b, common, degree_a, degree_b,
    jaccard 6dp), filtered to jaccard >= min_sim.
    """
    und = _undirected(edges, src, dst)
    adj = und.select(
        F.col("a").alias("v"), F.col("b").alias("n")
    ).unionAll(und.select(F.col("b").alias("v"), F.col("a").alias("n")))
    deg = adj.groupBy("v").agg(F.count(F.lit(1)).alias("d"))
    mid = adj.select(F.col("n").alias("via"), F.col("v").alias("node"))
    if max_degree is not None:
        allowed = deg.where(F.col("d") <= max_degree).select(
            F.col("v").alias("via")
        )
        mid = mid.join(allowed, "via")
    p, q = mid.alias("p"), mid.alias("q")
    common = (
        p.join(
            q,
            (F.col("p.via") == F.col("q.via"))
            & (F.col("p.node") < F.col("q.node")),
        )
        .groupBy(
            F.col("p.node").alias("node_a"), F.col("q.node").alias("node_b")
        )
        .agg(F.count(F.lit(1)).alias("common"))
    )
    dda, ddb = deg.alias("dda"), deg.alias("ddb")
    out = (
        common.join(dda, F.col("node_a") == F.col("dda.v"))
        .join(ddb, F.col("node_b") == F.col("ddb.v"))
        .select(
            "node_a",
            "node_b",
            "common",
            F.col("dda.d").alias("degree_a"),
            F.col("ddb.d").alias("degree_b"),
            F.round(
                F.col("common")
                / (F.col("dda.d") + F.col("ddb.d") - F.col("common")),
                6,
            ).alias("jaccard"),
        )
    )
    if min_sim > 0.0:
        out = out.where(F.col("jaccard") >= min_sim)
    return out


def _label_prop_driver_py(
    spark, tbl, iterations: int, node_type
) -> DataFrame:
    """Driver-side replica of :func:`label_propagation` over the
    canonical undirected ``(a, b)`` edge table (Arrow): synchronous
    rounds of the most-frequent-neighbor/min-tie update in pure integer
    NumPy — bit-identical to the distributed rounds by construction
    (the op has no floating point). Output (node, label), node type
    preserved."""
    import numpy as np
    import pandas as pd

    a = column_np(tbl, "a", np.int64)
    b = column_np(tbl, "b", np.int64)
    srcs = np.concatenate([a, b])
    dsts = np.concatenate([b, a])
    uniq, inv = np.unique(
        np.concatenate([srcs, dsts]), return_inverse=True
    )
    n = len(uniq)
    si = inv[: len(srcs)]
    di = inv[len(srcs):]
    lab = uniq.copy()  # label VALUES (node ids), indexed by node idx
    for _ in range(int(iterations)):
        nl = lab[di]
        # per (v, neighbor-label) counts, then argmax count with
        # smallest-label ties — the min(struct(-cnt, nl)) rule
        keys = np.stack([si, nl], axis=1)
        u, cnt = np.unique(keys, axis=0, return_counts=True)
        order = np.lexsort((u[:, 1], -cnt, u[:, 0]))
        us = u[order]
        first = np.ones(len(us), dtype=bool)
        first[1:] = us[1:, 0] != us[:-1, 0]
        win_v = us[first, 0]
        win_l = us[first, 1]
        new_lab = lab.copy()
        new_lab[win_v] = win_l
        lab = new_lab
    out = pd.DataFrame({"node": uniq, "label": lab})
    t = node_type.simpleString()
    return spark.createDataFrame(out, f"node {t}, label {t}")


def label_propagation(
    edges: DataFrame,
    iterations: int = 5,
    src_col: str = "src",
    dst_col: str = "dst",
    checkpoint_every: int = 1,
) -> DataFrame:
    """Deterministic synchronous label propagation (community
    detection): every node starts labeled with its own id; each
    iteration, every node adopts the label that is MOST FREQUENT among
    its neighbors, ties broken by the SMALLEST label. The
    most-frequent/min-tie rule makes the update a pure function of the
    previous labeling — no RNG, no visit order — so a fixed iteration
    count replays exactly in SQL (the oracle unrolls the rounds the
    way the PageRank oracle does).

    Scale shape per iteration: one equi-join of the (persisted)
    undirected adjacency against the O(nodes) label frame, one
    groupBy((node, label)) count, one groupBy(node) argmin over
    ``struct(-count, label)`` — two row-scale shuffles, no windows
    over raw rows. Label frames persist/release with the same
    ``checkpoint_every`` discipline as :func:`pagerank`.

    Isolated nodes never appear in an edge list, so every node has at
    least one neighbor; a node with no neighbors in some round
    (impossible here) would keep its label via the left join.

    Output: (node, label) — nodes sharing a label after ``iterations``
    rounds are one community.
    """
    if iterations < 1:
        raise ValueError("iterations must be >= 1")
    und = _undirected(edges, src_col, dst_col).persist()
    n_und = und.count()
    # exact: pure integer counting + the same most-frequent/min-tie
    # argmin (no floating point anywhere in this op); non-integral node
    # ids stay distributed
    tbl = (
        driver_table(und, _MOVE_BCAST_MAX_NODES, size=2 * n_und)
        if isinstance(edges.schema[src_col].dataType, IntegralType)
        else None
    )
    if tbl is not None:
        und.unpersist()
        return _label_prop_driver_py(
            edges.sparkSession,
            tbl,
            int(iterations),
            edges.schema[src_col].dataType,
        )
    adj = (
        und.select(F.col("a").alias("v"), F.col("b").alias("u"))
        .unionAll(und.select(F.col("b").alias("v"), F.col("a").alias("u")))
        .persist()
    )
    steps = Supersteps(iterations, every=checkpoint_every)
    labels, n = steps.cut(
        adj.select(F.col("v").alias("node")).distinct().select(
            "node", F.col("node").alias("label")
        ),
        count_rows,
    )
    und.unpersist()
    # node-count broadcast gate (the _greedy_move_rounds convention)
    small = n[0] <= _MOVE_BCAST_MAX_NODES
    bc = F.broadcast if small else (lambda d: d)
    for _ in steps:
        counts = (
            adj.join(
                bc(
                    labels.select(
                        F.col("node").alias("u"),
                        F.col("label").alias("nl"),
                    )
                ),
                "u",
            )
            .groupBy("v", "nl")
            .agg(F.count(F.lit(1)).alias("cnt"))
        )
        new_labels = (
            counts.groupBy("v")
            .agg(
                F.min(
                    F.struct((-F.col("cnt")).alias("nc"), F.col("nl"))
                ).alias("m")
            )
            .select(F.col("v").alias("node"), F.col("m.nl").alias("label"))
        )
        labels, _ = steps.cut(_shrink(new_labels, small))
        steps.retain(labels)
    adj.unpersist()
    return labels


def k_core(
    edges: DataFrame,
    k: int,
    src_col: str = "src",
    dst_col: str = "dst",
    max_iter: int = 20,
) -> DataFrame:
    """The k-core of an undirected graph: the maximal subgraph in
    which every node has degree >= k, computed by iterative peeling —
    drop all nodes of degree < k, recompute degrees on the induced
    subgraph, repeat until stable (removals cascade: stripping a leaf
    can expose its neighbor).

    Each peel is one degree aggregation plus two semi-joins filtering
    the edge frame to surviving endpoints — row-scale equi-shuffles
    only. Because one peel references the previous edge frame FOUR
    times (twice in the degree union, twice in the semi-joins), the
    logical plan would grow 4^iterations under plain persist(); each
    round is therefore a :class:`~ops.materialize.Supersteps` cut,
    which truncates lineage outright and releases the superseded edge
    frame. Convergence is probed with a 1-row count, the job that fills
    the cut; since a converged graph is a fixpoint of the peel, running EXTRA
    rounds is a no-op — which is what lets a fixed-unroll SQL oracle
    replay the data-dependent iteration count exactly. ``max_iter``
    bounds the cascade (a path of length L needs L peels); hitting the
    bound raises rather than silently returning a non-core.

    Output: (node, degree) for every node of the k-core, with its
    degree INSIDE the core.
    """
    if k < 1:
        raise ValueError("k must be >= 1")
    steps = Supersteps(max_iter)
    cur, n = steps.cut(_undirected(edges, src_col, dst_col), count_rows)
    n_edges = n[0]
    # peel iterates coalesce under the measured gate (checkpoint
    # leaves otherwise keep full shuffle-partition counts; see _shrink)
    small = n_edges <= _MOVE_BCAST_MAX_NODES
    for _ in steps:
        deg = (
            cur.select(F.col("a").alias("v"))
            .unionAll(cur.select(F.col("b").alias("v")))
            .groupBy("v")
            .agg(F.count(F.lit(1)).alias("d"))
        )
        keep = deg.where(F.col("d") >= k).select("v")
        cur, n = steps.cut(
            _shrink(
                cur.join(keep.withColumnRenamed("v", "a"), "a", "left_semi")
                .join(keep.withColumnRenamed("v", "b"), "b", "left_semi")
                .select("a", "b"),
                small,
            ),
            count_rows,
        )
        steps.retain(cur)
        if n[0] == n_edges:
            break
        n_edges = n[0]
    else:
        steps.retain()
        raise RuntimeError(
            f"k_core did not converge within max_iter={max_iter} peels"
        )
    return (
        cur.select(F.col("a").alias("node"))
        .unionAll(cur.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("degree"))
    )


def closeness_sampled(
    edges: DataFrame,
    seeds: "list[int]",
    src: str = "src",
    dst: str = "dst",
    max_hops: int = 20,
) -> DataFrame:
    """Exact closeness + harmonic centrality for a SAMPLED seed set via
    multi-source BFS — the scale-honest form of centrality beyond
    degree/PageRank: exact closeness for all nodes is all-pairs
    shortest paths (hopeless at scale), but landmark/seed closeness
    (the standard approximation backbone, cf. Eppstein–Wang) needs one
    BFS per seed, and all seeds advance TOGETHER here as one
    (seed, node) frontier frame — k seeds cost one extra key column,
    not k jobs.

    Per hop: frontier ⋈ adjacency (equi-join) → distinct → anti-join
    the visited set; because ``visited`` is referenced TWICE per hop
    (union + anti-join) the logical plan would double per round under
    plain persist — the k_core 4^n lesson — so every hop is a
    superstep cut (:func:`_bfs_layers`), and the loop stops on an empty
    frontier or ``max_hops``. Closeness =
    (reached−1)/Σdist; harmonic = Σ 1/dist (10-dp DECIMAL terms —
    merge-order independent), which stays meaningful on disconnected
    graphs where closeness degrades.

    Output: one row per seed — (seed, n_reached incl. self,
    total_dist, closeness 6 dp, harmonic 6 dp), ordered by seed.
    """
    if not seeds:
        raise ValueError("seeds must be non-empty")
    if len(seeds) > 1000:
        raise ValueError(
            f"{len(seeds)} seeds — the frontier frame is "
            f"seeds × reachable nodes; sample seeds, not the graph"
        )
    und = _undirected(edges, src, dst)
    adj = und.unionByName(
        und.select(F.col("b").alias("a"), F.col("a").alias("b"))
    )
    adj = adj.persist()
    # populate the persist and decide the small-graph partitioning for
    # the per-hop checkpoint leaves (see _shrink)
    small = adj.count() <= _MOVE_BCAST_MAX_NODES
    steps = Supersteps(max_hops)
    try:
        visited, _ = _bfs_layers(adj, seeds, steps, small, sigma=False)
        inv = F.when(
            F.col("dist") > 0, F.lit(1.0) / F.col("dist")
        ).otherwise(F.lit(0.0))
        out = (
            visited.groupBy("s")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_reached"),
                F.sum("dist").cast("long").alias("total_dist"),
                F.sum(
                    F.round(inv, 10).cast("decimal(24,10)")
                ).alias("_h"),
            )
            .select(
                F.col("s").alias("seed"),
                "n_reached",
                "total_dist",
                F.round(
                    F.when(
                        F.col("total_dist") > 0,
                        (F.col("n_reached") - 1).cast("double")
                        / F.col("total_dist"),
                    ),
                    6,
                ).alias("closeness"),
                F.round(F.col("_h").cast("double"), 6).alias("harmonic"),
            )
            .orderBy("seed")
        )
        out = out.localCheckpoint(eager=True)
    finally:
        adj.unpersist()
        steps.retain()
    return out


def _bfs_layers(
    adj: DataFrame, seeds: "list[int]", steps: Supersteps, small: bool,
    sigma: bool,
) -> "tuple[DataFrame, int]":
    """The forward multi-source BFS of :func:`closeness_sampled` and
    :func:`betweenness_sampled`: ``(visited, depth)``, with one
    (s, node, dist) row per seed and reached node, plus ``sigma`` (the
    shortest-path count, summed over the previous layer) when asked.
    Closeness never asks: Σσ can overflow long, and ANSI mode would
    then fail it loudly. ``depth`` is the deepest non-empty hop.

    One hop per superstep, stopping on an empty frontier. ``visited`` is
    referenced twice per hop (union + anti-join), so the plan would
    double per round without the cuts; under the node gate each hop's
    frame is O(seeds·nodes) and broadcasts as the build side, so the
    persisted adjacency streams map-side."""
    carry = ["sigma"] if sigma else []
    visited = adj.sparkSession.createDataFrame(
        [(int(s), int(s), 0, 1)[: 3 + sigma] for s in seeds],
        "s long, node long, dist int" + (", sigma long" if sigma else ""),
    )
    frontier, depth = visited, 0
    bc = F.broadcast if small else (lambda d: d)
    for hop in steps:
        # name-based equi-join: attribute references would resolve
        # ambiguously once the frontier's lineage contains adj (the
        # self-join trap turns the hop into a cartesian)
        reached = bc(
            frontier.select("s", F.col("node").alias("a"), *carry)
        ).join(adj, "a")
        if sigma:
            reached = reached.groupBy("s", F.col("b").alias("node")).agg(
                F.sum("sigma").alias("sigma")
            )
        else:
            reached = reached.select("s", F.col("b").alias("node")).distinct()
        nxt, n = steps.cut(
            _shrink(
                reached.join(bc(visited), ["s", "node"], "left_anti")
                .withColumn("dist", F.lit(hop + 1).cast("int"))
                .select("s", "node", "dist", *carry),
                small,
            ),
            count_rows,
        )
        if n[0] == 0:
            break
        visited, _ = steps.cut(_shrink(visited.unionByName(nxt), small))
        frontier, depth = nxt, hop + 1
        steps.retain(frontier, visited)
    steps.retain(visited)
    return visited, depth


def random_walks(
    edges: DataFrame,
    walk_length: int = 3,
    src_col: str = "src",
    dst_col: str = "dst",
    seed: int = 1,
    max_walk_length: int = 20,
) -> DataFrame:
    """Deterministic uniform random walks over a directed edge list —
    the sampling primitive under DeepWalk/node2vec-style embeddings
    and Monte-Carlo PageRank: one walk per out-degree-positive node,
    each step choosing a uniform neighbor by the PORTABLE mix hash of
    (current node, start node, step, seed) instead of RNG state, so
    every run (and any SQL engine) reproduces the identical walk corpus
    — resumable, testable, and oracle-replayable like the Poisson
    bootstrap's weight ladder.

    Step t: neighbor index = hash32((cur mod 2³¹)·1000003 +
    (start mod 65521)·257 + t + seed·7919) mod deg(cur), against a
    per-node SORTED neighbor array (``sort_array(collect_set(dst))``
    — identical indexing to a row_number-over-dst-order table, the
    form the SQL oracle replays, but NODE-scale instead of edge-scale:
    one groupBy builds it, and each step is one equi-join of the
    O(nodes) walk frontier against the O(nodes) adjacency table with
    an ``element_at`` lookup — never an edge-scale shuffle, never a
    fan-out. Under the measured row gate the adjacency table
    broadcasts, making every step map-side (guide §3.1) — the whole
    corpus then computes in one narrow pass over the cached table. A
    walk reaching a node with no out-edges simply stops (its later
    steps emit no rows — the standard dangling behavior). Node ids
    must be non-negative integers (raises otherwise — the hash
    contract; hash a surrogate for string nodes).

    Output: (start, step int, node) tall frame — step 0 is the start
    itself — ordered by (start, step).
    """
    if not 1 <= walk_length <= max_walk_length:
        raise ValueError(
            f"walk_length={walk_length} outside [1, {max_walk_length}] "
            f"— each step is a join; raise max_walk_length explicitly"
        )
    from .sketch import hash32

    # dedup happens inside collect_set (with map-side partial
    # aggregation), so the adjacency build is ONE exchange over the
    # edge list instead of the former distinct + window pair — and its
    # output is O(nodes), not O(edges) (guide §2.3: shuffle metadata,
    # not payloads; the sorted array reproduces the row_number-over-dst
    # neighbor indexing bit-for-bit)
    nbrs = (
        edges.where(
            F.col(src_col).isNotNull() & F.col(dst_col).isNotNull()
        )
        .select(
            F.col(src_col).cast("long").alias("_s"),
            F.col(dst_col).cast("long").alias("_d"),
        )
        .groupBy("_s")
        .agg(F.sort_array(F.collect_set("_d")).alias("_nb"))
        .select("_s", "_nb", F.size("_nb").cast("long").alias("_deg"))
    )
    nbrs = nbrs.persist()
    try:
        mins = nbrs.agg(
            F.min("_s").alias("ms"),
            # arrays are sorted ascending, so the global min dst is the
            # min over first elements
            F.min(F.element_at("_nb", 1)).alias("md"),
            F.sum("_deg").alias("n"),
        ).collect()[0]
        if not mins["n"]:
            return edges.sparkSession.createDataFrame(
                [], "start long, step int, node long"
            )
        if min(mins["ms"], mins["md"]) < 0:
            raise ValueError(
                "random_walks: negative node ids break the portable "
                "hash contract — offset or hash a surrogate first"
            )
        # gate on the distinct-edge count (sum of degrees), the same
        # measured gate as before: under it the adjacency table
        # broadcasts (every step-join map-side, zero step shuffles)
        # and the cached table coalesces so the union of step frames
        # carries _SMALL_GRAPH_NPART partitions per arm; above it the
        # node-scale equi-join stands — the right plan at fact scale
        small = int(mins["n"]) <= _MOVE_BCAST_MAX_NODES
        # the twin takes the same adjacency bytes the broadcast arm
        # ships; exact (same hash ladder, sorted-neighbor indexing and
        # stop-on-dangling rule as the step joins)
        tbl = driver_table(nbrs, _MOVE_BCAST_MAX_NODES, size=int(mins["n"]))
        if tbl is not None:
            return _walks_driver_py(
                edges.sparkSession,
                tbl,
                walk_length=int(walk_length),
                seed=int(seed),
            )
        walk_nbrs = _shrink(nbrs, small)
        join_nbrs = F.broadcast(walk_nbrs) if small else walk_nbrs
        # groupBy output is already one row per out-degree-positive
        # node — no distinct needed for the start frontier
        cur = walk_nbrs.select(
            F.col("_s").alias("start"), F.col("_s").alias("cur")
        )
        frames = [
            cur.select(
                "start", F.lit(0).cast("int").alias("step"),
                F.col("cur").alias("node"),
            )
        ]
        for t in range(1, int(walk_length) + 1):
            u = hash32(
                (F.col("cur") % F.lit(2147483648)) * F.lit(1000003)
                + (F.col("start") % F.lit(65521)) * F.lit(257)
                + F.lit(int(t) + int(seed) * 7919)
            )
            cur = (
                cur.join(join_nbrs, cur["cur"] == join_nbrs["_s"])
                .select(
                    "start",
                    F.element_at(
                        "_nb",
                        (u % F.col("_deg") + F.lit(1)).cast("int"),
                    ).alias("cur"),
                )
            )
            frames.append(
                cur.select(
                    "start", F.lit(int(t)).cast("int").alias("step"),
                    F.col("cur").alias("node"),
                )
            )
        out = frames[0]
        for f in frames[1:]:
            out = out.unionByName(f)
        # bare eager checkpoint, NOT the hybrid: an interleaved A/B at
        # sf0.1 measured the hybrid's double materialization (cache
        # write + checkpoint copy) costing more than its AQE benefit
        # on this segment (7.5 s vs 8.6 s for the benched walk-PMI
        # chain) — end-of-op materializations of small outputs keep
        # the single-pass form. Under the measured gate the corpus
        # leaf coalesces (post-orderBy — consecutive range partitions
        # merge, global order preserved) so downstream self-joins
        # don't stack full shuffle-partition counts per union arm.
        out = _shrink(out.orderBy("start", "step"), small)
        out = out.localCheckpoint(eager=True)
    finally:
        nbrs.unpersist()
    return out


def _walks_driver_py(
    spark, tbl, walk_length: int, seed: int
) -> DataFrame:
    """Driver-side replica of the :func:`random_walks` step joins over
    the ``(_s, sorted-neighbor-array, _deg)`` adjacency table (Arrow):
    per step, the SAME portable hash of (cur, start, step, seed)
    indexes the SAME sorted neighbor array; a walk whose current node
    has no out-edges stops (no row at that step). Pure int64 NumPy —
    bit-identical to the distributed arm by construction. Output rows
    sorted by (start, step), schema (start long, step int, node
    long)."""
    import numpy as np

    from .driver_exact import hash32_i64

    tbl = tbl.sort_by("_s")
    node_ids = column_np(tbl, "_s", np.int64)
    degs = column_np(tbl, "_deg", np.int64)
    offs = np.zeros(len(node_ids) + 1, dtype=np.int64)
    np.cumsum(degs, out=offs[1:])
    flat = (
        tbl.column("_nb")
        .combine_chunks()
        .flatten()
        .to_numpy(zero_copy_only=False)
        .astype(np.int64)
    )
    s_act = node_ids.copy()
    c_act = node_ids.copy()
    out_s = [s_act]
    out_t = [np.zeros(len(s_act), dtype=np.int32)]
    out_n = [c_act]
    for t in range(1, walk_length + 1):
        pos = np.searchsorted(node_ids, c_act)
        pos_c = np.minimum(pos, max(len(node_ids) - 1, 0))
        found = node_ids[pos_c] == c_act
        s_act = s_act[found]
        posf = pos_c[found]
        c_prev = c_act[found]
        if not len(s_act):
            break
        u = hash32_i64(
            (c_prev % 2147483648) * 1000003
            + (s_act % 65521) * 257
            + (t + seed * 7919)
        )
        c_act = flat[offs[posf] + u % degs[posf]]
        out_s.append(s_act)
        out_t.append(np.full(len(s_act), t, dtype=np.int32))
        out_n.append(c_act)
    ss = np.concatenate(out_s)
    tt = np.concatenate(out_t)
    nn = np.concatenate(out_n)
    order = np.lexsort((tt, ss))
    import pandas as pd

    pdf = pd.DataFrame(
        {
            "start": ss[order],
            "step": tt[order].astype("int32"),
            "node": nn[order],
        }
    )
    out = spark.createDataFrame(
        pdf, "start long, step int, node long"
    )
    # in-process handoff for a downstream driver arm
    # (walk_cooccurrence): the SAME rows the frame carries, as arrays
    out._graft_local_walks = (ss[order], tt[order], nn[order])
    return out


def _cooc_driver_py(
    spark, walk_rows: tuple, window: int
) -> DataFrame:
    """Driver-side replica of :func:`walk_cooccurrence` over a
    (start, step, node) corpus: the same band self-join
    semantics (same walk key, 1 ≤ Δstep ≤ window, differing nodes),
    canonical (least, greatest) counts, slot totals, and the identical
    double-op-order PMI — each value rounded with the engine's exact
    HALF_UP-on-shortest-decimal rule (driver_exact.spark_round).
    ``walk_rows`` is the (start, step, node) array triple, from the
    corpus table or handed through from the random_walks driver arm
    (same rows either way). Output sorted (pmi desc, node_a, node_b),
    schema (node_a long, node_b long, n_cooc long, pmi double)."""
    import numpy as np

    from .driver_exact import spark_round_f64

    w, st, nd = (np.asarray(a, dtype=np.int64) for a in walk_rows)
    order = np.lexsort((st, w))
    w, st, nd = w[order], st[order], nd[order]
    pa, pb = [], []
    d = 1
    while d < len(w):
        same = w[:-d] == w[d:]
        if not same.any():
            break
        ds = st[d:] - st[:-d]
        inwin = same & (ds >= 1) & (ds <= int(window))
        if not (same & (ds <= int(window))).any():
            # steps sorted within a walk: every pair at a larger
            # distance is at least this far apart — done
            break
        keep = inwin & (nd[:-d] != nd[d:])
        if keep.any():
            pa.append(nd[:-d][keep])
            pb.append(nd[d:][keep])
        d += 1
    if not pa:
        return spark.createDataFrame(
            [], "node_a long, node_b long, n_cooc long, pmi double"
        )
    x = np.concatenate(pa)
    y = np.concatenate(pb)
    a = np.minimum(x, y)
    b = np.maximum(x, y)
    uniq, n = np.unique(np.stack([a, b], axis=1), axis=0,
                        return_counts=True)
    ua, ub = uniq[:, 0], uniq[:, 1]
    # slot totals: each pair's count lands on both of its nodes
    slot_ids, inv = np.unique(np.concatenate([ua, ub]),
                              return_inverse=True)
    cn = np.zeros(len(slot_ids), dtype=np.int64)
    np.add.at(cn, inv, np.concatenate([n, n]))
    ca = cn[inv[: len(ua)]].astype(np.float64)
    cb = cn[inv[len(ua):]].astype(np.float64)
    t = np.float64(int(n.sum()))
    num = n.astype(np.float64) / t
    den = (ca / (2.0 * t)) * (cb / (2.0 * t))
    raw = np.log(num / den)
    pmi = spark_round_f64(raw, 6)
    srt = np.lexsort((ub, ua, -pmi))
    import pandas as pd

    pdf = pd.DataFrame(
        {
            "node_a": ua[srt],
            "node_b": ub[srt],
            "n_cooc": n[srt],
            "pmi": pmi[srt],
        }
    )
    out = spark.createDataFrame(
        pdf, "node_a long, node_b long, n_cooc long, pmi double"
    )
    # in-process handoff for a downstream driver arm (pmi_embeddings):
    # the SAME rows the frame carries, as arrays — consuming them skips
    # one collect round-trip, nothing more
    out._graft_local_pmi = (ua[srt], ub[srt], n[srt], pmi[srt])
    return out


def walk_cooccurrence(
    walks: DataFrame,
    window: int = 2,
    max_window: int = 10,
) -> DataFrame:
    """Skip-gram co-occurrence + PMI over a :func:`random_walks`
    corpus — the DeepWalk recipe's counting half: nodes appearing
    within ``window`` steps of each other on the same walk co-occur;
    PMI(a,b) = ln( (c_ab/T) / ((c_a/2T)·(c_b/2T)) ) with c_a the
    node's slot count over all pairs and T the total pair count — the
    association table an embedding factorization (or a related-items
    surface) consumes. Everything is exact integer counts under one
    closed-form log, so the whole pipeline (walks included) replays in
    SQL.

    Plan: ONE self-join on the walk key with a step-band predicate
    (1 ≤ Δstep ≤ window — never a cross join; walk length bounds the
    fan-out), canonical (least, greatest) pair groupBy, two bounded
    aggregates for slots/total.

    Output: (node_a, node_b, n_cooc long, pmi 6 dp), node_a < node_b,
    ordered by pmi desc then nodes.
    """
    if not 1 <= window <= max_window:
        raise ValueError(
            f"window={window} outside [1, {max_window}] — the band "
            f"self-join fans out linearly in window"
        )
    local = getattr(walks, "_graft_local_walks", None)
    if (
        driver_gates_enabled()
        and local is not None
        and len(local[0]) <= _MOVE_BCAST_MAX_NODES
    ):
        # the corpus came from the random_walks driver arm: consume
        # its arrays directly (identical rows) instead of collecting
        # the local frame back off the session
        return _cooc_driver_py(walks.sparkSession, local, int(window))
    a = walks.select(
        F.col("start").alias("_w"),
        F.col("step").alias("_sa"),
        F.col("node").alias("_na"),
    )
    b = walks.select(
        F.col("start").alias("_w"),
        F.col("step").alias("_sb"),
        F.col("node").alias("_nb"),
    )
    # under the measured row gate the walk corpus (a checkpoint leaf
    # from random_walks — counting it is one cheap pass) broadcasts as
    # the build side of its own band self-join: the probe side then
    # streams the leaf with NO exchange, so the whole pair expansion
    # is map-side + one groupBy shuffle (guide §3.1); above the gate
    # the equi-shuffle self-join stands
    n_corpus = walks.count()
    tbl = driver_table(
        walks.select("start", "step", "node"),
        _MOVE_BCAST_MAX_NODES,
        size=n_corpus,
    )
    if tbl is not None:
        # exact: same band predicate, canonical counts, double op
        # order and HALF_UP rounding as the self-join
        return _cooc_driver_py(
            walks.sparkSession,
            tuple(column_np(tbl, c) for c in ("start", "step", "node")),
            int(window),
        )
    corpus_small = n_corpus <= _MOVE_BCAST_MAX_NODES
    if corpus_small:
        a = F.broadcast(a)
    pairs = (
        a.join(b, "_w")
        .where(
            (F.col("_sb") > F.col("_sa"))
            & (F.col("_sb") <= F.col("_sa") + int(window))
            & (F.col("_na") != F.col("_nb"))
        )
        .select(
            F.least("_na", "_nb").alias("node_a"),
            F.greatest("_na", "_nb").alias("node_b"),
        )
        .groupBy("node_a", "node_b")
        .agg(F.count(F.lit(1)).alias("n_cooc"))
    )
    cached_pairs = pairs.persist()
    try:
        # one count materializes the cache (the downstream aggregates
        # would anyway) and decides the small-corpus partitioning;
        # under the gate the pair frame coalesces so the three
        # downstream joins/unions don't stack 32-partition arms
        small = cached_pairs.count() <= _MOVE_BCAST_MAX_NODES
        pairs = _shrink(cached_pairs, small)
        slots = (
            pairs.select(F.col("node_a").alias("n"), "n_cooc")
            .unionByName(
                pairs.select(F.col("node_b").alias("n"), "n_cooc")
            )
            .groupBy("n")
            .agg(F.sum("n_cooc").alias("_cn"))
        )
        total = pairs.agg(F.sum("n_cooc").alias("_t"))
        sa = slots.select(
            F.col("n").alias("node_a"), F.col("_cn").alias("_ca")
        )
        sb = slots.select(
            F.col("n").alias("node_b"), F.col("_cn").alias("_cb")
        )
        if small:
            # slot totals are O(nodes) projections of the cached pair
            # frame — broadcasting them keeps the PMI projection a
            # single narrow pass over the cache instead of two
            # sort-merge exchanges
            sa, sb = F.broadcast(sa), F.broadcast(sb)
        t = F.col("_t").cast("double")
        pmi = F.log(
            (F.col("n_cooc").cast("double") / t)
            / (
                (F.col("_ca").cast("double") / (F.lit(2.0) * t))
                * (F.col("_cb").cast("double") / (F.lit(2.0) * t))
            )
        )
        out = (
            pairs.join(sa, "node_a")
            .join(sb, "node_b")
            .crossJoin(F.broadcast(total))
            .select(
                "node_a",
                "node_b",
                F.col("n_cooc").cast("long").alias("n_cooc"),
                F.round(pmi, 6).alias("pmi"),
            )
            .orderBy(F.desc("pmi"), F.asc("node_a"), F.asc("node_b"))
        )
        # bare eager checkpoint — same measured verdict as random_walks
        out = _shrink(out, small).localCheckpoint(eager=True)
    finally:
        cached_pairs.unpersist()
    return out


def pmi_embeddings(
    pmi_pairs: DataFrame,
    rounds: int = 2,
    reg: float = 0.1,
    node_a_col: str = "node_a",
    node_b_col: str = "node_b",
    pmi_col: str = "pmi",
    out_dp: int = 6,
) -> DataFrame:
    """Node embeddings by factorizing the walk-PMI matrix — the
    factorization half of the DeepWalk pipeline whose counting half is
    :func:`random_walks` + :func:`walk_cooccurrence`. Skip-gram with
    negative sampling implicitly factorizes a shifted PMI matrix (Levy
    & Goldberg 2014, "Neural Word Embedding as Implicit Matrix
    Factorization"), so the in-engine, oracle-replayable equivalent is
    direct: keep the POSITIVE-PMI cells (the PPMI sparsifier — negative
    association carries mostly sampling noise and would densify the
    matrix), symmetrize them (each canonical a<b pair feeds both
    (a,b) and (b,a) so every node trains against its full context
    row), and run the rank-2 ALS machinery
    (ops/recsys.py::als_factorize) — alternating closed-form 2×2
    ridge solves on exact pico-int normal-equation sums, portable-hash
    context init, 12-dp coefficient rounding between half-rounds — so
    the whole training run replays bit-exactly in an unrolled-CTE
    oracle (the glm/ALS convention).

    Scale shape: PPMI filter + symmetrize are row-scale projections of
    the pair list; each ALS half-round is one groupBy over the pairs
    joined with the other side's O(nodes) factor frame. Nothing is
    collected; factor frames localCheckpoint between rounds.

    Output: (node, f1 ``out_dp`` dp, f2 ``out_dp`` dp) — one rank-2
    embedding row per node with at least one positive-PMI neighbor.
    The output rounds to 6 dp by default (ample for an embedding
    consumed by kNN/dedup distances) rather than the trainer-internal
    12 dp: a final 12-dp round sits ~10³× closer to cross-engine
    rounding knife edges (an engine that rounds ``x·10¹²`` in double
    arithmetic disagrees with a decimal-exact round whenever the
    scaled fraction lies within one double ulp of .5 — observed once
    in 3 200 cells), while 6 dp shrinks that window to ~1e-9 and also
    absorbs single-pico divergences cascading from the half-round
    roundings.
    """
    from metadata_etl_framework_spark.ops.recsys import (
        ALS_DRIVER_MAX_ROWS,
        als_factorize,
    )

    local = getattr(pmi_pairs, "_graft_local_pmi", None)
    if (
        driver_gates_enabled()
        and local is not None
        and (node_a_col, node_b_col, pmi_col)
        == ("node_a", "node_b", "pmi")
    ):
        # the pair table came from the walk_cooccurrence driver arm:
        # build the symmetrized PPMI ratings from its arrays directly
        # (identical rows to the select/union below) and run the ALS
        # driver core, skipping one collect round-trip. Engages only
        # under the ALS driver gate; above it the regular path stands.
        import numpy as np

        ua, ub, _n, pmiv = local
        mask = pmiv > 0
        n_sym = 2 * int(mask.sum())
        if n_sym <= ALS_DRIVER_MAX_ROWS:
            from metadata_etl_framework_spark.ops.driver_exact import (
                spark_round_f64,
            )
            from metadata_etl_framework_spark.ops.recsys import (
                _als_driver_core,
            )

            node = np.concatenate([ua[mask], ub[mask]])
            ctx = np.concatenate([ub[mask], ua[mask]])
            rv = np.concatenate([pmiv[mask], pmiv[mask]])
            uu, f1, f2, _itu, _q1, _q2 = _als_driver_core(
                node, ctx, rv, int(rounds), float(reg)
            )
            import pandas as pd

            rf1 = spark_round_f64(f1, int(out_dp))
            rf2 = spark_round_f64(f2, int(out_dp))
            pdf = pd.DataFrame({"node": uu, "f1": rf1, "f2": rf2})
            for c in ("f1", "f2"):
                pdf[c] = (
                    pdf[c].astype(object).where(pdf[c].notna(), None)
                )
            return pmi_pairs.sparkSession.createDataFrame(
                pdf, "node long, f1 double, f2 double"
            )

    pos = pmi_pairs.where(F.col(pmi_col) > 0)
    sym = pos.select(
        F.col(node_a_col).alias("node"),
        F.col(node_b_col).alias("_ctx"),
        F.col(pmi_col).alias("_r"),
    ).unionByName(
        pos.select(
            F.col(node_b_col).alias("node"),
            F.col(node_a_col).alias("_ctx"),
            F.col(pmi_col).alias("_r"),
        )
    )
    uf, _ = als_factorize(
        sym, "node", "_ctx", "_r", rounds=rounds, reg=reg
    )
    return uf.select(
        "node",
        F.round("f1", int(out_dp)).alias("f1"),
        F.round("f2", int(out_dp)).alias("f2"),
    )


def hits(
    edges: DataFrame,
    iterations: int = 3,
    src_col: str = "src",
    dst_col: str = "dst",
    max_iterations: int = 50,
    tol: float | None = None,
) -> DataFrame:
    """HITS hubs & authorities (Kleinberg 1999) over a directed edge
    list — the bipartite-role complement to PageRank: a node is a good
    AUTHORITY when good hubs point at it and a good HUB when it points
    at good authorities (query→document, buyer→supplier, user→item
    graphs have exactly this asymmetry; PageRank collapses it).

    Fixed-round synchronous updates from the uniform start: each round
    is two equi-join + aggregate passes (a(v) = Σ_{u→v} h(u), then
    h(u) = Σ_{u→v} a(v)) with DECIMAL(28,12) contribution sums, each
    followed by L1 normalization via a 1-row broadcast aggregate
    (Σa = Σh = 1 — the oracle-friendly normalization; L2 would put an
    engine-boundary sqrt inside every round). Scores round to 12 dp at
    each normalization so every round is engine-replayable; with the
    default ``tol=None`` the FIXED iteration count (no convergence
    test) keeps the unrolled oracle exact. Each half-round is a
    superstep cut (two frames referenced across rounds — the
    plan-doubling lesson).

    ``tol`` enables convergence-based early termination (the pagerank
    discipline): after each full round the combined L1 delta
    Σ|h−h_prev| + Σ|a−a_prev| — one 1-row aggregate of two DECIMAL sums
    over hub⋈auth⋈prev_hub⋈prev_auth, the job that fills the round's
    hub leaf — is compared against ``tol``; below it, remaining rounds
    are skipped.
    ``iterations`` stays the hard upper bound, so a ``tol`` run's
    result always equals SOME fixed-count run (each completed round is
    identical to the fixed-count round) — it is still replayable, just
    at a data-dependent round count.

    Output: (node, hub 6 dp, authority 6 dp), ordered by node.
    """
    if not 1 <= iterations <= max_iterations:
        raise ValueError(
            f"iterations={iterations} outside [1, {max_iterations}]"
        )
    e = edges.where(
        F.col(src_col).isNotNull()
        & F.col(dst_col).isNotNull()
        & (F.col(src_col) != F.col(dst_col))
    ).select(
        F.col(src_col).alias("_u"), F.col(dst_col).alias("_v")
    ).distinct()
    e = e.persist()
    steps = Supersteps(iterations)
    try:
        nodes, row = steps.cut(
            e.select(F.col("_u").alias("node"))
            .unionByName(e.select(F.col("_v").alias("node")))
            .distinct(),
            count_rows,
        )
        n = row[0]
        if n == 0:
            return edges.sparkSession.createDataFrame(
                [], "node long, hub double, authority double"
            )
        # score iterates coalesce under the measured gate (see _shrink)
        small = n <= _MOVE_BCAST_MAX_NODES
        start = F.round(F.lit(1.0) / F.lit(float(n)), 12)
        hub = nodes.select("node", start.alias("h"))
        auth = nodes.select("node", start.alias("a"))
        dec = "decimal(28,12)"

        def half(scores, col, by, to, name):
            # one L1-normalized half-round: Σ over the edges into each
            # node, then the 1-row total broadcast back as the divisor
            raw = (
                e.join(scores.select(F.col("node").alias(by), col), by)
                .groupBy(F.col(to).alias("node"))
                .agg(F.sum(F.col(col).cast(dec)).alias("_raw"))
            )
            un = nodes.join(raw, "node", "left").select(
                "node",
                F.coalesce(
                    F.col("_raw").cast("double"), F.lit(0.0)
                ).alias("_raw"),
            )
            tot = un.agg(
                F.sum(F.round(F.col("_raw"), 12).cast(dec)).alias("_t")
            )
            return un.crossJoin(F.broadcast(tot)).select(
                "node",
                F.when(
                    F.col("_t") > 0,
                    F.round(
                        F.col("_raw") / F.col("_t").cast("double"), 12
                    ),
                )
                .otherwise(F.lit(0.0))
                .alias(name),
            )

        for it in steps:
            prev_hub, prev_auth = hub, auth
            auth, _ = steps.cut(_shrink(half(hub, "h", "_u", "_v", "a"), small))
            hub = _shrink(half(auth, "a", "_v", "_u", "h"), small)
            probe = None
            if tol is not None and it < int(iterations) - 1:
                # both L1 deltas in ONE aggregate, the job that fills
                # the hub leaf; every frame carries the full node set
                probe = lambda h: (  # noqa: E731
                    h.join(auth, "node")
                    .join(prev_hub.withColumnRenamed("h", "_ph"), "node")
                    .join(prev_auth.withColumnRenamed("a", "_pa"), "node")
                    .agg(
                        *(
                            F.sum(F.abs(F.col(c) - F.col(p)).cast(dec))
                            .cast("double")
                            for c, p in (("h", "_ph"), ("a", "_pa"))
                        )
                    )
                )
            hub, d = steps.cut(hub, probe)
            steps.retain(nodes, hub, auth)
            if d is not None and (d[0] or 0.0) + (d[1] or 0.0) < float(tol):
                break
        out = (
            hub.join(auth, "node")
            .select(
                "node",
                F.round("h", 6).alias("hub"),
                F.round("a", 6).alias("authority"),
            )
            .orderBy("node")
        )
        out = out.localCheckpoint(eager=True)
    finally:
        e.unpersist()
        steps.retain()
    return out


def _betweenness_driver_py(
    spark, tbl, seeds: "list[int]", max_hops: int
) -> DataFrame:
    """Driver-side replica of :func:`betweenness_sampled` over the
    canonical undirected ``(a, b)`` edge table (Arrow): the computation
    keys every forward/backward step on the seed, so it decomposes exactly
    per seed — multi-source σ BFS (exact integer path counts), then
    per-level Brandes accumulation with the engine's pinned numerics
    (term = (σv/σw)·(1+δw) in IEEE order, 10-dp HALF_UP round, exact
    decimal(28,10) sums, δ re-entering as a 10-dp double), and the
    final cross-seed dependency sum as exact deci-int units.
    Bit-identical by construction. Output (node long, betweenness
    double) ordered by node."""
    import numpy as np

    from .driver_exact import (
        cast_decimal_i64,
        spark_round,
        spark_round_f64,
    )

    a = column_np(tbl, "a", np.int64)
    b = column_np(tbl, "b", np.int64)
    srcs = np.concatenate([a, b])
    dsts = np.concatenate([b, a])
    uniq, inv = np.unique(np.concatenate([srcs, dsts]),
                          return_inverse=True)
    n = len(uniq)
    si = inv[: len(srcs)]
    di = inv[len(srcs):]
    # CSR over directed pairs
    order = np.argsort(si, kind="stable")
    si_s, di_s = si[order], di[order]
    degs = np.bincount(si_s, minlength=n)
    offs = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(degs, out=offs[1:])
    # cross-seed dependency accumulator: node index → exact deci units
    dep_units: dict = {}
    for s_val in seeds:
        j = np.searchsorted(uniq, s_val)
        if j >= n or uniq[j] != s_val:
            continue  # seed absent from the graph: contributes nothing
        dist = np.full(n, -1, dtype=np.int64)
        sigma = np.zeros(n, dtype=object)
        dist[j] = 0
        sigma[j] = 1
        frontier = np.array([j], dtype=np.int64)
        for h in range(1, int(max_hops) + 1):
            # every parent contributes its σ to each neighbor; only
            # unvisited neighbors join level h
            nb_idx = np.concatenate(
                [
                    np.arange(offs[f], offs[f + 1])
                    for f in frontier
                ]
            ) if len(frontier) else np.empty(0, dtype=np.int64)
            if not len(nb_idx):
                break
            tgt = di_s[nb_idx]
            par = si_s[nb_idx]
            acc: dict = {}
            for t_i, p_i in zip(tgt.tolist(), par.tolist()):
                if dist[t_i] == -1:
                    acc[t_i] = acc.get(t_i, 0) + sigma[p_i]
            if not acc:
                break
            nxt = np.fromiter(acc.keys(), dtype=np.int64)
            for t_i, sg in acc.items():
                dist[t_i] = h
                sigma[t_i] = sg
            frontier = nxt
        h_max = int(dist.max()) if n else 0
        delta = np.zeros(n, dtype=np.float64)
        for h in range(h_max, 0, -1):
            # edges from layer-h nodes w to layer-(h-1) nodes v
            mask = (dist[si_s] == h) & (dist[di_s] == h - 1)
            idx = np.nonzero(mask)[0]
            new_delta = np.zeros(n, dtype=np.float64)
            if len(idx):
                wnode = si_s[idx]
                vnode = di_s[idx]
                sv = np.array(
                    [float(sigma[v]) for v in vnode], dtype=np.float64
                )
                sw = np.array(
                    [float(sigma[w]) for w in wnode], dtype=np.float64
                )
                term = (sv / sw) * (1.0 + delta[wnode])
                rterm = spark_round_f64(term, 10)
                units, ok = cast_decimal_i64(rterm, 10)
                gacc: dict = {}
                for v_i, u_i in zip(
                    vnode[ok].tolist(), units[ok].tolist()
                ):
                    gacc[v_i] = gacc.get(v_i, 0) + u_i
                from decimal import Decimal as _D

                for v_i, u_sum in gacc.items():
                    new_delta[v_i] = spark_round(
                        float(_D(u_sum).scaleb(-10)), 10
                    )
            # deps: layer-(h-1) rows with positive delta, node != seed
            lvl = np.nonzero(dist == h - 1)[0]
            for v_i in lvl:
                dv = new_delta[v_i]
                if dv > 0 and v_i != j:
                    u, _ = cast_decimal_i64(np.array([dv]), 10)
                    dep_units[v_i] = dep_units.get(v_i, 0) + int(u[0])
            # next backward level state: layer h-1 carries its delta
            delta = new_delta
    if not dep_units:
        return spark.createDataFrame(
            [], "node long, betweenness double"
        )
    import pandas as pd

    items = sorted(dep_units.items())
    nodes = np.array([uniq[k] for k, _ in items], dtype=np.int64)
    vals = np.array(
        [
            float(
                __import__("decimal").Decimal(v).scaleb(-10)
            )
            for _, v in items
        ],
        dtype=np.float64,
    )
    out = pd.DataFrame(
        {
            "node": nodes,
            "betweenness": spark_round_f64(vals, 6),
        }
    )
    return spark.createDataFrame(
        out, "node long, betweenness double"
    )


def betweenness_sampled(
    edges: DataFrame,
    seeds: "list[int]",
    src: str = "src",
    dst: str = "dst",
    max_hops: int = 20,
) -> DataFrame:
    """Sampled betweenness centrality — Brandes' dependency
    accumulation (Brandes 2001) restricted to a seed set of sources,
    on the :func:`closeness_sampled` multi-source machinery: exact
    betweenness is all-pairs (hopeless at scale); the standard
    estimator runs Brandes from k sampled sources and scales by n/k
    (Brandes–Pich), and all k sources advance together here as ONE
    (seed, node) frame per phase.

    Forward: the multi-source BFS additionally accumulates σ(s, v) —
    the number of shortest s→v paths — as an integer sum over the
    previous layer (candidates grouped BEFORE the visited anti-join,
    so every parent contributes). Backward: one pass per depth level,
    deepest first; layer h−1 node v receives
    Σ_w (σ_v/σ_w)·(1+δ_w) over its layer-h neighbors w — each level
    is one equi-join + one groupBy, terms rounded to 10 dp and summed
    as DECIMAL (merge-order free, the harmonic-centrality convention),
    δ re-entering the next level as a 10-dp double. Every hop and
    level is a superstep cut (the visited/cur frames are referenced
    twice per round — the k_core lineage rule); the returned frame
    reads the levels' leaves.

    Output: one row per node with positive dependency —
    (node, betweenness 6 dp) = Σ_seeds δ_seed(node), endpoints
    excluded, UNSCALED (multiply by n_nodes/len(seeds) for the
    Brandes–Pich estimate; on undirected graphs each unordered pair
    is counted once per sampled endpoint). Ordered by node.
    """
    if not seeds:
        raise ValueError("seeds must be non-empty")
    if len(seeds) > 1000:
        raise ValueError(
            f"{len(seeds)} seeds — sample sources, not the graph"
        )
    und = _undirected(edges, src, dst).persist()
    n_und = und.count()
    # bit-identical (see _betweenness_driver_py); non-integer node ids
    # stay distributed, which the long-typed seed frame pins
    tbl = (
        driver_table(und, _MOVE_BCAST_MAX_NODES, size=2 * n_und)
        if isinstance(edges.schema[src].dataType, IntegralType)
        else None
    )
    if tbl is not None:
        und.unpersist()
        return _betweenness_driver_py(
            edges.sparkSession, tbl, seeds, int(max_hops)
        )
    adj = und.unionByName(
        und.select(F.col("b").alias("a"), F.col("a").alias("b"))
    )
    adj = adj.persist()
    # one count populates the persist (the loop reuses adj twice per
    # hop) and decides the small-graph partitioning for the BFS/
    # accumulation iterates (checkpoint leaves union per hop — without
    # the gate-keyed coalesce the stacked leaves carry full
    # shuffle-partition counts per arm; see _shrink)
    small = adj.count() <= _MOVE_BCAST_MAX_NODES
    und.unpersist()
    spark = edges.sparkSession
    # under the node gate every per-level frame is O(seeds·nodes) —
    # broadcast it as the build side so the persisted adjacency streams
    # map-side (guide §3.1; identical rows, order-free sums)
    bc = F.broadcast if small else (lambda d: d)
    steps = Supersteps(max_hops)
    try:
        visited, h_max = _bfs_layers(adj, seeds, steps, small, sigma=True)
        # backward accumulation, deepest level first; cur carries the
        # CURRENT layer's (s, node, sigma, delta)
        cur = visited.where(F.col("dist") == h_max).withColumn(
            "delta", F.lit(0.0)
        )
        deps = []
        for h in range(h_max, 0, -1):
            prev_layer = visited.where(F.col("dist") == h - 1).select(
                "s", F.col("node").alias("__v"),
                F.col("sigma").alias("__sv"),
            )
            term = (
                F.col("__sv").cast("double")
                / F.col("sigma").cast("double")
            ) * (F.lit(1.0) + F.col("delta"))
            contrib = (
                bc(
                    cur.select(
                        "s", F.col("node").alias("a"), "sigma", "delta"
                    )
                )
                .join(adj, "a")
                .select("s", F.col("b").alias("__v"), "sigma", "delta")
                .join(bc(prev_layer), ["s", "__v"])
                .groupBy("s", "__v")
                .agg(
                    F.sum(
                        F.round(term, 10).cast("decimal(28,10)")
                    ).alias("__d")
                )
            )
            nxt_cur = (
                visited.where(F.col("dist") == h - 1)
                .join(
                    bc(
                        contrib.select(
                            "s",
                            F.col("__v").alias("node"),
                            F.round(
                                F.col("__d").cast("double"), 10
                            ).alias("__delta"),
                        )
                    ),
                    ["s", "node"],
                    "left",
                )
                .select(
                    "s", "node", "dist", "sigma",
                    F.coalesce(F.col("__delta"), F.lit(0.0)).alias(
                        "delta"
                    ),
                )
            )
            cur, _ = steps.cut(_shrink(nxt_cur, small))
            deps.append(
                cur.where(
                    (F.col("node") != F.col("s"))
                    & (F.col("delta") > 0)
                ).select("node", "delta")
            )
            steps.retain(visited, *deps)
        if not deps:
            steps.retain()
            return spark.createDataFrame(
                [], "node long, betweenness double"
            )
        all_deps = deps[0]
        for d in deps[1:]:
            all_deps = all_deps.unionByName(d)
        out = (
            all_deps.groupBy("node")
            .agg(
                F.round(
                    F.sum(
                        F.col("delta").cast("decimal(28,10)")
                    ).cast("double"),
                    6,
                ).alias("betweenness")
            )
            .orderBy("node")
        )
        steps.retain(out)
        return out
    finally:
        adj.unpersist()


def link_prediction(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    min_common: int = 1,
    max_degree: "int | None" = None,
    top_k: "int | None" = None,
) -> DataFrame:
    """Neighborhood-based link prediction: score NON-edges that share
    at least one neighbor with the classic local indices — common
    neighbors, Jaccard, Adamic–Adar Σ 1/ln(d(via)), resource
    allocation Σ 1/d(via), preferential attachment d(a)·d(b) — the
    "which relationships are missing" primitive (supplier pairs likely
    to co-fulfill, parts likely to be bought together next).

    Scale shape: candidates come from ONE self-join of the adjacency
    on the shared neighbor (the :func:`neighborhood_jaccard` blocking
    — never all-pairs), existing edges removed by a LEFT ANTI join
    against the canonical edge set. Hubs in the MIDDLE position make
    the join quadratic in their degree — ``max_degree`` drops them
    from the via role (their own pairs still score through other
    neighbors); :func:`degree_distribution` advises the cap.

    Determinism: Adamic–Adar / resource-allocation terms round to
    pico-ints (×10¹²) per via node and sum as DECIMAL(38,0) — merge-
    order free, engine-exact; published scores round to 6 dp. With
    ``top_k`` the output is the global top-k by (adamic_adar DESC,
    node_a, node_b) — a total order, so the cut is reproducible.

    Output: (node_a, node_b, common, degree_a, degree_b, jaccard,
    adamic_adar, resource_alloc, pref_attach), canonical a < b pairs,
    filtered to common >= min_common.
    """
    if min_common < 1:
        raise ValueError("min_common must be >= 1")
    # the canonical edge set feeds adj (twice), the degree table, the
    # via-annotated middle frame AND the final anti-join — without
    # materialization Spark recomputes the (often join-derived) edge
    # pipeline once per reference (measured 5x on the co-purchase
    # graph). localCheckpoint = one eager computation, plan truncated,
    # blocks released by the ContextCleaner when unreferenced.
    und = _undirected(edges, src, dst).localCheckpoint()
    # one cheap count over the checkpoint leaf decides the broadcast
    # gates (nodes ≤ 2·edges, and the via-annotated frame is exactly
    # 2·edges rows)
    n_und = und.count()
    small = 2 * n_und <= _MOVE_BCAST_MAX_NODES
    bc = F.broadcast if small else (lambda d: d)
    adj = und.select(
        F.col("a").alias("v"), F.col("b").alias("n")
    ).unionAll(und.select(F.col("b").alias("v"), F.col("a").alias("n")))
    # deg feeds THREE consumers (the via annotation and both endpoint
    # degree joins) — materialize the O(nodes) frame once
    deg = (
        adj.groupBy("v")
        .agg(F.count(F.lit(1)).alias("d"))
        .localCheckpoint(eager=True)
    )
    # middle position annotated with the via node's degree (>= 2 for
    # any node that connects two candidates, so ln(d) > 0). The
    # O(nodes) degree table broadcasts under the gate (guide §3.1),
    # and mid materializes ONCE — the wedge self-join below would
    # otherwise re-execute the whole union+aggregate+join subtree per
    # side (the r17 plan audit showed the duplicate subtree).
    mid = adj.select(
        F.col("n").alias("via"), F.col("v").alias("node")
    ).join(
        bc(
            deg.select(
                F.col("v").alias("via"), F.col("d").alias("d_via")
            )
        ),
        "via",
    )
    if max_degree is not None:
        mid = mid.where(F.col("d_via") <= max_degree)
    # the wedge expansion below multiplies each probe row by deg(via)
    # — spread the probe rows round-robin over the full core count
    # BEFORE checkpointing (the broadcast join adds no exchange, so
    # whatever partitioning the leaf carries is the expansion's
    # parallelism; an AQE-coalesced handful of partitions serializes
    # the 11M-row blowup, and round-robin also de-skews hub vias,
    # guide §2.5)
    # Scale caveat: mid is edge-scale and localCheckpoint keeps its
    # blocks on the executors that computed them, unreplicated and
    # with the lineage cut. Losing an executor mid-query therefore
    # FAILS the query (the blocks cannot be recomputed) instead of
    # recomputing them. A disk-backed persist keeps the lineage and
    # would recompute lost blocks; the checkpoint is kept because it
    # hands the wedge expansion a short plan.
    mid = mid.repartition(
        edges.sparkSession.sparkContext.defaultParallelism
    ).localCheckpoint(eager=True)
    # the q side needs only (via, node) — project before the join
    # (guide §2.3: shuffle/build fewer bytes; the AA/RA terms are
    # p-side only)
    q = mid.select(
        F.col("via").alias("_qv"), F.col("node").alias("_qn")
    )
    pico = F.lit(1e12)
    # Per-via pico terms (round(1e12/ln d), round(1e12/d)) are
    # computed ONCE per checkpointed mid row — O(2·edges) transcen-
    # dental evaluations — and ride the wedge expansion as plain
    # longs, so ONE groupBy(pair) aggregates everything. The former
    # two-level form (count per (pair, d_via), then weight) was
    # re-measured in r17: on this graph the wedge rows barely
    # collapse (5.5M wedges → 5.4M (pair, d_via) groups), so the
    # intermediate level saved almost no DECIMAL work while paying a
    # SECOND full exchange + aggregate pass. Sums are IDENTICAL:
    # equal integer terms, any grouping (DECIMAL(38,0) exact).
    mid_t = mid.select(
        "via",
        "node",
        F.round(pico / F.log(F.col("d_via")))
        .cast("long")
        .alias("_taa"),
        F.round(pico / F.col("d_via")).cast("long").alias("_tra"),
    )
    cand = (
        mid_t.join(
            bc(q),
            (F.col("via") == F.col("_qv"))
            & (F.col("node") < F.col("_qn")),
        )
        .groupBy(
            F.col("node").alias("node_a"),
            F.col("_qn").alias("node_b"),
        )
        .agg(
            F.count(F.lit(1)).alias("common"),
            F.sum(F.col("_taa").cast("decimal(38,0)")).alias("_aa"),
            F.sum(F.col("_tra").cast("decimal(38,0)")).alias("_ra"),
        )
    )
    if min_common > 1:
        cand = cand.where(F.col("common") >= min_common)
    # keep only NON-edges: remove pairs already connected (broadcast
    # the O(edges) canonical set under the gate — anti-join map-side)
    cand = cand.join(
        bc(
            und.select(
                F.col("a").alias("node_a"), F.col("b").alias("node_b")
            )
        ),
        ["node_a", "node_b"],
        "left_anti",
    )
    dda, ddb = deg.alias("dda"), deg.alias("ddb")
    out = (
        cand.join(bc(dda), F.col("node_a") == F.col("dda.v"))
        .join(bc(ddb), F.col("node_b") == F.col("ddb.v"))
        .select(
            "node_a",
            "node_b",
            "common",
            F.col("dda.d").alias("degree_a"),
            F.col("ddb.d").alias("degree_b"),
            F.round(
                F.col("common")
                / (F.col("dda.d") + F.col("ddb.d") - F.col("common")),
                6,
            ).alias("jaccard"),
            F.round(F.col("_aa").cast("double") / pico, 6).alias(
                "adamic_adar"
            ),
            F.round(F.col("_ra").cast("double") / pico, 6).alias(
                "resource_alloc"
            ),
            (F.col("dda.d").cast("long") * F.col("ddb.d")).alias(
                "pref_attach"
            ),
        )
    )
    if top_k is not None:
        out = out.orderBy(
            F.col("adamic_adar").desc(), "node_a", "node_b"
        ).limit(int(top_k))
    return out


def assortativity(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """Degree assortativity coefficient: the Pearson correlation of
    endpoint degrees over the (symmetrized) edge list — positive when
    hubs attach to hubs (social graphs), negative when hubs attach to
    leaves (supply chains, the web). One number that says which joins
    will skew: a disassortative graph concentrates wedge work on hubs.

    Computed from exact integer sufficient statistics (degrees are
    integers): each undirected edge contributes BOTH orientations, so
    Σx = Σy and Σx² = Σy² by construction and the classic formula
    reduces to r = (E·Σxy − Σx²ₛᵤₘ…)/… with every sum a
    DECIMAL(38,0) — merge-order free and replayable in ANSI SQL.
    Shift by the excess-degree convention (d−1) cancels in Pearson.

    Output: ONE row (n_nodes, n_edges, assortativity 6dp) — NULL
    assortativity when the degree variance is zero (regular graph).
    """
    # the canonical edge set feeds adj (twice), the degree table, both
    # annotation joins AND the edge count — without materialization the
    # (often join-derived) edge pipeline re-executes once per subtree
    # reference (the r17 plan audit counted up to 11 rebuilds of the
    # lineitem self-join on the benched co-purchase graph)
    und = _undirected(edges, src, dst).localCheckpoint()
    n_und = und.count()  # cheap: checkpoint leaf; gates the broadcasts
    small = 2 * n_und <= _MOVE_BCAST_MAX_NODES
    bc = F.broadcast if small else (lambda d: d)
    adj = und.select(
        F.col("a").alias("v"), F.col("b").alias("n")
    ).unionAll(und.select(F.col("b").alias("v"), F.col("a").alias("n")))
    # deg feeds three consumers — one eager O(nodes) materialization,
    # broadcast into the edge-scale annotation joins under the gate
    deg = (
        adj.groupBy("v")
        .agg(F.count(F.lit(1)).alias("d"))
        .localCheckpoint(eager=True)
    )
    # both orientations, each endpoint annotated with its degree
    dirped = adj.join(bc(deg), "v").select(
        F.col("d").alias("dx"), F.col("n").alias("_other")
    )
    both = dirped.join(
        bc(
            deg.select(
                F.col("v").alias("_other"), F.col("d").alias("dy")
            )
        ),
        "_other",
    )
    stats = both.agg(
        F.count(F.lit(1)).alias("m2"),
        F.sum(F.col("dx").cast("decimal(38,0)")).alias("sx"),
        F.sum(
            (F.col("dx").cast("decimal(19,0)") * F.col("dy")).cast(
                "decimal(38,0)"
            )
        ).alias("sxy"),
        F.sum(
            (F.col("dx").cast("decimal(19,0)") * F.col("dx")).cast(
                "decimal(38,0)"
            )
        ).alias("sxx"),
    )
    n_nodes = deg.select(F.count(F.lit(1)).alias("n_nodes"))
    m_edges = und.select(F.count(F.lit(1)).alias("n_edges"))
    num = F.col("m2").cast("double") * F.col("sxy").cast("double") - (
        F.col("sx").cast("double") * F.col("sx").cast("double")
    )
    den = F.col("m2").cast("double") * F.col("sxx").cast("double") - (
        F.col("sx").cast("double") * F.col("sx").cast("double")
    )
    return (
        stats.crossJoin(n_nodes)
        .crossJoin(m_edges)
        .select(
            F.col("n_nodes").cast("long").alias("n_nodes"),
            F.col("n_edges").cast("long").alias("n_edges"),
            F.when(den != 0, F.round(num / den, 6)).alias(
                "assortativity"
            ),
        )
    )


def modularity(
    edges: DataFrame,
    labels: DataFrame,
    src: str = "src",
    dst: str = "dst",
    node_col: str = "node",
    label_col: str = "community",
) -> DataFrame:
    """Newman modularity of a given partition: per community c,
    Q_c = e_c/m − (D_c/2m)² (intra-edge fraction minus the expected
    fraction under the degree-preserving null), Q = Σ Q_c. The
    quality gate for any community assignment — label propagation
    output, nation/brand groupings, dedup clusters.

    Graph = canonical undirected edges restricted to nodes PRESENT in
    ``labels`` (edges with an unlabeled endpoint are dropped before m
    is counted, so Q is the modularity of the labeled subgraph). All
    inputs to Q are integer counts (m, e_c, D_c) — the arithmetic is
    two exact integer aggregations and replayable in ANSI SQL.

    Output: one row per community — (community, n_nodes, intra_edges,
    degree_sum, q_contrib 6dp), ordered by community.
    """
    lab = labels.select(
        F.col(node_col).alias("_v"), F.col(label_col).alias("_c")
    ).distinct()
    # the labeled edge frame feeds the m count, BOTH adj projections
    # and the intra aggregate — materialize once instead of replaying
    # the (often join-derived) edge pipeline + two label joins per
    # subtree reference
    und = (
        _undirected(edges, src, dst)
        .join(
            lab.select(
                F.col("_v").alias("a"), F.col("_c").alias("ca")
            ),
            "a",
        )
        .join(
            lab.select(
                F.col("_v").alias("b"), F.col("_c").alias("cb")
            ),
            "b",
        )
        .localCheckpoint()
    )
    m = und.select(F.count(F.lit(1)).alias("m"))
    adj = und.select(
        F.col("a").alias("v"), F.col("ca").alias("c")
    ).unionAll(und.select(F.col("b").alias("v"), F.col("cb").alias("c")))
    degsum = adj.groupBy("c").agg(
        F.count(F.lit(1)).alias("degree_sum"),
        F.count_distinct(F.col("v")).alias("n_nodes"),
    )
    intra = (
        und.where(F.col("ca") == F.col("cb"))
        .groupBy(F.col("ca").alias("c"))
        .agg(F.count(F.lit(1)).alias("intra_edges"))
    )
    return (
        degsum.join(intra, "c", "left")
        .na.fill({"intra_edges": 0})
        .crossJoin(m)
        .select(
            F.col("c").alias("community"),
            F.col("n_nodes").cast("long").alias("n_nodes"),
            F.col("intra_edges").cast("long").alias("intra_edges"),
            F.col("degree_sum").cast("long").alias("degree_sum"),
            F.round(
                F.col("intra_edges") / F.col("m")
                - (
                    F.col("degree_sum")
                    / (F.lit(2.0) * F.col("m"))
                )
                * (
                    F.col("degree_sum")
                    / (F.lit(2.0) * F.col("m"))
                ),
                6,
            ).alias("q_contrib"),
        )
        .orderBy("community")
    )


def greedy_modularity_move(
    edges: DataFrame,
    rounds: int = 2,
    src_col: str = "src",
    dst_col: str = "dst",
    labels: "DataFrame | None" = None,
    node_col: str = "node",
    label_col: str = "community",
) -> DataFrame:
    """Deterministic Louvain-style local-move rounds — the OPTIMIZER
    for the metric :func:`modularity` scores: each round, eligible
    nodes move to the neighbor community (or stay) with the best
    exact modularity gain, deciding against the previous labeling.
    Complements :func:`label_propagation` (which optimizes nothing —
    it follows neighbor majorities) with a pass that greedily
    improves Q for every move it picks.

    ΔQ comparisons run in EXACT integer arithmetic scaled by 2m²:
    for node v with degree d_v, candidate community c scores
    ``2m·k_{v,c} − d_v·(Σtot_c − [c = c_v]·d_v)`` where k_{v,c} is
    v's edge count into c and Σtot_c the community degree sum (v
    removed from its own community when evaluating "stay" — the
    standard Louvain formulation with c-independent terms dropped).
    Scores accumulate as DECIMAL(38,0) products of exact counts; the
    argmax tie-breaks on the SMALLEST community label, so the whole
    pass is a pure function of the previous labeling and replays in
    ANSI SQL (fixed-round unrolled-CTE oracle, like
    :func:`label_propagation`).

    A fixed small ``rounds`` is the scale-right choice: full Louvain
    iterates phase 1 to convergence then contracts the graph — a
    data-dependent loop no fixed oracle can replay; a few rounds
    capture most of the gain and keep the plan bounded.

    FULLY synchronous moves oscillate: two singleton neighbors each
    swap into the other's community forever (observed on the
    two-triangle toy graph — hash-parity alternation does not fix it,
    since same-parity neighbors still move together). Each round
    therefore restricts the move DIRECTION in label order: even
    rounds (0-based) allow only moves to a SMALLER community label,
    odd rounds only to a LARGER one ("stay" is always allowed, and
    ties keep the smaller label, so label-increasing moves happen
    only on STRICT gain). A swap inside one round would need one
    label-increasing and one label-decreasing move — impossible in
    either round type. Pure min-ward (the one-direction variant) is
    provably cycle-free but TRAPS defectors: on a ring of cliques
    every clique's min-labeled node wanders into the previous
    clique's (smaller-labeled) community and can never climb back —
    measured Q 0.795 vs 0.978 for the alternating rule on the
    60×20-clique stress ring, where alternation coalesces every
    clique exactly. Use an EVEN ``rounds`` so both directions run
    equally.

    Scale shape per round: one equi-join of the adjacency against the
    O(nodes) label frame, one groupBy((v, c)) count, one small
    community-degree aggregate joined back, one groupBy(v) argmin —
    row-scale equi-shuffles only; m enters once as a driver literal
    from a 1-row count. Each round's labels are a superstep cut
    (:func:`_greedy_move_rounds`).

    ``labels``: optional starting assignment (node, community);
    default = singleton communities (each node its own id).
    Output: (node, community) after ``rounds`` rounds.
    """
    if rounds < 1:
        raise ValueError("rounds must be >= 1")
    # persist the canonical edge set so the two adjacency projections
    # below read the distinct ONCE (louvain_two_level got the same fix
    # in r14; the un-persisted form paid the distinct shuffle twice),
    # and so m comes from the cheaper |und| count
    und = _undirected(edges, src_col, dst_col).persist()
    m = und.count()
    if m == 0:
        und.unpersist()
        raise ValueError("greedy_modularity_move: no edges")
    node_type = und.schema["a"].dataType
    # a supplied label frame whose column type differs from the nodes
    # stays distributed: the distributed coalesce would widen the
    # output type
    tbl = (
        driver_table(und, _DRIVER_MOVE_MAX_EDGES, size=m)
        if labels is None
        or labels.schema[label_col].dataType == node_type
        else None
    )
    if tbl is not None:
        spark = edges.sparkSession
        edge_list = zip(
            tbl.column("a").to_pylist(), tbl.column("b").to_pylist()
        )
        und.unpersist()
        adj_d: dict = {}
        deg_d: dict = {}
        for a, b in edge_list:
            adj_d.setdefault(a, []).append((b, 1))
            adj_d.setdefault(b, []).append((a, 1))
            deg_d[a] = deg_d.get(a, 0) + 1
            deg_d[b] = deg_d.get(b, 0) + 1
        if labels is None:
            lab0 = {v: v for v in deg_d}
        else:
            seen: dict = {}
            lt = labels.select(node_col, label_col).distinct().toArrow()
            for v, c in zip(
                lt.column(node_col).to_pylist(),
                lt.column(label_col).to_pylist(),
            ):
                seen.setdefault(v, set()).add(c)
            dup = sum(1 for cs in seen.values() if len(cs) > 1)
            if dup:
                raise ValueError(
                    f"greedy_modularity_move: {dup} node(s) carry "
                    "multiple communities in the supplied labels"
                )
            lab0 = {
                v: next(iter(seen[v])) if v in seen else v
                for v in deg_d
            }
        out = _move_rounds_py(adj_d, deg_d, m, lab0, rounds)
        return _labels_frame_py(spark, out, node_type)
    adj = (
        und.select(F.col("a").alias("v"), F.col("b").alias("u"))
        .unionAll(
            und.select(F.col("b").alias("v"), F.col("a").alias("u"))
        )
        .withColumn("_w", F.lit(1).cast("long"))
        .persist()
    )
    deg, _ = checkpoint_leaf(adj.groupBy("v").agg(F.sum("_w").alias("_d")))
    und.unpersist()
    if labels is None:
        # projection of the checkpointed deg leaf — already
        # materialized, no extra checkpoint round-trip needed
        lab = deg.select(
            F.col("v").alias("node"), F.col("v").alias("community")
        )
    else:
        sup = labels.select(
            F.col(node_col).alias("node"),
            F.col(label_col).alias("community"),
        ).distinct()
        # A node labeled with two different communities would survive
        # .distinct() and be duplicated through every round — a caller
        # bug; fail loudly rather than emit duplicate rows.
        dup = (
            sup.groupBy("node")
            .count()
            .where(F.col("count") > 1)
            .count()
        )
        if dup:
            adj.unpersist()
            raise ValueError(
                f"greedy_modularity_move: {dup} node(s) carry multiple "
                "communities in the supplied labels"
            )
        # Graph nodes absent from the supplied labels default to
        # singleton communities (their own id) instead of being
        # silently dropped by the per-round inner joins.
        lab = (
            deg.select("v")
            .join(
                sup.withColumnRenamed("node", "_n"),
                F.col("v") == F.col("_n"),
                "left",
            )
            .select(
                F.col("v").alias("node"),
                F.coalesce(F.col("community"), F.col("v")).alias(
                    "community"
                ),
            )
        )
        lab, _ = checkpoint_leaf(lab)
    out = _greedy_move_rounds(adj, deg, m, lab, rounds)
    adj.unpersist()
    release(lab)
    release(deg)
    return out


# Node-count gate for broadcasting the O(nodes) frames inside the
# local-move rounds: label/strength/community-total frames are two-long
# rows (~16 B), so 2M nodes ≈ 32 MB — comfortably broadcastable — and
# below the gate every per-round join goes map-side, collapsing ~10
# shuffle stages per round to the 4 aggregations that genuinely need a
# shuffle (measured: one benched Louvain run scheduled 130 AQE jobs at
# sf0.1, nearly all tiny exchange stages). Above the gate the plan keeps
# the row-scale equi-shuffle form — the right one at 100-TB node counts.
# The value is the shared measured gate (ops/materialize.BCAST_MAX_ROWS)
# so retuning it cannot silently diverge from the ALS half-round gate.
_MOVE_BCAST_MAX_NODES = BCAST_MAX_ROWS

# Partition count for the iterative frames when the graph sits under the
# broadcast gate. Cached plans (and leaves checkpointed from a cache)
# compile WITHOUT AQE partition coalescing
# (`canChangeCachedPlanOutputPartitioning` defaults false), so every
# materialized move-round frame otherwise keeps all
# spark.sql.shuffle.partitions partitions and unions stack them — the
# driver-config Louvain profile showed 64–128-task stages over a
# 6.7k-node graph, pure scheduling overhead (~0.6 s/job at local[32]).
# Under the gate every frame is O(nodes) ≤ 2M rows, so 8 partitions keep
# tasks ≥ 250k rows; above the gate frames keep the shuffle-sized
# partitioning — the right shape at 100-TB node counts.
_SMALL_GRAPH_NPART = 8


def _shrink(df: DataFrame, small: bool) -> DataFrame:
    """Coalesce an under-the-gate frame to `_SMALL_GRAPH_NPART` (a
    narrow merge of reduce partitions — no extra shuffle); identity
    above the gate."""
    return df.coalesce(_SMALL_GRAPH_NPART) if small else df


# Edge cap of the DRIVER-side move-round twin (the connected_components
# union-find convention, ops/dedup.py): a canonical undirected edge list
# at or under this many rows crosses the driver_table seam as one Arrow
# table (~16 B/edge numeric) and the alternating-direction
# argmax loop — pure integer arithmetic, bit-identical to the
# distributed rounds by construction — runs in milliseconds per round on
# the driver, skipping ~6 scheduled jobs per round (measured at sf0.1 /
# local[32]: the benched two-level Louvain spent >10 s on job scheduling
# over a 6.7k-node graph; the driver arm computes the same labels in
# ~1 s). Above the gate the fully-distributed rounds are unchanged — the
# right plan at 100-TB edge counts.
_DRIVER_MOVE_MAX_EDGES = 500_000


def _move_rounds_py(
    adj: "dict[object, list]",
    deg: "dict[object, int]",
    m: int,
    lab: "dict[object, object]",
    rounds: int,
) -> "dict[object, object]":
    """Driver-side replica of :func:`_greedy_move_rounds`: synchronous
    alternating-direction local moves, exact integer ΔQ scores
    ``2m·k_{v,c} − d_v·(Σtot_c − [c=c_v]·d_v)``, argmax with
    smallest-label ties, two consecutive quiet rounds exit. ``adj``
    maps v → [(u, w), ...] both directions, self-loops excluded;
    ``deg`` is the Newman strength (self-loops twice); ``lab`` the
    starting assignment. Pure Python ints — bit-identical to the
    DECIMAL(38,0) distributed scores by construction."""
    two_m = 2 * int(m)
    nodes = list(lab)
    quiet = 0
    for rnd in range(int(rounds)):
        tot: dict = {}
        for v, c in lab.items():
            tot[c] = tot.get(c, 0) + deg[v]
        even = rnd % 2 == 0
        new_lab = {}
        moved = 0
        for v in nodes:
            own = lab[v]
            k = {own: 0}
            for u, w in adj.get(v, ()):
                c = lab[u]
                k[c] = k.get(c, 0) + w
            d = deg[v]
            best_c = None
            best_s = None
            for c, kc in k.items():
                if (c > own) if even else (c < own):
                    continue
                s = two_m * kc - d * (tot[c] - (d if c == own else 0))
                if (
                    best_s is None
                    or s > best_s
                    or (s == best_s and c < best_c)
                ):
                    best_s, best_c = s, c
            new_lab[v] = best_c
            if best_c != own:
                moved += 1
        lab = new_lab
        if moved == 0:
            quiet += 1
            if quiet >= 2:
                break
        else:
            quiet = 0
    return lab


def _labels_frame_py(
    spark, lab: "dict[object, object]", node_type
) -> DataFrame:
    """(node, community) DataFrame from a driver-side label dict, with
    the SAME schema the distributed rounds return (both columns carry
    the edge-column type)."""
    from pyspark.sql.types import StructField, StructType

    schema = StructType(
        [
            StructField("node", node_type),
            StructField("community", node_type),
        ]
    )
    return spark.createDataFrame(
        sorted(lab.items()), schema
    )


def _greedy_move_rounds(
    adj: DataFrame, deg: DataFrame, m: int, lab: DataFrame, rounds: int
) -> DataFrame:
    """The alternating-direction local-move loop shared by
    :func:`greedy_modularity_move` (unit weights) and
    :func:`louvain_two_level`'s contracted phase (integer edge
    weights). ``adj``: (v, u, _w long), both directions, self-loops
    EXCLUDED (a self-loop moves with its node, so it cancels out of
    the ΔQ argmax); ``deg``: (v, _d long) weighted strength WITH
    self-loop weight counted twice (the Newman convention); ``m``:
    total edge weight; ``lab``: materialized (node, community). The
    caller owns adj/deg persistence and its ``lab``; the rounds'
    superseded label leaves are released here, and the returned frame
    reads the last one.

    Early fixpoint exit: each round counts its moves (a sum of the
    argmax's change flags, the job that fills the round's cut). Rounds
    alternate direction, so one
    quiet round proves nothing about the OTHER direction — but two
    consecutive quiet rounds (one of each parity) leave the state a
    fixpoint for both, and every remaining round replays as a no-op;
    skipping them returns labels IDENTICAL to the full unroll, which
    is why the fixed-round SQL oracles still match bit-for-bit."""
    two_m = F.lit(int(2 * m)).cast("decimal(38,0)")
    # one cheap count over the checkpointed strength leaf decides the
    # broadcast gate for the whole loop (node count never grows)
    small = deg.count() <= _MOVE_BCAST_MAX_NODES
    bc = F.broadcast if small else (lambda d: d)
    # r17 (guide §2.4 — share one exchange across the loop): the
    # "stay" candidate rides INSIDE the adjacency as a zero-weight
    # self-row (v, u=v, _w=0): it joins lab on u=v, lands in v's OWN
    # community with _k += 0, so kvc itself carries every stay
    # candidate — the former per-round union (which destroyed the
    # partitioning and forced a second edge-scale exchange) is gone.
    # Merged rows are score-identical: the old union carried BOTH
    # (v, own, k_own) and the zero stay row, and the argmin always
    # picked the former (2m·k > 0); the fused row IS (v, own, k_own).
    # The whole frame is hash-partitioned by v ONCE and persisted:
    # HashPartitioning(v) satisfies the clustering of BOTH per-round
    # groupBys (v, c) and (v), and the other join sides broadcast, so
    # every round runs with zero edge-scale exchanges.
    npart = (
        _SMALL_GRAPH_NPART
        if small
        else adj.sparkSession.conf.get("spark.sql.shuffle.partitions")
    )
    adj_plus = (
        adj.unionByName(
            deg.select(
                "v",
                F.col("v").alias("u"),
                F.lit(0).cast("long").alias("_w"),
            )
        )
        .repartition(int(npart), "v")
        .persist()
    )
    adj_plus.count()
    quiet = 0
    steps = Supersteps(rounds)
    for rnd in steps:
        # k_{v,c}: v's edge weight into each neighbor community,
        # stay candidates included via the self-rows
        cand = (
            adj_plus.join(
                bc(
                    lab.select(
                        F.col("node").alias("u"),
                        F.col("community").alias("c"),
                    )
                ),
                "u",
            )
            .groupBy("v", "c")
            .agg(F.sum("_w").alias("_k"))
        )
        tot = _shrink(
            bc(lab).join(deg, lab["node"] == deg["v"])
            .groupBy("community")
            .agg(F.sum("_d").alias("_tot"))
            .select(F.col("community").alias("c"), "_tot"),
            small,
        )
        own = lab.select(
            F.col("node").alias("v"), F.col("community").alias("_cv")
        )
        score = two_m * F.col("_k").cast("decimal(38,0)") - F.col(
            "_d"
        ).cast("decimal(38,0)") * (
            F.col("_tot").cast("decimal(38,0)")
            - F.when(
                F.col("c") == F.col("_cv"), F.col("_d")
            ).otherwise(F.lit(0)).cast("decimal(38,0)")
        )
        new_lab = (
            cand.join(bc(tot), "c")
            .join(bc(own), "v")
            .join(bc(deg), "v")
            # direction restriction (greedy_modularity_move docstring):
            # even rounds move only toward smaller labels, odd rounds
            # only toward larger; "stay" (c = own) always a candidate
            .where(
                F.col("c") <= F.col("_cv")
                if rnd % 2 == 0
                else F.col("c") >= F.col("_cv")
            )
            .select("v", "c", score.alias("_s"), "_cv")
            .groupBy("v")
            .agg(
                F.min(
                    F.struct((-F.col("_s")).alias("ns"), F.col("c"))
                ).alias("_m"),
                # _cv is constant per v; carrying it through the argmax
                # lets the move count ride the SAME aggregation instead
                # of a separate join-count job per round
                F.min("_cv").alias("_pv"),
            )
            .select(
                F.col("v").alias("node"),
                F.col("_m.c").alias("community"),
                (F.col("_m.c") != F.col("_pv"))
                .cast("long")
                .alias("_chg"),
            )
        )
        # the move count is the job that fills the cut; the returned
        # frame is the (node, community) projection of the last leaf
        cut, moved = steps.cut(
            _shrink(new_lab, small),
            lambda d: d.agg(F.coalesce(F.sum("_chg"), F.lit(0))),
        )
        lab = cut.select("node", "community")
        steps.retain(lab)
        if moved[0] == 0:
            quiet += 1
            if quiet >= 2:
                break
        else:
            quiet = 0
    adj_plus.unpersist()
    return lab


def _louvain_driver_py(
    edge_list: "list[tuple]", m: int, rounds: int
) -> "dict[object, object]":
    """Driver-side replica of the full two-level pipeline below —
    phase-1 rounds, contraction (inter counts → weights, intra →
    self-loops, Newman strengths), phase-2 weighted rounds, and the
    exact integer acceptance test Q·4m² = Σ_c(4m·e_c − D_c²) — over a
    collected canonical edge list. Same integer arithmetic, same
    tie-breaks, same pick rule (phase 1 on ties): bit-identical labels
    to the distributed arm by construction."""
    adj: dict = {}
    deg: dict = {}
    for a, b in edge_list:
        adj.setdefault(a, []).append((b, 1))
        adj.setdefault(b, []).append((a, 1))
        deg[a] = deg.get(a, 0) + 1
        deg[b] = deg.get(b, 0) + 1
    l1 = _move_rounds_py(
        adj, deg, m, {v: v for v in deg}, rounds
    )
    # contraction: inter-community canonical weights + self-loop counts
    inter: dict = {}
    selfw: dict = {}
    for a, b in edge_list:
        ca, cb = l1[a], l1[b]
        if ca == cb:
            selfw[ca] = selfw.get(ca, 0) + 1
        else:
            key = (ca, cb) if ca < cb else (cb, ca)
            inter[key] = inter.get(key, 0) + 1
    adj2: dict = {}
    deg2: dict = {}
    for (x, y), w in inter.items():
        adj2.setdefault(x, []).append((y, w))
        adj2.setdefault(y, []).append((x, w))
        deg2[x] = deg2.get(x, 0) + w
        deg2[y] = deg2.get(y, 0) + w
    for c, sw in selfw.items():
        deg2[c] = deg2.get(c, 0) + 2 * sw
    lab2 = _move_rounds_py(
        adj2, deg2, m, {c: c for c in deg2}, rounds
    )

    def _q4m2(part_of) -> int:
        d: dict = {}
        e_in: dict = {}
        for a, b in edge_list:
            pa, pb = part_of(a), part_of(b)
            d[pa] = d.get(pa, 0) + 1
            d[pb] = d.get(pb, 0) + 1
            if pa == pb:
                e_in[pa] = e_in.get(pa, 0) + 1
        four_m = 4 * int(m)
        return sum(
            four_m * e_in.get(c, 0) - dc * dc for c, dc in d.items()
        )

    q1 = _q4m2(lambda v: l1[v])
    q2 = _q4m2(lambda v: lab2[l1[v]])
    if q2 > q1:
        return {v: lab2[c] for v, c in l1.items()}
    return l1


def louvain_two_level(
    edges: DataFrame,
    rounds: int = 4,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Two-level Louvain community detection — the full method's
    shape in fixed, oracle-replayable form: ``rounds`` alternating
    local-move rounds on the raw graph (:func:`greedy_modularity_move`),
    then the CONTRACTION step Louvain is famous for — communities
    collapse into super-nodes (inter-community edge counts become
    integer edge weights, intra-community counts become self-loops) —
    and ``rounds`` more weighted move rounds on the contracted graph.
    Level-2 merges are exactly the moves single-level passes cannot
    express: a whole community shifting at once.

    Exactness carries through contraction unchanged: contracted
    weights are integer counts, strengths count self-loops twice (the
    Newman convention, so Σ strengths = 2m with m preserved from the
    raw graph), and the weighted ΔQ comparison is the same
    2m²-scaled integer ``2m·k_{v,c} − d_v·(Σtot_c − [c=c_v]·d_v)`` —
    self-loops move WITH their super-node, so they cancel out of the
    argmax and are simply excluded from the contracted adjacency.

    Scale shape: phase 1 is row-scale (the raw graph); everything
    after the contraction groupBy runs on the COMMUNITY-sized graph —
    at 100× data the contracted frame grows with communities, not
    edges. Deterministic end to end (the alternating-direction rule
    both levels), so a fixed unroll replays in SQL.

    The level-2 result is ACCEPTANCE-TESTED: synchronous parallel
    moves can cascade on sparse contracted shapes (a ring of
    super-nodes relabels in cycles — each joins a neighbor that is
    itself leaving; measured Q drop 0.8071 → 0.8064 on the 20×4-clique
    ring), so both partitions are scored by the EXACT integer
    quantity Q·4m² = Σ_c (4m·e_c − D_c²) and the better one is
    returned (phase 1 on ties). Never worse than phase 1 by
    construction; on the co-purchase graph the level-2 merges win
    (sf0.01: Q 0.0466 → 0.0479, 81 → 28 communities).

    Output: (node, community) — each raw node labeled with its
    level-2 super-community (a level-1 community label) when level 2
    wins, else its phase-1 community.
    """
    if rounds < 1:
        raise ValueError("rounds must be >= 1")
    # phase 1 inlined (rather than calling greedy_modularity_move) so
    # the canonical undirected edge frame and the adjacency/strength
    # persists are BUILT ONCE and reused by the contraction + the
    # acceptance scoring — the delegating form re-derived _undirected
    # from raw edges a second time (r14 verdict task 5)
    und = _undirected(edges, src_col, dst_col).persist()
    # m = |und| directly (each canonical edge contributes exactly two
    # adj rows), so the und count both materializes the persist AND
    # decides the small-graph partitioning for everything downstream —
    # nodes ≤ 2·edges, so a small edge count proves the node frames
    # small too (one count job, no separate adj count)
    m = und.count()
    if m == 0:
        und.unpersist()
        raise ValueError("louvain_two_level: no edges")
    tbl = driver_table(und, _DRIVER_MOVE_MAX_EDGES, size=m)
    if tbl is not None:
        # exact: same scores, tie-breaks, direction rule and
        # quiet-round exit as the distributed rounds below
        spark = edges.sparkSession
        node_type = und.schema["a"].dataType
        edge_list = list(
            zip(tbl.column("a").to_pylist(), tbl.column("b").to_pylist())
        )
        und.unpersist()
        lab = _louvain_driver_py(edge_list, m, rounds)
        return _labels_frame_py(spark, lab, node_type)
    small = 2 * m <= _MOVE_BCAST_MAX_NODES
    adj = (
        _shrink(
            und.select(F.col("a").alias("v"), F.col("b").alias("u"))
            .unionAll(
                und.select(F.col("b").alias("v"), F.col("a").alias("u"))
            )
            .withColumn("_w", F.lit(1).cast("long")),
            small,
        )
        .persist()
    )
    deg, _ = checkpoint_leaf(
        _shrink(adj.groupBy("v").agg(F.sum("_w").alias("_d")), small)
    )
    # the singleton start labels are a projection of the checkpointed
    # deg leaf — already materialized, no extra checkpoint needed
    l1 = _greedy_move_rounds(
        adj,
        deg,
        m,
        deg.select(
            F.col("v").alias("node"), F.col("v").alias("community")
        ),
        rounds,
    )
    n_nodes = deg.count()  # cheap: checkpointed leaf
    adj.unpersist()
    release(deg)
    # same measured gate as the move rounds: label frames are O(nodes)
    # two-long rows — broadcast them into the edge-scale joins when
    # provably small, keep the equi-shuffle form above the gate
    bc = (
        F.broadcast
        if n_nodes <= _MOVE_BCAST_MAX_NODES
        else (lambda d: d)
    )
    e2 = (
        _shrink(
            und.join(
                bc(
                    l1.select(
                        F.col("node").alias("a"),
                        F.col("community").alias("ca"),
                    )
                ),
                "a",
            )
            .join(
                bc(
                    l1.select(
                        F.col("node").alias("b"),
                        F.col("community").alias("cb"),
                    )
                ),
                "b",
            ),
            small,
        )
        .persist()
    )
    inter = (
        e2.where(F.col("ca") != F.col("cb"))
        .groupBy(
            F.least(F.col("ca"), F.col("cb")).alias("a"),
            F.greatest(F.col("ca"), F.col("cb")).alias("b"),
        )
        .agg(F.count(F.lit(1)).alias("_w"))
    )
    selfw = (
        e2.where(F.col("ca") == F.col("cb"))
        .groupBy(F.col("ca").alias("v"))
        .agg(F.count(F.lit(1)).alias("_sw"))
    )
    adj2 = (
        _shrink(
            inter.select(
                F.col("a").alias("v"), F.col("b").alias("u"), "_w"
            ).unionAll(
                inter.select(
                    F.col("b").alias("v"), F.col("a").alias("u"), "_w"
                )
            ),
            small,
        )
        .persist()
    )
    # total edge weight is preserved by contraction: m carries over
    # from phase 1 (one count job saved; e2 materializes its persist
    # on first use by the contraction aggregates below)
    # strength = inter weight + 2 × self-loop weight (Newman)
    deg2, _ = checkpoint_leaf(
        _shrink(
            adj2.select("v", "_w")
            .unionByName(
                selfw.select(
                    "v",
                    (F.col("_sw") * F.lit(2)).cast("long").alias("_w"),
                )
            )
            .groupBy("v")
            .agg(F.sum("_w").alias("_d")),
            small,
        )
    )
    lab2 = _greedy_move_rounds(
        adj2,
        deg2,
        m,
        deg2.select(
            F.col("v").alias("node"), F.col("v").alias("community")
        ),
        rounds,
    )
    two_lvl, _ = checkpoint_leaf(
        _shrink(
            l1.join(
                bc(
                    lab2.select(
                        F.col("node").alias("community"),
                        F.col("community").alias("_super"),
                    )
                ),
                "community",
            ).select("node", F.col("_super").alias("community")),
            small,
        )
    )

    # acceptance test (docstring): exact integer Q·4m² per partition.
    # Both evaluations reuse the already-labeled edge frame e2 — the
    # phase-1 Q reads (ca, cb) directly, the two-level Q maps each
    # side through the COMMUNITY-sized lab2 (never re-joining raw
    # edges) — and both score in ONE tagged aggregation job (tag 1 =
    # phase 1, tag 2 = two-level) instead of two separate collects.
    sup = lab2.select(
        F.col("node").alias("_k"), F.col("community").alias("_s")
    )
    pe2 = (
        e2.join(bc(sup.withColumnRenamed("_k", "ca")), "ca")
        .withColumnRenamed("_s", "_pa")
        .join(bc(sup.withColumnRenamed("_k", "cb")), "cb")
        .withColumnRenamed("_s", "_pb")
        .select(F.lit(2).alias("_t"), "_pa", "_pb")
    )
    pe_both = pe2.unionByName(
        e2.select(
            F.lit(1).alias("_t"),
            F.col("ca").alias("_pa"),
            F.col("cb").alias("_pb"),
        )
    )
    degs = (
        pe_both.select("_t", F.col("_pa").alias("_c"))
        .unionAll(pe_both.select("_t", F.col("_pb").alias("_c")))
        .groupBy("_t", "_c")
        .agg(F.count(F.lit(1)).alias("_D"))
    )
    intra = (
        pe_both.where(F.col("_pa") == F.col("_pb"))
        .groupBy("_t", F.col("_pa").alias("_c"))
        .agg(F.count(F.lit(1)).alias("_e"))
    )
    qrows = (
        degs.join(intra, ["_t", "_c"], "left")
        .na.fill({"_e": 0})
        .groupBy("_t")
        .agg(
            F.sum(
                F.lit(int(4 * m)).cast("decimal(38,0)")
                * F.col("_e").cast("decimal(38,0)")
                - F.col("_D").cast("decimal(38,0)")
                * F.col("_D").cast("decimal(38,0)")
            ).alias("_q")
        )
        .collect()
    )
    qs = {int(r["_t"]): int(r["_q"]) for r in qrows if r["_q"] is not None}
    keep_two = qs.get(2, 0) > qs.get(1, 0)
    out = two_lvl if keep_two else l1
    und.unpersist()
    e2.unpersist()
    adj2.unpersist()
    for leaf in (deg2, lab2, l1 if keep_two else two_lvl):
        release(leaf)
    return out


def _eigenvector_driver_py(
    spark, tbl, node_type, iterations: int
) -> DataFrame:
    """Driver-side replica of :func:`eigenvector_centrality` over the
    ``(_src, _dst, _w)`` edge table (Arrow; None weights arrive as
    NaN and null-flow out of the sums like Spark's null-skipping
    aggregates): per iteration, the per-edge ``w·x`` doubles take the
    exact decimal(28,12) fixed point and order-free integer sum, the
    identity term adds in the same IEEE order, the squared norm
    accumulates as exact pico ints, and the SAME driver-side
    ``round(math.sqrt(...), 12)`` literal divides through.
    Bit-identical by construction."""
    import math

    import numpy as np
    import pandas as pd

    from .driver_exact import (
        cast_decimal_i64,
        round_half_up_int64,
        scaled_i64_to_f64,
        spark_round_f64,
    )

    codes, uniques = _factorize_nodes(tbl)
    m = tbl.num_rows
    scode, dcode = codes[:m], codes[m:]
    n = len(uniques)
    wv = column_np(tbl, "_w", np.float64)
    x = np.ones(n, dtype=np.float64)
    for _ in range(int(iterations)):
        t = wv * x[scode]
        ints, ok = cast_decimal_i64(t, 12)
        acc = np.zeros(n, dtype=np.int64)
        kept = ints[ok]
        if len(kept) and int(np.max(np.abs(kept))) * len(kept) >= (
            1 << 62
        ):
            accd: dict = {}
            for ci, vi in zip(dcode[ok].tolist(), kept.tolist()):
                accd[ci] = accd.get(ci, 0) + vi
            c_arr = np.fromiter(accd.keys(), dtype=np.int64)
            from decimal import Decimal

            contrib = np.zeros(n, dtype=np.float64)
            for ci, vi in accd.items():
                contrib[ci] = float(Decimal(vi).scaleb(-12))
            got = np.zeros(n, dtype=bool)
            got[c_arr] = True
        else:
            np.add.at(acc, dcode[ok], kept)
            got = np.zeros(n, dtype=bool)
            got[dcode[ok]] = True
            contrib = scaled_i64_to_f64(acc, 12)
        y = np.where(got, contrib, 0.0) + x
        p = (y * y) * 1e12
        if len(p) and float(np.max(np.abs(p))) >= 4.0e18:
            # beyond the int64 fast path: exact per-element rounding
            from .driver_exact import _round0_exact

            s = sum(_round0_exact(float(v)) for v in p)
        else:
            # exact big-int sum of the pico squares (the int64 element
            # bound does not bound the SUM)
            s = sum(round_half_up_int64(p).tolist())
        l2 = (
            round(math.sqrt(float(s) / 1e12), 12) if s > 0 else 0.0
        )
        x = y / l2 if l2 > 0 else y
    out = pd.DataFrame(
        {"node": uniques, "score": spark_round_f64(x, 6)}
    )
    return spark.createDataFrame(
        out, f"node {node_type.simpleString()}, score double"
    )


def eigenvector_centrality(
    edges: DataFrame,
    iterations: int = 3,
    src_col: str = "src",
    dst_col: str = "dst",
    weight_col: "str | None" = None,
) -> DataFrame:
    """Eigenvector centrality by power iteration — completes the
    centrality family (PageRank's damped/teleport variant, HITS'
    bipartite pair, closeness/harmonic, betweenness): a node is
    important in proportion to the importance of the nodes pointing
    at it, with NO teleport smoothing — the raw principal eigenvector
    of the (weighted) adjacency matrix. Pass a symmetrized edge list
    for the undirected form.

    Uses the SHIFTED power iteration x' = (A + I)x / ‖·‖ — same
    eigenvectors as A, but the identity shift makes the dominant
    eigenvalue strictly largest in magnitude so bipartite graphs
    (stars, trees, the trade graph itself) cannot oscillate between
    ±λ (the classic power-iteration failure).

    Each iteration is one edge⋈score join + one destination
    aggregation with DECIMAL(28,12) contribution sums (merge-order
    free), plus the identity term, then L2 normalization: the squared-norm accumulates as
    exact pico-int DECIMAL(38,0), the square root happens on the
    driver and re-enters as a 12-dp literal divisor — so the whole
    unrolled computation is engine-replayable. Nodes with no
    in-edges decay to 0 (the eigenvector semantics; use
    :func:`pagerank` when you want teleport mass to keep them
    comparable).

    Output: (node, score 6 dp), L2-normalized after the final
    iteration, read from the final iteration's checkpoint leaf.
    """
    if iterations < 1:
        raise ValueError("iterations must be >= 1")
    import math

    w = (
        F.col(weight_col).cast("double")
        if weight_col
        else F.lit(1.0)
    )
    e = edges.where(
        F.col(src_col).isNotNull() & F.col(dst_col).isNotNull()
    ).select(
        F.col(src_col).alias("_src"),
        F.col(dst_col).alias("_dst"),
        w.alias("_w"),
    ).persist()
    n_edges = e.count()
    tbl = driver_table(e, _MOVE_BCAST_MAX_NODES, size=n_edges)
    if tbl is not None:
        # bit-identical: the driver_exact kernels replicate every
        # pinned cast/round of the loop below
        e.unpersist()
        return _eigenvector_driver_py(
            edges.sparkSession,
            tbl,
            edges.schema[src_col].dataType,
            int(iterations),
        )
    nodes = (
        e.select(F.col("_src").alias("node"))
        .union(e.select(F.col("_dst").alias("node")))
        .distinct()
        .persist()
    )
    # node-count broadcast gate (the _greedy_move_rounds convention):
    # score frames are O(nodes) two-column rows — map-side join them
    # below the gate, keep the equi-shuffle form above it
    small = nodes.count() <= _MOVE_BCAST_MAX_NODES
    bc = F.broadcast if small else (lambda d: d)
    # plan depth doubles per round even under persist (each round
    # references the score frame twice: contribution join + identity
    # add) — every round is a cut; the benched 3-iteration arm analyzed
    # to 4,793 exchanges under plain persist. The start is a projection
    # of the cached node set.
    x = _shrink(nodes.select("node", F.lit(1.0).alias("x")), small)
    steps = Supersteps(iterations)
    try:
        for _ in steps:
            contrib = (
                e.join(bc(x), e["_src"] == x["node"])
                .groupBy(F.col("_dst").alias("node"))
                .agg(
                    F.sum(
                        (F.col("_w") * F.col("x")).cast(
                            "decimal(28,12)"
                        )
                    ).cast("double").alias("y")
                )
            )
            # the squared norm is the job that fills the cut
            y, s = steps.cut(
                _shrink(
                    x.join(bc(contrib), "node", "left").select(
                        "node",
                        (
                            F.coalesce(F.col("y"), F.lit(0.0))
                            + F.col("x")
                        ).alias("y"),
                    ),
                    small,
                ),
                lambda d: d.agg(
                    F.sum(
                        F.round(
                            F.col("y") * F.col("y") * F.lit(1e12)
                        ).cast("decimal(38,0)")
                    )
                ),
            )
            s = s[0]
            l2 = (
                round(math.sqrt(float(int(s)) / 1e12), 12)
                if s is not None and int(s) > 0
                else 0.0
            )
            # xn is a cheap projection over the leaf — no second cut
            if l2 > 0:
                x = y.select("node", (F.col("y") / F.lit(l2)).alias("x"))
            else:
                x = y.select("node", F.col("y").alias("x"))
            steps.retain(x)
        return x.select(
            "node", F.round(F.col("x"), 6).alias("score")
        )
    finally:
        e.unpersist()
        nodes.unpersist()
