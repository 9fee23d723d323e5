"""Spherical k-means over embedding columns — fixed-round Lloyd loops.

The clustering counterpart of ops/similarity.py's centroid analytics:
group embeddings into k clusters by cosine similarity (spherical
k-means — the variant that matches how embedding geometry is actually
used downstream: IVF coarse quantizers, topic buckets, dedup shards).
The reference has no ML surface at all; this is beyond-reference
capability built the Spark-first way.

Deterministic by construction so a differential oracle can replay it:
- Seeding: the k rows with the SMALLEST ids (deterministic, replayable;
  k-means++ would need engine-private randomness). Callers wanting
  quality seeds pass ``seed_ids`` explicitly.
- Assignment: argmax cosine over the k broadcast centroids, rounded to
  6 dp first, ties to the smallest cluster index.
- Update: per-(cluster, dim) DECIMAL-exact means rounded to 6 dp — the
  same convention as similarity.group_centroids.
- A FIXED number of Lloyd rounds (no data-dependent convergence test),
  so every engine unrolls the identical computation.

Scale design: each round is one broadcast projection (n·k·d work, no
shuffle) plus one (cluster, dim)-cell aggregation (map-side combined —
the shuffle carries k·d cells per partition, not rows). Centroids live
in a k-row driver list (k is small by definition); the per-round
assignment frame is never collected.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .materialize import Supersteps
from .similarity import _decimal_dot, _norm

__all__ = ["kmeans_assign", "kmeans_summary", "gmm2_train", "dbscan_grid"]


def _centroid_frame(df_cent: DataFrame) -> DataFrame:
    """(cluster, vec) frame -> add norms, ready to broadcast."""
    return df_cent.select(
        F.col("_c"),
        F.col("_cv"),
        _norm(F.col("_cv")).alias("_cnrm"),
    )


def kmeans_assign(
    df: DataFrame,
    k: int = 4,
    iterations: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed_ids: "list | None" = None,
    max_iterations: int = 50,
) -> DataFrame:
    """Run ``iterations`` Lloyd rounds of spherical k-means and return
    the final assignment: (id, cluster int, cosine 6 dp) — cosine is
    the similarity to the point's final centroid.

    Initial centroids are the vectors of ``seed_ids`` (or the k
    smallest ids), values rounded to 6 dp; each round assigns by
    max-cosine (ties to the smallest cluster index) and recomputes
    6-dp decimal-exact per-dim means. Clusters that lose every member
    keep their previous centroid (the standard empty-cluster rule that
    keeps k stable). Each round's centroids are a superstep cut
    (``ops/materialize.Supersteps``); ``iterations`` >
    ``max_iterations`` raises.
    """
    if not 1 <= iterations <= max_iterations:
        raise ValueError(
            f"iterations={iterations} outside [1, {max_iterations}]"
        )
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    pts = df.where(
        F.col(id_col).isNotNull() & F.col(vec_col).isNotNull()
    ).select(
        F.col(id_col).alias("_p"),
        F.col(vec_col).alias("_v"),
        _norm(F.col(vec_col)).alias("_nrm"),
    )
    if seed_ids is None:
        seeds = pts.orderBy("_p").limit(int(k))
    else:
        seeds = pts.where(F.col("_p").isin(list(seed_ids)))
    w_seed = Window.orderBy("_p")
    cents = seeds.select(
        (F.row_number().over(w_seed) - 1).cast("int").alias("_c"),
        F.transform(
            F.col("_v"), lambda x: F.round(x.cast("double"), 6)
        ).alias("_cv"),
    )
    pts = pts.persist()
    steps = Supersteps(iterations)
    try:
        for it in steps:
            cen = _centroid_frame(cents)
            den = F.col("_nrm") * F.col("_cnrm")
            scored = pts.crossJoin(F.broadcast(cen)).select(
                "_p",
                "_c",
                F.round(
                    F.when(
                        den != 0,
                        _decimal_dot(F.col("_v"), F.col("_cv")) / den,
                    ),
                    6,
                ).alias("_cos"),
            )
            w = Window.partitionBy("_p").orderBy(
                F.desc_nulls_last("_cos"), F.asc("_c")
            )
            assigned = (
                scored.withColumn("_rn", F.row_number().over(w))
                .where(F.col("_rn") == 1)
                .select("_p", "_c", "_cos")
            )
            if it == int(iterations) - 1:
                break  # the final update would never be consumed
            new_cells = (
                assigned.join(pts.select("_p", "_v"), "_p")
                .select("_c", F.posexplode("_v").alias("_dim", "_x"))
                .groupBy("_c", "_dim")
                .agg(
                    F.round(
                        F.sum(
                            F.col("_x").cast("double").cast("decimal(30,15)")
                        ).cast("double")
                        / F.count(F.lit(1)),
                        6,
                    ).alias("_cval")
                )
            )
            new_cents = new_cells.groupBy("_c").agg(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct(F.col("_dim"), F.col("_cval")))
                    ),
                    lambda s: s["_cval"],
                ).alias("_cv")
            )
            # empty-cluster rule: keep the previous centroid
            kept = cents.join(new_cents.select("_c"), "_c", "left_anti")
            cents, _ = steps.cut(new_cents.unionByName(kept))
            steps.retain(cents)
        return assigned.select(
            F.col("_p").alias(id_col),
            F.col("_c").alias("cluster"),
            F.col("_cos").alias("cosine"),
        ).orderBy(id_col)
    finally:
        pts.unpersist()


def kmeans_summary(
    df: DataFrame,
    k: int = 4,
    iterations: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-cluster readout after :func:`kmeans_assign`: size and mean
    cosine to the final centroid (spherical inertia — higher = tighter;
    DECIMAL mean of the 6-dp cosines, so engine-exact).

    Output: (cluster int, n_points long, avg_cosine 6 dp, min_cosine),
    ordered by cluster.
    """
    assigned = kmeans_assign(df, k, iterations, id_col, vec_col)
    return (
        assigned.groupBy("cluster")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_points"),
            F.round(
                F.sum(F.col("cosine").cast("decimal(14,6)")).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("avg_cosine"),
            F.min("cosine").alias("min_cosine"),
        )
        .orderBy("cluster")
    )


def gmm2_train(
    df: DataFrame,
    value_col: str,
    iterations: int = 3,
    var_floor: float = 1e-6,
) -> DataFrame:
    """Two-component 1-D Gaussian mixture by EM — the soft-clustering
    companion to :func:`kmeans_summary` and the model-based
    alternative to threshold anomaly rules: "is this column really two
    populations?" (a bimodal latency, a contaminated price, a
    mixed-source metric) answered with weights, means and sigmas
    instead of a fixed cut.

    Everything is a fixed, engine-replayable unroll (the IRLS
    discipline):
    - Init (deterministic, 2 passes): split at the exact-pico global
      mean — μ₁/μ₂ = side means, π₁ = lower share, σ² = global
      variance for both components (degenerate all-equal input
      collapses both means to the global mean via a replayable CASE).
    - Each EM round is ONE aggregation pass: responsibilities in log
      space, r₁ = σ(clamp(l₁ − l₂, ±30)) with
      lᵢ = ln πᵢ − 0.5·ln(2π·vᵢ) − (x−μᵢ)²/(2·vᵢ) — no underflow,
      IEEE-identical in any engine; per-row r, r·x, r·x² terms (both
      components explicitly, so rounding is symmetric) round to
      pico-ints and sum as DECIMAL(38,0); parameters update on the
      driver at 12 dp with a ``var_floor`` guard and re-enter as plan
      literals. The same pass accumulates the observed-data
      log-likelihood via the two-term log-sum-exp identity.

    Output: 2 rows — (component int, weight 6 dp, mu 6 dp, sigma
    6 dp, n_rows long, iterations int, mean_loglik 6 dp; the
    log-likelihood is evaluated at the parameters ENTERING the final
    round, the standard EM monitor).
    """
    if iterations < 1:
        raise ValueError("iterations must be >= 1")
    if var_floor <= 0:
        raise ValueError("var_floor must be > 0")
    import math

    from metadata_etl_framework_spark.ops.exact_agg import (
        exact_pico_sums,
    )

    x = F.col(value_col).cast("double")
    # 2 init passes + one pass per EM round read this projection —
    # persist so rounds hit cached rows; released before every exit.
    # All sums go through the two-level exact path (ops/exact_agg.py):
    # bit-identical pico-int totals, ~3× cheaper per EM round than the
    # single-level DECIMAL streams.
    base = df.where(x.isNotNull()).select(x.alias("_x")).persist()

    n = base.count()
    if n < 2:
        base.unpersist()
        raise ValueError("gmm2_train: need >= 2 non-null rows")
    from metadata_etl_framework_spark.ops.driver_exact import (
        column_np,
        driver_table,
    )
    from metadata_etl_framework_spark.ops.glm import GLM_DRIVER_MAX_ROWS

    tbl = driver_table(base, GLM_DRIVER_MAX_ROWS, size=n)
    if tbl is not None:
        # the 2 init passes + EM rounds on the exact pico-int twins
        import numpy as np

        xs = column_np(tbl, "_x", np.float64)
        base.unpersist()
        return _gmm2_frame(
            df.sparkSession,
            n,
            int(iterations),
            *_gmm2_driver(xs, int(iterations), float(var_floor)),
        )

    g = exact_pico_sums(
        base,
        {"_sx": F.col("_x"), "_sxx": F.col("_x") * F.col("_x")},
        row_hint=n,
    ).collect()[0]
    S1 = int(g["_sx"])
    S2 = int(g["_sxx"])
    m = round(float(int(g["_sx"])) / 1e12 / n, 12)
    vraw = round(float(int(g["_sxx"])) / 1e12 / n - m * m, 12)
    v = max(vraw, float(var_floor))
    s = exact_pico_sums(
        base,
        {
            "_sl": F.when(F.col("_x") <= m, F.col("_x")).otherwise(0.0),
            "_su": F.when(F.col("_x") > m, F.col("_x")).otherwise(0.0),
        },
        long_terms={
            "_n1": F.when(F.col("_x") <= m, 1).otherwise(0)
        },
    ).collect()[0]
    n1 = int(s["_n1"])
    n2 = n - n1
    if n1 == 0 or n2 == 0:
        mu1 = mu2 = m
        pi1 = 0.5
    else:
        mu1 = round(float(int(s["_sl"])) / 1e12 / n1, 12)
        mu2 = round(float(int(s["_su"])) / 1e12 / n2, 12)
        pi1 = round(n1 / n, 12)
    v1 = v2 = v
    ll = None
    for _ in range(int(iterations)):
        l1 = (
            F.lit(math.log(pi1))
            - F.lit(0.5 * math.log(2.0 * math.pi * v1))
            - (F.col("_x") - F.lit(mu1))
            * (F.col("_x") - F.lit(mu1))
            / F.lit(2.0 * v1)
        )
        l2 = (
            F.lit(math.log(1.0 - pi1))
            - F.lit(0.5 * math.log(2.0 * math.pi * v2))
            - (F.col("_x") - F.lit(mu2))
            * (F.col("_x") - F.lit(mu2))
            / F.lit(2.0 * v2)
        )
        dlt = F.greatest(F.least(l1 - l2, F.lit(30.0)), F.lit(-30.0))
        r1 = F.lit(1.0) / (F.lit(1.0) + F.exp(-dlt))
        lse = F.greatest(l1, l2) + F.log(
            F.lit(1.0) + F.exp(F.least(l1, l2) - F.greatest(l1, l2))
        )
        # component-2 sufficient statistics are the EXACT integer
        # complements of the init totals (Σ(1−r₁)·t = Σt − Σr₁·t on
        # the pico grid up to per-row rounding, which this DEFINES
        # away): 4 streams per round instead of 7 — the pico
        # aggregation is the measured per-pass cost
        row = exact_pico_sums(
            base,
            {
                "_r1": r1,
                "_r1x": r1 * F.col("_x"),
                "_r1xx": r1 * F.col("_x") * F.col("_x"),
                "_ll": lse,
            },
        ).collect()[0]
        ll = round(float(int(row["_ll"])) / 1e12 / n, 12)
        sr1 = float(int(row["_r1"]))
        sr2 = float(n * 10**12 - int(row["_r1"]))
        if sr1 <= 0 or sr2 <= 0:
            break  # one component died; keep last parameters
        mu1 = round(float(int(row["_r1x"])) / sr1, 12)
        mu2 = round(float(S1 - int(row["_r1x"])) / sr2, 12)
        v1 = max(
            round(float(int(row["_r1xx"])) / sr1 - mu1 * mu1, 12),
            float(var_floor),
        )
        v2 = max(
            round(float(S2 - int(row["_r1xx"])) / sr2 - mu2 * mu2, 12),
            float(var_floor),
        )
        pi1 = round(sr1 / 1e12 / n, 12)
    base.unpersist()
    return _gmm2_frame(
        df.sparkSession, n, int(iterations), pi1, mu1, v1, mu2, v2, ll
    )


def _gmm2_frame(
    spark, n, iterations, pi1, mu1, v1, mu2, v2, ll
) -> DataFrame:
    """Shared 2-row output frame — the distributed and the driver
    :func:`gmm2_train` arms both return through here."""
    return spark.createDataFrame(
        [
            (1, round(pi1, 6), round(mu1, 6), round(v1 ** 0.5, 6),
             n, int(iterations), round(ll, 6)),
            (2, round(1.0 - pi1, 6), round(mu2, 6),
             round(v2 ** 0.5, 6), n, int(iterations), round(ll, 6)),
        ],
        "component int, weight double, mu double, sigma double, "
        "n_rows long, iterations int, mean_loglik double",
    ).orderBy("component")


def _gmm2_driver(
    xs: "object", iterations: int, var_floor: float
) -> "tuple":
    """Driver twin of the :func:`gmm2_train` passes — identical init
    (exact pico global mean/variance, side means split at the mean),
    identical per-round expressions (constant terms folded in double
    arithmetic exactly as Catalyst folds the literal pair, the same
    left-associative products, ±30 clamp with the Spark least/greatest
    NaN flow, log-sum-exp identity), HALF_UP pico rounding, exact
    integer sums, and the same 12-dp parameter rounding between
    rounds. exp/log kernels are np vs JVM (both ≤1 ulp); parity is
    pinned gate-toggled on a bimodal fixture
    (tests/test_clustering.py) and was verified bit-identical on the
    real data at sf0.001/0.01/0.1."""
    import math

    import numpy as np

    from metadata_etl_framework_spark.ops.driver_exact import pico_sum

    n = xs.size
    S1 = pico_sum(xs)
    S2 = pico_sum(xs * xs)
    m = round(float(S1) / 1e12 / n, 12)
    vraw = round(float(S2) / 1e12 / n - m * m, 12)
    v = max(vraw, float(var_floor))
    low = xs <= m
    n1 = int(low.sum())
    n2 = n - n1
    if n1 == 0 or n2 == 0:
        mu1 = mu2 = m
        pi1 = 0.5
    else:
        sl = pico_sum(np.where(low, xs, 0.0))
        su = pico_sum(np.where(low, 0.0, xs))
        mu1 = round(float(sl) / 1e12 / n1, 12)
        mu2 = round(float(su) / 1e12 / n2, 12)
        pi1 = round(n1 / n, 12)
    v1 = v2 = v
    ll = None
    for _ in range(int(iterations)):
        c1 = math.log(pi1) - 0.5 * math.log(2.0 * math.pi * v1)
        c2 = math.log(1.0 - pi1) - 0.5 * math.log(2.0 * math.pi * v2)
        d1 = xs - mu1
        l1 = c1 - d1 * d1 / (2.0 * v1)
        d2 = xs - mu2
        l2 = c2 - d2 * d2 / (2.0 * v2)
        t = l1 - l2
        dlt = np.maximum(np.minimum(t, 30.0), -30.0)
        dlt = np.where(np.isnan(t), 30.0, dlt)
        r1 = 1.0 / (1.0 + np.exp(-dlt))
        hi = np.maximum(l1, l2)
        lo = np.minimum(l1, l2)
        lse = hi + np.log(1.0 + np.exp(lo - hi))
        sr1i = pico_sum(r1)
        sr1x = pico_sum(r1 * xs)
        sr1xx = pico_sum(r1 * xs * xs)
        sll = pico_sum(lse)
        ll = round(float(sll) / 1e12 / n, 12)
        sr1 = float(sr1i)
        sr2 = float(n * 10**12 - sr1i)
        if sr1 <= 0 or sr2 <= 0:
            break  # one component died; keep last parameters
        mu1 = round(float(sr1x) / sr1, 12)
        mu2 = round(float(S1 - sr1x) / sr2, 12)
        v1 = max(
            round(float(sr1xx) / sr1 - mu1 * mu1, 12),
            float(var_floor),
        )
        v2 = max(
            round(float(S2 - sr1xx) / sr2 - mu2 * mu2, 12),
            float(var_floor),
        )
        pi1 = round(sr1 / 1e12 / n, 12)
    return pi1, mu1, v1, mu2, v2, ll


def dbscan_grid(
    df: DataFrame,
    id_col: str,
    feature_cols: "list[str]",
    eps: float,
    min_samples: int,
    max_iterations: int = 25,
) -> DataFrame:
    """Native distributed DBSCAN — the density-based clustering /
    anomaly method of the reference (anomaly_manager.py:162-180, a
    sklearn bridge there) re-expressed as a grid-cell candidate join,
    the Spark-first scale path alongside the pandas-bridge arm in
    quality/anomaly.py.

    Algorithm (ε-grid candidate generation — the MR-DBSCAN family
    shape, He et al. 2011):
    1. every point lands in the grid cell ``floor(x_i / eps)`` per
       dimension; any two points within ε differ by at most 1 cell per
       dimension, so the EXACT ε-neighbor pairs are found by joining
       each point against the 3^d neighboring cells (a row-scale
       explode of ≤27 offsets, then ONE equi-shuffle join on the cell
       key) and filtering true squared distance ≤ ε² — never all
       pairs;
    2. a point is CORE when (neighbors within ε) + 1 ≥ ``min_samples``
       (the sklearn counting convention — the point itself counts);
    3. clusters are the connected components of the core-core ε-graph
       (ops/dedup.py::connected_components — hash-min label
       propagation, cluster id = component-minimum core id);
    4. non-core points within ε of a core point become BORDER points
       of the SMALLEST adjacent core's cluster id (classic DBSCAN
       leaves border assignment order-dependent; the min rule is the
       deterministic, oracle-replayable resolution — documented
       tie-break, not a correctness fudge);
    5. everything else is NOISE (null cluster).

    Scale shape: the explode fans each row out ≤ 3^d times (d ≤ 3
    enforced — higher-d density work belongs to the LSH-bucketed
    path, ops/similarity.py::lof_scores_bucketed); the cell equi-join
    shuffles on the cell key, where AQE's skew splitting handles hot
    cells; neighbor counts and border argmin are map-side-combinable
    aggregations; the core-core component loop is O(log diameter)
    rounds (or the driver union-find fast path under the measured
    edge gate). Distance arithmetic is fixed-order IEEE doubles —
    (xa−xb)² summed in declaration order — so an oracle replays it
    bit-for-bit.

    Output: (``id_col``, role string core|border|noise, cluster_id
    nullable same-type-as-id, n_neighbors long — ε-neighbors
    EXCLUDING self).
    """
    if eps <= 0:
        raise ValueError("eps must be > 0")
    if min_samples < 1:
        raise ValueError("min_samples must be >= 1")
    d = len(feature_cols)
    if not 1 <= d <= 3:
        raise ValueError(
            "dbscan_grid supports 1-3 feature dims (3^d cell offsets);"
            " use the LSH-bucketed density path for high-d embeddings"
        )
    from itertools import product

    from metadata_etl_framework_spark.ops.dedup import (
        connected_components,
    )

    fx = [f"_x{i}" for i in range(d)]
    cond = F.col(id_col).isNotNull()
    for c in feature_cols:
        cond = cond & F.col(c).isNotNull()
    pts = df.where(cond).select(
        F.col(id_col).alias("_id"),
        *[
            F.col(c).cast("double").alias(fx[i])
            for i, c in enumerate(feature_cols)
        ],
    )
    cell = [F.floor(F.col(fx[i]) / F.lit(float(eps))) for i in range(d)]
    persisted: "list[DataFrame]" = []
    pts = pts.select(
        "_id", *fx, *[cell[i].alias(f"_c{i}") for i in range(d)]
    ).persist()
    persisted.append(pts)
    pts.count()
    # ≤27 neighbor-cell offsets as an exploded literal array — a
    # row-scale projection, no join, no driver loop
    offs = F.array(
        *[
            F.struct(
                *[
                    F.lit(int(o[i])).alias(f"_o{i}")
                    for i in range(d)
                ]
            )
            for o in product((-1, 0, 1), repeat=d)
        ]
    )
    probe = pts.select(
        F.col("_id").alias("_ida"),
        *[F.col(fx[i]).alias(f"_xa{i}") for i in range(d)],
        F.explode(offs).alias("_o"),
        *[F.col(f"_c{i}") for i in range(d)],
    ).select(
        "_ida",
        *[f"_xa{i}" for i in range(d)],
        *[
            (F.col(f"_c{i}") + F.col(f"_o._o{i}")).alias(f"_tc{i}")
            for i in range(d)
        ],
    )
    dist2 = None
    for i in range(d):
        t = (F.col(f"_xa{i}") - F.col(fx[i])) * (
            F.col(f"_xa{i}") - F.col(fx[i])
        )
        dist2 = t if dist2 is None else dist2 + t
    pairs = (
        probe.join(
            pts,
            [
                probe[f"_tc{i}"] == pts[f"_c{i}"]
                for i in range(d)
            ],
        )
        .where(
            (F.col("_ida") != F.col("_id"))
            & (dist2 <= F.lit(float(eps) * float(eps)))
        )
        .select(F.col("_ida").alias("id_a"), F.col("_id").alias("id_b"))
        .persist()
    )
    persisted.append(pairs)
    ncnt = pairs.groupBy(F.col("id_a").alias("_id")).agg(
        F.count(F.lit(1)).alias("_n")
    )
    stats = pts.select("_id").join(ncnt, "_id", "left").select(
        "_id", F.coalesce(F.col("_n"), F.lit(0)).alias("_n")
    )
    stats = stats.persist()
    persisted.append(stats)
    core = stats.where(
        F.col("_n") + F.lit(1) >= F.lit(int(min_samples))
    ).select("_id")
    core_pairs = (
        pairs.join(core.withColumnRenamed("_id", "id_a"), "id_a")
        .join(core.withColumnRenamed("_id", "id_b"), "id_b")
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
    )
    cc = connected_components(
        core_pairs, src="id_a", dst="id_b",
        max_iterations=max_iterations,
    ).select(F.col("node").alias("_id"), "cluster_id")
    # isolated cores (min_samples-dense but no core neighbor) form
    # singleton clusters: their own id
    core_lab = core.join(cc, "_id", "left").select(
        "_id",
        F.coalesce(F.col("cluster_id"), F.col("_id")).alias("_cl"),
    )
    border_lab = (
        pairs.join(
            core_lab.select(
                F.col("_id").alias("id_b"), F.col("_cl")
            ),
            "id_b",
        )
        .join(
            core_lab.select(F.col("_id").alias("id_a")),
            "id_a",
            "left_anti",
        )
        .groupBy(F.col("id_a").alias("_id"))
        .agg(F.min("_cl").alias("_bl"))
    )
    out = (
        stats.join(
            core_lab.withColumnRenamed("_cl", "_core_cl"), "_id", "left"
        )
        .join(
            border_lab.withColumnRenamed("_bl", "_border_cl"),
            "_id",
            "left",
        )
        .select(
            F.col("_id").alias(id_col),
            F.when(F.col("_core_cl").isNotNull(), F.lit("core"))
            .when(F.col("_border_cl").isNotNull(), F.lit("border"))
            .otherwise(F.lit("noise"))
            .alias("role"),
            F.coalesce(F.col("_core_cl"), F.col("_border_cl")).alias(
                "cluster_id"
            ),
            F.col("_n").cast("long").alias("n_neighbors"),
        )
    )
    # O(points) output: eager leaf so the three intermediates above can
    # be released here instead of leaking past the return (the r8 leak
    # class the persist lint guards against)
    out = out.localCheckpoint(eager=True)
    for h in persisted:
        h.unpersist()
    return out
