"""Item-item collaborative filtering: cosine neighbors + top-N recs.

The recommendation counterpart to ops/affinity.py's association table:
affinity answers "which items co-occur more than chance" (lift), this
module answers "which items are SIMILAR under the user-interaction
geometry" (cosine over the user-item matrix) and turns the neighbor
table into per-user top-N recommendations — the classic item-based CF
of Sarwar et al. (WWW '01), which is the industry-scale baseline
because the expensive artifact (the item-item model) is tiny and the
per-user scoring is a bounded equi-join.

The reference's analytics plane has no recommendation surface
(cf. /root/reference/src/transformations/transform_engine.py — joins
and aggregations only); this is beyond-reference capability.

Scale design (the reason item-based CF survives 100 TB):
- Interactions reduce to DISTINCT (user, item[, rating]) first — one
  groupBy; multiplicity within a user is not co-occurrence signal.
- Candidate pairs come from a self-equi-join ON THE USER KEY, never a
  cross join; work is Σ_u m_u² over per-user item counts, so the
  ``max_user_items`` gate drops degenerate mega-users (a crawler
  account with 10⁴ items contributes 10⁸ pairs and no signal — the
  standard pruning in production CF).
- The neighbor model is top-k bounded when ``top_k_per_item`` is set:
  at most |items|·k rows (a pair survives if either endpoint ranks it
  in its top k), orders of magnitude smaller than the interaction
  table, so the scoring join broadcasts in the common case — and
  ``recommend_items`` gates the broadcast on an actual row count with
  a shuffle-join fallback, so an unbounded model cannot OOM anything.
- Binary mode keeps every statistic an exact integer ratio
  (cosine = n_ab / √(n_a·n_b)); rating mode accumulates dot products
  in DECIMAL so results are merge-order independent.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from metadata_etl_framework_spark.ops.driver_exact import (
    column_np,
    driver_table,
    pico_int,
)
from metadata_etl_framework_spark.ops.materialize import BCAST_MAX_ROWS

__all__ = [
    "item_item_cosine",
    "recommend_items",
    "als_factorize",
    "als_evaluate",
    "als_recommend",
    "popularity_recommend",
    "recsys_eval_coverage",
]

_DEC = "decimal(30,10)"

# Driver twin caps for item-item cosine: at or under these bounds the
# deduped interaction frame crosses the driver_table seam once and
# candidate generation runs on an exact vectorized twin — integer
# co-occurrence counts, correctly-rounded sqrt and 6-dp rounds, so the
# twin is bit-exact by construction (no transcendental kernels). Above
# any bound the distributed chain is unchanged — the right plan at
# catalog scale.
CF_DRIVER_MAX_ROWS = 2_000_000
CF_DRIVER_MAX_PAIRS = 20_000_000
CF_DRIVER_MAX_ITEMS = 4_096


def _np_orderable(arr) -> bool:
    """True when numpy sorts `arr` exactly like Spark orders the
    column: any numeric dtype, or strings that are pure ASCII (both
    engines then compare the same code units)."""
    import numpy as np

    if arr.dtype != object:
        return True
    for v in arr:
        if not isinstance(v, str):
            return False
        if not v.isascii():
            return False
    return True


def _item_cosine_driver(
    spark, ucode, icode, items, item_type, min_cooc, shrinkage,
    top_k_per_item,
):
    """Driver twin of the binary-mode :func:`item_item_cosine` chain
    over factorized distinct (user, item) codes: per-user item pairs
    (ia < ib in VALUE order — np.unique codes are value-sorted),
    exact integer co-occurrence counts, the same cos/shrink/round
    expressions (counts convert to double exactly; sqrt is correctly
    rounded in both engines), and the same either-endpoint top-k
    prune. Returns the stats frame the shared orderBy tail sorts."""
    import numpy as np
    import pandas as pd

    from metadata_etl_framework_spark.ops.driver_exact import (
        spark_round_f64,
    )

    L = len(items)
    n_i = np.bincount(icode, minlength=L).astype(np.int64)
    # per-user blocks over the (value-sorted) distinct codes
    order = np.lexsort((icode, ucode))
    iu = icode[order]
    uu_sorted = ucode[order]
    starts = np.nonzero(
        np.concatenate(([True], uu_sorted[1:] != uu_sorted[:-1]))
    )[0]
    ends = np.concatenate((starts[1:], [len(iu)]))
    ks = ends - starts
    # pair generation grouped by identical user-degree k (vectorized
    # k×k grids; #distinct k ≤ CF_DRIVER_MAX_ITEMS)
    pa_parts, pb_parts = [], []
    for k in np.unique(ks):
        if k < 2:
            continue
        s = starts[ks == k]
        block = iu[(s[:, None] + np.arange(k)[None, :])]
        a_i, b_i = np.triu_indices(int(k), k=1)
        pa_parts.append(block[:, a_i].reshape(-1))
        pb_parts.append(block[:, b_i].reshape(-1))
    if pa_parts:
        pa = np.concatenate(pa_parts)
        pb = np.concatenate(pb_parts)
        keys, cab = np.unique(pa * np.int64(L) + pb, return_counts=True)
        ia = (keys // L).astype(np.int64)
        ib = (keys % L).astype(np.int64)
        cab = cab.astype(np.int64)
    else:
        ia = ib = cab = np.zeros(0, dtype=np.int64)
    keep = cab >= int(min_cooc)
    ia, ib, cab = ia[keep], ib[keep], cab[keep]
    cos = cab.astype(np.float64) / np.sqrt(
        n_i[ia].astype(np.float64) * n_i[ib].astype(np.float64)
    )
    shrunk = cos * (
        cab.astype(np.float64)
        / (cab.astype(np.float64) + float(shrinkage))
    )
    cos6 = spark_round_f64(cos, 6)
    shr6 = spark_round_f64(shrunk, 6)
    if top_k_per_item is not None and len(ia):
        kk = int(top_k_per_item)
        si = np.concatenate([ia, ib])
        sj = np.concatenate([ib, ia])
        sv = np.concatenate([shr6, shr6])
        pair = np.concatenate([np.arange(len(ia)), np.arange(len(ia))])
        o2 = np.lexsort((sj, -sv, si))
        sio = si[o2]
        firsts = np.concatenate(([True], sio[1:] != sio[:-1]))
        gstart = np.maximum.accumulate(
            np.where(firsts, np.arange(len(sio)), 0)
        )
        rn = np.arange(len(sio)) - gstart
        kept_pairs = np.zeros(len(ia), dtype=bool)
        kept_pairs[pair[o2][rn < kk]] = True
        ia, ib = ia[kept_pairs], ib[kept_pairs]
        cab = cab[kept_pairs]
        cos6, shr6 = cos6[kept_pairs], shr6[kept_pairs]
    pdf = pd.DataFrame(
        {
            "item_a": items[ia],
            "item_b": items[ib],
            "n_cooc": cab,
            "cosine": cos6,
            "shrunk_cosine": shr6,
        }
    )
    t = item_type.simpleString()
    return spark.createDataFrame(
        pdf,
        f"item_a {t}, item_b {t}, n_cooc long, cosine double, "
        "shrunk_cosine double",
    )


def item_item_cosine(
    df: DataFrame,
    user_col: str,
    item_col: str,
    rating_col: str | None = None,
    min_cooc: int = 1,
    shrinkage: float = 0.0,
    max_user_items: int | None = None,
    top_k_per_item: int | None = None,
) -> DataFrame:
    """Unordered item-pair cosine similarity over the user-item matrix.

    Binary mode (``rating_col=None``): each distinct (user, item) is a
    1, so cosine(a,b) = n_ab / sqrt(n_a · n_b) — exact integer counts
    under a single closed-form division. Rating mode: duplicate
    (user, item) ratings are summed, dot products and squared norms
    accumulate in DECIMAL(30,10) for engine-portable exactness.

    ``shrinkage`` λ damps low-evidence pairs by n/(n+λ) (the standard
    significance shrink); ``min_cooc`` prunes pairs below the support
    floor BEFORE the statistics join.

    ``top_k_per_item`` bounds the model to ≤ |items|·k pairs: the
    canonical pair frame is symmetrized, each item ranks its neighbors
    by (shrunk_cosine desc, neighbor asc), and a pair survives if
    EITHER endpoint ranks it within k (the standard kNN-graph prune —
    one-sided pruning would orphan popular items from rare ones). This
    is what makes the downstream scoring model broadcast-sized at any
    corpus scale.

    Output: (item_a, item_b, n_cooc long, cosine, shrunk_cosine —
    6 dp), item_a < item_b, ordered shrunk desc then items asc.
    """
    base = df.where(
        F.col(user_col).isNotNull() & F.col(item_col).isNotNull()
    )
    if rating_col is None:
        inter = (
            base.select(
                F.col(user_col).alias("_u"), F.col(item_col).alias("_i")
            )
            .dropDuplicates(["_u", "_i"])
            .withColumn("_r", F.lit(1).cast("decimal(18,6)"))
        )
    else:
        # per-(user,item) ratings round to 6 dp and carry as
        # DECIMAL(18,6): the (37,12) products stay exact under the
        # 38-digit cap in EVERY engine (a (30,10)² product would
        # overflow/denature one side or the other — the CUPED moment
        # convention)
        inter = base.groupBy(
            F.col(user_col).alias("_u"), F.col(item_col).alias("_i")
        ).agg(
            F.round(F.sum(F.col(rating_col).cast(_DEC)), 6)
            .cast("decimal(18,6)")
            .alias("_r")
        )
    if max_user_items is not None:
        w = Window.partitionBy("_u")
        inter = (
            inter.withColumn("_sz", F.count(F.lit(1)).over(w))
            .where(F.col("_sz") <= int(max_user_items))
            .drop("_sz")
        )
    # the deduped user-item frame feeds THREE consumers (norms + both
    # sides of the pair self-join) — persist so the upstream
    # interaction pipeline computes once, not three times; the default
    # MEMORY_AND_DISK level spills gracefully at fact scale, where the
    # recompute it replaces is three full scan+shuffle passes.
    # Released after the eager O(pairs) output leaf below.
    inter = inter.persist()
    # oversized catalogs, pair blowups or non-orderable key values fall
    # back to the distributed chain below
    tbl = (
        driver_table(
            inter.select("_u", "_i"), CF_DRIVER_MAX_ROWS, size=inter.count
        )
        if rating_col is None and max_user_items is None
        else None
    )
    if tbl is not None:
        import numpy as np

        u_np = column_np(tbl, "_u")
        i_np = column_np(tbl, "_i")
        items, icode = np.unique(i_np, return_inverse=True)
        L = len(items)
        if L and _np_orderable(items):
            _, ucode = np.unique(u_np, return_inverse=True)
            ks = np.bincount(ucode).astype(np.float64)
            if (
                L <= CF_DRIVER_MAX_ITEMS
                and float(np.sum(ks * ks)) <= CF_DRIVER_MAX_PAIRS
            ):
                stats = _item_cosine_driver(
                    df.sparkSession,
                    ucode.astype(np.int64),
                    icode.astype(np.int64),
                    items,
                    df.schema[item_col].dataType,
                    int(min_cooc),
                    float(shrinkage),
                    top_k_per_item,
                )
                inter.unpersist()
                return stats.orderBy(
                    F.desc("shrunk_cosine"),
                    F.asc("item_a"),
                    F.asc("item_b"),
                )
    norms = inter.groupBy("_i").agg(
        F.count(F.lit(1)).alias("_n"),
        F.sum(F.col("_r") * F.col("_r")).alias("_sq"),
    )
    a = inter.select("_u", F.col("_i").alias("_ia"), F.col("_r").alias("_ra"))
    b = inter.select("_u", F.col("_i").alias("_ib"), F.col("_r").alias("_rb"))
    pairs = (
        a.join(b, "_u")
        .where(F.col("_ia") < F.col("_ib"))
        .groupBy("_ia", "_ib")
        .agg(
            F.count(F.lit(1)).alias("_cab"),
            F.sum(F.col("_ra") * F.col("_rb")).alias("_dot"),
        )
        .where(F.col("_cab") >= int(min_cooc))
    )
    na = norms.select(F.col("_i").alias("_ia"), F.col("_sq").alias("_sqa"))
    nb = norms.select(F.col("_i").alias("_ib"), F.col("_sq").alias("_sqb"))
    cos = (
        F.col("_dot").cast("double")
        / F.sqrt(F.col("_sqa").cast("double") * F.col("_sqb").cast("double"))
    )
    shrunk = cos * (
        F.col("_cab").cast("double")
        / (F.col("_cab").cast("double") + F.lit(float(shrinkage)))
    )
    stats = (
        pairs.join(na, "_ia")
        .join(nb, "_ib")
        .select(
            F.col("_ia").alias("item_a"),
            F.col("_ib").alias("item_b"),
            F.col("_cab").cast("long").alias("n_cooc"),
            F.round(cos, 6).alias("cosine"),
            F.round(shrunk, 6).alias("shrunk_cosine"),
        )
    )
    if top_k_per_item is not None:
        # symmetrize carrying the stats (no join-back needed: both
        # directions of a pair share them), rank neighbors per item,
        # keep a pair if either endpoint ranks it within k, then dedup
        # the two directions back to the canonical a<b row
        sym = stats.withColumn("_i", F.col("item_a")).withColumn(
            "_j", F.col("item_b")
        ).unionByName(
            stats.withColumn("_i", F.col("item_b")).withColumn(
                "_j", F.col("item_a")
            )
        )
        wk = Window.partitionBy("_i").orderBy(
            F.desc("shrunk_cosine"), F.asc("_j")
        )
        stats = (
            sym.withColumn("_rk", F.row_number().over(wk))
            .where(F.col("_rk") <= int(top_k_per_item))
            .select("item_a", "item_b", "n_cooc", "cosine", "shrunk_cosine")
            .dropDuplicates(["item_a", "item_b"])
        )
    # eager O(pairs) model leaf, then release the interaction cache —
    # the leaf is what every downstream consumer (symmetrize, scoring,
    # audits) re-reads, so nothing re-executes the self-join
    stats = stats.localCheckpoint(eager=True)
    inter.unpersist()
    return stats.orderBy(
        F.desc("shrunk_cosine"), F.asc("item_a"), F.asc("item_b")
    )


def recommend_items(
    interactions: DataFrame,
    sims: DataFrame,
    user_col: str,
    item_col: str,
    top_n: int = 3,
    include_seen: bool = False,
    broadcast_max_rows: int = 5_000_000,
) -> DataFrame:
    """Per-user top-N items scored by summed neighbor similarity.

    score(u, j) = Σ_{i ∈ items(u)} sim(i, j) over the symmetrized
    neighbor table from :func:`item_item_cosine` (``shrunk_cosine`` is
    the similarity). Seen items are anti-joined out unless
    ``include_seen``. Scores accumulate as DECIMAL(20,6) over the
    6-dp similarities, so ranking is merge-order independent and the
    (score desc, item asc) tie-break is deterministic across engines.

    The scoring join broadcasts the neighbor model only when its
    MEASURED size (post-symmetrization rows, counted off the
    materialized checkpoint) is ≤ ``broadcast_max_rows``; above that —
    e.g. a model built without ``top_k_per_item`` on a large catalog —
    it falls back to a plain shuffle join with identical results
    instead of OOMing the driver. Set ``broadcast_max_rows=0`` to
    force the shuffle path.

    Output: (user, item, score 6 dp, rank), rank ≤ ``top_n``.
    """
    seen = (
        interactions.where(
            F.col(user_col).isNotNull() & F.col(item_col).isNotNull()
        )
        .select(
            F.col(user_col).alias("_u"), F.col(item_col).alias("_i")
        )
        .dropDuplicates(["_u", "_i"])
    )
    # seen feeds TWO consumers (the scoring join and the unseen
    # anti-join) — persist so the interaction dedup computes once;
    # released after the eager O(users·top_n) output leaf below
    seen = seen.persist()
    # the neighbor model is item-pair-bounded (tiny next to the
    # interactions); materialize it ONCE — the symmetrize union below
    # references it twice and would otherwise recompute the entire
    # similarity pipeline per branch (measured 2x on the brand query)
    sims = sims.localCheckpoint(eager=True)
    sym = sims.select(
        F.col("item_a").alias("_i"),
        F.col("item_b").alias("_j"),
        F.col("shrunk_cosine").alias("_s"),
    ).unionByName(
        sims.select(
            F.col("item_b").alias("_i"),
            F.col("item_a").alias("_j"),
            F.col("shrunk_cosine").alias("_s"),
        )
    )
    # broadcast only when the model is measurably small: the count is
    # a cheap scan of the checkpointed blocks, and 2×|pairs| is the
    # exact symmetrized row count the executors would have to hold.
    # Above the gate, pin the SORT-MERGE form explicitly: the
    # checkpointed leaf carries real size statistics (the eager
    # checkpoint above materializes it), and a planner estimate must not
    # be allowed to override the caller's measured ceiling with an
    # auto-broadcast — the whole point of the gate is that broadcast
    # size is governed by the count, not an estimate.
    if 2 * sims.count() <= int(broadcast_max_rows):
        sym = F.broadcast(sym)
    else:
        sym = sym.hint("merge")
    scored = (
        seen.join(sym, "_i")
        .groupBy("_u", "_j")
        .agg(F.sum(F.col("_s").cast("decimal(20,6)")).alias("_score"))
    )
    if not include_seen:
        scored = scored.join(
            seen.select(
                F.col("_u"), F.col("_i").alias("_j")
            ),
            ["_u", "_j"],
            "left_anti",
        )
    w = Window.partitionBy("_u").orderBy(F.desc("_score"), F.asc("_j"))
    out = (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= int(top_n))
        .select(
            F.col("_u").alias("user"),
            F.col("_j").alias("item"),
            F.round(F.col("_score").cast("double"), 6).alias("score"),
            F.col("rank").cast("int").alias("rank"),
        )
    )
    # eager O(users·top_n) output leaf, then release the seen cache
    out = out.localCheckpoint(eager=True)
    seen.unpersist()
    return out.orderBy("user", "rank")


def _als_driver_py(
    spark,
    arrs: "tuple",
    u_type,
    it_type,
    user_col: str,
    item_col: str,
    rounds: int,
    reg: float,
) -> "tuple[DataFrame, DataFrame]":
    """Driver-side replica of the :func:`als_factorize` half-rounds
    over Arrow-transferred ``(__u, __it, __r)`` arrays: same portable-hash
    item init, same per-row pico products (the double multiply THEN
    the exact HALF_UP integer round — driver_exact.round_half_up_int64
    replicates ``F.round(e·1e12)`` bit-for-bit), exact integer group
    sums, the same double-cast closed-form adjugate solve, and the
    same 12-dp HALF_UP coefficient rounding between halves
    (driver_exact.spark_round). NULL-factor rows drop out of every
    sum exactly as Spark's null-skipping aggregates drop them; a key
    with no surviving rows solves to NULL factors like the
    ``F.when(det != 0)`` guard. Bit-identical by construction."""
    u, it, rr = arrs
    uu, pf1, pf2, itu, qf1, qf2 = _als_driver_core(
        u, it, rr, rounds, reg
    )

    import pandas as pd

    def _frame(keys, f1, f2, name, ktype):
        pdf = pd.DataFrame(
            {name: keys, "f1": f1, "f2": f2}
        )
        # NaN marks NULL factors for the createDataFrame path
        pdf["f1"] = pdf["f1"].astype(object).where(pdf["f1"].notna(), None)
        pdf["f2"] = pdf["f2"].astype(object).where(pdf["f2"].notna(), None)
        return spark.createDataFrame(
            pdf,
            f"{name} {ktype.simpleString()}, f1 double, f2 double",
        )

    return (
        _frame(uu, pf1, pf2, user_col, u_type),
        _frame(itu, qf1, qf2, item_col, it_type),
    )


def _als_driver_core(
    u: "object",
    it: "object",
    rr: "object",
    rounds: int,
    reg: float,
) -> "tuple":
    """Array core of :func:`_als_driver_py` (int64 keys, float64
    ratings): returns (user_keys, uf1, uf2, item_keys, if1, if2) with
    NaN marking NULL factors."""
    import numpy as np

    from metadata_etl_framework_spark.ops.driver_exact import (
        hash32_i64,
        round_half_up_int64,
        spark_round_f64,
    )

    uu, ui = np.unique(u, return_inverse=True)
    itu, iti = np.unique(it, return_inverse=True)

    def _init_side(keys: "np.ndarray") -> "tuple":
        h1 = hash32_i64(keys).astype(np.float64)
        h2 = hash32_i64(keys + 7919).astype(np.float64)
        f1 = spark_round_f64(h1 / 4294967296.0 - 0.5, 12)
        f2 = spark_round_f64(h2 / 4294967296.0 - 0.5, 12)
        return f1, f2

    qf1, qf2 = _init_side(itu)
    reg_pico = pico_int(reg)

    def _half(gidx, n_groups, of1, of2, oidx):
        # factor gather for each rating row's other-side key
        f1 = of1[oidx]
        f2 = of2[oidx]
        ok = ~(np.isnan(f1) | np.isnan(f2))
        g = gidx[ok]
        f1k, f2k, rk = f1[ok], f2[ok], rr[ok]
        cnt = np.zeros(n_groups, dtype=np.int64)
        np.add.at(cnt, g, 1)
        maxg = int(cnt.max()) if n_groups else 0
        sums = np.zeros((5, n_groups), dtype=np.int64)
        prods = (f1k * f1k, f1k * f2k, f2k * f2k, rk * f1k, rk * f2k)
        for i, pvals in enumerate(prods):
            v = round_half_up_int64(pvals * 1e12)
            # int64 accumulation is exact only while partial sums fit;
            # bound by the LARGEST GROUP (the sums are per group, so
            # total row count is the wrong multiplier — the former
            # bound tripped a per-row Python dict loop on every
            # rating-product stream at the benched scale)
            if len(v) and int(np.max(np.abs(v))) * max(maxg, 1) >= (
                1 << 62
            ):
                # exact vectorized hi/lo split: per-group int64 sums
                # of v >> 26 and the 26-bit remainder cannot overflow
                # (|hi| ≤ 6e10 under the round_half_up_int64 domain,
                # lo < 2^26, group rows ≤ len(v)); the Python-int
                # combine is arbitrary-precision and the final int64
                # store raises loudly if a true group total exceeds
                # int64 (the distributed DECIMAL(38,0) arm is the
                # path for such magnitudes)
                hi = v >> np.int64(26)
                lo = v - (hi << np.int64(26))
                shi = np.zeros(n_groups, dtype=np.int64)
                slo = np.zeros(n_groups, dtype=np.int64)
                np.add.at(shi, g, hi)
                np.add.at(slo, g, lo)
                sums[i] = np.array(
                    [
                        (int(a) << 26) + int(b)
                        for a, b in zip(shi.tolist(), slo.tolist())
                    ],
                    dtype=np.int64,
                )
            else:
                np.add.at(sums[i], g, v)
        a11 = (sums[0] + reg_pico).astype(np.float64)
        a12 = sums[1].astype(np.float64)
        a22 = (sums[2] + reg_pico).astype(np.float64)
        b1 = sums[3].astype(np.float64)
        b2 = sums[4].astype(np.float64)
        det = a11 * a22 - a12 * a12
        nf1 = np.full(n_groups, np.nan)
        nf2 = np.full(n_groups, np.nan)
        live = (cnt > 0) & (det != 0)
        d = det[live]
        nf1[live] = spark_round_f64(
            (a22[live] * b1[live] - a12[live] * b2[live]) / d, 12
        )
        nf2[live] = spark_round_f64(
            (a11[live] * b2[live] - a12[live] * b1[live]) / d, 12
        )
        return nf1, nf2

    pf1 = pf2 = None
    for _ in range(int(rounds)):
        pf1, pf2 = _half(ui, len(uu), qf1, qf2, iti)
        qf1, qf2 = _half(iti, len(itu), pf1, pf2, ui)
    return uu, pf1, pf2, itu, qf1, qf2


# Driver twin cap for ALS: a ratings table at or under this many rows
# crosses the driver_table seam once (three numeric columns — ≤ ~48 MB
# at the cap) and the four half-rounds run vectorized on the driver in
# well under a second, versus ~5-7 s of broadcast-build + shuffle jobs for
# the distributed halves at the benched scale. Same 2M-row measured
# gate as the GLM trainers (GLM_DRIVER_MAX_ROWS) and BCAST_MAX_ROWS —
# the transfer is O(ratings) of three numerics, the same byte budget
# as the GLM projection at its gate. Above it the distributed
# half-rounds are unchanged — the right plan at fact scale.
ALS_DRIVER_MAX_ROWS = 2_000_000


def als_factorize(
    df: DataFrame,
    user_col: str,
    item_col: str,
    rating_col: str,
    rounds: int = 2,
    reg: float = 0.1,
) -> "tuple[DataFrame, DataFrame]":
    """ALS matrix factorization at rank 2 — implicit/explicit-feedback
    factors beyond the item-item CF above (the reference's analytics
    plane has no factorization surface;
    cf. /root/reference/src/transformations/transform_engine.py).
    Alternating ridge solves on the ops/glm.py machinery: each half
    round is ONE groupBy over the ratings joined with the other side's
    factors, collecting the per-key 2×2 normal equations as pico-unit
    (×10¹²) DECIMAL(38,0) sums (merge-order free), then the closed-form
    adjugate solve AS COLUMN ARITHMETIC — millions of independent 2×2
    solves run fully distributed, no driver loop, no ML runtime.

    Rank is FIXED at 2: the regime where the per-key solve is exact
    closed-form column math that a SQL oracle unrolls bit-for-bit
    (the glm_linear convention — integer sums → double casts in a
    pinned op order → 12-dp coefficient rounding between half-rounds).
    Item factors initialize from the portable hash
    (ops/sketch.py::hash32 → uniform in [−0.5, 0.5), 12 dp), so the
    whole training run is deterministic in ANY engine.

    Scale: per round, two shuffles of the ratings (by user, by item) +
    two factor joins. Factor frames are PERSISTED (not checkpointed)
    between half-rounds and released before return; the single lineage
    cut is ONE eager localCheckpoint over the tagged union of the two
    final factor frames — an interleaved min-of-3 A/B at sf0.1
    measured 3.96 s for this shape vs 5.4–6.4 s for the former
    per-half cuts (five persist+count+checkpoint cycles: the checkpoint
    copies dominated on O(keys) frames). The returned
    frames are narrow reads of that one leaf, so no cache entries
    outlive the call. λ > 0 keeps every 2×2 system non-singular (cold
    keys included).

    Returns ``(user_factors, item_factors)`` — (key, f1, f2) each.
    """
    if rounds < 1:
        raise ValueError("rounds must be >= 1")
    if not reg > 0:
        raise ValueError("reg must be > 0 (singular cold-key solves)")
    from metadata_etl_framework_spark.ops.sketch import hash32

    base = df.where(
        F.col(user_col).isNotNull()
        & F.col(item_col).isNotNull()
        & F.col(rating_col).isNotNull()
    ).select(
        F.col(user_col).alias("__u"),
        F.col(item_col).alias("__it"),
        F.col(rating_col).cast("double").alias("__r"),
    )
    base = base.persist()
    n_ratings = base.count()

    from pyspark.sql.types import IntegralType

    u_type = df.schema[user_col].dataType
    it_type = df.schema[item_col].dataType
    # non-integral key columns stay on the distributed arm (the
    # portable-hash init is defined on integer keys and the replica's
    # arrays are int64)
    tbl = (
        driver_table(base, ALS_DRIVER_MAX_ROWS, size=n_ratings)
        if isinstance(u_type, IntegralType)
        and isinstance(it_type, IntegralType)
        else None
    )
    if tbl is not None:
        import numpy as np

        base.unpersist()
        arrs = (
            column_np(tbl, "__u", np.int64),
            column_np(tbl, "__it", np.int64),
            column_np(tbl, "__r", np.float64),
        )
        return _als_driver_py(
            df.sparkSession,
            arrs,
            u_type,
            it_type,
            user_col,
            item_col,
            int(rounds),
            float(reg),
        )

    # half-round materialization is a bare persist (no count, no
    # checkpoint): the next half's broadcast build populates the cache
    # on demand, so each half still executes exactly once, without the
    # per-half count job and checkpoint copy of the former
    # persist+count+checkpoint form (measured: see docstring). Handles are
    # released after the single end-of-op leaf below.
    _handles: list[DataFrame] = []

    def _mat(d: DataFrame) -> DataFrame:
        cached = d.persist()
        _handles.append(cached)
        return cached

    # factor frames are O(keys) two-double rows; keys ≤ ratings, so a
    # small ratings count proves them broadcastable — every half-round
    # join then goes map-side (the graph move-round gate convention).
    # Above the gate the equi-shuffle join stands, the right plan at
    # fact scale.
    small = n_ratings <= BCAST_MAX_ROWS
    bc = F.broadcast if small else (lambda d: d)
    q = _mat(
        base.select("__it")
        .distinct()
        .select(
            F.col("__it").alias("__k"),
            F.round(
                hash32(F.col("__it")) / F.lit(4294967296.0)
                - F.lit(0.5),
                12,
            ).alias("__f1"),
            F.round(
                hash32(F.col("__it") + F.lit(7919))
                / F.lit(4294967296.0)
                - F.lit(0.5),
                12,
            ).alias("__f2"),
        )
    )
    reg_pico = pico_int(reg)

    def _pico(e):
        return F.round(e * F.lit(1e12)).cast("decimal(38,0)")

    def _half(gkey: str, okey: str, factors: DataFrame) -> DataFrame:
        j = base.join(
            bc(factors.withColumnRenamed("__k", okey)), okey
        )
        s = j.groupBy(gkey).agg(
            F.sum(_pico(F.col("__f1") * F.col("__f1"))).alias("a11"),
            F.sum(_pico(F.col("__f1") * F.col("__f2"))).alias("a12"),
            F.sum(_pico(F.col("__f2") * F.col("__f2"))).alias("a22"),
            F.sum(_pico(F.col("__r") * F.col("__f1"))).alias("b1"),
            F.sum(_pico(F.col("__r") * F.col("__f2"))).alias("b2"),
        )
        a11 = (F.col("a11") + F.lit(reg_pico)).cast("double")
        a12 = F.col("a12").cast("double")
        a22 = (F.col("a22") + F.lit(reg_pico)).cast("double")
        b1 = F.col("b1").cast("double")
        b2 = F.col("b2").cast("double")
        det = a11 * a22 - a12 * a12
        # det == 0 is reachable (rank-1 normal matrix at reg=0); under
        # the session's pinned ANSI mode a bare divide would raise
        # DIVIDE_BY_ZERO engine-wide, so null the factors for that key
        # instead (the pre-ANSI null-flow contract)
        return _mat(
            s.select(
                F.col(gkey).alias("__k"),
                F.round(
                    F.when(det != 0, (a22 * b1 - a12 * b2) / det), 12
                ).alias("__f1"),
                F.round(
                    F.when(det != 0, (a11 * b2 - a12 * b1) / det), 12
                ).alias("__f2"),
            )
        )

    p = None
    for r in range(rounds):
        p = _half("__u", "__it", q)
        q = _half("__it", "__u", p)
    # ONE eager leaf over the tagged union of the two final factor
    # frames (instead of a checkpoint per half): executing it drains
    # every pending cache exactly once, and the returned frames are
    # narrow filters of the leaf — so all persist handles (and the
    # ratings cache) can be released here with nothing left to
    # recompute. Under the measured gate the leaf coalesces (the
    # union stacks two shuffle-partition arms over O(keys) rows).
    both = p.select(F.lit(0).alias("__side"), "__k", "__f1", "__f2")
    both = both.unionByName(
        q.select(F.lit(1).alias("__side"), "__k", "__f1", "__f2")
    )
    if small:
        both = both.coalesce(8)
    both = both.localCheckpoint(eager=True)
    for h in _handles:
        h.unpersist()
    base.unpersist()
    uf = both.where(F.col("__side") == 0).select(
        F.col("__k").alias(user_col),
        F.col("__f1").alias("f1"),
        F.col("__f2").alias("f2"),
    )
    itf = both.where(F.col("__side") == 1).select(
        F.col("__k").alias(item_col),
        F.col("__f1").alias("f1"),
        F.col("__f2").alias("f2"),
    )
    return uf, itf


def als_evaluate(
    df: DataFrame,
    user_factors: DataFrame,
    item_factors: DataFrame,
    user_col: str,
    item_col: str,
    rating_col: str,
) -> DataFrame:
    """Training-set fit of an :func:`als_factorize` model in one pass:
    RMSE of r − p·q over the rated pairs, pico-int squared-error sums
    (merge-order free, oracle-exact). Output: 1 row —
    (n_ratings, n_users, n_items, rmse 6 dp)."""
    j = (
        df.where(
            F.col(user_col).isNotNull()
            & F.col(item_col).isNotNull()
            & F.col(rating_col).isNotNull()
        )
        .join(
            user_factors.select(
                user_col,
                F.col("f1").alias("__pf1"),
                F.col("f2").alias("__pf2"),
            ),
            user_col,
        )
        .join(
            item_factors.select(
                item_col,
                F.col("f1").alias("__qf1"),
                F.col("f2").alias("__qf2"),
            ),
            item_col,
        )
    )
    err = F.col(rating_col).cast("double") - (
        F.col("__pf1") * F.col("__qf1")
        + F.col("__pf2") * F.col("__qf2")
    )
    agg = j.agg(
        F.count(F.lit(1)).alias("n_ratings"),
        F.countDistinct(F.col(user_col)).alias("n_users"),
        F.countDistinct(F.col(item_col)).alias("n_items"),
        F.sum(
            F.round(err * err * F.lit(1e12)).cast("decimal(38,0)")
        ).alias("__sse"),
    )
    return agg.select(
        F.col("n_ratings").cast("long").alias("n_ratings"),
        F.col("n_users").cast("long").alias("n_users"),
        F.col("n_items").cast("long").alias("n_items"),
        F.round(
            F.sqrt(
                F.col("__sse").cast("double")
                / F.lit(1e12)
                / F.col("n_ratings")
            ),
            6,
        ).alias("rmse"),
    )


def als_recommend(
    ratings: DataFrame,
    user_factors: DataFrame,
    item_factors: DataFrame,
    user_col: str,
    item_col: str,
    top_n: int = 5,
    max_items: int = 100_000,
) -> DataFrame:
    """Top-N unseen-item recommendations from an :func:`als_factorize`
    model: score(u, i) = p_u · q_i over the user × item grid with the
    ITEM FACTORS BROADCAST (catalogs are the bounded side — the
    measured count must be ≤ ``max_items`` or this raises and points
    at the ANN path: index the item factors with ops/similarity.py's
    IVF/LSH and query per user), seen pairs anti-joined out, then one
    per-user window for the top N. Scores round to 6 dp with
    (score DESC, item ASC) deterministic ordering — oracle-replayable
    like :func:`recommend_items`.

    Output: (user, item, score, rank), ≤ top_n rows per user.
    """
    n_items = item_factors.count()
    if n_items > max_items:
        raise ValueError(
            f"als_recommend: {n_items} items > max_items={max_items} "
            f"— broadcast scoring is the bounded-catalog path; index "
            f"the item factors with ops/similarity.py (IVF/LSH) for "
            f"larger catalogs"
        )
    uf = user_factors.select(
        F.col(user_col).alias("__u"),
        F.col("f1").alias("__pf1"),
        F.col("f2").alias("__pf2"),
    )
    itf = item_factors.select(
        F.col(item_col).alias("__i"),
        F.col("f1").alias("__qf1"),
        F.col("f2").alias("__qf2"),
    )
    seen = ratings.select(
        F.col(user_col).alias("__u"), F.col(item_col).alias("__i")
    ).distinct()
    scored = (
        uf.crossJoin(F.broadcast(itf))
        .join(seen, ["__u", "__i"], "left_anti")
        .select(
            "__u",
            "__i",
            F.round(
                F.col("__pf1") * F.col("__qf1")
                + F.col("__pf2") * F.col("__qf2"),
                6,
            ).alias("score"),
        )
    )
    w = Window.partitionBy("__u").orderBy(
        F.col("score").desc(), F.col("__i").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= int(top_n))
        .select(
            F.col("__u").alias(user_col),
            F.col("__i").alias(item_col),
            "score",
            "rank",
        )
    )


def popularity_recommend(
    interactions: DataFrame,
    user_col: str,
    item_col: str,
    n: int = 5,
    max_catalog: int = 100_000,
) -> DataFrame:
    """Popularity-baseline recommender: for each user, the top-``n``
    most-popular items they have NOT interacted with — the baseline
    every personalized recommender must beat (and the cold-start
    fallback production systems actually ship). Deterministic:
    popularity = distinct-user count per item, ranked (count DESC,
    item ASC).

    Scale shape: interactions reduce to DISTINCT (user, item) first;
    the candidate side is the popularity-ranked catalog, which is
    broadcast-crossed onto users ONLY when a MEASURED count shows the
    catalog fits (≤ ``max_catalog``; brand/category-level catalogs do,
    item-level ones should go through the CF/ALS scoring paths) —
    each user then anti-filters seen items and keeps n via one
    partitioned window. Work is |users|·|catalog| with a bounded build
    side, never |users|²     .

    Output: (user, item, pop long, rn int), rn = 1..n per user.
    """
    if n < 1:
        raise ValueError("n must be >= 1")
    ui = (
        interactions.where(
            F.col(user_col).isNotNull() & F.col(item_col).isNotNull()
        )
        .select(
            F.col(user_col).alias("user"), F.col(item_col).alias("item")
        )
        .distinct()
    )
    pop = ui.groupBy("item").agg(
        F.count(F.lit(1)).alias("pop")
    )
    n_items = pop.count()
    if n_items > max_catalog:
        raise ValueError(
            f"popularity_recommend: catalog {n_items} > "
            f"max_catalog={max_catalog} — the user × catalog cross is "
            f"only safe for bounded catalogs; use the CF/ALS paths"
        )
    users = ui.select("user").distinct()
    seen = ui.withColumn("_seen", F.lit(1))
    cand = (
        users.join(F.broadcast(pop), how="cross")
        .join(seen, ["user", "item"], "left")
        .where(F.col("_seen").isNull())
    )
    w = Window.partitionBy("user").orderBy(
        F.col("pop").desc(), F.col("item").asc()
    )
    return (
        cand.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= int(n))
        .select("user", "item", "pop", F.col("rn").cast("int"))
    )


def recsys_eval_coverage(
    recs: DataFrame,
    interactions: DataFrame,
    user_col: str = "user",
    item_col: str = "item",
) -> DataFrame:
    """Beyond-accuracy recommendation audit: catalog coverage, novelty
    and aggregate diversity of a recommendation table — the metrics
    that catch a recommender collapsing onto its head items even while
    RMSE/precision look fine.

    - coverage: distinct recommended items / catalog size (catalog =
      distinct items in ``interactions``).
    - novelty: mean self-information −log₂(pop_i/|users|) over ALL
      recommendation rows (pop_i = distinct users who interacted with
      i) — recommending only blockbusters scores low. Items never
      interacted with carry the maximum self-information −log₂(1/|users|)
      ... they have no popularity; such rows are EXCLUDED and counted
      (``n_unscored``) rather than given an arbitrary score.
    - rec_gini: Gini concentration of recommendation counts across the
      FULL catalog (never-recommended items enter as zeros) via the
      exact rank formula G = (2·Σ i·x₍ᵢ₎ − (n+1)·Σx)/(n·Σx) — tie-safe
      (equal values commute) and integer-exact until one divide.

    Novelty terms round to pico-ints and sum as DECIMAL(38,0); all
    counts are exact. Output: 1 row — (n_users long, n_rec_rows long,
    catalog_size long, items_recommended long, n_unscored long,
    coverage 6 dp, novelty_bits 6 dp, rec_gini 6 dp).
    """
    ui = (
        interactions.where(
            F.col(user_col).isNotNull() & F.col(item_col).isNotNull()
        )
        .select(
            F.col(user_col).alias("user"), F.col(item_col).alias("item")
        )
        .distinct()
    )
    pop = ui.groupBy("item").agg(F.count(F.lit(1)).alias("pop"))
    nu = ui.select(
        F.count_distinct(F.col("user")).alias("n_users")
    )
    r = recs.select(
        F.col(user_col).alias("user"), F.col(item_col).alias("item")
    )
    rcount = r.groupBy("item").agg(F.count(F.lit(1)).alias("rc"))
    # novelty over rec rows joined to popularity
    nov = (
        r.join(pop, "item", "left")
        .crossJoin(F.broadcast(nu))
        .agg(
            F.count(F.lit(1)).alias("n_rec_rows"),
            F.sum(
                F.when(F.col("pop").isNull(), 1).otherwise(0)
            ).alias("n_unscored"),
            F.sum(
                F.when(
                    F.col("pop").isNotNull(),
                    F.round(
                        -F.log2(
                            F.col("pop")
                            / F.col("n_users").cast("double")
                        )
                        * F.lit(1e12)
                    ).cast("decimal(38,0)"),
                )
            ).alias("_nov"),
            F.max("n_users").alias("n_users"),
        )
    )
    # gini over the full catalog, zeros included
    grid = pop.select("item").join(rcount, "item", "left").na.fill(
        {"rc": 0}
    )
    wg = Window.orderBy(F.col("rc").asc(), F.col("item").asc())
    gini = (
        grid.withColumn("_i", F.row_number().over(wg))
        .agg(
            F.count(F.lit(1)).alias("catalog_size"),
            F.sum(
                (F.col("_i").cast("decimal(38,0)") * F.col("rc"))
            ).alias("_ix"),
            F.sum(F.col("rc").cast("decimal(38,0)")).alias("_sx"),
            F.sum(
                F.when(F.col("rc") > 0, 1).otherwise(0)
            ).alias("items_recommended"),
        )
    )
    return (
        nov.crossJoin(F.broadcast(gini))
        .select(
            F.col("n_users").cast("long").alias("n_users"),
            F.col("n_rec_rows").cast("long").alias("n_rec_rows"),
            F.col("catalog_size").cast("long").alias("catalog_size"),
            F.col("items_recommended").cast("long").alias(
                "items_recommended"
            ),
            F.col("n_unscored").cast("long").alias("n_unscored"),
            F.round(
                F.col("items_recommended")
                / F.col("catalog_size").cast("double"),
                6,
            ).alias("coverage"),
            F.round(
                F.when(
                    (F.col("n_rec_rows") - F.col("n_unscored")) > 0,
                    F.col("_nov").cast("double")
                    / F.lit(1e12)
                    / (F.col("n_rec_rows") - F.col("n_unscored")),
                ),
                6,
            ).alias("novelty_bits"),
            F.round(
                F.when(
                    F.col("_sx") > 0,
                    (
                        F.lit(2.0) * F.col("_ix").cast("double")
                        - (F.col("catalog_size") + F.lit(1)).cast(
                            "double"
                        )
                        * F.col("_sx").cast("double")
                    )
                    / (
                        F.col("catalog_size").cast("double")
                        * F.col("_sx").cast("double")
                    ),
                ),
                6,
            ).alias("rec_gini"),
        )
    )
