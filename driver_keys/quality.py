"""Data-quality keys: DQ rules, anomaly detection, profiling and privacy
audits."""

from __future__ import annotations

from pyspark.sql import functions as F

from metadata_etl_framework_spark.functions import duplicate_rows, join_data
from metadata_etl_framework_spark.quality.rules import compile_rule
from metadata_etl_framework_spark.quality.anomaly import (
    detect_iqr,
    detect_moving_average,
    detect_zscore,
    ensemble_vote,
)

from driver_keys.common import _dsum, _hash32_cte_sql, _t
from driver_keys.registry import oracle_of, register


# --------------------------------------------------------------------------
# profiling / DQ rules
# --------------------------------------------------------------------------

def _profile_quantity(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return li.agg(
        F.count(F.lit(1)).alias("cnt"),
        (F.count(F.lit(1)) - F.count("l_quantity")).alias("null_cnt"),
        F.count_distinct("l_quantity").alias("n_distinct"),
        F.min("l_quantity").alias("min_q"),
        F.max("l_quantity").alias("max_q"),
        (_dsum("l_quantity", "decimal(18,2)") / F.count("l_quantity")).alias("mean_q"),
        F.round(F.stddev_samp("l_quantity"), 6).alias("std_q"),
        F.round(F.percentile("l_quantity", F.lit(0.5)), 6).alias("median_q"),
    )


def _profile_global_quantiles(spark, sf_dir):
    """Scale-safe EXACT whole-table quantiles with linear interpolation
    (functions/aggregations.py::global_quantiles): per-value counts +
    two-phase prefix scan for ranks — never one task's heap, unlike a
    global F.percentile. DuckDB's quantile_cont replays it exactly."""
    from metadata_etl_framework_spark.functions.aggregations import (
        global_quantiles,
    )

    li = _t(spark, sf_dir, "lineitem")
    # release=False: keep the LAZY plan so the driver/bench/plan-audit
    # see the real prefix-scan shape (library default eagerly frees the
    # scan cache for long-lived monitoring sessions)
    return global_quantiles(
        li, "l_extendedprice", (0.1, 0.25, 0.5, 0.75, 0.9, 0.99),
        release=False,
    )


def _anomaly_robust_z_by_type(spark, sf_dir):
    """Per-group robust modified z over event values (quality/
    anomaly.py::detect_robust_zscore_grouped): each event type gets its
    own median/MAD, catching per-segment extremes a global scan
    misses."""
    from metadata_etl_framework_spark.quality.anomaly import (
        detect_robust_zscore_grouped,
    )

    ev = _t(spark, sf_dir, "events")
    return detect_robust_zscore_grouped(
        ev, "value", "event_id", ["event_type"]
    )


def _profile_all_columns(spark, sf_dir):
    """Single-pass multi-column profile (profile_columns) — exact fields
    only (count/null/distinct/min/max); mean/std are order-dependent
    double sums and stay out of the cross-engine hash."""
    from metadata_etl_framework_spark.functions import profile_columns

    orders = _t(spark, sf_dir, "orders")
    prof = profile_columns(
        orders, ["o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus"],
        include_moments=False,  # entry compares exact fields only
    )
    return prof.select("column", "count", "null_count", "distinct", "min", "max")


def _dq_not_null(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    return ev.agg(
        (F.count(F.lit(1)) - F.count("user_id")).alias("user_id_nulls"),
        (F.count(F.lit(1)) - F.count("props")).alias("props_nulls"),
        (F.count(F.lit(1)) - F.count("value")).alias("value_nulls"),
        F.count(F.lit(1)).alias("total_rows"),
    )


def _dq_value_range(spark, sf_dir):
    orders = _t(spark, sf_dir, "orders")
    viol = (F.col("o_totalprice") < 2000.0) | (F.col("o_totalprice") > 450000.0)
    return orders.agg(
        F.count(F.when(viol, F.lit(1))).alias("range_violations"),
        F.count(F.lit(1)).alias("total_rows"),
    )


def _dq_allowed_values(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    allowed = ["click", "view", "purchase", "signup", "error"]
    return ev.agg(
        F.count(
            F.when(F.col("event_type").isNotNull() & ~F.col("event_type").isin(allowed), 1)
        ).alias("violations"),
        F.count(F.lit(1)).alias("total_rows"),
    )


def _dq_pk_unique(spark, sf_dir):
    orders = _t(spark, sf_dir, "orders")
    dups = (
        orders.groupBy("o_orderkey")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") > 1)
    )
    return dups.agg(F.count(F.lit(1)).alias("dup_key_count"))


def _dq_duplicate_rows(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return duplicate_rows(li, ["l_orderkey"]).agg(F.count(F.lit(1)).alias("dup_rows"))


def _dq_referential(spark, sf_dir):
    """Both referential directions in ONE full-outer join + ONE aggregation
    (instead of two independent anti-join/agg branches): orphan lineitem
    rows have no part match, unused parts have no lineitem match. Valid
    because p_partkey is unique — the join never duplicates lineitem rows."""
    li = _t(spark, sf_dir, "lineitem").select("l_partkey")
    part = _t(spark, sf_dir, "part").select("p_partkey")
    j = li.join(part, li.l_partkey == part.p_partkey, "full_outer")
    return j.agg(
        F.count(
            F.when(F.col("p_partkey").isNull() & F.col("l_partkey").isNotNull(), 1)
        ).alias("orphan_lineitems"),
        F.count(F.when(F.col("l_partkey").isNull(), 1)).alias("unused_parts"),
    )


def _dq_cross_field(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    viol = (
        F.col("l_discount").isNotNull()
        & F.col("l_tax").isNotNull()
        & (F.col("l_discount") > F.col("l_tax"))
    )
    return li.agg(
        F.count(F.when(viol, 1)).alias("violations"),
        F.count(F.lit(1)).alias("total_rows"),
    )


def _dq_date_sequence(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    j = join_data(li, orders, "inner", left_on="l_orderkey", right_on="o_orderkey")
    return j.agg(
        F.count(F.when(F.col("l_shipdate") < F.col("o_orderdate"), 1)).alias(
            "ship_before_order"
        ),
        F.count(F.lit(1)).alias("total_rows"),
    )


def _dq_freshness(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    as_of = F.lit("2024-01-25 00:00:00").cast("timestamp")
    return ev.agg(
        F.count(F.when(F.col("ts") > as_of, 1)).alias("future_rows"),
        F.count(F.when(F.col("ts") < F.lit("2024-01-05 00:00:00").cast("timestamp"), 1)).alias(
            "stale_rows"
        ),
        F.count(F.lit(1)).alias("total_rows"),
    )


def _dq_completeness(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    cols = ["doc_id", "text", "lang", "source", "n_chars"]
    null_total = None
    for c in cols:
        term = F.count(F.lit(1)) - F.count(c)
        null_total = term if null_total is None else null_total + term
    return docs.agg(
        F.round(
            null_total.cast("double") / (F.count(F.lit(1)) * len(cols)), 6
        ).alias("null_cell_ratio"),
        F.count(F.lit(1)).alias("total_rows"),
    )


# --------------------------------------------------------------------------
# anomaly detection
# --------------------------------------------------------------------------

def _anomaly_zscore(spark, sf_dir):
    return detect_zscore(_t(spark, sf_dir, "events"), "value", "event_id", 3.0)


def _anomaly_iqr(spark, sf_dir):
    return detect_iqr(_t(spark, sf_dir, "events"), "value", "event_id", 1.5)


def _anomaly_robust_zscore(spark, sf_dir):
    """Median/MAD modified z-score (Iglewicz-Hoaglin 0.6745 scaling) —
    the outlier-resistant arm the mean/std z can't be; exact quantiles
    through the gated single-task/prefix-scan machinery
    (quality/anomaly.py::detect_robust_zscore)."""
    from metadata_etl_framework_spark.quality.anomaly import (
        detect_robust_zscore,
    )

    return detect_robust_zscore(
        _t(spark, sf_dir, "events"), "value", "event_id", 3.5
    )


def _anomaly_ensemble(spark, sf_dir):
    """Majority vote across z-score (|z|>2.5) and IQR (1.5×) detectors:
    keys flagged by BOTH survive (min_votes=2 of 2)."""
    ev = _t(spark, sf_dir, "events")
    z = detect_zscore(ev, "value", "event_id", 2.5)
    iqr = detect_iqr(ev, "value", "event_id", 1.5)
    return ensemble_vote([z, iqr], "event_id", min_votes=2).select("event_id", "votes")


def _anomaly_moving_avg(spark, sf_dir):
    return detect_moving_average(
        _t(spark, sf_dir, "events"),
        "value",
        "event_id",
        "event_id",
        partition_by=("user_id",),
        window_size=10,
        threshold=2.5,
    )


def _dq_rules_onepass(spark, sf_dir):
    """Multi-rule single-pass evaluation: every rule compiles to a failure
    mask and ALL counts come from ONE aggregation over orders (SURVEY
    §2.10 design note — 1 scan, not N scans)."""
    orders = _t(spark, sf_dir, "orders")
    rules = [
        {"type": "not_null", "column": "o_custkey"},
        {"type": "value_range", "column": "o_totalprice", "min": 2000.0, "max": 450000.0},
        {"type": "allowed_values", "column": "o_orderstatus", "allowed_values": ["F", "O", "P"]},
        {"type": "future_dates", "column": "o_orderdate", "as_of": "1998-08-02 00:00:00"},
        {"type": "cross_field", "operator": "<=", "field1": "o_orderkey", "field2": "o_orderkey"},
    ]
    aggs = [F.count(F.lit(1)).alias("total_rows")] + [
        F.sum(compile_rule(r).cast("long")).alias(f"fail_{r['type']}") for r in rules
    ]
    return orders.agg(*aggs)


def _dq_rules_by_source(spark, sf_dir):
    """Per-segment DQ evaluation (quality/rules.py::
    evaluate_rules_by_group): every rule's failure count and pass rate
    per document source in ONE grouped pass — the slice-level quality a
    global score hides."""
    from metadata_etl_framework_spark.quality.rules import (
        evaluate_rules_by_group,
    )

    docs = _t(spark, sf_dir, "documents")
    rules = [
        {"name": "text_not_null", "type": "not_null", "column": "text"},
        {"name": "len_range", "type": "value_range", "column": "n_chars",
         "min": 100, "max": 4000},
        {"name": "lang_allowed", "type": "allowed_values", "column": "lang",
         "allowed_values": ["en", "es", "de"]},
    ]
    return evaluate_rules_by_group(docs, rules, ["source"])


def _metric_row(df, rule: str, metric_col: str, total_col: str | None = "total_rows"):
    total = (
        F.col(total_col).cast("long") if total_col else F.lit(None).cast("long")
    )
    return df.select(
        F.lit(rule).alias("rule"),
        F.col(metric_col).cast("double").alias("metric"),
        total.alias("total_rows"),
    )


def _dq_suite(spark, sf_dir):
    """Every DQ rule family as (rule, metric, total_rows) rows — one driver
    entry covering SURVEY §2.10 (the granular single-rule entries live in
    extra_queries()). Adds required_fields (dq_rule_examples.py:199-273).

    ONE aggregation per table: all six events-rules come from a single
    events scan, both orders row-rules from a single orders scan (the
    SURVEY §2.10 one-pass design applied across the whole suite) — at
    corpus scale the big table is scanned once, not once per rule. Only
    the structurally different rules (groupBy-dup, joins) add passes."""
    from functools import reduce as _reduce

    ev = _t(spark, sf_dir, "events")
    allowed = ["click", "view", "purchase", "signup", "error"]
    as_of = F.lit("2024-01-25 00:00:00").cast("timestamp")
    ev_agg = ev.agg(
        (F.count(F.lit(1)) - F.count("user_id")).alias("user_id_nulls"),
        (F.count(F.lit(1)) - F.count("props")).alias("props_nulls"),
        (F.count(F.lit(1)) - F.count("value")).alias("value_nulls"),
        F.count(
            F.when(F.col("event_type").isNotNull()
                   & ~F.col("event_type").isin(allowed), 1)
        ).alias("allowed_violations"),
        F.count(F.when(F.col("ts") > as_of, 1)).alias("future_rows"),
        F.count(
            F.when(F.col("ts") < F.lit("2024-01-05 00:00:00").cast("timestamp"), 1)
        ).alias("stale_rows"),
        F.count(F.lit(1)).alias("total_rows"),
    )
    range_viol = (F.col("o_totalprice") < 2000.0) | (F.col("o_totalprice") > 450000.0)
    orders_agg = _t(spark, sf_dir, "orders").agg(
        F.count(F.when(F.col("o_totalprice").isNotNull() & range_viol, 1)).alias(
            "range_violations"
        ),
        F.sum(
            compile_rule(
                {"type": "required_fields",
                 "columns": ["o_orderkey", "o_custkey", "o_orderdate"]}
            ).cast("long")
        ).alias("rf_violations"),
        F.count(F.lit(1)).alias("total_rows"),
    )
    ref = _dq_referential(spark, sf_dir)
    # stack() reshapes each 1-row agg into its rule rows INSIDE one plan
    # branch — a union of N selects over the same agg frame would replay
    # the scan N times (no cross-branch common-subplan reuse guarantee)
    ev_rows = ev_agg.selectExpr(
        """stack(6,
            'not_null:user_id',         CAST(user_id_nulls AS DOUBLE),      total_rows,
            'not_null:props',           CAST(props_nulls AS DOUBLE),        total_rows,
            'not_null:value',           CAST(value_nulls AS DOUBLE),        total_rows,
            'allowed_values:event_type',CAST(allowed_violations AS DOUBLE), total_rows,
            'freshness:future_rows',    CAST(future_rows AS DOUBLE),        total_rows,
            'freshness:stale_rows',     CAST(stale_rows AS DOUBLE),         total_rows
        ) AS (rule, metric, total_rows)"""
    )
    orders_rows = orders_agg.selectExpr(
        """stack(2,
            'value_range:o_totalprice', CAST(range_violations AS DOUBLE), total_rows,
            'required_fields:orders',   CAST(rf_violations AS DOUBLE),    total_rows
        ) AS (rule, metric, total_rows)"""
    )
    ref_rows = ref.selectExpr(
        """stack(2,
            'referential:orphan_lineitems', CAST(orphan_lineitems AS DOUBLE), CAST(NULL AS BIGINT),
            'referential:unused_parts',     CAST(unused_parts AS DOUBLE),     CAST(NULL AS BIGINT)
        ) AS (rule, metric, total_rows)"""
    )
    parts = [
        ev_rows,
        orders_rows,
        _metric_row(_dq_pk_unique(spark, sf_dir),
                    "pk_unique:o_orderkey", "dup_key_count", None),
        _metric_row(_dq_duplicate_rows(spark, sf_dir),
                    "duplicate_rows:l_orderkey", "dup_rows", None),
        ref_rows,
        _metric_row(_dq_cross_field(spark, sf_dir),
                    "cross_field:l_discount_gt_tax", "violations"),
        _metric_row(_dq_date_sequence(spark, sf_dir),
                    "date_sequence:ship_before_order", "ship_before_order"),
        _metric_row(_dq_completeness(spark, sf_dir),
                    "completeness:documents_null_ratio", "null_cell_ratio"),
    ]
    return _reduce(lambda a, b: a.unionByName(b), parts)


def _anomaly_suite(spark, sf_dir):
    """zscore / IQR / moving-average / ensemble detectors as one tagged
    suite (method, event_id, value, score).

    Shared-stats design: the narrow (event_id, user_id, value) projection
    is cached so events.parquet is READ ONCE; the two-pass decimal-exact
    mean/std and the IQR bounds come off the cache, get broadcast, and
    ALL FOUR detectors — zscore@3.0, iqr, ensemble = zscore@2.5 ∧ iqr,
    and the rolling moving-average z (a window over the same projection)
    — evaluate in ONE scored projection whose matches explode into
    tagged rows (single branch-explode). Two-pass variance is kept
    deliberately: the oracle computes sum((x-mean)^2) the same way, so
    values stay bit-identical to the standalone detectors in
    quality/anomaly.py, which the extra_queries() entries keep
    verifying. (A one-pass E[x^2] variance would save the second stats
    pass but puts a catastrophic-cancellation term behind the
    cross-engine decimal→double cast — rejected for parity safety.)
    Local caveat: at sf0.1 the cache read is ~0.3 s slower than three
    pruned parquet re-scans; the cache still wins at cluster scale,
    where it converts 3 full-table reads into 1 + a spillable columnar
    replay."""
    from pyspark.storagelevel import StorageLevel

    ev = (
        _t(spark, sf_dir, "events")
        .select("event_id", "user_id", "value")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    s1 = ev.agg(
        F.sum(F.col("value").cast("decimal(27,6)")).cast("double").alias("_sum"),
        F.count("value").alias("_n"),
        F.percentile("value", F.lit(0.25)).alias("_q1"),
        F.percentile("value", F.lit(0.75)).alias("_q3"),
    ).select(
        F.when(F.col("_n") > 0, F.col("_sum") / F.col("_n")).alias("_mean"),
        "_n", "_q1", "_q3",
    )
    s2 = (
        ev.crossJoin(F.broadcast(s1))
        .agg(
            F.sum(
                ((F.col("value") - F.col("_mean")) * (F.col("value") - F.col("_mean")))
                .cast("decimal(30,12)")
            ).cast("double").alias("_ss"),
            F.first("_mean").alias("_mean"),
            F.first("_n").alias("_n"),
            F.first("_q1").alias("_q1"),
            F.first("_q3").alias("_q3"),
        )
        .select(
            "_mean",
            F.when(
                F.col("_n") > 1, F.sqrt(F.col("_ss") / (F.col("_n") - 1))
            ).alias("_std"),
            (F.col("_q1") - 1.5 * (F.col("_q3") - F.col("_q1"))).alias("_lo"),
            (F.col("_q3") + 1.5 * (F.col("_q3") - F.col("_q1"))).alias("_hi"),
        )
    )
    z = F.when(
        F.col("_std") > 0, (F.col("value") - F.col("_mean")) / F.col("_std")
    )
    iqr_flag = (F.col("value") < F.col("_lo")) | (F.col("value") > F.col("_hi"))
    # rolling moving-average z over the SAME cached projection (same exact
    # decimal rolling sums as quality/anomaly.py::detect_moving_average,
    # window_size=10, threshold=2.5) — windowed BEFORE the broadcast join
    # so the shuffle moves only the narrow projection, not the stat columns
    from pyspark.sql import Window as _W

    mw = _W.partitionBy("user_id").orderBy("event_id").rowsBetween(-9, 0)
    v = F.col("value")
    ms = F.sum(v.cast("decimal(18,6)")).over(mw).cast("double")
    mss = F.sum((v * v).cast("decimal(28,10)")).over(mw).cast("double")
    mn = F.count("value").over(mw)
    mvar = F.when(mn > 1, F.greatest((mss - ms * ms / mn) / (mn - 1), F.lit(0.0)))
    msd = F.sqrt(mvar)
    maz = F.when(msd > 0, (v - ms / mn) / msd)
    scored = (
        ev.withColumn("_ma_n", mn)
        .withColumn("_ma_sd", msd)
        .withColumn("_ma_z", maz)
        .crossJoin(F.broadcast(s2))
        .withColumn("_z", z)
        .withColumn("_iqr", iqr_flag)
    )
    branches = F.array(
        F.when(
            F.abs(F.col("_z")) > 3.0,
            F.struct(
                F.lit("zscore").alias("method"), F.col("event_id"),
                F.col("value"), F.round("_z", 6).alias("score"),
            ),
        ),
        F.when(
            F.col("_iqr"),
            F.struct(
                F.lit("iqr").alias("method"), F.col("event_id"),
                F.col("value"), F.lit(None).cast("double").alias("score"),
            ),
        ),
        F.when(
            (F.abs(F.col("_z")) > 2.5) & F.col("_iqr"),
            F.struct(
                F.lit("ensemble").alias("method"), F.col("event_id"),
                F.lit(None).cast("double").alias("value"),
                F.lit(2.0).alias("score"),
            ),
        ),
        F.when(
            (F.col("_ma_n") > 1) & (F.col("_ma_sd") > 0)
            & (F.abs(F.col("_ma_z")) > 2.5),
            F.struct(
                F.lit("moving_avg").alias("method"), F.col("event_id"),
                F.col("value"), F.round("_ma_z", 6).alias("score"),
            ),
        ),
    )
    return scored.select(
        F.explode(F.filter(branches, lambda x: x.isNotNull())).alias("r")
    ).select("r.*")


def _dq_benford_totalprice(spark, sf_dir):
    """Benford first-digit conformance of o_totalprice: observed vs
    log10(1+1/d) shares + chi-square (quality/benford.py)."""
    from metadata_etl_framework_spark.quality.benford import (
        benford_first_digit,
    )

    orders = _t(spark, sf_dir, "orders")
    return benford_first_digit(orders, "o_totalprice")


def _anomaly_dbscan_embeddings(spark, sf_dir):
    """Native distributed DBSCAN (ops/clustering.py::dbscan_grid) over
    the first two embedding dimensions — the reference's density-based
    anomaly method (anomaly_manager.py:162-180, a sklearn bridge
    there) as a grid-cell candidate join + core-core connected
    components, never all-pairs. eps=0.05, min_samples=15 on the
    ~N(0, 0.1²) synthetic dims gives a genuine core/border/noise mix.
    The oracle replays the exact ε-pair set (brute-force in DuckDB —
    the grid is candidate pruning, provably the same pairs), the
    sklearn-convention core rule, hash-min components over core-core
    edges (recursive CTE), and the deterministic min-adjacent-core
    border rule."""
    from metadata_etl_framework_spark.ops.clustering import dbscan_grid

    emb = _t(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.element_at("embedding", 1).cast("double").alias("e1"),
        F.element_at("embedding", 2).cast("double").alias("e2"),
    )
    return dbscan_grid(
        emb, "vec_id", ["e1", "e2"], eps=0.05, min_samples=15
    )


_DBSCAN_EMB_SQL = """
    WITH RECURSIVE p AS (
      SELECT vec_id AS id,
             CAST(embedding[1] AS DOUBLE) AS x,
             CAST(embedding[2] AS DOUBLE) AS y
      FROM embeddings
      WHERE vec_id IS NOT NULL AND embedding IS NOT NULL
        AND embedding[1] IS NOT NULL AND embedding[2] IS NOT NULL),
    pr AS MATERIALIZED (
      SELECT a.id AS ia, b.id AS ib
      FROM p a JOIN p b
        ON a.id <> b.id
       AND (a.x-b.x)*(a.x-b.x) + (a.y-b.y)*(a.y-b.y) <= 0.05*0.05),
    nc AS (SELECT ia AS id, COUNT(*) AS n FROM pr GROUP BY 1),
    allp AS MATERIALIZED (
      SELECT p.id, COALESCE(nc.n, 0) AS n
      FROM p LEFT JOIN nc USING (id)),
    core AS MATERIALIZED (SELECT id FROM allp WHERE n + 1 >= 15),
    ce AS (SELECT pr.ia AS u, pr.ib AS v
           FROM pr JOIN core ca ON pr.ia = ca.id
                   JOIN core cb ON pr.ib = cb.id),
    reach(node, r) AS (
      SELECT id, id FROM core
      UNION
      SELECT ce.u, reach.r FROM ce JOIN reach ON reach.node = ce.v),
    cl AS MATERIALIZED (
      SELECT node AS id, MIN(r) AS cluster_id FROM reach GROUP BY 1),
    border AS (
      SELECT pr.ia AS id, MIN(cl.cluster_id) AS cluster_id
      FROM pr JOIN core c ON pr.ib = c.id
              JOIN cl ON cl.id = pr.ib
      WHERE pr.ia NOT IN (SELECT id FROM core)
      GROUP BY 1)
    SELECT a.id AS vec_id,
           CASE WHEN cl.id IS NOT NULL THEN 'core'
                WHEN border.id IS NOT NULL THEN 'border'
                ELSE 'noise' END AS role,
           COALESCE(cl.cluster_id, border.cluster_id) AS cluster_id,
           CAST(a.n AS BIGINT) AS n_neighbors
    FROM allp a
    LEFT JOIN cl ON cl.id = a.id
    LEFT JOIN border ON border.id = a.id
"""


register("profile_quantity", build=_profile_quantity, oracle="""
            SELECT COUNT(*) AS cnt,
                   COUNT(*) - COUNT(l_quantity) AS null_cnt,
                   COUNT(DISTINCT l_quantity) AS n_distinct,
                   MIN(l_quantity) AS min_q,
                   MAX(l_quantity) AS max_q,
                   CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
                     / COUNT(l_quantity) AS mean_q,
                   ROUND(STDDEV_SAMP(l_quantity), 6) AS std_q,
                   ROUND(QUANTILE_CONT(l_quantity, 0.5), 6) AS median_q
            FROM lineitem
        """)

register(
    "profile_global_quantiles", build=_profile_global_quantiles, tags=("headline",),
    oracle="""
            WITH v AS (SELECT CAST(l_extendedprice AS DOUBLE) AS x
                       FROM lineitem WHERE l_extendedprice IS NOT NULL)
            SELECT 0.10 AS p, ROUND(QUANTILE_CONT(x, 0.10), 6) AS value FROM v
            UNION ALL SELECT 0.25, ROUND(QUANTILE_CONT(x, 0.25), 6) FROM v
            UNION ALL SELECT 0.50, ROUND(QUANTILE_CONT(x, 0.50), 6) FROM v
            UNION ALL SELECT 0.75, ROUND(QUANTILE_CONT(x, 0.75), 6) FROM v
            UNION ALL SELECT 0.90, ROUND(QUANTILE_CONT(x, 0.90), 6) FROM v
            UNION ALL SELECT 0.99, ROUND(QUANTILE_CONT(x, 0.99), 6) FROM v
            ORDER BY p
        """,
)

register(
    "profile_all_columns", build=_profile_all_columns, tags=("headline",),
    oracle="""
            SELECT 'o_orderkey' AS "column", COUNT(*) AS count,
                   COUNT(*) - COUNT(o_orderkey) AS null_count,
                   COUNT(DISTINCT o_orderkey) AS "distinct",
                   CAST(MIN(o_orderkey) AS DOUBLE) AS min,
                   CAST(MAX(o_orderkey) AS DOUBLE) AS max
            FROM orders
            UNION ALL
            SELECT 'o_custkey', COUNT(*), COUNT(*) - COUNT(o_custkey),
                   COUNT(DISTINCT o_custkey),
                   CAST(MIN(o_custkey) AS DOUBLE), CAST(MAX(o_custkey) AS DOUBLE)
            FROM orders
            UNION ALL
            SELECT 'o_totalprice', COUNT(*), COUNT(*) - COUNT(o_totalprice),
                   COUNT(DISTINCT o_totalprice),
                   MIN(o_totalprice), MAX(o_totalprice)
            FROM orders
            UNION ALL
            SELECT 'o_orderstatus', COUNT(*), COUNT(*) - COUNT(o_orderstatus),
                   COUNT(DISTINCT o_orderstatus),
                   CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE)
            FROM orders
        """,
)

register(
    "anomaly_dbscan_embeddings", build=_anomaly_dbscan_embeddings, tags=("headline",),
    oracle=_DBSCAN_EMB_SQL,
)

register("anomaly_robust_z_by_type", build=_anomaly_robust_z_by_type, oracle="""
            WITH med AS (SELECT event_type,
                                quantile_cont(value, 0.5) AS med
                         FROM events GROUP BY 1),
            j AS (SELECT e.event_id, e.event_type, e.value, m.med
                  FROM events e JOIN med m USING (event_type)),
            mad AS (SELECT event_type,
                           quantile_cont(ABS(value - med), 0.5) AS mad
                    FROM j GROUP BY 1)
            SELECT j.event_type, j.event_id, j.value,
                   ROUND(0.6745 * (j.value - j.med) / m2.mad, 6) AS robust_z
            FROM j JOIN mad m2 USING (event_type)
            WHERE m2.mad > 0
              AND ABS(0.6745 * (j.value - j.med) / m2.mad) > 3.5
        """)

register("dq_not_null", build=_dq_not_null, oracle="""
            SELECT COUNT(*) - COUNT(user_id) AS user_id_nulls,
                   COUNT(*) - COUNT(props) AS props_nulls,
                   COUNT(*) - COUNT(value) AS value_nulls,
                   COUNT(*) AS total_rows
            FROM events
        """)

register("dq_value_range", build=_dq_value_range, oracle="""
            SELECT COUNT(CASE WHEN o_totalprice < 2000.0 OR o_totalprice > 450000.0
                              THEN 1 END) AS range_violations,
                   COUNT(*) AS total_rows
            FROM orders
        """)

register("dq_allowed_values", build=_dq_allowed_values, oracle="""
            SELECT COUNT(CASE WHEN event_type IS NOT NULL AND event_type NOT IN
                              ('click','view','purchase','signup','error')
                              THEN 1 END) AS violations,
                   COUNT(*) AS total_rows
            FROM events
        """)

register("dq_pk_unique", build=_dq_pk_unique, oracle="""
            SELECT COUNT(*) AS dup_key_count FROM (
                SELECT o_orderkey FROM orders GROUP BY o_orderkey HAVING COUNT(*) > 1
            )
        """)

register("dq_duplicate_rows", build=_dq_duplicate_rows, oracle="""
            SELECT COUNT(*) AS dup_rows FROM lineitem
            WHERE l_orderkey IN (
                SELECT l_orderkey FROM lineitem GROUP BY l_orderkey HAVING COUNT(*) > 1
            )
        """)

register("dq_referential", build=_dq_referential, oracle="""
            SELECT
              (SELECT COUNT(*) FROM lineitem
               WHERE l_partkey IS NOT NULL
                 AND l_partkey NOT IN (SELECT p_partkey FROM part)) AS orphan_lineitems,
              (SELECT COUNT(*) FROM part
               WHERE p_partkey NOT IN (SELECT l_partkey FROM lineitem)) AS unused_parts
        """)

register("dq_cross_field", build=_dq_cross_field, oracle="""
            SELECT COUNT(CASE WHEN l_discount IS NOT NULL AND l_tax IS NOT NULL
                              AND l_discount > l_tax THEN 1 END) AS violations,
                   COUNT(*) AS total_rows
            FROM lineitem
        """)

register("dq_date_sequence", build=_dq_date_sequence, oracle="""
            SELECT COUNT(CASE WHEN l.l_shipdate < o.o_orderdate THEN 1 END)
                     AS ship_before_order,
                   COUNT(*) AS total_rows
            FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        """)

register("dq_freshness", build=_dq_freshness, oracle="""
            SELECT COUNT(CASE WHEN ts > TIMESTAMP '2024-01-25 00:00:00' THEN 1 END)
                     AS future_rows,
                   COUNT(CASE WHEN ts < TIMESTAMP '2024-01-05 00:00:00' THEN 1 END)
                     AS stale_rows,
                   COUNT(*) AS total_rows
            FROM events
        """)

register("dq_completeness", build=_dq_completeness, oracle="""
            SELECT ROUND(CAST(
                     (COUNT(*) - COUNT(doc_id)) + (COUNT(*) - COUNT(text))
                   + (COUNT(*) - COUNT(lang)) + (COUNT(*) - COUNT(source))
                   + (COUNT(*) - COUNT(n_chars)) AS DOUBLE) / (COUNT(*) * 5), 6)
                     AS null_cell_ratio,
                   COUNT(*) AS total_rows
            FROM documents
        """)

register("anomaly_zscore", build=_anomaly_zscore, oracle="""
            WITH s AS (
              SELECT CAST(SUM(CAST(value AS DECIMAL(27,6))) AS DOUBLE) / COUNT(value) AS m,
                     COUNT(value) AS n
              FROM events
            ), v AS (
              SELECT CAST(SUM(CAST((value - m) * (value - m) AS DECIMAL(30,12))) AS DOUBLE)
                       AS ss,
                     ANY_VALUE(m) AS m, ANY_VALUE(n) AS n
              FROM events, s
            ), st AS (
              SELECT m, SQRT(ss / (n - 1)) AS sd FROM v
            )
            SELECT event_id, value, ROUND((value - m) / sd, 6) AS zscore
            FROM events, st
            WHERE ABS((value - m) / sd) > 3.0
        """)

register("anomaly_iqr", build=_anomaly_iqr, oracle="""
            WITH q AS (
              SELECT QUANTILE_CONT(value, 0.25) AS q1, QUANTILE_CONT(value, 0.75) AS q3
              FROM events
            )
            SELECT event_id, value FROM events, q
            WHERE value < q1 - 1.5 * (q3 - q1) OR value > q3 + 1.5 * (q3 - q1)
        """)

register("anomaly_robust_zscore", build=_anomaly_robust_zscore, oracle="""
            WITH m AS (SELECT QUANTILE_CONT(value, 0.5) AS med FROM events),
            d AS (SELECT QUANTILE_CONT(ABS(value - med), 0.5) AS mad
                  FROM events, m WHERE value IS NOT NULL)
            SELECT event_id, value,
                   ROUND(0.6745 * (value - med) / mad, 6) AS robust_z
            FROM events, m, d
            WHERE mad > 0
              AND ABS(0.6745 * (value - med) / mad) > 3.5
        """)

register("anomaly_ensemble", build=_anomaly_ensemble, oracle="""
            WITH s AS (
              SELECT CAST(SUM(CAST(value AS DECIMAL(27,6))) AS DOUBLE) / COUNT(value) AS m,
                     COUNT(value) AS n
              FROM events
            ), v AS (
              SELECT CAST(SUM(CAST((value - m) * (value - m) AS DECIMAL(30,12))) AS DOUBLE)
                       AS ss,
                     ANY_VALUE(m) AS m, ANY_VALUE(n) AS n
              FROM events, s
            ), st AS (
              SELECT m, SQRT(ss / (n - 1)) AS sd FROM v
            ), zkeys AS (
              SELECT DISTINCT event_id FROM events, st
              WHERE ABS((value - m) / sd) > 2.5
            ), q AS (
              SELECT QUANTILE_CONT(value, 0.25) AS q1, QUANTILE_CONT(value, 0.75) AS q3
              FROM events
            ), ikeys AS (
              SELECT DISTINCT event_id FROM events, q
              WHERE value < q1 - 1.5 * (q3 - q1) OR value > q3 + 1.5 * (q3 - q1)
            )
            SELECT z.event_id, CAST(2 AS BIGINT) AS votes
            FROM zkeys z JOIN ikeys i ON z.event_id = i.event_id
        """)

register("anomaly_moving_avg", build=_anomaly_moving_avg, oracle="""
            WITH w AS (
              SELECT user_id, event_id, value,
                     CAST(SUM(CAST(value AS DECIMAL(18,6))) OVER win AS DOUBLE) AS s,
                     CAST(SUM(CAST(value * value AS DECIMAL(28,10))) OVER win AS DOUBLE) AS ss,
                     COUNT(value) OVER win AS n
              FROM events
              WINDOW win AS (PARTITION BY user_id ORDER BY event_id
                             ROWS BETWEEN 9 PRECEDING AND CURRENT ROW)
            )
            SELECT user_id, event_id, value,
                   ROUND((value - s / n) / SQRT(GREATEST((ss - s * s / n) / (n - 1), 0)), 6)
                     AS ma_zscore
            FROM w
            WHERE n > 1
              AND SQRT(GREATEST((ss - s * s / n) / (n - 1), 0)) > 0
              AND ABS((value - s / n) / SQRT(GREATEST((ss - s * s / n) / (n - 1), 0))) > 2.5
        """)

register("dq_rules_onepass", build=_dq_rules_onepass, oracle="""
            -- CASTs to BIGINT: DuckDB SUM(int) returns HUGEINT which surfaces as
            -- float64 in the hash path; Spark emits int64. Values are identical.
            SELECT CAST(COUNT(*) AS BIGINT) AS total_rows,
                   CAST(COALESCE(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END), 0)
                     AS BIGINT) AS fail_not_null,
                   CAST(COALESCE(SUM(CASE WHEN o_totalprice IS NOT NULL
                                      AND (o_totalprice < 2000.0 OR o_totalprice > 450000.0)
                                     THEN 1 ELSE 0 END), 0) AS BIGINT) AS fail_value_range,
                   CAST(COALESCE(SUM(CASE WHEN o_orderstatus IS NOT NULL
                                      AND o_orderstatus NOT IN ('F','O','P')
                                     THEN 1 ELSE 0 END), 0) AS BIGINT) AS fail_allowed_values,
                   CAST(COALESCE(SUM(CASE WHEN o_orderdate IS NOT NULL
                                      AND o_orderdate > TIMESTAMP '1998-08-02 00:00:00'
                                     THEN 1 ELSE 0 END), 0) AS BIGINT) AS fail_future_dates,
                   CAST(COALESCE(SUM(CASE WHEN o_orderkey IS NOT NULL
                                      AND NOT (o_orderkey <= o_orderkey)
                                     THEN 1 ELSE 0 END), 0) AS BIGINT) AS fail_cross_field
            FROM orders
        """)

register("dq_suite", build=_dq_suite, tags=("headline",), oracle=f"""
            WITH nn AS ({oracle_of("dq_not_null")}),
                 rng AS ({oracle_of("dq_value_range")}),
                 av AS ({oracle_of("dq_allowed_values")}),
                 pk AS ({oracle_of("dq_pk_unique")}),
                 dup AS ({oracle_of("dq_duplicate_rows")}),
                 ref AS ({oracle_of("dq_referential")}),
                 cf AS ({oracle_of("dq_cross_field")}),
                 ds AS ({oracle_of("dq_date_sequence")}),
                 fr AS ({oracle_of("dq_freshness")}),
                 comp AS ({oracle_of("dq_completeness")})
            SELECT 'not_null:user_id' AS rule,
                   CAST(user_id_nulls AS DOUBLE) AS metric, total_rows FROM nn
            UNION ALL SELECT 'not_null:props', CAST(props_nulls AS DOUBLE),
                   total_rows FROM nn
            UNION ALL SELECT 'not_null:value', CAST(value_nulls AS DOUBLE),
                   total_rows FROM nn
            UNION ALL SELECT 'value_range:o_totalprice',
                   CAST(range_violations AS DOUBLE), total_rows FROM rng
            UNION ALL SELECT 'allowed_values:event_type',
                   CAST(violations AS DOUBLE), total_rows FROM av
            UNION ALL SELECT 'pk_unique:o_orderkey',
                   CAST(dup_key_count AS DOUBLE), CAST(NULL AS BIGINT) FROM pk
            UNION ALL SELECT 'duplicate_rows:l_orderkey',
                   CAST(dup_rows AS DOUBLE), CAST(NULL AS BIGINT) FROM dup
            UNION ALL SELECT 'referential:orphan_lineitems',
                   CAST(orphan_lineitems AS DOUBLE), CAST(NULL AS BIGINT) FROM ref
            UNION ALL SELECT 'referential:unused_parts',
                   CAST(unused_parts AS DOUBLE), CAST(NULL AS BIGINT) FROM ref
            UNION ALL SELECT 'cross_field:l_discount_gt_tax',
                   CAST(violations AS DOUBLE), total_rows FROM cf
            UNION ALL SELECT 'date_sequence:ship_before_order',
                   CAST(ship_before_order AS DOUBLE), total_rows FROM ds
            UNION ALL SELECT 'freshness:future_rows',
                   CAST(future_rows AS DOUBLE), total_rows FROM fr
            UNION ALL SELECT 'freshness:stale_rows',
                   CAST(stale_rows AS DOUBLE), total_rows FROM fr
            UNION ALL SELECT 'completeness:documents_null_ratio',
                   CAST(null_cell_ratio AS DOUBLE), total_rows FROM comp
            UNION ALL SELECT 'required_fields:orders',
                   CAST(SUM(CASE WHEN o_orderkey IS NULL OR o_custkey IS NULL
                                      OR o_orderdate IS NULL
                                 THEN 1 ELSE 0 END) AS DOUBLE),
                   COUNT(*) FROM orders
        """)

register("anomaly_suite", build=_anomaly_suite, tags=("headline",), oracle=f"""
            SELECT 'zscore' AS method, event_id, value, zscore AS score
            FROM ({oracle_of("anomaly_zscore")})
            UNION ALL
            SELECT 'iqr', event_id, value, CAST(NULL AS DOUBLE)
            FROM ({oracle_of("anomaly_iqr")})
            UNION ALL
            SELECT 'moving_avg', event_id, value, ma_zscore
            FROM ({oracle_of("anomaly_moving_avg")})
            UNION ALL
            SELECT 'ensemble', event_id, CAST(NULL AS DOUBLE),
                   CAST(votes AS DOUBLE)
            FROM ({oracle_of("anomaly_ensemble")})
        """)

register("dq_rules_by_source", build=_dq_rules_by_source, oracle="""
            WITH s AS (SELECT source, COUNT(*) AS total,
               COUNT(CASE WHEN text IS NULL THEN 1 END) AS f0,
               COUNT(CASE WHEN n_chars IS NOT NULL
                           AND (n_chars < 100 OR n_chars > 4000)
                          THEN 1 END) AS f1,
               COUNT(CASE WHEN lang IS NOT NULL
                           AND lang NOT IN ('en', 'es', 'de')
                          THEN 1 END) AS f2
             FROM documents GROUP BY source)
            SELECT source, rule_name,
                   CAST(failed AS BIGINT) AS failed_rows,
                   CAST(total AS BIGINT) AS total_rows,
                   ROUND((total - failed) / CAST(total AS DOUBLE), 6)
                     AS pass_rate
            FROM (
              SELECT source, total, 'text_not_null' AS rule_name, f0 AS failed FROM s
              UNION ALL
              SELECT source, total, 'len_range', f1 FROM s
              UNION ALL
              SELECT source, total, 'lang_allowed', f2 FROM s)
        """)

register("dq_benford_totalprice", build=_dq_benford_totalprice, oracle=r"""
            WITH counts AS (
              SELECT CAST(FLOOR(x / POWER(10.0, FLOOR(LOG10(x)))) AS INT)
                       AS digit,
                     COUNT(*) AS n
              FROM (SELECT CAST(o_totalprice AS DOUBLE) AS x FROM orders)
              WHERE x IS NOT NULL AND x > 0 GROUP BY 1),
            grid AS (SELECT UNNEST(GENERATE_SERIES(1, 9)) AS digit),
            full_g AS (SELECT g.digit, COALESCE(c.n, 0) AS n
                       FROM grid g LEFT JOIN counts c ON g.digit = c.digit),
            t AS (SELECT SUM(n) AS tt FROM full_g)
            SELECT digit, CAST(n AS BIGINT) AS n,
                   ROUND(n / tt, 6) AS observed,
                   ROUND(LOG10(1.0 + 1.0 / digit), 6) AS expected,
                   ROUND(CASE WHEN tt > 0
                         THEN POWER(n / tt - LOG10(1.0 + 1.0 / digit), 2)
                              / LOG10(1.0 + 1.0 / digit) * tt
                         ELSE 0.0 END, 6) AS chi2_term,
                   (SELECT ROUND(SUM(
                       ROUND(CASE WHEN t2.tt > 0
                             THEN POWER(f.n / t2.tt
                                        - LOG10(1.0 + 1.0 / f.digit), 2)
                                  / LOG10(1.0 + 1.0 / f.digit) * t2.tt
                             ELSE 0.0 END, 6)), 6)
                    FROM full_g f, t t2) AS chi2_total
            FROM full_g, t
        """)


# ---- round 11: privacy / governance audits (quality/privacy.py) ----


def _privacy_k_anonymity_customer(spark, sf_dir):
    """k-anonymity release gate on customers (quality/privacy.py::
    k_anonymity_summary): QI = (nation, market segment), k=5 — how many
    identity classes violate k and what share of rows is
    re-identifiable."""
    from metadata_etl_framework_spark.quality.privacy import (
        k_anonymity_summary,
    )

    c = _t(spark, sf_dir, "customer")
    return k_anonymity_summary(c, ["c_nationkey", "c_mktsegment"], k=5)


def _privacy_k_classes_customer(spark, sf_dir):
    """Per-identity-class k-anonymity table (quality/privacy.py::
    k_anonymity_classes): one groupBy on the QI tuple, class-bounded
    output with below-k flags."""
    from metadata_etl_framework_spark.quality.privacy import (
        k_anonymity_classes,
    )

    c = _t(spark, sf_dir, "customer")
    return k_anonymity_classes(c, ["c_nationkey", "c_mktsegment"], k=5)


def _privacy_l_diversity_customer(spark, sf_dir):
    """l-diversity audit (quality/privacy.py::l_diversity_classes):
    sensitive attribute = account-balance band (2000-wide), distinct-l
    with per-class entropy — catches the homogeneity attack k-anonymity
    misses."""
    from metadata_etl_framework_spark.quality.privacy import (
        l_diversity_classes,
    )

    c = _t(spark, sf_dir, "customer").withColumn(
        "bal_bucket", F.floor(F.col("c_acctbal") / 2000).cast("long")
    )
    return l_diversity_classes(
        c, ["c_nationkey", "c_mktsegment"], "bal_bucket", l=3
    )


def _privacy_dp_counts_orders(spark, sf_dir):
    """ε-DP order counts by priority (quality/privacy.py::
    dp_noisy_counts): Laplace(1/ε) noise inverse-CDF sampled from the
    portable mix hash over the scale-safe global group index — the
    release is deterministic and engine-replayable."""
    from metadata_etl_framework_spark.quality.privacy import dp_noisy_counts

    o = _t(spark, sf_dir, "orders")
    return dp_noisy_counts(o, ["o_orderpriority"], epsilon=1.0, seed=7)


register("privacy_k_anonymity_customer", build=_privacy_k_anonymity_customer, oracle="""
            WITH cls AS (SELECT c_nationkey, c_mktsegment,
                                COUNT(*) AS cs
                         FROM customer GROUP BY 1, 2)
            SELECT CAST(5 AS INT) AS k,
                   CAST(SUM(cs) AS BIGINT) AS n_rows,
                   CAST(COUNT(*) AS BIGINT) AS n_classes,
                   CAST(SUM(CASE WHEN cs < 5 THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_violating_classes,
                   CAST(COALESCE(SUM(CASE WHEN cs < 5 THEN cs END), 0)
                        AS BIGINT) AS rows_at_risk,
                   ROUND(CAST(COALESCE(SUM(CASE WHEN cs < 5
                                            THEN cs END), 0)
                              AS DOUBLE) * 100.0 / SUM(cs), 6)
                       AS pct_rows_at_risk,
                   CAST(MIN(cs) AS BIGINT) AS min_class_size
            FROM cls
        """)

register("privacy_k_classes_customer", build=_privacy_k_classes_customer, oracle="""
            SELECT c_nationkey, c_mktsegment,
                   CAST(COUNT(*) AS BIGINT) AS class_size,
                   COUNT(*) < 5 AS below_k
            FROM customer GROUP BY 1, 2 ORDER BY 1, 2
        """)

register("privacy_l_diversity_customer", build=_privacy_l_diversity_customer, oracle="""
            WITH s AS (SELECT c_nationkey, c_mktsegment,
                              CAST(FLOOR(c_acctbal / 2000) AS BIGINT)
                                  AS sv,
                              COUNT(*) AS c
                       FROM customer GROUP BY 1, 2, 3),
            t AS (SELECT *,
                         SUM(c) OVER (PARTITION BY c_nationkey,
                                      c_mktsegment) AS tot
                  FROM s)
            SELECT c_nationkey, c_mktsegment,
                   CAST(SUM(c) AS BIGINT) AS class_size,
                   CAST(COUNT(*) AS BIGINT) AS n_sensitive,
                   ROUND(SUM(-(CAST(c AS DOUBLE) / tot)
                             * LN(CAST(c AS DOUBLE) / tot)), 6)
                       AS entropy,
                   COUNT(*) < 3 AS below_l
            FROM t GROUP BY 1, 2 ORDER BY 1, 2
        """)

register(
    "privacy_dp_counts_orders", build=_privacy_dp_counts_orders, tags=("headline",),
    oracle=f"""
            WITH {_hash32_cte_sql(
                "SELECT idx + 7000021 AS x, o_orderpriority, exact_count "
                "FROM (SELECT o_orderpriority, COUNT(*) AS exact_count, "
                "ROW_NUMBER() OVER (ORDER BY o_orderpriority) AS idx "
                "FROM orders GROUP BY 1)"
            )},
            n AS (SELECT o_orderpriority, exact_count,
                         (h + 0.5) / 4294967296.0 AS u
                  FROM hh),
            n2 AS (SELECT o_orderpriority, exact_count,
                          ROUND(-(1.0) * SIGN(u - 0.5)
                                * LN(1.0 - 2.0 * ABS(u - 0.5)), 6)
                              AS noise
                   FROM n)
            SELECT o_orderpriority,
                   CAST(exact_count AS BIGINT) AS exact_count, noise,
                   ROUND(exact_count + noise, 6) AS noisy_count
            FROM n2 ORDER BY 1
        """,
)


def _profile_robust_price(spark, sf_dir):
    """Robust location summary of extended price
    (functions/aggregations.py::robust_moments): trimmed/winsorized
    means, exact median and MAD from per-value counts + dual prefix
    scans — distinct-values-sized after one groupBy, never row-scaled;
    micro-int DECIMAL sums."""
    from metadata_etl_framework_spark.functions.aggregations import (
        robust_moments,
    )

    li = _t(spark, sf_dir, "lineitem")
    return robust_moments(li, "l_extendedprice", trim=0.1)


register(
    "profile_robust_price", build=_profile_robust_price, tags=("headline", "gated",),
    oracle="""
            WITH vals AS (
              SELECT ROUND(CAST(l_extendedprice AS DOUBLE), 6) AS v
              FROM lineitem WHERE l_extendedprice IS NOT NULL),
            counts AS (SELECT v, COUNT(*) AS c FROM vals GROUP BY v),
            s AS (SELECT v, c, SUM(c) OVER (ORDER BY v) AS cum
                  FROM counts),
            t AS (SELECT MAX(cum) AS n,
                         SUM(CAST(ROUND(v * 1000000.0, 0) AS HUGEINT)
                             * c) AS svi
                  FROM s),
            kk AS (SELECT n, svi,
                          CAST(FLOOR(0.1 * n) AS BIGINT) AS k
                   FROM t),
            med AS (SELECT
                      ((SELECT MIN(v) FROM s, kk
                        WHERE cum >= (kk.n + 1) // 2)
                       + (SELECT MIN(v) FROM s, kk
                          WHERE cum >= kk.n // 2 + 1)) / 2.0 AS median),
            mid AS (SELECT SUM(
                        CAST(ROUND(s.v * 1000000.0, 0) AS HUGEINT)
                        * GREATEST(0, LEAST(s.cum, kk.n - kk.k)
                                   - GREATEST(s.cum - s.c, kk.k)))
                        AS msum
                    FROM s, kk),
            bounds AS (SELECT
                         (SELECT MIN(v) FROM s, kk
                          WHERE cum >= kk.k + 1) AS xlo,
                         (SELECT MIN(v) FROM s, kk
                          WHERE cum >= kk.n - kk.k) AS xhi),
            dev AS (SELECT ROUND(ABS(counts.v - med.median), 6) AS v,
                           SUM(c) AS c
                    FROM counts, med GROUP BY 1),
            ds AS (SELECT v, SUM(c) OVER (ORDER BY v) AS cum FROM dev),
            madv AS (SELECT
                       ((SELECT MIN(v) FROM ds, kk
                         WHERE cum >= (kk.n + 1) // 2)
                        + (SELECT MIN(v) FROM ds, kk
                           WHERE cum >= kk.n // 2 + 1)) / 2.0 AS mad)
            SELECT CAST(kk.n AS BIGINT) AS n,
                   CAST(kk.k AS BIGINT) AS k,
                   ROUND(CAST(svi AS DOUBLE) / kk.n / 1000000.0, 6)
                       AS mean,
                   CASE WHEN kk.n - 2 * kk.k > 0 THEN
                       ROUND(CAST(msum AS DOUBLE)
                             / (kk.n - 2 * kk.k) / 1000000.0, 6)
                   END AS trimmed_mean,
                   CASE WHEN kk.n - 2 * kk.k > 0 THEN
                       ROUND(CAST(msum
                                  + kk.k * CAST(ROUND(xlo * 1000000.0,
                                                      0) AS HUGEINT)
                                  + kk.k * CAST(ROUND(xhi * 1000000.0,
                                                      0) AS HUGEINT)
                                  AS DOUBLE) / kk.n / 1000000.0, 6)
                   END AS winsorized_mean,
                   ROUND(med.median, 6) AS median,
                   ROUND(madv.mad, 6) AS mad
            FROM kk, mid, bounds, med, madv
        """,
)


# ---- round 13 (cont.): t-closeness (quality/privacy.py) ----


def _privacy_t_closeness_customer(spark, sf_dir):
    """t-closeness release audit (quality/privacy.py::
    t_closeness_classes): completes the privacy triad (k-anonymity /
    l-diversity / t-closeness) — ordered EMD between each identity
    class's balance-band distribution and the global one, per-class
    cumulative differences on the bounded band grid, EXACT integer
    numerators (DECIMAL sums of c·N − g·n_c) with one final divide.
    QI = (nation, market segment), sensitive = 2000-wide balance band,
    t = 0.2."""
    from metadata_etl_framework_spark.quality.privacy import (
        t_closeness_classes,
    )

    c = _t(spark, sf_dir, "customer").withColumn(
        "bal_bucket", F.floor(F.col("c_acctbal") / 2000).cast("long")
    )
    return t_closeness_classes(
        c, ["c_nationkey", "c_mktsegment"], "bal_bucket",
        t=0.2, ordered=True,
    )


register(
    "privacy_t_closeness_customer", build=_privacy_t_closeness_customer,
    tags=("headline",),
    oracle="""
            WITH base AS (SELECT c_nationkey, c_mktsegment,
                                 CAST(FLOOR(c_acctbal / 2000)
                                      AS BIGINT) AS v
                          FROM customer
                          WHERE c_acctbal IS NOT NULL),
            gv AS (SELECT v, COUNT(*) AS g FROM base GROUP BY 1),
            tot AS (SELECT COUNT(*) AS nn FROM base),
            mv AS (SELECT COUNT(*) AS m FROM gv),
            cls AS (SELECT c_nationkey, c_mktsegment,
                           COUNT(*) AS nc
                    FROM base GROUP BY 1, 2),
            cv AS (SELECT c_nationkey, c_mktsegment, v,
                          COUNT(*) AS c
                   FROM base GROUP BY 1, 2, 3),
            grid AS (SELECT cls.c_nationkey, cls.c_mktsegment,
                            cls.nc, gv.v, gv.g,
                            COALESCE(cv.c, 0) AS c
                     FROM cls CROSS JOIN gv
                     LEFT JOIN cv
                       ON cv.c_nationkey = cls.c_nationkey
                      AND cv.c_mktsegment = cls.c_mktsegment
                      AND cv.v = gv.v),
            cum AS (SELECT grid.*, nn,
                           SUM(CAST(c AS HUGEINT) * nn
                               - CAST(g AS HUGEINT) * nc)
                               OVER (PARTITION BY c_nationkey,
                                                  c_mktsegment
                                     ORDER BY v) AS cm
                    FROM grid, tot),
            agg AS (SELECT c_nationkey, c_mktsegment,
                           CAST(MAX(nc) AS BIGINT) AS class_size,
                           ROUND(CAST(SUM(ABS(cm)) AS DOUBLE)
                                 / (CAST(MAX(nc) AS DOUBLE)
                                    * CAST(MAX(nn) AS DOUBLE)
                                    * CAST((SELECT m - 1 FROM mv)
                                           AS DOUBLE)), 6) AS emd
                    FROM cum GROUP BY 1, 2)
            SELECT c_nationkey, c_mktsegment, class_size, emd,
                   emd > 0.2 AS above_t
            FROM agg ORDER BY 1, 2
        """,
)


# ---- round 13 (cont.): HBOS + RMST ----


def _anomaly_hbos_lineitem(spark, sf_dir):
    """HBOS multivariate outliers (quality/anomaly.py::hbos_scores):
    per-feature fixed-width histograms between collected exact
    min/max, per-row score = sum of -log10(bin density) over
    (quantity, price, discount), top-20 by (score DESC, id) — the
    NATIVE no-ML-runtime multivariate detector between the univariate
    rules and the sklearn-gated iForest/LOF arms; one stats pass +
    one row pass + bins-by-features broadcast grids."""
    from metadata_etl_framework_spark.quality.anomaly import hbos_scores

    li = _t(spark, sf_dir, "lineitem").select(
        (F.col("l_orderkey") * 8 + F.col("l_linenumber")).alias(
            "rid"
        ),
        "l_quantity", "l_extendedprice", "l_discount",
    )
    return hbos_scores(
        li, ["l_quantity", "l_extendedprice", "l_discount"], "rid",
        n_bins=16, top_k=20,
    )


register(
    "anomaly_hbos_lineitem", build=_anomaly_hbos_lineitem, tags=("headline",),
    oracle="""
            WITH base AS (
              SELECT l_orderkey * 8 + l_linenumber AS rid,
                     CAST(l_quantity AS DOUBLE) AS q,
                     CAST(l_extendedprice AS DOUBLE) AS p,
                     CAST(l_discount AS DOUBLE) AS d
              FROM lineitem
              WHERE l_orderkey IS NOT NULL
                AND l_linenumber IS NOT NULL
                AND l_quantity IS NOT NULL
                AND l_extendedprice IS NOT NULL
                AND l_discount IS NOT NULL),
            st AS (SELECT COUNT(*) AS n,
                          MIN(q) AS mnq, MAX(q) AS mxq,
                          MIN(p) AS mnp, MAX(p) AS mxp,
                          MIN(d) AS mnd, MAX(d) AS mxd
                   FROM base),
            bn AS (SELECT rid,
                          CASE WHEN (mxq - mnq) / 16 > 0
                               THEN LEAST(15, GREATEST(0,
                                    CAST(FLOOR((q - mnq)
                                         / ((mxq - mnq) / 16))
                                         AS INTEGER)))
                               ELSE 0 END AS bq,
                          CASE WHEN (mxp - mnp) / 16 > 0
                               THEN LEAST(15, GREATEST(0,
                                    CAST(FLOOR((p - mnp)
                                         / ((mxp - mnp) / 16))
                                         AS INTEGER)))
                               ELSE 0 END AS bp,
                          CASE WHEN (mxd - mnd) / 16 > 0
                               THEN LEAST(15, GREATEST(0,
                                    CAST(FLOOR((d - mnd)
                                         / ((mxd - mnd) / 16))
                                         AS INTEGER)))
                               ELSE 0 END AS bd
                   FROM base, st),
            cq AS (SELECT bq, COUNT(*) AS c FROM bn GROUP BY 1),
            cp AS (SELECT bp, COUNT(*) AS c FROM bn GROUP BY 1),
            cd AS (SELECT bd, COUNT(*) AS c FROM bn GROUP BY 1)
            SELECT rid,
                   ROUND((-LOG10(cq.c
                                 / CAST((SELECT n FROM st)
                                        AS DOUBLE)))
                         + (-LOG10(cp.c
                                   / CAST((SELECT n FROM st)
                                          AS DOUBLE)))
                         + (-LOG10(cd.c
                                   / CAST((SELECT n FROM st)
                                          AS DOUBLE))), 6)
                       AS score,
                   bq AS bin_l_quantity,
                   bp AS bin_l_extendedprice,
                   bd AS bin_l_discount
            FROM bn
            JOIN cq USING (bq) JOIN cp USING (bp) JOIN cd USING (bd)
            ORDER BY score DESC, rid LIMIT 20
        """,
)
