"""Event keys: sessions, windows, funnels, retention, attribution, A/B
tests, survival, time-series models and sketches."""

from __future__ import annotations

from pyspark.sql import functions as F

from metadata_etl_framework_spark.streaming import sessionize_batch

from driver_keys.common import _hash32_cte_sql, _normal_sf_sql, _t
from driver_keys.registry import oracle_of, register


def _events_trigrams(spark, sf_dir):
    """Top-20 three-step event sequences (ops/retention.py::
    event_trigrams): double-lead window per user, triple groupBy,
    TakeOrdered top-k — second-order path mining the bigram transition
    table can't express."""
    from metadata_etl_framework_spark.ops.retention import event_trigrams

    return event_trigrams(_t(spark, sf_dir, "events"), k=20)


def _events_window_topk(spark, sf_dir):
    """Top-3 trending event types per tumbling day (ops/retention.py::
    window_topk_types): windowed groupBy + per-window ranked filter,
    the batch form of a streaming trending monitor."""
    from metadata_etl_framework_spark.ops.retention import window_topk_types

    return window_topk_types(
        _t(spark, sf_dir, "events"), window="1 day", k=3
    ).select("window_start", "event_type", "n", "rk")


def _events_seasonal_dow(spark, sf_dir):
    """Day-of-week seasonal profile of the event value stream
    (functions/aggregations.py::seasonal_profile): per-weekday exact
    mean + effect vs grand mean — the drift-interpretation table."""
    from metadata_etl_framework_spark.functions.aggregations import (
        seasonal_profile,
    )

    return seasonal_profile(_t(spark, sf_dir, "events"), "ts", "value", "dow")


def _events_cumulative_users(spark, sf_dir):
    """Exact cumulative distinct-user growth curve (ops/retention.py::
    cumulative_distinct_users): first-touch reduction per user + an
    O(periods) running total — never the COUNT(DISTINCT) window that
    holds every user id in state."""
    from metadata_etl_framework_spark.ops.retention import (
        cumulative_distinct_users,
    )

    return cumulative_distinct_users(
        _t(spark, sf_dir, "events"), period="hour"
    )


def _events_time_weighted_avg(spark, sf_dir):
    """Per-type time-weighted average of the event value stream
    (ops/retention.py::time_weighted_avg): each value weighted by how
    long it was live — honest averaging over irregular observations."""
    from metadata_etl_framework_spark.ops.retention import (
        time_weighted_avg,
    )

    return time_weighted_avg(_t(spark, sf_dir, "events"), ["event_type"])


def _events_changepoint(spark, sf_dir):
    """Mean-shift change-point over the event value series
    (quality/anomaly.py::changepoint_mean_shift): scaled-CUSUM argmax
    on top of the two-phase global row number + DECIMAL prefix sum —
    no partitionless window anywhere in the scan."""
    from metadata_etl_framework_spark.quality.anomaly import (
        changepoint_mean_shift,
    )

    ev = _t(spark, sf_dir, "events").where(F.col("ts").isNotNull())
    return changepoint_mean_shift(ev, ["ts", "event_id"], "value")


def _funnel_windowed(spark, sf_dir):
    """Ordered funnel with a 48h conversion window per step
    (ops/funnel.py::funnel_counts max_lag_seconds): a December purchase
    no longer 'converts' a January view — the constraint product
    analytics actually ships."""
    from metadata_etl_framework_spark.ops.funnel import funnel_counts

    ev = _t(spark, sf_dir, "events")
    return funnel_counts(
        ev, ["view", "click", "purchase"], max_lag_seconds=172_800
    )


def _events_conversion_latency(spark, sf_dir):
    """view → purchase time-to-convert distribution (ops/funnel.py::
    conversion_latency): per-user in-order arrival delta, decimal-exact
    mean, scale-safe exact p50/p90 via the prefix-scan quantiles."""
    from metadata_etl_framework_spark.ops.funnel import conversion_latency

    ev = _t(spark, sf_dir, "events")
    return conversion_latency(ev, "view", "purchase")


def _events_session_stats(spark, sf_dir):
    """Per-session metrics over gap-rule sessions (ops/retention.py::
    session_stats): event count, duration, bounce flag — one pass on
    the per-user gaps-and-islands window."""
    from metadata_etl_framework_spark.ops.retention import session_stats

    return session_stats(_t(spark, sf_dir, "events"))


def _events_stickiness(spark, sf_dir):
    """DAU/WAU stickiness per day (ops/retention.py::stickiness_ratio):
    two exact rolling-actives passes joined on the report day."""
    from metadata_etl_framework_spark.ops.retention import stickiness_ratio

    return stickiness_ratio(_t(spark, sf_dir, "events"))


def _events_json_profile(spark, sf_dir):
    """Semi-structured schema inference over event props (functions/
    conversions.py::json_profile): per-key presence, fraction, majority
    value type — keys are DATA (map explode), never literal paths."""
    from metadata_etl_framework_spark.functions.conversions import (
        json_profile,
    )

    return json_profile(_t(spark, sf_dir, "events"), "props")


def _funnel_conversion(spark, sf_dir):
    """Ordered funnel (ops/funnel.py::funnel_counts): view → click →
    purchase over events; one shuffle, k sequential window projections."""
    from metadata_etl_framework_spark.ops.funnel import funnel_counts

    ev = _t(spark, sf_dir, "events")
    return funnel_counts(ev, ["view", "click", "purchase"])


# --------------------------------------------------------------------------
# streaming-shaped (batch event-time windows)
# --------------------------------------------------------------------------

def _events_tumbling(spark, sf_dir):
    ev = _t(spark, sf_dir, "events").withColumn(
        "vdec", F.col("value").cast("decimal(18,6)")
    )
    agg = ev.groupBy(F.window("ts", "1 hour"), "event_type").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.sum("vdec").cast("double").alias("value_sum"),
    )
    return agg.select(
        F.col("window.start").alias("window_start"),
        "event_type",
        "cnt",
        "value_sum",
    )


def _events_sliding(spark, sf_dir):
    """Sliding event-time windows (1h window / 30m slide): each event lands
    in two windows; same expression runs under Structured Streaming."""
    from metadata_etl_framework_spark.streaming import sliding_window_agg

    ev = _t(spark, sf_dir, "events")
    agg = sliding_window_agg(ev, "ts", "1 hour", "30 minutes",
                             group_by=("event_type",))
    return agg.select("window_start", "event_type", F.col("count").alias("cnt"))


def _events_sessions(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    sess = sessionize_batch(ev, "ts", ["user_id"], gap="30 minutes",
                            order_tiebreak="event_id")
    return sess.groupBy("user_id").agg(F.max("session_id").alias("n_sessions"))


def _events_windows(spark, sf_dir):
    """Tumbling + sliding event-time windows as one tagged suite
    (merged events_tumbling + events_sliding)."""
    t = _events_tumbling(spark, sf_dir).select(
        F.lit("tumbling").alias("kind"), "window_start", "event_type",
        "cnt", "value_sum",
    )
    s = _events_sliding(spark, sf_dir).select(
        F.lit("sliding").alias("kind"), "window_start", "event_type",
        "cnt", F.lit(None).cast("double").alias("value_sum"),
    )
    return t.unionByName(s)


def _events_cohort_retention(spark, sf_dir):
    """Weekly cohort retention matrix over events
    (ops/retention.py::cohort_retention): first-event cohorts, exact
    day-arithmetic offsets, counts on the calendar² grid."""
    from metadata_etl_framework_spark.ops.retention import cohort_retention

    ev = _t(spark, sf_dir, "events")
    return cohort_retention(ev, period="week")


def _events_attribution_last_touch(spark, sf_dir):
    """Last-touch attribution: each purchase credits the user's latest
    click/view at-or-before it within a 3-day lookback, via the
    distributed as-of join (ops/attribution.py::attribute_conversions)."""
    from metadata_etl_framework_spark.ops.attribution import (
        attribute_conversions,
    )

    ev = _t(spark, sf_dir, "events")
    out = attribute_conversions(ev, lookback="3 days")
    return out.select(
        "conversion_id",
        "user_id",
        "touch_id",
        "touch_type",
        "gap_seconds",
    )


def _events_attribution_first_touch(spark, sf_dir):
    """First-touch (acquisition-credit) attribution: min_by per-user
    earliest touch with a deterministic (ts, id) tie-break."""
    from metadata_etl_framework_spark.ops.attribution import (
        attribute_conversions,
    )

    ev = _t(spark, sf_dir, "events")
    out = attribute_conversions(ev, model="first_touch")
    return out.select(
        "conversion_id",
        "user_id",
        "touch_id",
        "touch_type",
        "gap_seconds",
    )


def _events_rolling_active_users(spark, sf_dir):
    """Exact 7-day rolling distinct active users per day: each (user,
    day) activity contributes to the following window_days report days
    (explode of a 7-element sequence), then countDistinct per day —
    standard DAU/WAU machinery, no window-over-distinct."""
    from metadata_etl_framework_spark.ops.retention import (
        rolling_active_users,
    )

    ev = _t(spark, sf_dir, "events")
    out = rolling_active_users(ev, window_days=7)
    # DATE → TIMESTAMP for the cross-engine compare (pandas normalizes
    # datetime64; python date objects stringify differently)
    return out.select(
        F.col("day").cast("timestamp").alias("day"),
        "active_users",
        "window_days",
    )


def _events_transitions(spark, sf_dir):
    """First-order Markov transition counts between consecutive events
    per user, with per-origin probabilities
    (ops/retention.py::event_transitions) — the path-analysis table."""
    from metadata_etl_framework_spark.ops.retention import event_transitions

    ev = _t(spark, sf_dir, "events")
    return event_transitions(ev)


def _events_debounce(spark, sf_dir):
    """Cooldown filter: drop events repeating within 10 minutes of the
    previous raw event on the same (user, type) key — lag-gap
    semantics, first per key survives
    (ops/retention.py::debounce_events)."""
    from metadata_etl_framework_spark.ops.retention import debounce_events

    ev = _t(spark, sf_dir, "events")
    out = debounce_events(ev, cooldown_seconds=600)
    return out.select("event_id", "user_id", "event_type")


def _events_kaplan_meier(spark, sf_dir):
    """Kaplan–Meier survival over user lifetimes with censoring
    (ops/retention.py::kaplan_meier): churn = last event more than 7
    days before the corpus end, survivors censored at their current
    lifetime; the curve runs on the calendar-bounded distinct-lifetime
    frame."""
    from metadata_etl_framework_spark.ops.retention import kaplan_meier

    ev = _t(spark, sf_dir, "events")
    return kaplan_meier(ev, horizon_days=7)


def _events_nelson_aalen(spark, sf_dir):
    """Nelson–Aalen cumulative hazard (ops/retention.py::
    nelson_aalen): H(t) = Σ d/n over the same censored-lifetime frame
    as the KM entry — a 12dp-DECIMAL prefix sum on the
    calendar-bounded grid instead of the exp(Σ ln) product."""
    from metadata_etl_framework_spark.ops.retention import nelson_aalen

    ev = _t(spark, sf_dir, "events")
    return nelson_aalen(ev, horizon_days=7)


def _events_ab_test(spark, sf_dir):
    """A/B readout over events: users split by id parity, conversion =
    any purchase; per-variant rates + pooled two-proportion z
    (ops/retention.py::ab_test_proportions)."""
    from metadata_etl_framework_spark.ops.retention import (
        ab_test_proportions,
    )

    ev = _t(spark, sf_dir, "events").select(
        "user_id",
        F.when(F.col("user_id") % 2 == 0, "A").otherwise("B").alias(
            "variant"
        ),
        (F.col("event_type") == "purchase").alias("converted"),
    )
    return ab_test_proportions(ev, "variant", "converted")


def _events_inter_event_gaps(spark, sf_dir):
    """Inter-event cadence profile (ops/retention.py::inter_event_gaps):
    per event type, count/mean/exact-p50/max of the seconds since the
    same user's previous event — user-partitioned lag window with a
    (ts, id) deterministic order."""
    from metadata_etl_framework_spark.ops.retention import (
        inter_event_gaps,
    )

    return inter_event_gaps(_t(spark, sf_dir, "events"))


def _sketch_hll_registers_orders(spark, sf_dir):
    """HyperLogLog register table (ops/sketch.py::hll_registers) over
    o_custkey with the portable mix hash — m=64 rows max, the
    mergeable sketch a rollup stores per day; branch-free
    trailing-zero ranks via bit_count((w & -w) - 1)."""
    from metadata_etl_framework_spark.ops.sketch import hll_registers

    return hll_registers(_t(spark, sf_dir, "orders"), "o_custkey", m=64)


def _sketch_hll_estimate_orders(spark, sf_dir):
    """HLL cardinality estimate (ops/sketch.py::hll_estimate): the
    Flajolet harmonic estimator with linear-counting small-range
    correction, over the m=64 register table — exact dyadic 2^-rank
    sums, ln() branch rounded 4dp."""
    from metadata_etl_framework_spark.ops.sketch import (
        hll_estimate,
        hll_registers,
    )

    regs = hll_registers(_t(spark, sf_dir, "orders"), "o_custkey", m=64)
    return hll_estimate(regs, m=64)


def _sketch_kmv_orders(spark, sf_dir):
    """K-minimum-values distinct estimate (ops/sketch.py::kmv_sketch +
    kmv_estimate): 256 smallest distinct portable hashes via
    TakeOrderedAndProject; saturated regime uses (k-1)*2^32/h_k, the
    sub-k regime is exact — sf0.001 exercises exact, sf0.01
    saturated."""
    from metadata_etl_framework_spark.ops.sketch import (
        kmv_estimate,
        kmv_sketch,
    )

    s = kmv_sketch(_t(spark, sf_dir, "orders"), "o_custkey", k=256)
    return kmv_estimate(s, k=256)


def _sketch_countmin_orders(spark, sf_dir):
    """Count-min point-frequency estimates (ops/sketch.py::
    countmin_sketch + countmin_query): 3x256 counter grid over
    o_custkey, probed for custkeys 1..10 — broadcast grid join, min
    over rows never undercounts."""
    from metadata_etl_framework_spark.ops.sketch import (
        countmin_query,
        countmin_sketch,
    )

    o = _t(spark, sf_dir, "orders")
    cm = countmin_sketch(o, "o_custkey", depth=3, width=256)
    keys = spark.range(1, 11).select(F.col("id").alias("k"))
    return countmin_query(cm, keys, "k", depth=3, width=256)


def _events_acf_hourly(spark, sf_dir):
    """Autocorrelation function at hourly lags 1..6
    (functions/aggregations.py::acf_table): per-hour decimal-exact
    mean series, then ONE bounded-grid self-join yielding all lags and
    the global-mean ACF estimator — the seasonality-vs-shift readout
    for drift triage."""
    from metadata_etl_framework_spark.functions.aggregations import (
        acf_table,
    )

    ev = _t(spark, sf_dir, "events")
    return acf_table(ev, "ts", "value", bucket_seconds=3600, max_lag=6)


def _sketch_kll_rollup_price(spark, sf_dir):
    """Mergeable quantile sketch rollup (ops/sketch.py::kll_sketch /
    kll_merge / kll_quantiles): per-priority KLL-family deterministic
    compactors (k=32) over orders.o_totalprice, bag-union merged to a
    global sketch, then p25/p50/p75/p90/p99 rank-selected off the
    weight CDF — the edge-free mergeable counterpart of the exact
    global-quantiles prefix scan (reference's exact per-batch median:
    /root/reference/src/quality/dq_engine.py:42-67). Every step is
    integer block arithmetic + weighted order statistics, replayed
    bit-for-bit by the DuckDB oracle."""
    from metadata_etl_framework_spark.ops.sketch import (
        kll_merge,
        kll_quantiles,
        kll_sketch,
    )

    o = _t(spark, sf_dir, "orders").select(
        F.col("o_orderpriority").alias("g"), "o_totalprice"
    )
    sk = kll_sketch(o, "o_totalprice", k=32, group_cols=["g"])
    merged = kll_merge([], sk.select("value", "weight"))
    return kll_quantiles(
        merged, (0.25, 0.5, 0.75, 0.9, 0.99)
    ).orderBy("p")


def _sketch_kll_rollup_events(spark, sf_dir):
    """Hypertable quantile rollup end-to-end (ops/sketch.py::
    windowed_kll_rollup → kll_rollup_quantiles): one ≤ 32-item
    KLL-family summary per hour bucket of events.value, bag-union
    merged across the full range, p50/p95 rank-selected off the
    weight CDF — "p95 latency per hour, and across any hour range"
    without re-reading raw data; the windowed twin of
    sketch_kll_rollup_price."""
    from metadata_etl_framework_spark.ops.sketch import (
        kll_rollup_quantiles,
        windowed_kll_rollup,
    )

    ev = _t(spark, sf_dir, "events")
    roll = windowed_kll_rollup(ev, "ts", "value", "1 hour", k=32)
    return kll_rollup_quantiles(roll, (0.5, 0.95)).orderBy("p")


def _sketch_hll_rollup_events(spark, sf_dir):
    """Per-hour HLL register tables (ops/sketch.py::
    windowed_hll_rollup) over events.user_id — the mergeable
    distinct-count rollup a hypertable stores: <= 64 rows per bucket,
    max is associative so hour tables roll up to any range."""
    from metadata_etl_framework_spark.ops.sketch import (
        windowed_hll_rollup,
    )

    ev = _t(spark, sf_dir, "events")
    return windowed_hll_rollup(ev, "ts", "user_id", "1 hour", m=64)


def _sketch_hll_range_estimate_events(spark, sf_dir):
    """Range distinct-count from the materialized rollup
    (ops/sketch.py::hll_rollup_estimate): merge registers across the
    bucket range (groupBy.max — never re-reads raw events), then the
    harmonic/linear-counting estimator."""
    from metadata_etl_framework_spark.ops.sketch import (
        hll_rollup_estimate,
        windowed_hll_rollup,
    )

    ev = _t(spark, sf_dir, "events")
    rollup = windowed_hll_rollup(ev, "ts", "user_id", "1 hour", m=64)
    return hll_rollup_estimate(rollup, m=64)


def _sketch_histogram_lineitem(spark, sf_dir):
    """Mergeable quantile histogram (ops/sketch.py::histogram_sketch):
    fixed pre-agreed edges over l_extendedprice, 64 bins + NULL bin —
    the third sketch-store axis (distinct/frequency/QUANTILES), merge
    = groupBy.sum."""
    from metadata_etl_framework_spark.ops.sketch import histogram_sketch

    li = _t(spark, sf_dir, "lineitem")
    return histogram_sketch(li, "l_extendedprice", 0.0, 120000.0, 64)


def _sketch_quantiles_lineitem(spark, sf_dir):
    """Quantiles off the histogram sketch's bin CDF (ops/sketch.py::
    quantile_from_histogram): bounded-grid cumulative window, ±half-
    bin error bracket — the binned-arm contract of the drift suite
    applied to quantile serving."""
    from metadata_etl_framework_spark.ops.sketch import (
        histogram_sketch,
        quantile_from_histogram,
    )

    li = _t(spark, sf_dir, "lineitem")
    h = histogram_sketch(li, "l_extendedprice", 0.0, 120000.0, 64)
    return quantile_from_histogram(h, (0.25, 0.5, 0.9, 0.99))


def _events_markov_attribution(spark, sf_dir):
    """Markov removal-effect attribution (ops/attribution.py::
    markov_attribution): per-user journey windows -> transition
    shares -> 20 fixed rounds of value iteration, base chain + one
    removal chain per channel — row-scale windows distributed, the
    solve on the bounded collected state grid (integer micro-units of
    ROUND(p*v,12), bit-replayed by the unrolled-CTE oracle)."""
    from metadata_etl_framework_spark.ops.attribution import (
        markov_attribution,
    )

    ev = _t(spark, sf_dir, "events")
    return markov_attribution(
        ev, "purchase", ["click", "view", "signup"], iterations=20
    )


def _events_periodogram(spark, sf_dir):
    """Discrete periodogram (functions/aggregations.py::
    dominant_periods): spectral power per candidate period 2..48 over
    the hourly value series — the detector that picks season= for the
    forecast/anomaly ops; bounded bucket x period fan-out,
    12dp-DECIMAL trig-product sums."""
    from metadata_etl_framework_spark.functions.aggregations import (
        dominant_periods,
    )

    ev = _t(spark, sf_dir, "events")
    return dominant_periods(
        ev, "ts", "value", bucket_seconds=3600, min_period=2,
        max_period=48,
    )


def _events_seasonal_anomaly(spark, sf_dir):
    """Seasonality-aware anomaly detection (quality/anomaly.py::
    detect_seasonal_residual): hourly value means, modular season 24,
    z > 2.5 on the residual vs each hour-of-cycle's own mean — the
    'normal for 2 a.m.' filter; acf_table series shape + the
    detect_zscore partition-order-independent stats on residuals."""
    from metadata_etl_framework_spark.quality.anomaly import (
        detect_seasonal_residual,
    )

    ev = _t(spark, sf_dir, "events")
    return detect_seasonal_residual(
        ev, "ts", "value", bucket_seconds=3600, season=24, threshold=2.5
    )


def _events_forecast_baseline(spark, sf_dir):
    """Seasonal-naive forecast backtest (functions/aggregations.py::
    forecast_baseline_eval): hourly value means, season 24 — MAE /
    RMSE / sMAPE of y_{t-24}, MASE vs the persistence forecast; the
    acf_table scale shape (one groupBy, bounded-grid self-join)."""
    from metadata_etl_framework_spark.functions.aggregations import (
        forecast_baseline_eval,
    )

    ev = _t(spark, sf_dir, "events")
    return forecast_baseline_eval(
        ev, "ts", "value", bucket_seconds=3600, season=24
    )


register("events_session_stats", build=_events_session_stats, oracle="""
            WITH b AS (SELECT user_id, event_id, ts FROM events
                       WHERE user_id IS NOT NULL AND ts IS NOT NULL),
            s AS (SELECT *,
                         CASE WHEN LAG(ts) OVER w IS NULL
                               OR ts > LAG(ts) OVER w + INTERVAL 30 MINUTE
                              THEN 1 ELSE 0 END AS ns
                  FROM b
                  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
            s2 AS (SELECT *,
                          SUM(ns) OVER (PARTITION BY user_id
                                        ORDER BY ts, event_id
                                        ROWS UNBOUNDED PRECEDING)
                            AS session_id
                   FROM s)
            SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
                   CAST(COUNT(*) AS BIGINT) AS n_events,
                   ROUND(EPOCH(MAX(ts)) - EPOCH(MIN(ts)), 6) AS duration_s,
                   STRFTIME(MIN(ts), '%Y-%m-%d %H:%M:%S') AS started,
                   STRFTIME(MAX(ts), '%Y-%m-%d %H:%M:%S') AS ended,
                   COUNT(*) = 1 AS is_bounce
            FROM s2 GROUP BY user_id, session_id
        """)

register("events_time_weighted_avg", build=_events_time_weighted_avg, oracle="""
            WITH s AS (SELECT event_type, CAST(value AS DOUBLE) AS v, ts,
                              LEAD(ts) OVER (PARTITION BY event_type
                                             ORDER BY ts, event_id) AS nxt
                       FROM events
                       WHERE ts IS NOT NULL AND value IS NOT NULL),
            d AS (SELECT event_type, v,
                         EPOCH(nxt) - EPOCH(ts) AS dur
                  FROM s WHERE nxt IS NOT NULL)
            SELECT event_type,
                   ROUND(CAST(SUM(CAST(v * dur AS DECIMAL(30,10))) AS DOUBLE)
                         / CAST(SUM(CAST(dur AS DECIMAL(30,10))) AS DOUBLE),
                         6) AS twap,
                   CAST(COUNT(*) AS BIGINT) AS n_intervals,
                   ROUND(CAST(SUM(CAST(dur AS DECIMAL(30,10))) AS DOUBLE),
                         6) AS span_s
            FROM d GROUP BY event_type
        """)

register("events_cumulative_users", build=_events_cumulative_users, oracle="""
            WITH f AS (SELECT user_id,
                              MIN(DATE_TRUNC('hour', ts)) AS period
                       FROM events
                       WHERE user_id IS NOT NULL AND ts IS NOT NULL
                       GROUP BY user_id),
            n AS (SELECT period, COUNT(*) AS new_users FROM f GROUP BY period)
            SELECT period, CAST(new_users AS BIGINT) AS new_users,
                   CAST(SUM(new_users) OVER (ORDER BY period
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                        AS BIGINT) AS cumulative_users
            FROM n
        """)

register("events_changepoint", build=_events_changepoint, oracle="""
            WITH base AS (SELECT CAST(value AS DOUBLE) AS v, ts, event_id
                          FROM events
                          WHERE value IS NOT NULL AND ts IS NOT NULL),
            r AS (SELECT v,
                         ROW_NUMBER() OVER (ORDER BY ts, event_id) AS t,
                         CAST(SUM(CAST(v AS DECIMAL(30,10)))
                                OVER (ORDER BY ts, event_id
                                      ROWS BETWEEN UNBOUNDED PRECEDING
                                           AND CURRENT ROW)
                              AS DECIMAL(38,10)) AS s
                  FROM base),
            tot AS (SELECT COUNT(*) AS n,
                           CAST(SUM(CAST(v AS DECIMAL(30,10)))
                                AS DECIMAL(38,10)) AS sn
                    FROM base),
            d AS (SELECT t, s, n, sn,
                         ABS(CAST(s AS DOUBLE)
                             - (t / n) * CAST(sn AS DOUBLE)) AS dd
                  FROM r, tot WHERE t < n)
            SELECT CAST(t AS BIGINT) AS split_after,
                   ROUND(dd, 6) AS stat,
                   ROUND(CAST(s AS DOUBLE) / t, 6) AS mean_before,
                   ROUND((CAST(sn AS DOUBLE) - CAST(s AS DOUBLE))
                         / (n - t), 6) AS mean_after,
                   CAST(n AS BIGINT) AS n
            FROM d ORDER BY ROUND(dd, 6) DESC, t LIMIT 1
        """)

register("funnel_windowed", build=_funnel_windowed, oracle="""
            WITH a AS (
              SELECT user_id, ts, event_type,
                     MIN(CASE WHEN event_type = 'view' THEN ts END)
                       OVER (PARTITION BY user_id) AS s0
              FROM events
            ), b AS (
              SELECT *, MIN(CASE WHEN event_type = 'click'
                                  AND s0 IS NOT NULL AND ts >= s0
                                  AND ts <= s0 + INTERVAL 172800 SECOND
                                 THEN ts END)
                          OVER (PARTITION BY user_id) AS s1
              FROM a
            ), c AS (
              SELECT *, MIN(CASE WHEN event_type = 'purchase'
                                  AND s1 IS NOT NULL AND ts >= s1
                                  AND ts <= s1 + INTERVAL 172800 SECOND
                                 THEN ts END)
                          OVER (PARTITION BY user_id) AS s2
              FROM b
            ), u AS (
              SELECT user_id, MIN(s0) AS s0, MIN(s1) AS s1, MIN(s2) AS s2
              FROM c GROUP BY user_id
            ), n AS (
              SELECT COUNT(s0) AS n0, COUNT(s1) AS n1, COUNT(s2) AS n2 FROM u
            )
            SELECT CAST(0 AS INT) AS step_index, 'view' AS step_name,
                   n0 AS users_reached, CAST(1.0 AS DOUBLE) AS conversion_from_prev
            FROM n
            UNION ALL
            SELECT CAST(1 AS INT), 'click', n1,
                   ROUND(CASE WHEN n0 > 0 THEN CAST(n1 AS DOUBLE) / n0
                              ELSE 0.0 END, 6)
            FROM n
            UNION ALL
            SELECT CAST(2 AS INT), 'purchase', n2,
                   ROUND(CASE WHEN n1 > 0 THEN CAST(n2 AS DOUBLE) / n1
                              ELSE 0.0 END, 6)
            FROM n
        """)

register("events_conversion_latency", build=_events_conversion_latency, oracle="""
            WITH a AS (
              SELECT user_id, ts, event_type,
                     MIN(CASE WHEN event_type = 'view' THEN ts END)
                       OVER (PARTITION BY user_id) AS s0
              FROM events
            ), b AS (
              SELECT *, MIN(CASE WHEN event_type = 'purchase'
                                  AND s0 IS NOT NULL AND ts >= s0
                                 THEN ts END)
                          OVER (PARTITION BY user_id) AS s1
              FROM a
            ), u AS (
              SELECT user_id, MIN(s0) AS t0, MIN(s1) AS t1
              FROM b GROUP BY user_id
            ), lat AS (
              SELECT EPOCH(t1) - EPOCH(t0) AS lat_s FROM u
              WHERE t1 IS NOT NULL
            )
            SELECT CAST(COUNT(*) AS BIGINT) AS n_converted,
                   ROUND(CAST(SUM(CAST(lat_s AS DECIMAL(30,10))) AS DOUBLE)
                         / COUNT(*), 6) AS mean_s,
                   ROUND(quantile_cont(lat_s, 0.5), 6) AS p50_s,
                   ROUND(quantile_cont(lat_s, 0.9), 6) AS p90_s
            FROM lat
        """)

register("events_trigrams", build=_events_trigrams, oracle="""
            WITH s AS (SELECT event_type AS e1,
                   LEAD(event_type, 1) OVER (PARTITION BY user_id
                                             ORDER BY ts, event_id) AS e2,
                   LEAD(event_type, 2) OVER (PARTITION BY user_id
                                             ORDER BY ts, event_id) AS e3
                FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL)
            SELECT e1, e2, e3, CAST(COUNT(*) AS BIGINT) AS n
            FROM s WHERE e2 IS NOT NULL AND e3 IS NOT NULL
            GROUP BY 1, 2, 3
            ORDER BY n DESC, e1, e2, e3 LIMIT 20
        """)

register("events_window_topk", build=_events_window_topk, oracle="""
            WITH c AS (SELECT DATE_TRUNC('day', ts) AS window_start,
                              event_type, COUNT(*) AS n
                       FROM events
                       WHERE ts IS NOT NULL AND event_type IS NOT NULL
                       GROUP BY 1, 2),
            r AS (SELECT window_start, event_type, n,
                         CAST(ROW_NUMBER() OVER (PARTITION BY window_start
                                                 ORDER BY n DESC, event_type)
                              AS INT) AS rk
                  FROM c)
            SELECT window_start, event_type, CAST(n AS BIGINT) AS n, rk
            FROM r WHERE rk <= 3
        """)

register("events_seasonal_dow", build=_events_seasonal_dow, oracle="""
            WITH per AS (SELECT dayofweek(ts) + 1 AS season,
                                COUNT(*) AS n,
                                SUM(CAST(CAST(value AS DOUBLE)
                                         AS DECIMAL(30,10))) AS s
                         FROM events
                         WHERE ts IS NOT NULL AND value IS NOT NULL
                         GROUP BY 1),
            tot AS (SELECT SUM(n) AS tn, SUM(s) AS ts FROM per)
            SELECT CAST(season AS INT) AS season, CAST(n AS BIGINT) AS n,
                   ROUND(CAST(s AS DOUBLE) / n, 6) AS mean,
                   ROUND(CAST(s AS DOUBLE) / n
                         - CAST(tot.ts AS DOUBLE) / tot.tn, 6) AS effect
            FROM per CROSS JOIN tot
        """)

register("events_tumbling", build=_events_tumbling, oracle="""
            SELECT DATE_TRUNC('hour', ts) AS window_start, event_type,
                   COUNT(*) AS cnt,
                   CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS value_sum
            FROM events GROUP BY 1, 2
        """)

register("events_sliding", build=_events_sliding, oracle="""
            SELECT ws AS window_start, event_type, COUNT(*) AS cnt
            FROM (
              SELECT event_type,
                     UNNEST([time_bucket(INTERVAL '30 minutes', ts),
                             time_bucket(INTERVAL '30 minutes', ts)
                               - INTERVAL '30 minutes']) AS ws
              FROM events
            ) GROUP BY ws, event_type
        """)

register("events_sessions", build=_events_sessions, tags=("headline",), oracle="""
            WITH o AS (
              SELECT user_id, ts,
                     LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
              FROM events
            )
            SELECT user_id,
                   COUNT(CASE WHEN prev IS NULL OR ts > prev + INTERVAL 30 MINUTE
                              THEN 1 END) AS n_sessions
            FROM o GROUP BY user_id
        """)

register("events_windows", build=_events_windows, tags=("headline",), oracle=f"""
            SELECT 'tumbling' AS kind, window_start, event_type, cnt, value_sum
            FROM ({oracle_of("events_tumbling")})
            UNION ALL
            SELECT 'sliding', window_start, event_type, cnt, CAST(NULL AS DOUBLE)
            FROM ({oracle_of("events_sliding")})
        """)

register("events_inter_event_gaps", build=_events_inter_event_gaps, oracle="""
            WITH g AS (SELECT event_type,
                              EPOCH(ts) - EPOCH(LAG(ts) OVER (
                                  PARTITION BY user_id
                                  ORDER BY ts, event_id)) AS gap_s
                       FROM events
                       WHERE user_id IS NOT NULL AND ts IS NOT NULL)
            SELECT event_type,
                   CAST(COUNT(gap_s) AS BIGINT) AS n_gaps,
                   ROUND(AVG(gap_s), 6) AS avg_gap_s,
                   ROUND(QUANTILE_CONT(gap_s, 0.5), 6) AS p50_gap_s,
                   ROUND(MAX(gap_s), 6) AS max_gap_s
            FROM g WHERE gap_s IS NOT NULL
            GROUP BY event_type
        """)

register("events_stickiness", build=_events_stickiness, oracle="""
            WITH pairs AS (SELECT DISTINCT user_id AS u,
                                  CAST(DATE_TRUNC('day', ts) AS DATE) AS d
                           FROM events
                           WHERE ts IS NOT NULL AND user_id IS NOT NULL),
            mx AS (SELECT MAX(d) AS mxd FROM pairs),
            dau AS (SELECT d AS day, COUNT(DISTINCT u) AS dau
                    FROM pairs GROUP BY d),
            wau AS (SELECT day, COUNT(DISTINCT u) AS wau FROM (
                      SELECT u, d + i AS day
                      FROM pairs CROSS JOIN
                           (SELECT UNNEST([0,1,2,3,4,5,6]) AS i)) c, mx
                    WHERE day <= mxd GROUP BY day)
            SELECT STRFTIME(dau.day, '%Y-%m-%d') AS day,
                   CAST(dau AS BIGINT) AS dau, CAST(wau AS BIGINT) AS wau,
                   ROUND(CASE WHEN wau > 0
                              THEN dau / CAST(wau AS DOUBLE) END, 6)
                     AS stickiness
            FROM dau JOIN wau ON dau.day = wau.day
        """)

register("events_json_profile", build=_events_json_profile, oracle="""
            WITH base AS (SELECT props FROM events
                          WHERE props IS NOT NULL
                            AND json_valid(props)),
            t AS (SELECT COUNT(*) AS total FROM base),
            kv AS (SELECT key,
                          CASE WHEN v IS NULL THEN 'null'
                               WHEN v SIMILAR TO '-?[0-9]+' THEN 'integer'
                               WHEN v SIMILAR TO
                                    '-?[0-9]+\\.[0-9]+([eE][+-]?[0-9]+)?'
                                    THEN 'double'
                               WHEN v IN ('true', 'false') THEN 'boolean'
                               WHEN v LIKE '{%' THEN 'object'
                               WHEN v LIKE '[%' THEN 'array'
                               ELSE 'string' END AS cls
                   FROM (SELECT k AS key,
                                json_extract_string(props,
                                    '$."' || k || '"') AS v
                         FROM (SELECT props,
                                      UNNEST(json_keys(props::JSON)) AS k
                               FROM base))),
            bc AS (SELECT key, cls, COUNT(*) AS c FROM kv GROUP BY 1, 2),
            rk AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY key
                                ORDER BY c DESC, cls) AS r FROM bc)
            SELECT rk.key, CAST(SUM(c) AS BIGINT) AS n_present,
                   ROUND(SUM(c) / MAX(t.total), 6) AS fraction,
                   MIN(CASE WHEN r = 1 THEN cls END) AS vtype
            FROM rk, t GROUP BY rk.key ORDER BY rk.key
        """)

register("funnel_conversion", build=_funnel_conversion, tags=("headline",), oracle="""
            WITH a AS (
              SELECT user_id, ts, event_type,
                     MIN(CASE WHEN event_type = 'view' THEN ts END)
                       OVER (PARTITION BY user_id) AS s0
              FROM events
            ), b AS (
              SELECT *, MIN(CASE WHEN event_type = 'click'
                                  AND s0 IS NOT NULL AND ts >= s0
                                 THEN ts END)
                          OVER (PARTITION BY user_id) AS s1
              FROM a
            ), c AS (
              SELECT *, MIN(CASE WHEN event_type = 'purchase'
                                  AND s1 IS NOT NULL AND ts >= s1
                                 THEN ts END)
                          OVER (PARTITION BY user_id) AS s2
              FROM b
            ), u AS (
              SELECT user_id, MIN(s0) AS s0, MIN(s1) AS s1, MIN(s2) AS s2
              FROM c GROUP BY user_id
            ), n AS (
              SELECT COUNT(s0) AS n0, COUNT(s1) AS n1, COUNT(s2) AS n2 FROM u
            )
            SELECT CAST(0 AS INT) AS step_index, 'view' AS step_name,
                   n0 AS users_reached, CAST(1.0 AS DOUBLE) AS conversion_from_prev
            FROM n
            UNION ALL
            SELECT CAST(1 AS INT), 'click', n1,
                   ROUND(CASE WHEN n0 > 0 THEN CAST(n1 AS DOUBLE) / n0
                              ELSE 0.0 END, 6)
            FROM n
            UNION ALL
            SELECT CAST(2 AS INT), 'purchase', n2,
                   ROUND(CASE WHEN n1 > 0 THEN CAST(n2 AS DOUBLE) / n1
                              ELSE 0.0 END, 6)
            FROM n
        """)

register("events_ab_test", build=_events_ab_test, oracle=r"""
            WITH per_unit AS (
              SELECT user_id,
                     MAX(CASE WHEN user_id % 2 = 0 THEN 'A' ELSE 'B' END)
                       AS variant,
                     MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0
                         END) AS conv
              FROM events WHERE user_id IS NOT NULL GROUP BY user_id),
            pv AS (SELECT variant, COUNT(*) AS n, SUM(conv) AS c
                   FROM per_unit GROUP BY variant),
            two AS (
              SELECT a.variant AS variant_a, a.n AS n_a, a.c AS c_a,
                     b.variant AS variant_b, b.n AS n_b, b.c AS c_b
              FROM pv a, pv b WHERE a.variant = 'A' AND b.variant = 'B')
            SELECT variant_a, CAST(n_a AS BIGINT) AS n_a,
                   ROUND(c_a / n_a, 6) AS rate_a,
                   variant_b, CAST(n_b AS BIGINT) AS n_b,
                   ROUND(c_b / n_b, 6) AS rate_b,
                   ROUND(CASE WHEN SQRT(((c_a + c_b) / (n_a + n_b))
                                 * (1 - (c_a + c_b) / (n_a + n_b))
                                 * (1.0 / n_a + 1.0 / n_b)) > 0
                         THEN (c_a / n_a - c_b / n_b)
                              / SQRT(((c_a + c_b) / (n_a + n_b))
                                 * (1 - (c_a + c_b) / (n_a + n_b))
                                 * (1.0 / n_a + 1.0 / n_b))
                         ELSE 0.0 END, 6) AS z_score,
                   (ABS(ROUND(CASE WHEN SQRT(((c_a + c_b) / (n_a + n_b))
                                 * (1 - (c_a + c_b) / (n_a + n_b))
                                 * (1.0 / n_a + 1.0 / n_b)) > 0
                         THEN (c_a / n_a - c_b / n_b)
                              / SQRT(((c_a + c_b) / (n_a + n_b))
                                 * (1 - (c_a + c_b) / (n_a + n_b))
                                 * (1.0 / n_a + 1.0 / n_b))
                         ELSE 0.0 END, 6)) > 1.959964) AS significant_95
            FROM two
        """)

register("events_kaplan_meier", build=_events_kaplan_meier, oracle=r"""
            WITH per_user AS (
              SELECT user_id, MIN(ts) AS f, MAX(ts) AS l FROM events
              WHERE user_id IS NOT NULL AND ts IS NOT NULL
              GROUP BY user_id),
            oe AS (SELECT MAX(l) AS endd FROM per_user),
            lifed AS (
              SELECT DATEDIFF('day', CAST(f AS DATE), CAST(l AS DATE)) AS t,
                     CASE WHEN DATEDIFF('day', CAST(l AS DATE),
                                        CAST(endd AS DATE)) > 7
                          THEN 1 ELSE 0 END AS event
              FROM per_user, oe),
            counts AS (SELECT t, COUNT(*) AS a, SUM(event) AS d
                       FROM lifed GROUP BY t),
            tot AS (SELECT SUM(a) AS N FROM counts),
            cum AS (SELECT t, a, d, N, SUM(a) OVER (ORDER BY t) AS cum_a
                    FROM counts, tot),
            st AS (SELECT t, a, d, (N - cum_a + a) AS n_at_risk,
                          CASE WHEN d = (N - cum_a + a) THEN 1 ELSE 0 END
                            AS zero,
                          CASE WHEN d > 0 AND d < (N - cum_a + a)
                               THEN LN(1.0 - d / (N - cum_a + a))
                               ELSE 0.0 END AS lnf
                   FROM cum),
            fin AS (SELECT t, a, d, n_at_risk,
                           SUM(lnf) OVER (ORDER BY t) AS cum_ln,
                           MAX(zero) OVER (ORDER BY t) AS any_zero
                    FROM st)
            SELECT t AS duration_days,
                   CAST(n_at_risk AS BIGINT) AS n_at_risk,
                   CAST(d AS BIGINT) AS n_events,
                   CAST(a - d AS BIGINT) AS n_censored_here,
                   ROUND(CASE WHEN any_zero = 1 THEN 0.0
                              ELSE EXP(cum_ln) END, 6) AS survival
            FROM fin
        """)

register("events_nelson_aalen", build=_events_nelson_aalen, oracle=r"""
            WITH per_user AS (
              SELECT user_id, MIN(ts) AS f, MAX(ts) AS l FROM events
              WHERE user_id IS NOT NULL AND ts IS NOT NULL
              GROUP BY user_id),
            oe AS (SELECT MAX(l) AS endd FROM per_user),
            lifed AS (
              SELECT DATEDIFF('day', CAST(f AS DATE), CAST(l AS DATE)) AS t,
                     CASE WHEN DATEDIFF('day', CAST(l AS DATE),
                                        CAST(endd AS DATE)) > 7
                          THEN 1 ELSE 0 END AS event
              FROM per_user, oe),
            counts AS (SELECT t, COUNT(*) AS a, SUM(event) AS d
                       FROM lifed GROUP BY t),
            tot AS (SELECT SUM(a) AS N FROM counts),
            cum AS (SELECT t, a, d, N, SUM(a) OVER (ORDER BY t) AS cum_a
                    FROM counts, tot),
            st AS (SELECT t, d, (N - cum_a + a) AS n_at_risk,
                          CAST(ROUND(CAST(d AS DOUBLE)
                               / CAST(N - cum_a + a AS DOUBLE), 12)
                               AS DECIMAL(28,12)) AS inc_dec
                   FROM cum)
            SELECT t AS duration_days,
                   CAST(n_at_risk AS BIGINT) AS n_at_risk,
                   CAST(d AS BIGINT) AS n_events,
                   ROUND(CAST(d AS DOUBLE) / CAST(n_at_risk AS DOUBLE),
                         6) AS hazard_increment,
                   ROUND(CAST(SUM(inc_dec) OVER (ORDER BY t)
                              AS DOUBLE), 6) AS cumulative_hazard
            FROM st
        """)

register("events_debounce", build=_events_debounce, oracle=r"""
            WITH lagged AS (
              SELECT event_id, user_id, event_type,
                     FLOOR(EPOCH(ts))
                       - FLOOR(EPOCH(LAG(ts) OVER (
                           PARTITION BY user_id, event_type
                           ORDER BY ts, event_id))) AS gap,
                     LAG(ts) OVER (PARTITION BY user_id, event_type
                                   ORDER BY ts, event_id) AS prev
              FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL)
            SELECT event_id, user_id, event_type
            FROM lagged WHERE prev IS NULL OR gap >= 600
        """)

register("events_transitions", build=_events_transitions, oracle=r"""
            WITH steps AS (
              SELECT event_type AS from_type,
                     LEAD(event_type) OVER (PARTITION BY user_id
                                            ORDER BY ts, event_id)
                       AS to_type
              FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL),
            counts AS (SELECT from_type, to_type,
                              COUNT(*) AS n_transitions
                       FROM steps WHERE to_type IS NOT NULL
                       GROUP BY 1, 2),
            origins AS (SELECT from_type, SUM(n_transitions) AS tot
                        FROM counts GROUP BY 1)
            SELECT c.from_type, c.to_type, c.n_transitions,
                   ROUND(c.n_transitions / o.tot, 6) AS p_transition
            FROM counts c JOIN origins o ON c.from_type = o.from_type
        """)

register(
    "events_attribution_last_touch", build=_events_attribution_last_touch,
    tags=("headline",),
    oracle=r"""
            WITH conv AS (SELECT user_id, event_id AS conversion_id, ts
                          FROM events WHERE event_type = 'purchase'),
            touch AS (SELECT user_id, ts, MAX(event_id) AS touch_id,
                             ARG_MAX(event_type, event_id) AS touch_type
                      FROM events WHERE event_type IN ('click', 'view')
                      GROUP BY user_id, ts)
            SELECT c.conversion_id, c.user_id,
                   CASE WHEN t.ts >= c.ts - INTERVAL 3 DAY
                        THEN t.touch_id END AS touch_id,
                   CASE WHEN t.ts >= c.ts - INTERVAL 3 DAY
                        THEN t.touch_type END AS touch_type,
                   CASE WHEN t.ts >= c.ts - INTERVAL 3 DAY
                        THEN CAST(FLOOR(EPOCH(c.ts)) - FLOOR(EPOCH(t.ts))
                                  AS BIGINT) END AS gap_seconds
            FROM conv c ASOF LEFT JOIN touch t
              ON c.user_id = t.user_id AND c.ts >= t.ts
        """,
)

register(
    "events_attribution_first_touch", build=_events_attribution_first_touch,
    oracle=r"""
            WITH conv AS (SELECT user_id, event_id AS conversion_id, ts
                          FROM events WHERE event_type = 'purchase'),
            touch AS (SELECT user_id, ts, event_id AS touch_id,
                             event_type AS touch_type
                      FROM events WHERE event_type IN ('click', 'view')),
            firsts AS (
              SELECT user_id, ts AS first_ts, touch_id, touch_type FROM (
                SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
                                             ORDER BY ts, touch_id) AS rn
                FROM touch) WHERE rn = 1)
            SELECT c.conversion_id, c.user_id,
                   CASE WHEN f.first_ts <= c.ts THEN f.touch_id
                        END AS touch_id,
                   CASE WHEN f.first_ts <= c.ts THEN f.touch_type
                        END AS touch_type,
                   CASE WHEN f.first_ts <= c.ts
                        THEN CAST(FLOOR(EPOCH(c.ts)) - FLOOR(EPOCH(f.first_ts))
                                  AS BIGINT) END AS gap_seconds
            FROM conv c LEFT JOIN firsts f ON c.user_id = f.user_id
        """,
)

register(
    "events_rolling_active_users", build=_events_rolling_active_users,
    tags=("headline",),
    oracle=r"""
            WITH pairs AS (
              SELECT DISTINCT user_id,
                     CAST(DATE_TRUNC('day', ts) AS DATE) AS d
              FROM events
              WHERE ts IS NOT NULL AND user_id IS NOT NULL),
            mx AS (SELECT MAX(d) AS mxd FROM pairs),
            ex AS (SELECT user_id, d + CAST(i AS INTEGER) AS day
                   FROM pairs, UNNEST(GENERATE_SERIES(0, 6)) AS u(i))
            SELECT CAST(day AS TIMESTAMP) AS day,
                   COUNT(DISTINCT user_id) AS active_users,
                   7 AS window_days
            FROM ex, mx WHERE day <= mxd GROUP BY day
        """,
)

register(
    "events_cohort_retention", build=_events_cohort_retention, tags=("headline",),
    oracle=r"""
            WITH p AS (
              SELECT user_id AS "user", DATE_TRUNC('week', ts) AS ap
              FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL),
            firsts AS (SELECT "user", MIN(ap) AS cohort
                       FROM p GROUP BY "user"),
            act AS (SELECT DISTINCT "user", ap FROM p),
            j AS (SELECT a."user", f.cohort,
                         CAST(FLOOR(DATEDIFF('day', f.cohort, a.ap) / 7.0)
                              AS INT) AS period_offset
                  FROM act a JOIN firsts f ON a."user" = f."user"),
            sizes AS (SELECT cohort, COUNT(*) AS cohort_size
                      FROM firsts GROUP BY cohort)
            SELECT j.cohort, j.period_offset,
                   COUNT(DISTINCT j."user") AS active_users,
                   s.cohort_size,
                   ROUND(COUNT(DISTINCT j."user") / s.cohort_size, 6)
                     AS retention_rate
            FROM j JOIN sizes s ON j.cohort = s.cohort
            GROUP BY j.cohort, j.period_offset, s.cohort_size
        """,
)


_HLL_REGS_SQL = f"""
  WITH {_hash32_cte_sql(
      "SELECT o_custkey AS x FROM orders WHERE o_custkey IS NOT NULL")}
  SELECT CAST(h % 64 AS INTEGER) AS register,
         CAST(MAX(CASE WHEN (h >> 6) > 0
                  THEN bit_count(((h >> 6) & -(h >> 6)) - 1) + 1
                  ELSE 27 END) AS INTEGER) AS max_rank
  FROM hh GROUP BY 1
"""


register(
    "sketch_hll_registers_orders", build=_sketch_hll_registers_orders,
    oracle=_HLL_REGS_SQL,
)

register("sketch_hll_estimate_orders", build=_sketch_hll_estimate_orders, oracle=f"""
            WITH regs AS ({_HLL_REGS_SQL}),
            s AS (SELECT COUNT(*) AS observed,
                         SUM(POWER(0.5, max_rank)) AS hsum
                  FROM regs),
            e AS (SELECT observed, 64 - observed AS v,
                         CAST(0.709 AS DOUBLE) * 64 * 64
                           / (hsum + (64 - observed)) AS e_raw
                  FROM s)
            SELECT 64 AS m,
                   CAST(observed AS BIGINT) AS observed,
                   CAST(v AS BIGINT) AS v_zero,
                   CASE WHEN e_raw <= 160.0 AND v > 0
                        THEN 'linear' ELSE 'raw' END AS regime,
                   ROUND(CASE WHEN e_raw <= 160.0 AND v > 0
                         THEN 64.0 * LN(CAST(64 AS DOUBLE) / v)
                         ELSE e_raw END, 4) AS estimate
            FROM e
        """)

register("sketch_kmv_orders", build=_sketch_kmv_orders, oracle=f"""
            WITH {_hash32_cte_sql(
                "SELECT o_custkey AS x FROM orders "
                "WHERE o_custkey IS NOT NULL")},
            dh AS (SELECT DISTINCT h FROM hh),
            top AS (SELECT h, ROW_NUMBER() OVER (ORDER BY h) AS pos
                    FROM dh ORDER BY h LIMIT 256)
            SELECT 256 AS k,
                   CAST(COUNT(*) AS BIGINT) AS n_values,
                   MAX(CASE WHEN pos = 256 THEN h END) AS kth_hash,
                   CASE WHEN COUNT(*) >= 256
                        THEN 'estimate' ELSE 'exact' END AS regime,
                   ROUND(CASE WHEN COUNT(*) >= 256
                         THEN CAST(255 AS DOUBLE) * 4294967296
                              / MAX(CASE WHEN pos = 256 THEN h END)
                         ELSE CAST(COUNT(*) AS DOUBLE) END, 4)
                     AS estimate
            FROM top
        """)

register("sketch_countmin_orders", build=_sketch_countmin_orders, oracle=f"""
            WITH {_hash32_cte_sql(
                "SELECT o_custkey + d * 40503 AS x, d FROM orders, "
                "(SELECT UNNEST([0, 1, 2]) AS d) "
                "WHERE o_custkey IS NOT NULL")},
            cm AS (SELECT d AS row, CAST(h % 256 AS INTEGER) AS bucket,
                          CAST(COUNT(*) AS BIGINT) AS cnt
                   FROM hh GROUP BY 1, 2),
            {_hash32_cte_sql(
                "SELECT key + d * 40503 AS x, key, d "
                "FROM (SELECT UNNEST(GENERATE_SERIES(1, 10)) AS key), "
                "(SELECT UNNEST([0, 1, 2]) AS d)").replace(
                    "src AS", "ksrc AS").replace("FROM src", "FROM ksrc")
                .replace("hc1 AS", "khc1 AS").replace("FROM hc1", "FROM khc1")
                .replace("hc2 AS", "khc2 AS").replace("FROM hc2", "FROM khc2")
                .replace("hh AS", "khh AS")},
            probes AS (SELECT key, d AS row,
                              CAST(h % 256 AS INTEGER) AS bucket
                       FROM khh)
            SELECT key, CAST(MIN(COALESCE(cnt, 0)) AS BIGINT) AS est_count
            FROM probes LEFT JOIN cm USING (row, bucket)
            GROUP BY key
        """)

# ACF replay: identical hour-index series, global-mean
# estimator; double centered-products survive 6dp rounding
# (the F.corr precedent)
register("events_acf_hourly", build=_events_acf_hourly, oracle="""
            WITH series AS (
              SELECT FLOOR(EPOCH(ts) / 3600) AS i,
                     CAST(SUM(CAST(value AS DECIMAL(30,10))) AS DOUBLE)
                       / COUNT(*) AS y
              FROM events
              WHERE ts IS NOT NULL AND value IS NOT NULL
              GROUP BY 1),
            stats AS (SELECT AVG(y) AS mu FROM series),
            centered AS (SELECT i, y - mu AS c FROM series, stats),
            den AS (SELECT SUM(c * c) AS dn FROM centered)
            SELECT CAST(s2.i - s1.i AS INTEGER) AS lag,
                   CAST(COUNT(*) AS BIGINT) AS n_pairs,
                   ROUND(CASE WHEN dn > 0
                         THEN SUM(s1.c * s2.c) / dn END, 6) AS acf
            FROM centered s1
            JOIN centered s2
              ON s2.i > s1.i AND s2.i <= s1.i + 6, den
            GROUP BY 1, dn
        """)


# histogram-sketch oracles: fixed-edge binning (width 1875 exact in
# double) and the bin-CDF quantile read-off with its half-bin bracket
_HIST_SKETCH_SQL = """
  SELECT bin,
         CASE WHEN bin >= 0 THEN 0.0 + bin * 1875.0 END AS bin_lo,
         CASE WHEN bin >= 0 THEN 0.0 + (bin + 1) * 1875.0 END AS bin_hi,
         CAST(COUNT(*) AS BIGINT) AS cnt
  FROM (SELECT CASE WHEN l_extendedprice IS NULL THEN -1
               ELSE LEAST(63, GREATEST(0, CAST(FLOOR(
                      (CAST(l_extendedprice AS DOUBLE) - 0.0) / 1875.0)
                    AS INTEGER))) END AS bin
        FROM lineitem)
  GROUP BY bin
"""


def _hist_quantile_arm_sql(q: str) -> str:
    # parenthesized so ORDER BY/LIMIT bind per-arm inside the UNION ALL
    return f"""
      (SELECT CAST({q} AS DOUBLE) AS q, CAST(n AS BIGINT) AS n, bin,
              bin_lo, bin_hi,
              ROUND((bin_lo + bin_hi) / 2, 6) AS estimate,
              ROUND((bin_hi - bin_lo) / 2, 6) AS err_bound
       FROM cum, tot
       WHERE c >= CEIL(CAST({q} AS DOUBLE) * n)
       ORDER BY bin LIMIT 1)
    """


register(
    "sketch_histogram_lineitem", build=_sketch_histogram_lineitem,
    oracle=_HIST_SKETCH_SQL,
)

register("sketch_quantiles_lineitem", build=_sketch_quantiles_lineitem, oracle=f"""
            WITH h AS ({_HIST_SKETCH_SQL}),
            v AS (SELECT * FROM h WHERE bin >= 0),
            cum AS (SELECT bin, bin_lo, bin_hi, cnt,
                           SUM(cnt) OVER (ORDER BY bin
                             ROWS BETWEEN UNBOUNDED PRECEDING
                             AND CURRENT ROW) AS c
                    FROM v),
            tot AS (SELECT SUM(cnt) AS n FROM v)
            {_hist_quantile_arm_sql("0.25")}
            UNION ALL {_hist_quantile_arm_sql("0.5")}
            UNION ALL {_hist_quantile_arm_sql("0.9")}
            UNION ALL {_hist_quantile_arm_sql("0.99")}
        """)


# windowed-HLL-rollup oracles: the same register arithmetic keyed by
# DATE_TRUNC hour buckets (Spark's window('1 hour').start), and the
# range estimate replaying the two-level max merge
_HLL_ROLLUP_SQL = f"""
  WITH {_hash32_cte_sql(
      "SELECT user_id AS x, DATE_TRUNC('hour', ts) AS bucket_start "
      "FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL")}
  SELECT bucket_start, CAST(h % 64 AS INTEGER) AS register,
         CAST(MAX(CASE WHEN (h >> 6) > 0
                  THEN bit_count(((h >> 6) & -(h >> 6)) - 1) + 1
                  ELSE 27 END) AS INTEGER) AS max_rank
  FROM hh GROUP BY 1, 2
"""


# KLL-family deterministic quantile sketch: per-priority k=32
# block compactors -> bag-union merge -> CDF rank selection.
# Pure integer block arithmetic + weighted order statistics —
# the same doubles, the same ranks, in any engine.
register(
    "sketch_kll_rollup_price", build=_sketch_kll_rollup_price, tags=("headline",),
    oracle="""
            WITH base AS (
              SELECT o_orderpriority AS g,
                     CAST(o_totalprice AS DOUBLE) AS v
              FROM orders WHERE o_totalprice IS NOT NULL
            ),
            per_v AS (SELECT g, v, COUNT(*) AS c FROM base GROUP BY 1, 2),
            cum AS (SELECT g, v, c,
                           SUM(c) OVER (PARTITION BY g ORDER BY v) AS cm
                    FROM per_v),
            tot AS (SELECT g, SUM(c) AS n FROM per_v GROUP BY 1),
            tg AS (
              SELECT g, i,
                     (n // 32) + CASE WHEN i <= n % 32 THEN 1 ELSE 0 END
                       AS w,
                     (i - 1) * (n // 32) + LEAST(i - 1, n % 32)
                       + ((n // 32)
                          + CASE WHEN i <= n % 32 THEN 1 ELSE 0 END
                          + 1) // 2 AS m
              FROM tot, (SELECT UNNEST(range(1, 33)) AS i)
            ),
            sk AS (
              SELECT c2.v AS value, t.w AS weight
              FROM cum c2 JOIN tg t
                ON c2.g = t.g AND c2.cm >= t.m AND c2.cm - c2.c < t.m
              WHERE t.w > 0
            ),
            merged AS (SELECT value, SUM(weight) AS weight
                       FROM sk GROUP BY 1),
            mcum AS (SELECT value, weight,
                            SUM(weight) OVER (ORDER BY value) AS cm
                     FROM merged),
            mtot AS (SELECT SUM(weight) AS n FROM merged),
            probs AS (SELECT CAST(UNNEST([0.25, 0.5, 0.75, 0.9, 0.99])
                                  AS DOUBLE) AS p),
            sel AS (SELECT p, n, GREATEST(1, CEIL(p * n)) AS r
                    FROM mtot, probs)
            SELECT s.p AS p, CAST(s.n AS BIGINT) AS n,
                   m.value AS estimate
            FROM mcum m JOIN sel s
              ON m.cm >= s.r AND m.cm - m.weight < s.r
            ORDER BY p
        """,
)

register(
    "sketch_kll_rollup_events", build=_sketch_kll_rollup_events, tags=("headline",),
    oracle="""
            WITH base AS (
              SELECT DATE_TRUNC('hour', ts) AS g,
                     CAST(value AS DOUBLE) AS v
              FROM events
              WHERE value IS NOT NULL AND ts IS NOT NULL
            ),
            per_v AS (SELECT g, v, COUNT(*) AS c FROM base GROUP BY 1, 2),
            cum AS (SELECT g, v, c,
                           SUM(c) OVER (PARTITION BY g ORDER BY v) AS cm
                    FROM per_v),
            tot AS (SELECT g, SUM(c) AS n FROM per_v GROUP BY 1),
            tg AS (
              SELECT g, i,
                     (n // 32) + CASE WHEN i <= n % 32 THEN 1 ELSE 0 END
                       AS w,
                     (i - 1) * (n // 32) + LEAST(i - 1, n % 32)
                       + ((n // 32)
                          + CASE WHEN i <= n % 32 THEN 1 ELSE 0 END
                          + 1) // 2 AS m
              FROM tot, (SELECT UNNEST(range(1, 33)) AS i)
            ),
            sk AS (
              SELECT c2.v AS value, t.w AS weight
              FROM cum c2 JOIN tg t
                ON c2.g = t.g AND c2.cm >= t.m AND c2.cm - c2.c < t.m
              WHERE t.w > 0
            ),
            merged AS (SELECT value, SUM(weight) AS weight
                       FROM sk GROUP BY 1),
            mcum AS (SELECT value, weight,
                            SUM(weight) OVER (ORDER BY value) AS cm
                     FROM merged),
            mtot AS (SELECT SUM(weight) AS n FROM merged),
            probs AS (SELECT CAST(UNNEST([0.5, 0.95])
                                  AS DOUBLE) AS p),
            sel AS (SELECT p, n, GREATEST(1, CEIL(p * n)) AS r
                    FROM mtot, probs)
            SELECT s.p AS p, CAST(s.n AS BIGINT) AS n,
                   m.value AS estimate
            FROM mcum m JOIN sel s
              ON m.cm >= s.r AND m.cm - m.weight < s.r
            ORDER BY p
        """,
)

register(
    "sketch_hll_rollup_events", build=_sketch_hll_rollup_events, tags=("headline",),
    oracle=_HLL_ROLLUP_SQL,
)

register(
    "sketch_hll_range_estimate_events", build=_sketch_hll_range_estimate_events,
    oracle=f"""
            WITH ru AS ({_HLL_ROLLUP_SQL}),
            regs AS (SELECT register, MAX(max_rank) AS max_rank
                     FROM ru GROUP BY 1),
            s AS (SELECT COUNT(*) AS observed,
                         SUM(POWER(0.5, max_rank)) AS hsum
                  FROM regs),
            e AS (SELECT observed, 64 - observed AS v,
                         CAST(0.709 AS DOUBLE) * 64 * 64
                           / (hsum + (64 - observed)) AS e_raw
                  FROM s)
            SELECT 64 AS m,
                   CAST(observed AS BIGINT) AS observed,
                   CAST(v AS BIGINT) AS v_zero,
                   CASE WHEN e_raw <= 160.0 AND v > 0
                        THEN 'linear' ELSE 'raw' END AS regime,
                   ROUND(CASE WHEN e_raw <= 160.0 AND v > 0
                         THEN 64.0 * LN(CAST(64 AS DOUBLE) / v)
                         ELSE e_raw END, 4) AS estimate
            FROM e
        """,
)

register("events_forecast_baseline", build=_events_forecast_baseline, oracle="""
            WITH series AS (
              SELECT FLOOR(EPOCH(ts) / 3600) AS i,
                     CAST(SUM(CAST(value AS DECIMAL(30,10))) AS DOUBLE)
                       / COUNT(*) AS y
              FROM events
              WHERE ts IS NOT NULL AND value IS NOT NULL
              GROUP BY 1),
            pairs AS (SELECT s2.i - s1.i AS lag, s2.y AS y, s1.y AS f
                      FROM series s1 JOIN series s2
                        ON s2.i - s1.i IN (1, 24)),
            terms AS (SELECT lag, ABS(y - f) AS ae,
                             CASE WHEN ABS(y) + ABS(f) > 0
                                  THEN 2.0 * ABS(y - f)
                                       / (ABS(y) + ABS(f))
                                  ELSE 0.0 END AS st
                      FROM pairs),
            per_lag AS (SELECT lag, COUNT(*) AS n,
                               CAST(SUM(CAST(ROUND(ae, 12)
                                 AS DECIMAL(28,12))) AS DOUBLE) AS sae,
                               CAST(SUM(CAST(ROUND(ae * ae, 12)
                                 AS DECIMAL(28,12))) AS DOUBLE) AS sse,
                               CAST(SUM(CAST(ROUND(st, 12)
                                 AS DECIMAL(28,12))) AS DOUBLE) AS ssm
                        FROM terms GROUP BY 1),
            agg AS (SELECT
                      COALESCE(SUM(CASE WHEN lag = 24 THEN n END), 0)
                        AS nf,
                      SUM(CASE WHEN lag = 24 THEN sae END) AS sae,
                      SUM(CASE WHEN lag = 24 THEN sse END) AS sse,
                      SUM(CASE WHEN lag = 24 THEN ssm END) AS ssm,
                      SUM(CASE WHEN lag = 1 THEN sae END) AS nae,
                      SUM(CASE WHEN lag = 1 THEN n END) AS nn
                    FROM per_lag)
            SELECT 24 AS season, CAST(nf AS BIGINT) AS n_forecasts,
                   ROUND(CASE WHEN nf > 0 THEN sae / nf END, 6) AS mae,
                   ROUND(CASE WHEN nf > 0 THEN SQRT(sse / nf) END, 6)
                     AS rmse,
                   ROUND(CASE WHEN nf > 0 THEN ssm / nf END, 6)
                     AS smape,
                   ROUND(CASE WHEN nf > 0 AND nn > 0
                              AND nae / nn > 0
                         THEN (sae / nf) / (nae / nn) END, 6) AS mase
            FROM agg
        """)


# Markov removal-effect attribution oracle (ops/attribution.py::
# markov_attribution): journey windows, transition shares, and the
# fixed-iteration value-iteration solve replayed — the driver-side
# integer-micro-unit arithmetic is exactly ROUND(p*v,12) accumulated
# as DECIMAL(28,12), so every v matches bit-for-bit per round
_MARKOV_TOUCHES = ["click", "view", "signup"]
_MARKOV_ITERS = 20


def _markov_value_iter_sql(tr: str, px: str) -> str:
    sts = ", ".join(f"'{s}'" for s in _MARKOV_TOUCHES + ["start"])
    # MATERIALIZED per round: inlined, each chain is a 20-deep nested
    # subquery and the planner (not execution) blows up — the k-core
    # oracle lesson applied to the value iteration
    ctes = [
        f"""{px}0 AS MATERIALIZED (
             SELECT UNNEST([{sts}]) AS state, 0.0 AS v
             UNION ALL SELECT 'conv', 1.0
             UNION ALL SELECT 'null', 0.0)"""
    ]
    for i in range(1, _MARKOV_ITERS + 1):
        ctes.append(
            f"""{px}{i} AS MATERIALIZED (
              SELECT st.state, COALESCE(nv.v, 0.0) AS v
              FROM (SELECT UNNEST([{sts}]) AS state) st
              LEFT JOIN (SELECT t.s AS state,
                                CAST(SUM(CAST(ROUND(t.p * pv.v, 12)
                                     AS DECIMAL(28,12))) AS DOUBLE) AS v
                         FROM {tr} t JOIN {px}{i-1} pv
                           ON t.d = pv.state
                         GROUP BY 1) nv ON st.state = nv.state
              UNION ALL SELECT 'conv', 1.0
              UNION ALL SELECT 'null', 0.0)"""
        )
    return ",\n".join(ctes)


def _markov_attribution_sql() -> str:
    touches_in = ", ".join(f"'{t}'" for t in _MARKOV_TOUCHES)
    removed_trs = []
    solves = [_markov_value_iter_sql("tr", "b")]
    for t in _MARKOV_TOUCHES:
        removed_trs.append(
            f"""tr_{t} AS MATERIALIZED (
              SELECT s, d2 AS d,
                     CAST(SUM(CAST(ROUND(p, 12) AS DECIMAL(28,12)))
                          AS DOUBLE) AS p
              FROM (SELECT s,
                           CASE WHEN d = '{t}' THEN 'null' ELSE d END
                             AS d2,
                           p
                    FROM tr WHERE s <> '{t}')
              GROUP BY 1, 2)"""
        )
        solves.append(_markov_value_iter_sql(f"tr_{t}", f"r{t}"))
    k = _MARKOV_ITERS
    eff_cols = ", ".join(
        f"GREATEST(base - r_{t}, 0.0) AS e_{t}" for t in _MARKOV_TOUCHES
    )
    te_expr = " + ".join(f"e_{t}" for t in _MARKOV_TOUCHES)
    arms = []
    for t in _MARKOV_TOUCHES:
        arms.append(
            f"""SELECT '{t}' AS touch,
                   ROUND(base, 6) AS base_conversion,
                   ROUND(r_{t}, 6) AS removed_conversion,
                   ROUND(e_{t}, 6) AS removal_effect,
                   ROUND(CASE WHEN te > 0 THEN e_{t} / te END, 6)
                     AS share
               FROM tot"""
        )
    return f"""
      WITH ev AS (SELECT user_id AS u, ts AS t, event_id AS eid,
                         event_type AS st
                  FROM events
                  WHERE event_type IN ({touches_in}, 'purchase')
                    AND user_id IS NOT NULL AND ts IS NOT NULL),
      tagged AS (SELECT *,
                        COALESCE(SUM(CASE WHEN st = 'purchase'
                                     THEN 1 ELSE 0 END)
                          OVER (PARTITION BY u ORDER BY t, eid
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                AND 1 PRECEDING), 0) AS jid
                 FROM ev),
      tch AS (SELECT * FROM tagged WHERE st <> 'purchase'),
      steps AS (SELECT COALESCE(LAG(st) OVER (PARTITION BY u, jid
                                              ORDER BY t, eid),
                                'start') AS s,
                       st AS d
                FROM tch),
      lastt AS (SELECT u, jid, st AS lt
                FROM (SELECT u, jid, st,
                             ROW_NUMBER() OVER (PARTITION BY u, jid
                               ORDER BY t DESC, eid DESC) AS rn
                      FROM tch)
                WHERE rn = 1),
      perj AS (SELECT g.u, g.jid, g.has_conv, l.lt
               FROM (SELECT u, jid,
                            MAX(CASE WHEN st = 'purchase'
                                THEN 1 ELSE 0 END) AS has_conv
                     FROM tagged GROUP BY 1, 2) g
               LEFT JOIN lastt l ON g.u = l.u AND g.jid = l.jid),
      ends AS (SELECT COALESCE(lt, 'start') AS s,
                      CASE WHEN has_conv = 1 THEN 'conv'
                           ELSE 'null' END AS d
               FROM perj),
      cnts AS (SELECT s, d, COUNT(*) AS c
               FROM (SELECT s, d FROM steps
                     UNION ALL SELECT s, d FROM ends)
               GROUP BY 1, 2),
      tot_s AS (SELECT s, SUM(c) AS n FROM cnts GROUP BY 1),
      tr AS MATERIALIZED (SELECT cnts.s, cnts.d,
                     CAST(cnts.c AS DOUBLE) / CAST(tot_s.n AS DOUBLE)
                       AS p
              FROM cnts JOIN tot_s ON cnts.s = tot_s.s),
      {",".join(removed_trs)},
      {",".join(solves)},
      fin AS (SELECT (SELECT v FROM b{k} WHERE state = 'start')
                       AS base,
                     {", ".join(
                       f"(SELECT v FROM r{t}{k} WHERE state = 'start')"
                       f" AS r_{t}" for t in _MARKOV_TOUCHES)}),
      eff AS (SELECT *, {eff_cols} FROM fin),
      tot AS (SELECT *, {te_expr} AS te FROM eff)
      {" UNION ALL ".join(arms)}
    """


register(
    "events_markov_attribution", build=_events_markov_attribution, tags=("headline",),
    oracle=_markov_attribution_sql(),
)

# periodogram oracle (functions/aggregations.py::dominant_periods):
# the centered series, the (i % p) phase convention and the
# 12dp-DECIMAL trig-product sums replayed
register("events_periodogram", build=_events_periodogram, tags=("headline",), oracle="""
            WITH series AS (
              SELECT CAST(FLOOR(EPOCH(ts) / 3600) AS BIGINT) AS i,
                     CAST(SUM(CAST(value AS DECIMAL(30,10))) AS DOUBLE)
                       / COUNT(*) AS y
              FROM events
              WHERE ts IS NOT NULL AND value IS NOT NULL
              GROUP BY 1),
            stats AS (SELECT CAST(SUM(CAST(y AS DECIMAL(30,10)))
                             AS DOUBLE) / COUNT(*) AS mu,
                             COUNT(*) AS nb
                      FROM series),
            centered AS (SELECT i, y - mu AS c, nb FROM series, stats),
            den AS (SELECT CAST(SUM(CAST(ROUND(c * c, 12)
                           AS DECIMAL(38,12))) AS DOUBLE) AS ss,
                           ANY_VALUE(nb) AS nb
                    FROM centered),
            periods AS (SELECT CAST(UNNEST(GENERATE_SERIES(2, 48))
                               AS INTEGER) AS period),
            terms AS (SELECT p.period,
                             CAST(ROUND(c.c * COS(6.283185307179586
                                  * CAST(c.i % p.period AS DOUBLE)
                                  / CAST(p.period AS DOUBLE)), 12)
                                  AS DECIMAL(38,12)) AS tc,
                             CAST(ROUND(c.c * SIN(6.283185307179586
                                  * CAST(c.i % p.period AS DOUBLE)
                                  / CAST(p.period AS DOUBLE)), 12)
                                  AS DECIMAL(38,12)) AS ts
                      FROM centered c, periods p),
            spec AS (SELECT period,
                            CAST(SUM(tc) AS DOUBLE) AS sc,
                            CAST(SUM(ts) AS DOUBLE) AS ss2
                     FROM terms GROUP BY 1)
            SELECT period,
                   CAST(d.nb AS BIGINT) AS n_buckets,
                   ROUND(sc * sc + ss2 * ss2, 6) AS power,
                   ROUND(CASE WHEN d.ss > 0
                         THEN (sc * sc + ss2 * ss2)
                              / (CAST(d.nb AS DOUBLE) * d.ss / 2.0)
                         END, 6) AS fraction
            FROM spec, den d
        """)

# seasonal-residual anomaly oracle (quality/anomaly.py::
# detect_seasonal_residual): bucketed means, modular-season
# expectations, and the partition-order-independent residual z replayed
register("events_seasonal_anomaly", build=_events_seasonal_anomaly, oracle="""
            WITH series AS (
              SELECT CAST(FLOOR(EPOCH(ts) / 3600) AS BIGINT) AS i,
                     CAST(SUM(CAST(value AS DECIMAL(30,10))) AS DOUBLE)
                       / COUNT(*) AS y
              FROM events
              WHERE ts IS NOT NULL AND value IS NOT NULL
              GROUP BY 1),
            s2 AS (SELECT i, y, i % 24 AS season_idx FROM series),
            expect AS (SELECT season_idx,
                              CASE WHEN COUNT(*) > 1
                                   THEN CAST(SUM(CAST(y AS
                                        DECIMAL(30,10))) AS DOUBLE)
                                        / COUNT(*) END AS expected
                       FROM s2 GROUP BY 1),
            resid AS (SELECT s2.i, s2.season_idx, s2.y, e.expected,
                             s2.y - e.expected AS residual
                      FROM s2 JOIN expect e
                        ON s2.season_idx = e.season_idx),
            st AS (SELECT CAST(SUM(CAST(residual AS DECIMAL(30,10)))
                          AS DOUBLE) AS _sum,
                          COUNT(residual) AS _n
                   FROM resid WHERE residual IS NOT NULL),
            m AS (SELECT CASE WHEN _n > 0 THEN _sum / _n END AS _mean,
                         _n
                  FROM st),
            v AS (SELECT CAST(SUM(CAST((residual - _mean)
                          * (residual - _mean) AS DECIMAL(30,12)))
                          AS DOUBLE) AS _ss,
                         ANY_VALUE(_mean) AS _mean,
                         ANY_VALUE(_n) AS _n
                  FROM resid, m WHERE residual IS NOT NULL),
            sd AS (SELECT _mean,
                          CASE WHEN _n > 1 THEN SQRT(_ss / (_n - 1)) END
                            AS _std
                   FROM v)
            SELECT i, season_idx,
                   ROUND(y, 6) AS y,
                   ROUND(expected, 6) AS expected,
                   ROUND(residual, 6) AS residual,
                   ROUND((residual - _mean) / _std, 6) AS z
            FROM resid, sd
            WHERE residual IS NOT NULL AND _std > 0
              AND ABS((residual - _mean) / _std) > 2.5
        """)


def _events_ab_cuped(spark, sf_dir):
    """CUPED-adjusted A/B effect on events (ops/stats.py::
    cuped_adjusted_effect): id-parity variants, post-Jan-15 value sum
    as the metric, pre-Jan-15 value sum as the pre-experiment
    covariate; θ from DECIMAL-exact pooled moments, adjusted means by
    the linear closed form (no second data pass)."""
    from metadata_etl_framework_spark.ops.stats import cuped_adjusted_effect

    split = F.lit("2024-01-15 00:00:00").cast("timestamp")
    ev = _t(spark, sf_dir, "events").select(
        "user_id",
        F.when(F.col("user_id") % 2 == 0, "A").otherwise("B").alias(
            "variant"
        ),
        F.when(F.col("ts") >= split, F.col("value"))
        .otherwise(F.lit(0.0))
        .alias("post_value"),
        F.when(F.col("ts") < split, F.col("value"))
        .otherwise(F.lit(0.0))
        .alias("pre_value"),
    )
    return cuped_adjusted_effect(
        ev, "variant", "post_value", "pre_value", "user_id"
    )


def _events_theil_sen_daily(spark, sf_dir):
    """Theil–Sen robust daily trend per event type (ops/stats.py::
    theil_sen_trend): median pairwise slope over the per-day count
    series — self-equi-join on the series key with the O(m²)
    max_points gate, exact order-statistic medians."""
    from metadata_etl_framework_spark.ops.stats import theil_sen_trend

    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type",
        F.datediff(
            F.to_date("ts"), F.lit("2024-01-01").cast("date")
        ).alias("day"),
    ).agg(F.count(F.lit(1)).cast("double").alias("n"))
    return theil_sen_trend(daily, "event_type", "day", "n", max_points=100)


register("events_ab_cuped", build=_events_ab_cuped, oracle="""
            WITH ev AS (SELECT user_id AS u,
                               CASE WHEN user_id % 2 = 0 THEN 'A'
                                    ELSE 'B' END AS g,
                               CASE WHEN ts >= TIMESTAMP '2024-01-15 00:00:00'
                                    THEN value ELSE 0.0 END AS y,
                               CASE WHEN ts < TIMESTAMP '2024-01-15 00:00:00'
                                    THEN value ELSE 0.0 END AS x
                        FROM events WHERE user_id IS NOT NULL),
            pu AS (SELECT u, MAX(g) AS g,
                          CAST(ROUND(SUM(CAST(y AS DECIMAL(30,10))), 6)
                               AS DECIMAL(18,6)) AS y,
                          CAST(ROUND(SUM(CAST(x AS DECIMAL(30,10))), 6)
                               AS DECIMAL(18,6)) AS x
                   FROM ev GROUP BY 1
                   HAVING COUNT(DISTINCT g) = 1),
            pui AS (SELECT g, x, y,
                           CAST(x * 1000000 AS HUGEINT) AS xi,
                           CAST(y * 1000000 AS HUGEINT) AS yi
                    FROM pu),
            mom AS (SELECT COUNT(*) AS n,
                           CAST(SUM(x) AS DOUBLE) AS sx,
                           SUM(xi) AS sxi, SUM(yi) AS syi,
                           SUM(xi * xi) AS sxxi,
                           SUM(xi * yi) AS sxyi,
                           SUM(yi * yi) AS syyi
                    FROM pui),
            pv AS (SELECT g, COUNT(*) AS cnt,
                          CAST(SUM(y) AS DOUBLE) AS syv,
                          CAST(SUM(x) AS DOUBLE) AS sxv
                   FROM pu GROUP BY 1),
            w AS (SELECT m.*,
                         a.g AS ga, a.cnt AS na, a.syv AS sya, a.sxv AS sxa,
                         b.g AS gb, b.cnt AS nb, b.syv AS syb, b.sxv AS sxb
                  FROM mom m,
                       (SELECT * FROM pv ORDER BY g LIMIT 1) a,
                       (SELECT * FROM pv ORDER BY g DESC LIMIT 1) b),
            -- exact HUGEINT centered numerators (the Welch micro-unit
            -- discipline); only integer->double casts cross into the
            -- ratios below
            calc AS (SELECT *,
                            CAST(n * sxyi - sxi * syi AS DOUBLE) AS cov,
                            CAST(n * sxxi - sxi * sxi AS DOUBLE) AS varx,
                            CAST(n * syyi - syi * syi AS DOUBLE) AS vary,
                            sx / n AS xbar
                     FROM w),
            c2 AS (SELECT *,
                          CASE WHEN varx > 0 THEN cov / varx
                               ELSE 0.0 END AS theta,
                          CASE WHEN varx > 0 AND vary > 0
                               THEN cov * cov / (varx * vary)
                               ELSE 0.0 END AS vr
                   FROM calc)
            SELECT ga AS variant_a, CAST(na AS BIGINT) AS n_a,
                   ROUND(sya / na, 6) AS mean_a,
                   ROUND(sya / na - theta * (sxa / na - xbar), 6)
                       AS adj_mean_a,
                   gb AS variant_b, CAST(nb AS BIGINT) AS n_b,
                   ROUND(syb / nb, 6) AS mean_b,
                   ROUND(syb / nb - theta * (sxb / nb - xbar), 6)
                       AS adj_mean_b,
                   ROUND(sya / na - syb / nb, 6) AS diff,
                   ROUND((sya / na - theta * (sxa / na - xbar))
                         - (syb / nb - theta * (sxb / nb - xbar)), 6)
                       AS adj_diff,
                   ROUND(theta, 6) AS theta,
                   ROUND(vr * 100.0, 6) AS var_reduction_pct
            FROM c2
        """)

register("events_theil_sen_daily", build=_events_theil_sen_daily, oracle="""
            WITH daily AS (SELECT event_type AS g,
                                  CAST(DATEDIFF('day', DATE '2024-01-01',
                                                CAST(ts AS DATE))
                                       AS DOUBLE) AS x,
                                  CAST(COUNT(*) AS DOUBLE) AS y
                           FROM events GROUP BY 1, 2),
            pairs AS (SELECT a.g, (b.y - a.y) / (b.x - a.x) AS s
                      FROM daily a JOIN daily b
                        ON a.g = b.g AND a.x < b.x),
            slopes AS (SELECT g, s,
                              ROW_NUMBER() OVER (
                                  PARTITION BY g ORDER BY s) AS rn,
                              COUNT(*) OVER (PARTITION BY g) AS cnt
                       FROM pairs),
            sl AS (SELECT g,
                          AVG(CASE WHEN rn = FLOOR((cnt + 1) / 2)
                                     OR rn = FLOOR((cnt + 2) / 2)
                                   THEN s END) AS slope,
                          MAX(cnt) AS n_pairs
                   FROM slopes GROUP BY g),
            resid AS (SELECT d.g, d.y - sl.slope * d.x AS r
                      FROM daily d JOIN sl ON d.g = sl.g),
            rr AS (SELECT g, r,
                          ROW_NUMBER() OVER (
                              PARTITION BY g ORDER BY r) AS rn,
                          COUNT(*) OVER (PARTITION BY g) AS cnt
                   FROM resid),
            ic AS (SELECT g,
                          AVG(CASE WHEN rn = FLOOR((cnt + 1) / 2)
                                     OR rn = FLOOR((cnt + 2) / 2)
                                   THEN r END) AS icept
                   FROM rr GROUP BY g),
            sizes AS (SELECT g, COUNT(*) AS m FROM daily GROUP BY g)
            SELECT sizes.g AS "group", CAST(m AS BIGINT) AS n_points,
                   CAST(COALESCE(n_pairs, 0) AS BIGINT) AS n_pairs,
                   ROUND(slope, 6) AS slope,
                   ROUND(icept, 6) AS intercept
            FROM sizes
            LEFT JOIN sl ON sizes.g = sl.g
            LEFT JOIN ic ON sizes.g = ic.g
            ORDER BY 1
        """)


# ---- round 11: survival comparison + experiment power ----


def _events_logrank_ab(spark, sf_dir):
    """Two-group log-rank churn test (ops/retention.py::logrank_test):
    id-parity cohorts, KM-convention censoring, O/E/V accumulated as
    12-dp DECIMAL over the pooled event-lifetime grid, 1-df p-value
    through the A&S normal tail."""
    from metadata_etl_framework_spark.ops.retention import logrank_test

    ev = _t(spark, sf_dir, "events").select(
        "user_id",
        "ts",
        F.when(F.col("user_id") % 2 == 0, "A").otherwise("B").alias(
            "variant"
        ),
    )
    return logrank_test(ev, "variant", "user_id", "ts", horizon_days=0)


def _events_ab_power(spark, sf_dir):
    """Post-hoc power / sample-size readout (ops/stats.py::ab_power):
    achieved power at the observed rates plus required per-arm n for
    80%/90% power — fixed normal-quantile literals, A&S Φ, fully
    SQL-replayable."""
    from metadata_etl_framework_spark.ops.stats import ab_power

    ev = _t(spark, sf_dir, "events").select(
        "user_id",
        F.when(F.col("user_id") % 2 == 0, "A").otherwise("B").alias(
            "variant"
        ),
        (F.col("event_type") == "purchase").alias("converted"),
    )
    return ab_power(ev, "variant", "converted", "user_id")


register("events_logrank_ab", build=_events_logrank_ab, oracle=f"""
            WITH pu AS (SELECT user_id AS u,
                               CASE WHEN user_id % 2 = 0 THEN 'A'
                                    ELSE 'B' END AS g,
                               MIN(ts) AS f, MAX(ts) AS l
                        FROM events
                        WHERE user_id IS NOT NULL AND ts IS NOT NULL
                        GROUP BY 1, 2),
            oe AS (SELECT MAX(l) AS endd FROM pu),
            lifed AS (SELECT g,
                             DATEDIFF('day', CAST(f AS DATE),
                                      CAST(l AS DATE)) AS t,
                             CASE WHEN DATEDIFF('day', CAST(l AS DATE),
                                                CAST(endd AS DATE)) > 0
                                  THEN 1 ELSE 0 END AS ev
                      FROM pu, oe),
            counts AS (SELECT t,
                              SUM(CASE WHEN g = 'A' THEN 1 ELSE 0 END)
                                  AS a1,
                              SUM(CASE WHEN g = 'A' THEN ev ELSE 0 END)
                                  AS d1,
                              SUM(CASE WHEN g <> 'A' THEN 1 ELSE 0 END)
                                  AS a2,
                              SUM(CASE WHEN g <> 'A' THEN ev ELSE 0 END)
                                  AS d2
                       FROM lifed GROUP BY t),
            tot AS (SELECT SUM(a1) AS tn1, SUM(a2) AS tn2,
                           SUM(d1) AS td1, SUM(d2) AS td2
                    FROM counts),
            cum AS (SELECT counts.*, tn1, tn2, td1, td2,
                           SUM(a1) OVER (ORDER BY t) AS ca1,
                           SUM(a2) OVER (ORDER BY t) AS ca2
                    FROM counts, tot),
            st AS (SELECT *, (tn1 - ca1 + a1) AS n1t,
                          (tn2 - ca2 + a2) AS n2t,
                          (tn1 - ca1 + a1) + (tn2 - ca2 + a2) AS nt,
                          d1 + d2 AS dt
                   FROM cum),
            evt AS (SELECT * FROM st WHERE dt > 0),
            terms AS (SELECT tn1, tn2, td1, td2,
                             CAST(ROUND(dt * (CAST(n1t AS DOUBLE) / nt),
                                        12) AS DECIMAL(28,12)) AS e,
                             CAST(ROUND(CASE WHEN nt > 1
                                  THEN dt * (CAST(n1t AS DOUBLE) / nt)
                                       * (CAST(n2t AS DOUBLE) / nt)
                                       * CAST(nt - dt AS DOUBLE)
                                       / (nt - 1)
                                  ELSE 0.0 END, 12)
                                  AS DECIMAL(28,12)) AS v
                      FROM evt),
            s AS (SELECT MIN(tn1) AS fn1, MIN(tn2) AS fn2,
                         MIN(td1) AS fd1, MIN(td2) AS fd2,
                         CAST(SUM(e) AS DOUBLE) AS se1,
                         CAST(SUM(v) AS DOUBLE) AS sv1
                  FROM terms),
            c AS (SELECT *,
                         CASE WHEN sv1 > 0
                              THEN (CAST(fd1 AS DOUBLE) - se1)
                                   * (CAST(fd1 AS DOUBLE) - se1) / sv1
                         END AS chi2
                  FROM s),
            cp AS (SELECT *,
                          CASE WHEN chi2 IS NOT NULL THEN
                              ROUND(LEAST(1.0, GREATEST(0.0,
                                  2.0 * {_normal_sf_sql("SQRT(chi2)")})),
                                    6)
                          END AS p
                   FROM c)
            SELECT 'A' AS variant_a, CAST(fn1 AS BIGINT) AS n_a,
                   CAST(fd1 AS BIGINT) AS events_a,
                   'B' AS variant_b, CAST(fn2 AS BIGINT) AS n_b,
                   CAST(fd2 AS BIGINT) AS events_b,
                   ROUND(se1, 6) AS expected_a,
                   ROUND(chi2, 6) AS chi2,
                   p AS p_value,
                   p < 0.05 AS significant_95
            FROM cp
        """)

register("events_ab_power", build=_events_ab_power, oracle=f"""
            WITH pu AS (SELECT user_id AS u,
                               MAX(CASE WHEN user_id % 2 = 0 THEN 'A'
                                        ELSE 'B' END) AS g,
                               MAX(CASE WHEN event_type = 'purchase'
                                        THEN 1 ELSE 0 END) AS c
                        FROM events WHERE user_id IS NOT NULL
                        GROUP BY 1),
            pv AS (SELECT g, COUNT(*) AS n, SUM(c) AS k
                   FROM pu GROUP BY 1),
            w AS (SELECT a.n AS na, a.k AS ka, b.n AS nb, b.k AS kb
                  FROM (SELECT * FROM pv WHERE g = 'A') a,
                       (SELECT * FROM pv WHERE g = 'B') b),
            calc AS (SELECT na, ka, nb, kb,
                            CAST(ka AS DOUBLE) / na AS ra,
                            CAST(kb AS DOUBLE) / nb AS rb
                     FROM w),
            c2 AS (SELECT *, ra * (1.0 - ra) AS qa,
                          rb * (1.0 - rb) AS qb, ra - rb AS delta
                   FROM calc),
            c3 AS (SELECT *, SQRT(qa / na + qb / nb) AS se FROM c2),
            c4 AS (SELECT *,
                          CASE WHEN se > 0
                               THEN ABS(delta) / se - 1.959964
                          END AS z
                   FROM c3),
            c5 AS (SELECT *,
                          CASE WHEN z IS NOT NULL THEN
                              ROUND(CASE WHEN z >= 0
                                    THEN 1.0 - {_normal_sf_sql("z")}
                                    ELSE {_normal_sf_sql("(-z)")}
                                    END, 6)
                          END AS power
                   FROM c4)
            SELECT 'A' AS variant_a, CAST(na AS BIGINT) AS n_a,
                   ROUND(ra, 6) AS rate_a,
                   'B' AS variant_b, CAST(nb AS BIGINT) AS n_b,
                   ROUND(rb, 6) AS rate_b,
                   ROUND(delta, 6) AS delta, power,
                   CASE WHEN ABS(delta) > 0
                        THEN CAST(CEIL(7.848878512225001 * (qa + qb)
                                       / (delta * delta)) AS BIGINT)
                   END AS n_per_arm_80,
                   CASE WHEN ABS(delta) > 0
                        THEN CAST(CEIL(10.507425978255998 * (qa + qb)
                                       / (delta * delta)) AS BIGINT)
                   END AS n_per_arm_90
            FROM c5
        """)


def _events_cox_ph(spark, sf_dir):
    """Cox proportional-hazards regression over user lifetimes
    (ops/retention.py::cox_ph, Breslow ties, 3 Newton steps): the
    regression member of the survival family — does a user's mean
    event value (micro-unit DECIMAL mean / 100) change the churn
    hazard?
    Horizon 0 (any user whose last event predates the corpus end day
    counts as churned) — the synthetic corpus keeps every user active
    within 7 days of the end, so the KM horizon would yield 0 events.
    Per-duration pico-int grids + DESC suffix sums form the risk-set
    statistics; the oracle unrolls every Newton step and the final
    information pass, A&S tail for the p-value."""
    from metadata_etl_framework_spark.ops.retention import cox_ph

    ev = _t(spark, sf_dir, "events")
    per_user = (
        ev.where(
            F.col("user_id").isNotNull()
            & F.col("ts").isNotNull()
            & F.col("value").isNotNull()
        )
        .groupBy("user_id")
        .agg(
            F.min("ts").alias("_first"),
            F.max("ts").alias("_last"),
            F.sum(
                F.round(F.col("value") * F.lit(1e6)).cast(
                    "decimal(38,0)"
                )
            ).alias("_sv"),
            F.count(F.lit(1)).alias("_n"),
        )
    )
    obs_end = per_user.agg(F.max("_last").alias("_end"))
    subjects = per_user.crossJoin(F.broadcast(obs_end)).select(
        F.datediff(F.col("_last"), F.col("_first")).alias("t"),
        (F.datediff(F.col("_end"), F.col("_last")) > F.lit(0))
        .cast("int")
        .alias("e"),
        # covariate: per-user mean event value (micro-unit DECIMAL
        # mean — order-independent), scaled to O(0.5)
        (
            F.col("_sv").cast("double")
            / F.col("_n")
            / F.lit(1e6)
            / F.lit(100.0)
        ).alias("x"),
    )
    return cox_ph(subjects, "t", "e", "x", iterations=3)


def _events_cox_ph_multi(spark, sf_dir):
    """Multi-covariate Cox PH (ops/retention.py::cox_ph_multi, d=2,
    Breslow ties, 3 Newton steps): churn hazard vs BOTH the per-user
    mean event value and the user's activity volume (events/100) —
    the d×d generalization on the logistic-CV Hessian-grid machinery
    (d+d(d+1)/2 pico streams in one scan per pass, closed-form 2×2
    adjugate solve, 12-dp inter-step rounding). The oracle unrolls
    every Newton step, the final information pass, the 2×2 inverse
    diagonal, and the A&S tails bit-exactly."""
    from metadata_etl_framework_spark.ops.retention import cox_ph_multi

    ev = _t(spark, sf_dir, "events")
    per_user = (
        ev.where(
            F.col("user_id").isNotNull()
            & F.col("ts").isNotNull()
            & F.col("value").isNotNull()
        )
        .groupBy("user_id")
        .agg(
            F.min("ts").alias("_first"),
            F.max("ts").alias("_last"),
            F.sum(
                F.round(F.col("value") * F.lit(1e6)).cast(
                    "decimal(38,0)"
                )
            ).alias("_sv"),
            F.count(F.lit(1)).alias("_n"),
        )
    )
    obs_end = per_user.agg(F.max("_last").alias("_end"))
    subjects = per_user.crossJoin(F.broadcast(obs_end)).select(
        F.datediff(F.col("_last"), F.col("_first")).alias("t"),
        (F.datediff(F.col("_end"), F.col("_last")) > F.lit(0))
        .cast("int")
        .alias("e"),
        (
            F.col("_sv").cast("double")
            / F.col("_n")
            / F.lit(1e6)
            / F.lit(100.0)
        ).alias("x1"),
        # second covariate: activity volume, scaled to O(1)
        (F.col("_n").cast("double") / F.lit(100.0)).alias("x2"),
    )
    return cox_ph_multi(subjects, "t", "e", ["x1", "x2"], iterations=3)


def _events_cox_ph_strata(spark, sf_dir):
    """STRATIFIED Cox PH (ops/retention.py::cox_ph_multi with
    strata_col, d=1, Breslow, 3 Newton steps): churn hazard vs mean
    event value, stratified by the user's MODAL event type (argmax
    count, lexicographic tie-break) — each usage style keeps its own
    baseline hazard and risk sets while β is shared (the partial
    likelihood factorizes per stratum: grid keys and the suffix-sum
    window gain the stratum, nothing else changes). Oracle unrolls
    the per-stratum grids, partitioned suffix sums, and every Newton
    step bit-exactly."""
    from metadata_etl_framework_spark.ops.retention import cox_ph_multi

    ev = _t(spark, sf_dir, "events")
    modal = (
        ev.where(
            F.col("user_id").isNotNull() & F.col("event_type").isNotNull()
        )
        .groupBy("user_id", "event_type")
        .agg(F.count(F.lit(1)).alias("_c"))
        .groupBy("user_id")
        .agg(
            F.min(
                F.struct(
                    (-F.col("_c")).alias("nc"),
                    F.col("event_type").alias("et"),
                )
            ).alias("_m")
        )
        .select("user_id", F.col("_m.et").alias("modal_type"))
    )
    per_user = (
        ev.where(
            F.col("user_id").isNotNull()
            & F.col("ts").isNotNull()
            & F.col("value").isNotNull()
        )
        .groupBy("user_id")
        .agg(
            F.min("ts").alias("_first"),
            F.max("ts").alias("_last"),
            F.sum(
                F.round(F.col("value") * F.lit(1e6)).cast(
                    "decimal(38,0)"
                )
            ).alias("_sv"),
            F.count(F.lit(1)).alias("_n"),
        )
    )
    obs_end = per_user.agg(F.max("_last").alias("_end"))
    subjects = (
        per_user.join(modal, "user_id")
        .crossJoin(F.broadcast(obs_end))
        .select(
            F.datediff(F.col("_last"), F.col("_first")).alias("t"),
            (F.datediff(F.col("_end"), F.col("_last")) > F.lit(0))
            .cast("int")
            .alias("e"),
            (
                F.col("_sv").cast("double")
                / F.col("_n")
                / F.lit(1e6)
                / F.lit(100.0)
            ).alias("x1"),
            F.col("modal_type").alias("site"),
        )
    )
    return cox_ph_multi(
        subjects, "t", "e", ["x1"], iterations=3, strata_col="site"
    )


def _cox_iter_sql(i: int, final: bool = False) -> str:
    """One Cox Newton step under bt{i-1}'s beta: per-duration pico
    grid, DESC suffix sums (risk sets), event-duration score/info
    contribs as 10-dp DECIMAL sums, then the β update (skipped on the
    final information-only pass)."""
    w = "EXP(GREATEST(LEAST(beta * x, 30.0), -30.0))"
    body = f"""
            cg{i} AS (SELECT t,
                     SUM(CAST(ROUND({w}
                          * 1000000000000.0, 0) AS HUGEINT)) AS s0,
                     SUM(CAST(ROUND(x * {w}
                          * 1000000000000.0, 0) AS HUGEINT)) AS s1,
                     SUM(CAST(ROUND(x * x * {w}
                          * 1000000000000.0, 0) AS HUGEINT)) AS s2,
                     SUM(e) AS d,
                     SUM(CAST(ROUND(x * e * 1000000000000.0, 0)
                          AS HUGEINT)) AS dx
              FROM base, bt{i - 1} GROUP BY t),
            cs{i} AS (SELECT t, d, dx,
                     SUM(s0) OVER (ORDER BY t DESC) AS rs0,
                     SUM(s1) OVER (ORDER BY t DESC) AS rs1,
                     SUM(s2) OVER (ORDER BY t DESC) AS rs2
              FROM cg{i}),
            cu{i} AS (SELECT
                     SUM(CAST(ROUND(CAST(dx AS DOUBLE)
                          / 1000000000000.0
                          - d * (CAST(rs1 AS DOUBLE)
                                 / CAST(rs0 AS DOUBLE)), 10)
                          AS DECIMAL(28,10))) AS u,
                     SUM(CAST(ROUND(d * (CAST(rs2 AS DOUBLE)
                                 / CAST(rs0 AS DOUBLE)
                                 - (CAST(rs1 AS DOUBLE)
                                    / CAST(rs0 AS DOUBLE))
                                   * (CAST(rs1 AS DOUBLE)
                                      / CAST(rs0 AS DOUBLE))), 10)
                          AS DECIMAL(28,10))) AS i_
              FROM cs{i} WHERE d > 0)"""
    if final:
        return body
    return body + f""",
            bt{i} AS (SELECT ROUND(beta
                          + CAST(u AS DOUBLE) / CAST(i_ AS DOUBLE),
                          12) AS beta
                      FROM cu{i}, bt{i - 1})"""


register("events_cox_ph", build=_events_cox_ph, tags=("headline", "gated",), oracle=f"""
            WITH per_user AS (
              SELECT user_id, MIN(ts) AS f, MAX(ts) AS l,
                     SUM(CAST(ROUND(value * 1000000.0, 0)
                         AS HUGEINT)) AS sv,
                     COUNT(*) AS n
              FROM events
              WHERE user_id IS NOT NULL AND ts IS NOT NULL
                AND value IS NOT NULL
              GROUP BY user_id),
            oe AS (SELECT MAX(l) AS endd FROM per_user),
            base AS MATERIALIZED (
              SELECT DATEDIFF('day', CAST(f AS DATE),
                              CAST(l AS DATE)) AS t,
                     CASE WHEN DATEDIFF('day', CAST(l AS DATE),
                                        CAST(endd AS DATE)) > 0
                          THEN 1 ELSE 0 END AS e,
                     CAST(sv AS DOUBLE) / n / 1000000.0 / 100.0 AS x
              FROM per_user, oe),
            tot AS (SELECT COUNT(*) AS ns, SUM(e) AS evn FROM base),
            bt0 AS (SELECT 0.0 AS beta),
            {_cox_iter_sql(1)},
            {_cox_iter_sql(2)},
            {_cox_iter_sql(3)},
            {_cox_iter_sql(4, final=True)},
            inf AS (SELECT beta, CAST(i_ AS DOUBLE) AS info
                    FROM cu4, bt3)
            SELECT CAST(ns AS BIGINT) AS n_subjects,
                   CAST(evn AS BIGINT) AS n_events,
                   CASE WHEN COALESCE(info, 0) > 0 THEN beta END
                       AS beta,
                   CASE WHEN COALESCE(info, 0) > 0
                        THEN ROUND(EXP(beta), 6) END AS hazard_ratio,
                   CASE WHEN COALESCE(info, 0) > 0
                        THEN ROUND(1.0 / SQRT(info), 6) END AS se,
                   CASE WHEN COALESCE(info, 0) > 0
                        THEN ROUND(beta * SQRT(info), 6) END AS z,
                   CASE WHEN COALESCE(info, 0) > 0
                        THEN ROUND(LEAST(1.0, GREATEST(0.0, 2.0 *
                       {_normal_sf_sql("ABS(beta * SQRT(info))")}
                       )), 6) END AS p_value
            FROM inf, tot
        """)


def _coxs_iter_sql(i: int, final: bool = False) -> str:
    """One STRATIFIED d=1 Cox Newton step under sb{i-1}'s beta: the
    _cox_iter_sql shape with the stratum joining the grid key and the
    suffix-sum window partition (mirrors cox_ph_multi's strata_col
    arm)."""
    w = "EXP(GREATEST(LEAST(beta * x1, 30.0), -30.0))"
    body = f"""
            sg{i} AS (SELECT g, t,
                     SUM(CAST(ROUND({w}
                          * 1000000000000.0, 0) AS HUGEINT)) AS s0,
                     SUM(CAST(ROUND(x1 * {w}
                          * 1000000000000.0, 0) AS HUGEINT)) AS s1,
                     SUM(CAST(ROUND(x1 * x1 * {w}
                          * 1000000000000.0, 0) AS HUGEINT)) AS s2,
                     SUM(e) AS d,
                     SUM(CAST(ROUND(x1 * e * 1000000000000.0, 0)
                          AS HUGEINT)) AS dx
              FROM base, sb{i - 1} GROUP BY g, t),
            ss{i} AS (SELECT g, t, d, dx,
                     SUM(s0) OVER (PARTITION BY g
                                   ORDER BY t DESC) AS rs0,
                     SUM(s1) OVER (PARTITION BY g
                                   ORDER BY t DESC) AS rs1,
                     SUM(s2) OVER (PARTITION BY g
                                   ORDER BY t DESC) AS rs2
              FROM sg{i}),
            su{i} AS (SELECT
                     SUM(CAST(ROUND(CAST(dx AS DOUBLE)
                          / 1000000000000.0
                          - d * (CAST(rs1 AS DOUBLE)
                                 / CAST(rs0 AS DOUBLE)), 10)
                          AS DECIMAL(28,10))) AS u,
                     SUM(CAST(ROUND(d * (CAST(rs2 AS DOUBLE)
                                 / CAST(rs0 AS DOUBLE)
                                 - (CAST(rs1 AS DOUBLE)
                                    / CAST(rs0 AS DOUBLE))
                                   * (CAST(rs1 AS DOUBLE)
                                      / CAST(rs0 AS DOUBLE))), 10)
                          AS DECIMAL(28,10))) AS i_
              FROM ss{i} WHERE d > 0)"""
    if final:
        return body
    return body + f""",
            sb{i} AS (SELECT ROUND(beta
                          + CAST(u AS DOUBLE) / CAST(i_ AS DOUBLE),
                          12) AS beta
                      FROM su{i}, sb{i - 1})"""


def _cox2_iter_sql(i: int, final: bool = False) -> str:
    """One d=2 Cox Newton step under bt{i-1}'s (b1, b2): per-duration
    pico grids for s0/s1_j/s2_jk/dx_j, DESC suffix sums, 10-dp DECIMAL
    score/info sums, then the closed-form 2×2 adjugate update (skipped
    on the final information-only pass) — mirrors
    ops/retention.py::cox_ph_multi and ops/glm.py::_solve d=2."""
    w = "EXP(GREATEST(LEAST(b1 * x1 + b2 * x2, 30.0), -30.0))"

    def pico(expr: str) -> str:
        return (
            f"SUM(CAST(ROUND({expr} * 1000000000000.0, 0) AS HUGEINT))"
        )

    body = f"""
            mg{i} AS (SELECT t,
                     {pico(w)} AS s0,
                     {pico(f'x1 * {w}')} AS s1_0,
                     {pico(f'x2 * {w}')} AS s1_1,
                     {pico(f'x1 * x1 * {w}')} AS s2_00,
                     {pico(f'x1 * x2 * {w}')} AS s2_01,
                     {pico(f'x2 * x2 * {w}')} AS s2_11,
                     SUM(e) AS d,
                     {pico('x1 * e')} AS dx0,
                     {pico('x2 * e')} AS dx1
              FROM base, mb{i - 1} GROUP BY t),
            ms{i} AS (SELECT t, d, dx0, dx1,
                     SUM(s0) OVER (ORDER BY t DESC) AS rs0,
                     SUM(s1_0) OVER (ORDER BY t DESC) AS rs1_0,
                     SUM(s1_1) OVER (ORDER BY t DESC) AS rs1_1,
                     SUM(s2_00) OVER (ORDER BY t DESC) AS rs2_00,
                     SUM(s2_01) OVER (ORDER BY t DESC) AS rs2_01,
                     SUM(s2_11) OVER (ORDER BY t DESC) AS rs2_11
              FROM mg{i}),
            mu{i} AS (SELECT
                     SUM(CAST(ROUND(CAST(dx0 AS DOUBLE)
                          / 1000000000000.0
                          - d * (CAST(rs1_0 AS DOUBLE)
                                 / CAST(rs0 AS DOUBLE)), 10)
                          AS DECIMAL(28,10))) AS u0,
                     SUM(CAST(ROUND(CAST(dx1 AS DOUBLE)
                          / 1000000000000.0
                          - d * (CAST(rs1_1 AS DOUBLE)
                                 / CAST(rs0 AS DOUBLE)), 10)
                          AS DECIMAL(28,10))) AS u1,
                     SUM(CAST(ROUND(d * (CAST(rs2_00 AS DOUBLE)
                                 / CAST(rs0 AS DOUBLE)
                                 - (CAST(rs1_0 AS DOUBLE)
                                    / CAST(rs0 AS DOUBLE))
                                   * (CAST(rs1_0 AS DOUBLE)
                                      / CAST(rs0 AS DOUBLE))), 10)
                          AS DECIMAL(28,10))) AS i00,
                     SUM(CAST(ROUND(d * (CAST(rs2_01 AS DOUBLE)
                                 / CAST(rs0 AS DOUBLE)
                                 - (CAST(rs1_0 AS DOUBLE)
                                    / CAST(rs0 AS DOUBLE))
                                   * (CAST(rs1_1 AS DOUBLE)
                                      / CAST(rs0 AS DOUBLE))), 10)
                          AS DECIMAL(28,10))) AS i01,
                     SUM(CAST(ROUND(d * (CAST(rs2_11 AS DOUBLE)
                                 / CAST(rs0 AS DOUBLE)
                                 - (CAST(rs1_1 AS DOUBLE)
                                    / CAST(rs0 AS DOUBLE))
                                   * (CAST(rs1_1 AS DOUBLE)
                                      / CAST(rs0 AS DOUBLE))), 10)
                          AS DECIMAL(28,10))) AS i_
              FROM ms{i} WHERE d > 0)"""
    if final:
        return body
    return body + f""",
            mb{i} AS (SELECT
                ROUND(b1 + (CAST(i_ AS DOUBLE) * CAST(u0 AS DOUBLE)
                            - CAST(i01 AS DOUBLE) * CAST(u1 AS DOUBLE))
                           / (CAST(i00 AS DOUBLE) * CAST(i_ AS DOUBLE)
                              - CAST(i01 AS DOUBLE)
                                * CAST(i01 AS DOUBLE)),
                      12) AS b1,
                ROUND(b2 + (CAST(i00 AS DOUBLE) * CAST(u1 AS DOUBLE)
                            - CAST(i01 AS DOUBLE) * CAST(u0 AS DOUBLE))
                           / (CAST(i00 AS DOUBLE) * CAST(i_ AS DOUBLE)
                              - CAST(i01 AS DOUBLE)
                                * CAST(i01 AS DOUBLE)),
                      12) AS b2
                FROM mu{i}, mb{i - 1})"""


register(
    "events_cox_ph_multi", build=_events_cox_ph_multi, tags=("headline", "gated",),
    oracle=f"""
            WITH per_user AS (
              SELECT user_id, MIN(ts) AS f, MAX(ts) AS l,
                     SUM(CAST(ROUND(value * 1000000.0, 0)
                         AS HUGEINT)) AS sv,
                     COUNT(*) AS n
              FROM events
              WHERE user_id IS NOT NULL AND ts IS NOT NULL
                AND value IS NOT NULL
              GROUP BY user_id),
            oe AS (SELECT MAX(l) AS endd FROM per_user),
            base AS MATERIALIZED (
              SELECT DATEDIFF('day', CAST(f AS DATE),
                              CAST(l AS DATE)) AS t,
                     CASE WHEN DATEDIFF('day', CAST(l AS DATE),
                                        CAST(endd AS DATE)) > 0
                          THEN 1 ELSE 0 END AS e,
                     CAST(sv AS DOUBLE) / n / 1000000.0 / 100.0 AS x1,
                     CAST(n AS DOUBLE) / 100.0 AS x2
              FROM per_user, oe),
            tot AS (SELECT COUNT(*) AS ns, SUM(e) AS evn FROM base),
            mb0 AS (SELECT 0.0 AS b1, 0.0 AS b2),
            {_cox2_iter_sql(1)},
            {_cox2_iter_sql(2)},
            {_cox2_iter_sql(3)},
            {_cox2_iter_sql(4, final=True)},
            -- determinant guard mirrors the engine's null-out: the
            -- whole row set nulls when det <= 0 or any inv_jj <= 0
            -- (otherwise IEEE division would emit inf/garbage here
            -- where the engine reports nulls)
            det AS (SELECT CAST(i00 AS DOUBLE) * CAST(i_ AS DOUBLE)
                           - CAST(i01 AS DOUBLE) * CAST(i01 AS DOUBLE)
                               AS dv,
                           CAST(i00 AS DOUBLE) AS d00,
                           CAST(i_ AS DOUBLE) AS d11
                    FROM mu4),
            inv AS (SELECT b1, b2,
                           CASE WHEN dv > 0 THEN d11 / dv END AS inv0,
                           CASE WHEN dv > 0 THEN d00 / dv END AS inv1,
                           (dv > 0 AND d11 > 0 AND d00 > 0) AS ok
                    FROM det, mb3),
            terms AS (
              SELECT 0 AS ord, 'x1' AS term, b1 AS beta, inv0 AS inv,
                     ok FROM inv
              UNION ALL
              SELECT 1, 'x2', b2, inv1, ok FROM inv)
            SELECT term,
                   CASE WHEN ok THEN beta END AS beta,
                   CASE WHEN ok THEN ROUND(EXP(beta), 6) END
                       AS hazard_ratio,
                   CASE WHEN ok THEN ROUND(SQRT(inv), 6) END AS se,
                   CASE WHEN ok THEN ROUND(beta / SQRT(inv), 6) END
                       AS z,
                   CASE WHEN ok THEN
                       ROUND(LEAST(1.0, GREATEST(0.0, 2.0 *
                       {_normal_sf_sql("ABS(beta / SQRT(inv))")}
                       )), 6) END AS p_value,
                   CAST(ns AS BIGINT) AS n_subjects,
                   CAST(evn AS BIGINT) AS n_events
            FROM terms, tot ORDER BY ord
        """,
)

register(
    "events_cox_ph_strata", build=_events_cox_ph_strata, tags=("headline", "gated",),
    oracle=f"""
            WITH modal AS (
              SELECT user_id, MIN(struct_pack(nc := -cnt, et := et)).et
                         AS modal_type
              FROM (SELECT user_id, event_type AS et, COUNT(*) AS cnt
                    FROM events
                    WHERE user_id IS NOT NULL
                      AND event_type IS NOT NULL
                    GROUP BY 1, 2)
              GROUP BY user_id),
            per_user AS (
              SELECT user_id, MIN(ts) AS f, MAX(ts) AS l,
                     SUM(CAST(ROUND(value * 1000000.0, 0)
                         AS HUGEINT)) AS sv,
                     COUNT(*) AS n
              FROM events
              WHERE user_id IS NOT NULL AND ts IS NOT NULL
                AND value IS NOT NULL
              GROUP BY user_id),
            oe AS (SELECT MAX(l) AS endd FROM per_user),
            base AS MATERIALIZED (
              SELECT DATEDIFF('day', CAST(f AS DATE),
                              CAST(l AS DATE)) AS t,
                     CASE WHEN DATEDIFF('day', CAST(l AS DATE),
                                        CAST(endd AS DATE)) > 0
                          THEN 1 ELSE 0 END AS e,
                     CAST(sv AS DOUBLE) / n / 1000000.0 / 100.0 AS x1,
                     modal_type AS g
              FROM per_user JOIN modal USING (user_id), oe),
            tot AS (SELECT COUNT(*) AS ns, SUM(e) AS evn FROM base),
            sb0 AS (SELECT 0.0 AS beta),
            {_coxs_iter_sql(1)},
            {_coxs_iter_sql(2)},
            {_coxs_iter_sql(3)},
            {_coxs_iter_sql(4, final=True)},
            inf AS (SELECT beta,
                           1.0 / CAST(i_ AS DOUBLE) AS inv
                    FROM su4, sb3)
            SELECT 'x1' AS term, beta,
                   ROUND(EXP(beta), 6) AS hazard_ratio,
                   ROUND(SQRT(inv), 6) AS se,
                   ROUND(beta / SQRT(inv), 6) AS z,
                   ROUND(LEAST(1.0, GREATEST(0.0, 2.0 *
                       {_normal_sf_sql("ABS(beta / SQRT(inv))")}
                       )), 6) AS p_value,
                   CAST(ns AS BIGINT) AS n_subjects,
                   CAST(evn AS BIGINT) AS n_events
            FROM inf, tot
        """,
)


def _events_seasonal_decompose(spark, sf_dir):
    """Classical additive decomposition of the daily event series
    (functions/aggregations.py::classical_decompose): centered 7-day
    MA trend, zero-centered per-weekday seasonal means, remainder —
    on the calendar-bounded pre-aggregated frame."""
    from metadata_etl_framework_spark.functions.aggregations import (
        classical_decompose,
    )

    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.datediff(
            F.to_date("ts"), F.lit("2024-01-01").cast("date")
        ).alias("day")
    ).agg(F.count(F.lit(1)).cast("double").alias("n"))
    return classical_decompose(daily, "day", "n", period=7)


register(
    "events_seasonal_decompose", build=_events_seasonal_decompose, tags=("headline",),
    oracle="""
            WITH daily AS (SELECT CAST(DATEDIFF('day',
                                      DATE '2024-01-01',
                                      CAST(ts AS DATE)) AS BIGINT) AS x,
                                  CAST(COUNT(*) AS DOUBLE) AS y
                           FROM events GROUP BY 1),
            t AS (SELECT x, y, CAST(x % 7 AS INT) AS phase,
                         CASE WHEN COUNT(*) OVER w = 7
                              THEN ROUND(CAST(SUM(CAST(y
                                       AS DECIMAL(30,10))) OVER w
                                       AS DOUBLE) / 7.0, 6)
                         END AS trend
                  FROM daily
                  WINDOW w AS (ORDER BY x ROWS BETWEEN 3 PRECEDING
                               AND 3 FOLLOWING)),
            pm AS (SELECT phase,
                          CAST(SUM(CAST(ROUND(y - trend, 10)
                                   AS DECIMAL(28,10))) AS DOUBLE)
                          / COUNT(*) AS pmv
                   FROM t WHERE trend IS NOT NULL GROUP BY 1),
            g AS (SELECT CAST(SUM(CAST(ROUND(pmv, 10)
                                  AS DECIMAL(28,10))) AS DOUBLE)
                         / COUNT(*) AS gm
                  FROM pm),
            s AS (SELECT phase, ROUND(pmv - gm, 6) AS seasonal
                  FROM pm, g)
            SELECT t.x, t.y, t.phase, t.trend, s.seasonal,
                   ROUND(CASE WHEN t.trend IS NOT NULL
                               AND s.seasonal IS NOT NULL
                              THEN t.y - t.trend - s.seasonal END, 6)
                       AS remainder
            FROM t LEFT JOIN s ON t.phase = s.phase
            ORDER BY 1
        """,
)


def _events_ljung_box(spark, sf_dir):
    """Ljung–Box white-noise gate over the hourly value series
    (ops/stats.py::ljung_box): acf_table's global-mean estimator,
    Q(h)=n(n+2)Σr²/(n−k) by ordered running sum, χ² survival via the
    Wilson–Hilferty cube-root normal + A&S tail — all SQL-replayable."""
    from metadata_etl_framework_spark.ops.stats import ljung_box

    ev = _t(spark, sf_dir, "events")
    return ljung_box(ev, "ts", "value", bucket_seconds=3600, max_lag=6)


register("events_ljung_box", build=_events_ljung_box, tags=("headline",), oracle=f"""
            WITH series AS (
              SELECT FLOOR(EPOCH(ts) / 3600) AS i,
                     CAST(SUM(CAST(value AS DECIMAL(30,10))) AS DOUBLE)
                       / COUNT(*) AS y
              FROM events
              WHERE ts IS NOT NULL AND value IS NOT NULL
              GROUP BY 1),
            stats AS (SELECT AVG(y) AS mu FROM series),
            nn AS (SELECT COUNT(*) AS n FROM series),
            centered AS (SELECT i, y - mu AS c FROM series, stats),
            den AS (SELECT SUM(c * c) AS dn FROM centered),
            acf AS (
              SELECT CAST(s2.i - s1.i AS INTEGER) AS lag,
                     ROUND(CASE WHEN dn > 0
                           THEN SUM(s1.c * s2.c) / dn END, 6) AS r
              FROM centered s1
              JOIN centered s2
                ON s2.i > s1.i AND s2.i <= s1.i + 6, den
              GROUP BY 1, dn),
            cum AS (
              SELECT lag, r,
                     CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 2.0)
                     * SUM(r * r / CAST(n - lag AS DOUBLE))
                       OVER (ORDER BY lag
                             ROWS BETWEEN UNBOUNDED PRECEDING
                             AND CURRENT ROW) AS q
              FROM acf, nn WHERE lag < n),
            wh AS (
              SELECT lag, r, q,
                     (POWER(q / CAST(lag AS DOUBLE), 1.0 / 3.0)
                      - (1.0 - 2.0 / (9.0 * CAST(lag AS DOUBLE))))
                     / SQRT(2.0 / (9.0 * CAST(lag AS DOUBLE))) AS z
              FROM cum),
            pv AS (
              SELECT lag, r, q,
                     ROUND(LEAST(1.0, GREATEST(0.0,
                         CASE WHEN z >= 0 THEN {_normal_sf_sql("z")}
                              ELSE 1.0 - {_normal_sf_sql("(-z)")} END)),
                         6) AS p
              FROM wh)
            SELECT lag, r AS acf, ROUND(q, 6) AS q_stat,
                   p AS p_value, p < 0.05 AS white_noise_rejected
            FROM pv ORDER BY lag
        """)


def _events_ab_always_valid(spark, sf_dir):
    """Always-valid (anytime) p-value for the parity-split purchase
    experiment (ops/retention.py::ab_always_valid_p): the mSPRT
    mixture likelihood ratio in closed form — the peeking-safe
    companion to events_ab_test's fixed-horizon z."""
    from metadata_etl_framework_spark.ops.retention import (
        ab_always_valid_p,
    )

    ev = _t(spark, sf_dir, "events").select(
        "user_id",
        F.when(F.col("user_id") % 2 == 0, "A").otherwise("B").alias(
            "variant"
        ),
        (F.col("event_type") == "purchase").alias("converted"),
    )
    return ab_always_valid_p(ev, "variant", "converted", tau=1.0)


# Not a headline: a 1-row closed form over the ab_test reduction.
register("events_ab_always_valid", build=_events_ab_always_valid, oracle=r"""
            WITH per_unit AS (
              SELECT user_id,
                     MAX(CASE WHEN user_id % 2 = 0 THEN 'A' ELSE 'B' END)
                       AS variant,
                     MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0
                         END) AS conv
              FROM events WHERE user_id IS NOT NULL GROUP BY user_id),
            pv AS (SELECT variant, COUNT(*) AS n, SUM(conv) AS c
                   FROM per_unit GROUP BY variant),
            two AS (
              SELECT a.variant AS variant_a, a.n AS n_a, a.c AS c_a,
                     b.variant AS variant_b, b.n AS n_b, b.c AS c_b
              FROM pv a, pv b WHERE a.variant = 'A' AND b.variant = 'B'),
            calc AS (
              SELECT *,
                     ((c_a + c_b) / (n_a + n_b))
                     * (1 - (c_a + c_b) / (n_a + n_b))
                     * (1.0 / n_a + 1.0 / n_b) AS v,
                     c_a / n_a - c_b / n_b AS theta
              FROM two),
            lrc AS (
              SELECT *,
                     CASE WHEN v > 0
                          THEN SQRT(v / (v + 1.0))
                               * EXP(theta * theta * 1.0
                                     / (2.0 * v * (v + 1.0)))
                          ELSE 1.0 END AS lr
              FROM calc)
            SELECT variant_a, CAST(n_a AS BIGINT) AS n_a,
                   ROUND(c_a / n_a, 6) AS rate_a,
                   variant_b, CAST(n_b AS BIGINT) AS n_b,
                   ROUND(c_b / n_b, 6) AS rate_b,
                   ROUND(theta, 6) AS effect,
                   ROUND(lr, 6) AS mixture_lr,
                   ROUND(LEAST(1.0, 1.0 / lr), 6) AS always_valid_p,
                   ROUND(LEAST(1.0, 1.0 / lr), 6) < 0.05
                       AS significant_95
            FROM lrc
        """)


def _events_wilson_ci_type(spark, sf_dir):
    """Per-event-type high-value rates with Wilson score intervals
    (ops/retention.py::proportion_wilson_ci): the calibrated error
    bars a per-segment conversion dashboard needs (Wald collapses at
    the extremes)."""
    from metadata_etl_framework_spark.ops.retention import (
        proportion_wilson_ci,
    )

    ev = _t(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        (F.col("value") > 100.0).alias("high"),
    )
    return proportion_wilson_ci(
        ev, "event_type", "high", unit_col="event_id"
    )


register("events_wilson_ci_type", build=_events_wilson_ci_type, oracle="""
            WITH per_unit AS (
              SELECT event_id,
                     MAX(CAST(event_type AS VARCHAR)) AS grp,
                     MAX(CASE WHEN value > 100.0 THEN 1 ELSE 0 END)
                         AS conv
              FROM events
              WHERE event_id IS NOT NULL AND event_type IS NOT NULL
              GROUP BY event_id),
            pg AS (SELECT grp, COUNT(*) AS n, SUM(conv) AS c
                   FROM per_unit GROUP BY grp),
            calc AS (SELECT grp, n, c,
                            CAST(c AS DOUBLE) / CAST(n AS DOUBLE) AS p,
                            1.0 + 1.959964 * 1.959964
                                / CAST(n AS DOUBLE) AS dn,
                            CAST(n AS DOUBLE) AS nd
                     FROM pg),
            c2 AS (SELECT *,
                          (p + 1.959964 * 1.959964 / (2.0 * nd)) / dn
                              AS center,
                          1.959964 * SQRT(p * (1.0 - p) / nd
                                          + 1.959964 * 1.959964
                                            / (4.0 * nd * nd)) / dn
                              AS half
                   FROM calc)
            SELECT grp AS "group", CAST(n AS BIGINT) AS n_units,
                   CAST(c AS BIGINT) AS conversions,
                   ROUND(p, 6) AS rate,
                   ROUND(GREATEST(center - half, 0.0), 6) AS ci_lo,
                   ROUND(LEAST(center + half, 1.0), 6) AS ci_hi
            FROM c2 ORDER BY 1
        """)


def _events_simpsons_check(spark, sf_dir):
    """Simpson's-paradox screen (ops/stats.py::simpsons_check):
    per-event-type high-value effects vs the pooled effect with
    sign-reversal flags — the aggregation-trap audit; exact integer
    ratios, pooled counts re-summed from the same groupBy."""
    from metadata_etl_framework_spark.ops.stats import simpsons_check

    ev = _t(spark, sf_dir, "events").select(
        "event_type",
        (F.col("user_id") % 2 == 0).alias("t"),
        (F.col("value") > 100.0).alias("y"),
    )
    return simpsons_check(ev, "event_type", "t", "y")


register("events_simpsons_check", build=_events_simpsons_check, oracle="""
            WITH base AS (
              SELECT CAST(event_type AS VARCHAR) AS s,
                     CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END AS t,
                     CASE WHEN value > 100.0 THEN 1 ELSE 0 END AS y
              FROM events
              WHERE event_type IS NOT NULL
                AND user_id IS NOT NULL AND value IS NOT NULL),
            seg AS (SELECT s, SUM(t) AS nt, SUM(t * y) AS ct,
                           SUM(1 - t) AS nc, SUM((1 - t) * y) AS cc
                    FROM base GROUP BY s),
            pooled AS (SELECT SUM(nt) AS pnt, SUM(ct) AS pct,
                              SUM(nc) AS pnc, SUM(cc) AS pcc
                       FROM seg),
            calc AS (SELECT s, nt, nc,
                            CAST(ct AS DOUBLE) / nt AS rt,
                            CAST(cc AS DOUBLE) / nc AS rc,
                            CAST(pct AS DOUBLE) / pnt
                            - CAST(pcc AS DOUBLE) / pnc AS peff
                     FROM seg, pooled
                     WHERE nt > 0 AND nc > 0)
            SELECT s AS segment, CAST(nt AS BIGINT) AS n_treat,
                   ROUND(rt, 6) AS rate_treat,
                   CAST(nc AS BIGINT) AS n_ctrl,
                   ROUND(rc, 6) AS rate_ctrl,
                   ROUND(rt - rc, 6) AS effect,
                   ROUND(peff, 6) AS pooled_effect,
                   ((rt - rc > 0 AND peff < 0)
                    OR (rt - rc < 0 AND peff > 0)) AS reversed
            FROM calc ORDER BY 1
        """)


# ---- round 13 (cont.): AR(2) Yule-Walker forecast + seasonal ESD ----


def _events_ar2_forecast(spark, sf_dir):
    """AR(2) h-step forecast (ops/stats.py::ar_forecast): hourly mean
    series -> exact pico-int autocovariance sums over consecutive-lag
    pairs -> closed-form Yule-Walker on the driver (12-dp literals) ->
    3-step recursion from the last two observed buckets. The oracle
    unrolls series, sums, solve, and recursion as CTEs and reproduces
    the forecasts bit-exactly."""
    from metadata_etl_framework_spark.ops.stats import ar_forecast

    ev = _t(spark, sf_dir, "events")
    return ar_forecast(
        ev, "ts", "value", bucket_seconds=3600, horizon=3
    )


def _events_esd_hourly(spark, sf_dir):
    """Seasonal ESD volume-outlier sweep (ops/stats.py::esd_outliers):
    hourly counts, hour-of-day EXACT-median deseasonalization, k=3
    generalized-ESD rounds — each round recomputes mean/SD from exact
    pico-int sums of the REMAINING residuals and removes the most
    extreme bucket (masked spikes can't hide), argmax ordered by the
    exact integer deviation then bucket index. Oracle unrolls all 3
    rounds."""
    from metadata_etl_framework_spark.ops.stats import esd_outliers

    ev = _t(spark, sf_dir, "events")
    return esd_outliers(
        ev, "ts", None, bucket_seconds=3600, k=3, threshold=3.0,
        season=24,
    )


def _esd_iter_sql(i: int) -> str:
    prev = f"r{i - 1}"
    return f"""
            s{i} AS (SELECT COUNT(*) AS n,
                            SUM(CAST(ROUND(r * 1000000000000.0, 0)
                                     AS HUGEINT)) AS s,
                            SUM(CAST(ROUND(r * r * 1000000000000.0,
                                           0) AS HUGEINT)) AS ss
                     FROM {prev}),
            m{i} AS (SELECT n,
                            CAST(s AS DOUBLE) / 1000000000000.0 / n
                                AS mean,
                            (CAST(ss AS DOUBLE) / 1000000000000.0
                             - (CAST(s AS DOUBLE) / 1000000000000.0)
                               * (CAST(s AS DOUBLE)
                                  / 1000000000000.0) / n)
                            / (n - 1) AS var
                     FROM s{i}),
            t{i} AS (SELECT {prev}.i, {prev}.y, {prev}.r, mean, var
                     FROM {prev}, m{i}
                     ORDER BY ABS(CAST(ROUND((r - mean)
                                             * 1000000000000.0, 0)
                                       AS HUGEINT)) DESC, i ASC
                     LIMIT 1),
            o{i} AS (SELECT {i} AS iteration, i, y, r,
                            CASE WHEN var > 0
                                 THEN ABS(r - mean) / SQRT(var)
                                 ELSE 0.0 END AS rs
                     FROM t{i}),
            r{i} AS (SELECT {prev}.i, {prev}.y, {prev}.r
                     FROM {prev}, o{i} WHERE {prev}.i <> o{i}.i)"""


register(
    "events_ar2_forecast", build=_events_ar2_forecast, tags=("headline",),
    oracle="""
            WITH series AS (
              SELECT FLOOR(EPOCH(ts) / 3600) AS i,
                     CAST(SUM(CAST(value AS DECIMAL(30,10)))
                          AS DOUBLE) / COUNT(*) AS y
              FROM events
              WHERE ts IS NOT NULL AND value IS NOT NULL
              GROUP BY 1),
            hd AS (SELECT COUNT(*) AS n,
                          SUM(CAST(ROUND(y * 1000000000000.0, 0)
                                   AS HUGEINT)) AS sy
                   FROM series),
            muc AS (SELECT n,
                           ROUND(CAST(sy AS DOUBLE)
                                 / 1000000000000.0 / n, 12) AS mu
                    FROM hd),
            pr AS (SELECT CAST(s2.i - s1.i AS INT) AS lag,
                          SUM(CAST(ROUND((s1.y - mu) * (s2.y - mu)
                                         * 1000000000000.0, 0)
                                   AS HUGEINT)) AS s
                   FROM series s1
                   JOIN series s2
                     ON s2.i >= s1.i AND s2.i <= s1.i + 2, muc
                   GROUP BY 1),
            g AS (SELECT
                    CAST(COALESCE(MAX(CASE WHEN lag = 0 THEN s END),
                                  0) AS DOUBLE) AS g0,
                    CAST(COALESCE(MAX(CASE WHEN lag = 1 THEN s END),
                                  0) AS DOUBLE) AS g1,
                    CAST(COALESCE(MAX(CASE WHEN lag = 2 THEN s END),
                                  0) AS DOUBLE) AS g2
                  FROM pr),
            ph AS (SELECT CASE WHEN g0 > 0 AND
                               1.0 - (g1 / g0) * (g1 / g0) <> 0
                          THEN ROUND((g1 / g0) * (1.0 - (g2 / g0))
                                     / (1.0 - (g1 / g0) * (g1 / g0)),
                                     12)
                          ELSE 0.0 END AS phi1,
                          CASE WHEN g0 > 0 AND
                               1.0 - (g1 / g0) * (g1 / g0) <> 0
                          THEN ROUND(((g2 / g0) - (g1 / g0) * (g1 / g0))
                                     / (1.0 - (g1 / g0) * (g1 / g0)),
                                     12)
                          ELSE 0.0 END AS phi2
                   FROM g),
            lt AS (SELECT y, ROW_NUMBER() OVER (ORDER BY i DESC)
                              AS rn
                   FROM series),
            pv AS (SELECT (SELECT y FROM lt WHERE rn = 1) AS p1,
                          (SELECT y FROM lt WHERE rn = 2) AS p2),
            fc AS (SELECT n, mu, phi1, phi2, p1, p2,
                          ROUND(mu + phi1 * (p1 - mu)
                                + phi2 * (p2 - mu), 12) AS f1
                   FROM muc, ph, pv),
            fc2 AS (SELECT *,
                           ROUND(mu + phi1 * (f1 - mu)
                                 + phi2 * (p1 - mu), 12) AS f2
                    FROM fc),
            fc3 AS (SELECT *,
                           ROUND(mu + phi1 * (f2 - mu)
                                 + phi2 * (f1 - mu), 12) AS f3
                    FROM fc2)
            SELECT CAST(s.step AS INTEGER) AS step,
                   ROUND(CASE s.step WHEN 1 THEN f1
                                     WHEN 2 THEN f2
                                     ELSE f3 END, 6) AS forecast,
                   ROUND(mu, 6) AS mu,
                   ROUND(phi1, 6) AS phi1,
                   ROUND(phi2, 6) AS phi2,
                   CAST(n AS BIGINT) AS n_buckets
            FROM fc3, (SELECT UNNEST([1, 2, 3]) AS step) s
            ORDER BY step
        """,
)

register("events_esd_hourly", build=_events_esd_hourly, tags=("headline",), oracle=f"""
            WITH b AS (SELECT FLOOR(EPOCH(ts) / 3600) AS i,
                              CAST(COUNT(*) AS DOUBLE) AS y
                       FROM events WHERE ts IS NOT NULL
                       GROUP BY 1),
            phd AS (SELECT i, y, CAST(i % 24 AS INT) AS ph FROM b),
            rk AS (SELECT phd.*,
                          ROW_NUMBER() OVER (PARTITION BY ph
                                             ORDER BY y) AS rn,
                          COUNT(*) OVER (PARTITION BY ph) AS c
                   FROM phd),
            med AS (SELECT ph,
                           AVG(CASE WHEN rn = FLOOR((c + 1) / 2)
                                      OR rn = FLOOR((c + 2) / 2)
                                    THEN y END) AS m
                    FROM rk GROUP BY ph),
            r0 AS (SELECT phd.i, phd.y, phd.y - med.m AS r
                   FROM phd JOIN med ON phd.ph = med.ph),
            {",".join(_esd_iter_sql(i) for i in (1, 2, 3))}
            SELECT CAST(iteration AS INTEGER) AS iteration,
                   TO_TIMESTAMP(i * 3600)
                       AT TIME ZONE 'UTC' AS bucket_start,
                   ROUND(y, 6) AS metric,
                   ROUND(r, 6) AS residual,
                   ROUND(rs, 6) AS r_stat,
                   rs > 3.0 AS flagged
            FROM (SELECT * FROM o1 UNION ALL SELECT * FROM o2
                  UNION ALL SELECT * FROM o3)
            ORDER BY iteration
        """)


# ---- round 13 (cont.): delta-method ratio-metric A/B ----


def _events_ab_ratio_delta(spark, sf_dir):
    """Delta-method ratio-metric inference (ops/stats.py::
    ab_ratio_delta): purchase value PER EVENT by id-parity arms —
    per-user numerator/denominator micro-int sums, exact python-int
    centered (co)variance numerators on the collected arm moments
    (the welch ulp discipline), delta-method SE with the
    within-user X/Y covariance term naive row-level variance misses."""
    from metadata_etl_framework_spark.ops.stats import ab_ratio_delta

    ev = _t(spark, sf_dir, "events").select(
        "user_id",
        F.when(F.col("user_id") % 2 == 0, "A").otherwise("B").alias(
            "variant"
        ),
        F.when(F.col("event_type") == "purchase", F.col("value"))
        .otherwise(F.lit(0.0))
        .alias("purchase_value"),
        F.lit(1.0).alias("one"),
    )
    return ab_ratio_delta(
        ev, "variant", "purchase_value", "one", "user_id"
    )


register(
    "events_ab_ratio_delta", build=_events_ab_ratio_delta, tags=("headline",),
    oracle="""
            WITH base AS (
              SELECT user_id AS u,
                     CASE WHEN user_id % 2 = 0 THEN 'A'
                          ELSE 'B' END AS g,
                     CASE WHEN event_type = 'purchase' THEN value
                          ELSE 0.0 END AS x,
                     1.0 AS y
              FROM events
              WHERE user_id IS NOT NULL AND value IS NOT NULL),
            pu AS (SELECT u, MAX(g) AS g,
                          CAST(ROUND(CAST(SUM(CAST(x AS
                              DECIMAL(30,10))) AS DOUBLE)
                              * 1000000.0, 0) AS HUGEINT) AS xs,
                          CAST(ROUND(CAST(SUM(CAST(y AS
                              DECIMAL(30,10))) AS DOUBLE)
                              * 1000000.0, 0) AS HUGEINT) AS ys
                   FROM base GROUP BY u
                   HAVING COUNT(DISTINCT g) = 1),
            arm AS (SELECT g, COUNT(*) AS n,
                           SUM(xs) AS sx, SUM(ys) AS sy,
                           SUM(xs * xs) AS sxx,
                           SUM(ys * ys) AS syy,
                           SUM(xs * ys) AS sxy
                    FROM pu GROUP BY g),
            m AS (SELECT g, n,
                         CAST(sx AS DOUBLE) AS sxd,
                         CAST(sy AS DOUBLE) AS syd,
                         CAST(n * sxx - sx * sx AS DOUBLE) AS vx,
                         CAST(n * syy - sy * sy AS DOUBLE) AS vy,
                         CAST(n * sxy - sx * sy AS DOUBLE) AS cxy
                  FROM arm),
            c AS (SELECT g, n, sxd, syd, vx, vy, cxy,
                         CASE WHEN syd <> 0 THEN sxd / syd END AS r,
                         syd / n / 1000000.0 AS ybar,
                         CAST(n AS DOUBLE)
                             * (CAST(n AS DOUBLE) - 1.0) AS dn
                  FROM m),
            v AS (SELECT g, n, r,
                         CASE WHEN n > 1 AND syd <> 0 THEN
                           GREATEST(0.0,
                             (vx / dn / 1000000000000.0
                              + r * r
                                * (vy / dn / 1000000000000.0)
                              - 2.0 * r
                                * (cxy / dn / 1000000000000.0))
                             / (n * ybar * ybar))
                         END AS var
                  FROM c),
            ab AS (SELECT
                     (SELECT g FROM v ORDER BY g LIMIT 1) AS ga,
                     (SELECT n FROM v ORDER BY g LIMIT 1) AS na,
                     (SELECT r FROM v ORDER BY g LIMIT 1) AS ra,
                     (SELECT var FROM v ORDER BY g LIMIT 1) AS va,
                     (SELECT g FROM v ORDER BY g DESC LIMIT 1) AS gb,
                     (SELECT n FROM v ORDER BY g DESC LIMIT 1) AS nb,
                     (SELECT r FROM v ORDER BY g DESC LIMIT 1) AS rb,
                     (SELECT var FROM v ORDER BY g DESC LIMIT 1)
                         AS vb),
            f AS (SELECT *, rb - ra AS diff,
                         CASE WHEN va + vb > 0
                              THEN SQRT(va + vb) END AS se
                  FROM ab),
            zz AS (SELECT *,
                          CASE WHEN se IS NOT NULL
                               THEN diff / se END AS z
                   FROM f),
            pp AS (SELECT *,
                          CASE WHEN z IS NOT NULL THEN
                            ROUND(LEAST(1.0, GREATEST(0.0,
                              2.0 * PLACEHOLDER_KEEP)), 6)
                          END AS p
                   FROM zz)
            SELECT ga AS variant_a, CAST(na AS BIGINT) AS n_a,
                   ROUND(ra, 6) AS ratio_a,
                   gb AS variant_b, CAST(nb AS BIGINT) AS n_b,
                   ROUND(rb, 6) AS ratio_b,
                   ROUND(diff, 6) AS diff, ROUND(se, 6) AS se,
                   ROUND(z, 6) AS z_stat, p AS p_value,
                   ROUND(diff - 1.959964 * se, 6) AS ci_lo,
                   ROUND(diff + 1.959964 * se, 6) AS ci_hi,
                   CASE WHEN p IS NOT NULL THEN p < 0.05 END
                       AS significant_95
            FROM pp
        """.replace("PLACEHOLDER_KEEP", _normal_sf_sql("ABS(z)")),
)


# ---- round 13 (cont.): windowed count-min rollup (ops/sketch.py) ----


def _sketch_cm_rollup_events(spark, sf_dir):
    """Windowed count-min rollup + range frequency query
    (ops/sketch.py::windowed_countmin_rollup/countmin_rollup_query):
    hourly per-user frequency counter grids (counters ADD, so
    hour->day->month partial rollups stay valid), bucket-range prune +
    counter merge + min-over-rows estimates for 10 probe users —
    completes the sketch-rollup family (HLL distinct / KLL quantiles /
    count-min frequencies). Oracle replays the portable mix hash,
    per-bucket grids, range merge and probes."""
    import datetime as _dt

    from metadata_etl_framework_spark.ops.sketch import (
        countmin_rollup_query,
        windowed_countmin_rollup,
    )

    ev = _t(spark, sf_dir, "events")
    roll = windowed_countmin_rollup(
        ev, "ts", "user_id", bucket="1 hour", depth=3, width=256
    )
    keys = spark.range(1, 11).select(F.col("id").alias("user_id"))
    return countmin_rollup_query(
        roll, keys, "user_id", depth=3, width=256,
        start=_dt.datetime(2024, 1, 5),
        end=_dt.datetime(2024, 1, 20),
    )


register(
    "sketch_cm_rollup_events", build=_sketch_cm_rollup_events, tags=("headline",),
    oracle=f"""
            WITH ev0 AS (SELECT DATE_TRUNC('hour', ts) AS bk,
                                user_id
                         FROM events
                         WHERE user_id IS NOT NULL
                           AND ts IS NOT NULL),
            {_hash32_cte_sql(
                "SELECT user_id + d * 40503 AS x, bk, d FROM ev0, "
                "(SELECT UNNEST([0, 1, 2]) AS d)")},
            cm AS (SELECT bk, d AS row,
                          CAST(h % 256 AS INTEGER) AS bucket,
                          COUNT(*) AS cnt
                   FROM hh GROUP BY 1, 2, 3),
            rng AS (SELECT row, bucket, SUM(cnt) AS cnt
                    FROM cm
                    WHERE bk >= TIMESTAMP '2024-01-05'
                      AND bk < TIMESTAMP '2024-01-20'
                    GROUP BY 1, 2),
            {_hash32_cte_sql(
                "SELECT key + d * 40503 AS x, key, d "
                "FROM (SELECT UNNEST(GENERATE_SERIES(1, 10)) AS key), "
                "(SELECT UNNEST([0, 1, 2]) AS d)").replace(
                    "src AS", "ksrc AS").replace("FROM src", "FROM ksrc")
                .replace("hc1 AS", "khc1 AS").replace("FROM hc1", "FROM khc1")
                .replace("hc2 AS", "khc2 AS").replace("FROM hc2", "FROM khc2")
                .replace("hh AS", "khh AS")},
            probes AS (SELECT key, d AS row,
                              CAST(h % 256 AS INTEGER) AS bucket
                       FROM khh)
            SELECT key,
                   CAST(MIN(COALESCE(cnt, 0)) AS BIGINT) AS est_count
            FROM probes LEFT JOIN rng USING (row, bucket)
            GROUP BY key
        """,
)


def _events_rmst(spark, sf_dir):
    """Restricted mean survival time (ops/retention.py::rmst):
    integral of the censored Kaplan-Meier curve to tau=30 days —
    'average days retained in the first month', the assumption-free
    single-number survival readout; exact step-function integration
    with pico-int DECIMAL segment sums on the calendar-bounded
    lifetime frame. The oracle wraps the KM oracle and replays the
    integral."""
    from metadata_etl_framework_spark.ops.retention import rmst

    ev = _t(spark, sf_dir, "events")
    return rmst(ev, horizon_days=7, tau=30)


register("events_rmst", build=_events_rmst, tags=("headline",), oracle=f"""
            WITH km AS ({oracle_of("events_kaplan_meier")}),
            seg AS (SELECT CAST(duration_days AS DOUBLE) AS t,
                           survival, n_at_risk,
                           LEAD(CAST(duration_days AS DOUBLE))
                               OVER (ORDER BY duration_days)
                               AS t_next
                    FROM km),
            a AS (SELECT SUM(CAST(ROUND(survival
                              * GREATEST(0.0,
                                  LEAST(COALESCE(t_next, 30.0), 30.0)
                                  - LEAST(t, 30.0))
                              * 1000000000000.0, 0) AS HUGEINT))
                             AS s,
                         COUNT(*) AS n_steps,
                         MAX(n_at_risk) AS n_users,
                         MIN(t) AS t0
                  FROM seg)
            SELECT CAST(30 AS INTEGER) AS tau,
                   CAST(7 AS INTEGER) AS horizon_days,
                   CAST(n_users AS BIGINT) AS n_users,
                   CAST(n_steps AS BIGINT) AS n_steps,
                   ROUND(CAST(s AS DOUBLE) / 1000000000000.0
                         + GREATEST(0.0, LEAST(t0, 30.0)), 6)
                       AS rmst_days
            FROM a
        """)


# ---- round 14: Holt-Winters (triple exponential smoothing) backtest ----


def _events_holt_winters(spark, sf_dir):
    """Additive Holt-Winters backtest (ops/stats.py::
    holt_winters_backtest): hourly mean series → last 96 observed
    buckets → exact pico-int two-season init, 48 recursion steps
    (12-dp per step) on the driver over the calendar-bounded window,
    24 held-out forecasts scored MAE/RMSE/sMAPE/MASE with the
    forecast_baseline_eval conventions. The oracle unrolls init,
    every recursion step, the forecasts, and the metric sums as CTEs
    and reproduces the row bit-exactly."""
    from metadata_etl_framework_spark.ops.stats import (
        holt_winters_backtest,
    )

    ev = _t(spark, sf_dir, "events")
    return holt_winters_backtest(
        ev, "ts", "value", bucket_seconds=3600, season=24,
        train_window=72, holdout=24, alpha=0.3, beta=0.05, gamma=0.2,
    )


def _hw_sql(
    m: int = 24,
    train: int = 72,
    hold: int = 24,
    a: str = "0.3",
    be: str = "0.05",
    ga: str = "0.2",
) -> str:
    w = train + hold
    pico = "1000000000000.0"

    def s_src(pos: int) -> str:
        # seasonal scalar for 1-based position pos: init row or step CTE
        if pos <= m:
            return f"(SELECT s FROM sinit WHERE t = {pos})"
        return f"(SELECT s FROM st{pos})"

    steps = []
    for p in range(m + 1, train + 1):
        prev = "st0" if p == m + 1 else f"st{p - 1}"
        steps.append(f"""
            st{p} AS MATERIALIZED (SELECT
                ROUND({a} * (yy.y - sp.s)
                      + (1.0 - {a}) * (pv.l + pv.b), 12) AS l,
                ROUND({be} * (ROUND({a} * (yy.y - sp.s)
                      + (1.0 - {a}) * (pv.l + pv.b), 12) - pv.l)
                      + (1.0 - {be}) * pv.b, 12) AS b,
                ROUND({ga} * (yy.y - ROUND({a} * (yy.y - sp.s)
                      + (1.0 - {a}) * (pv.l + pv.b), 12))
                      + (1.0 - {ga}) * sp.s, 12) AS s
              FROM (SELECT y FROM w WHERE t = {p}) yy,
                   {prev} pv, {s_src(p - m)} sp)""")
    fcs = []
    for h in range(1, hold + 1):
        q = train - m + ((h - 1) % m) + 1
        fcs.append(
            f"SELECT {h} AS h, ROUND(fin.l + {h} * fin.b + sx.s, 12)"
            f" AS f FROM st{train} fin, {s_src(q)} sx"
        )
    fc_union = "\n              UNION ALL\n              ".join(fcs)
    return f"""
            WITH bucket AS MATERIALIZED (
              SELECT FLOOR(EPOCH(ts) / 3600) AS i,
                     CAST(SUM(CAST(value AS DECIMAL(30,10)))
                          AS DOUBLE) / COUNT(*) AS y
              FROM events
              WHERE ts IS NOT NULL AND value IS NOT NULL
              GROUP BY 1),
            tl AS MATERIALIZED (SELECT y,
                          ROW_NUMBER() OVER (ORDER BY i DESC) AS rd
                   FROM bucket),
            w AS MATERIALIZED (SELECT {w + 1} - rd AS t, y FROM tl
                  WHERE rd <= {w}),
            i1 AS MATERIALIZED (SELECT SUM(CAST(ROUND(y * {pico}, 0) AS HUGEINT))
                          AS s1
                   FROM w WHERE t BETWEEN 1 AND {m}),
            i2 AS MATERIALIZED (SELECT SUM(CAST(ROUND(y * {pico}, 0) AS HUGEINT))
                          AS s2
                   FROM w WHERE t BETWEEN {m + 1} AND {2 * m}),
            st0 AS MATERIALIZED (SELECT
                      ROUND(CAST(s1 AS DOUBLE) / {pico} / {m}, 12)
                          AS l,
                      ROUND((CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE))
                            / {pico} / {m} / {m}, 12) AS b
                    FROM i1, i2),
            sinit AS MATERIALIZED (SELECT t,
                             ROUND(y - (SELECT l FROM st0), 12) AS s
                      FROM w WHERE t <= {m}),
            {",".join(steps)},
            fc AS MATERIALIZED ({fc_union}),
            err AS MATERIALIZED (SELECT
                      SUM(CAST(ROUND(ABS(w.y - fc.f) * {pico}, 0)
                               AS HUGEINT)) AS sae,
                      SUM(CAST(ROUND(ABS(w.y - fc.f)
                                     * ABS(w.y - fc.f) * {pico}, 0)
                               AS HUGEINT)) AS sse,
                      SUM(CAST(ROUND(CASE
                            WHEN ABS(w.y) + ABS(fc.f) > 0
                            THEN 2.0 * ABS(w.y - fc.f)
                                 / (ABS(w.y) + ABS(fc.f))
                            ELSE 0.0 END * {pico}, 0)
                               AS HUGEINT)) AS ssm
                    FROM fc JOIN w ON w.t = {train} + fc.h),
            nv AS MATERIALIZED (SELECT
                     SUM(CAST(ROUND(ABS(b2.y - a2.y) * {pico}, 0)
                              AS HUGEINT)) AS nae
                   FROM w a2 JOIN w b2 ON b2.t = a2.t + 1
                   WHERE b2.t <= {train})
            SELECT CAST({m} AS INTEGER) AS season,
                   {a} AS alpha, {be} AS beta, {ga} AS gamma,
                   CAST({train} AS BIGINT) AS n_train,
                   CAST({hold} AS BIGINT) AS n_test,
                   ROUND(fin.l, 6) AS level,
                   ROUND(fin.b, 6) AS trend,
                   ROUND(CAST(sae AS DOUBLE) / {pico} / {hold}, 6)
                       AS mae,
                   ROUND(SQRT(CAST(sse AS DOUBLE) / {pico} / {hold}),
                         6) AS rmse,
                   ROUND(CAST(ssm AS DOUBLE) / {pico} / {hold}, 6)
                       AS smape,
                   CASE WHEN CAST(nae AS DOUBLE) / {pico}
                             / {train - 1} > 0
                        THEN ROUND((CAST(sae AS DOUBLE) / {pico}
                                    / {hold})
                                   / (CAST(nae AS DOUBLE) / {pico}
                                      / {train - 1}), 6)
                   END AS mase
            FROM st{train} fin, err, nv
        """


register(
    "events_holt_winters", build=_events_holt_winters, tags=("headline",),
    oracle=_hw_sql(),
)
