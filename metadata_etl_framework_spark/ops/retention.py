"""Cohort retention analysis over event streams.

The standard activity-retention matrix: users are cohorted by the
period of their first event; each later period they are active counts
toward that cohort's retention. Completes the event-analytics family
(funnel `ops/funnel.py`, sessionization `streaming/windows.py`) —
beyond the reference's surface, but the query an analytics engine over
an events table is inevitably asked.

Plan shape at scale: one shuffle keyed on the user (first-period
aggregate), one distinct over (user, period) riding the same key, a
user-keyed join, then a groupBy on the (cohort, offset) grid — bounded
by calendar², not data. No windows, no collects.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from metadata_etl_framework_spark.ops.driver_exact import (
    column_np,
    driver_table,
)
from metadata_etl_framework_spark.ops.materialize import checkpoint_leaf, release

_PERIOD_DAYS = {"day": 1, "week": 7}


def cohort_retention(
    df: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    period: str = "week",
) -> DataFrame:
    """Retention matrix: (cohort, period_offset, active_users,
    cohort_size, retention_rate).

    ``cohort`` is the ``period``-truncated timestamp of the user's first
    event; ``period_offset`` counts periods since the cohort period
    (0 = the cohort period itself, so offset 0 retention is 1.0 by
    construction). ``period`` ∈ {day, week, month}: day/week offsets are
    exact day arithmetic (floor(days/len)); month uses calendar
    months_between on truncated months (integral by construction).
    Rates round to 6 decimals (cross-engine hash convention).
    """
    if period not in (*_PERIOD_DAYS, "month"):
        raise ValueError("period must be one of day, week, month")
    p = F.date_trunc(period, F.col(ts_col))
    base = df.where(
        F.col(ts_col).isNotNull() & F.col(user_col).isNotNull()
    ).select(F.col(user_col).alias("user"), p.alias("ap"))
    firsts = base.groupBy("user").agg(F.min("ap").alias("cohort"))
    act = base.distinct()
    j = act.join(firsts, "user")
    if period == "month":
        off = F.round(F.months_between(F.col("ap"), F.col("cohort"))).cast(
            "int"
        )
    else:
        days = _PERIOD_DAYS[period]
        off = F.floor(
            F.datediff(F.col("ap"), F.col("cohort")) / F.lit(days)
        ).cast("int")
    sizes = firsts.groupBy("cohort").agg(
        F.count(F.lit(1)).alias("cohort_size")
    )
    return (
        j.groupBy("cohort", off.alias("period_offset"))
        .agg(F.countDistinct("user").alias("active_users"))
        .join(sizes, "cohort")
        .select(
            "cohort",
            "period_offset",
            "active_users",
            "cohort_size",
            F.round(
                F.col("active_users") / F.col("cohort_size"), 6
            ).alias("retention_rate"),
        )
    )


def rolling_active_users(
    df: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    window_days: int = 7,
) -> DataFrame:
    """Exact rolling N-day distinct active users per day (DAU when
    ``window_days=1``, WAU at 7, MAU at 30).

    A distinct-count over a sliding window can't ride an ordinary window
    frame (COUNT DISTINCT OVER a range frame isn't supported and a
    naive self-join explodes); instead each distinct (user, day)
    activity CONTRIBUTES to the ``window_days`` report days it keeps the
    user active for (an explode of a ``window_days``-element sequence —
    bounded amplification), then one countDistinct per report day.
    Report days past the last observed day are clipped so the tail
    doesn't report phantom windows.

    Output: (day, active_users, window_days).
    """
    if window_days < 1:
        raise ValueError("window_days must be >= 1")
    d = F.date_trunc("day", F.col(ts_col)).cast("date")
    pairs = (
        df.where(F.col(ts_col).isNotNull() & F.col(user_col).isNotNull())
        .select(F.col(user_col).alias("user"), d.alias("d"))
        .distinct()
    )
    mx = pairs.agg(F.max("d").alias("mxd"))
    contrib = pairs.select(
        "user",
        F.explode(
            F.sequence(F.lit(0), F.lit(window_days - 1))
        ).alias("i"),
        "d",
    ).select("user", F.date_add(F.col("d"), F.col("i")).alias("day"))
    return (
        contrib.crossJoin(F.broadcast(mx))
        .where(F.col("day") <= F.col("mxd"))
        .groupBy("day")
        .agg(F.countDistinct("user").alias("active_users"))
        .withColumn("window_days", F.lit(window_days))
    )


def event_transitions(
    df: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    id_col: str = "event_id",
) -> DataFrame:
    """First-order Markov transition counts between consecutive events
    per user — the path-analysis table behind "what do users do next?".

    One window (partitioned BY USER — never global) takes each event's
    successor; one groupBy counts (from_type, to_type) pairs and adds
    the per-origin transition probability. A user's last event has no
    successor and contributes nothing. ``id_col`` breaks timestamp ties
    deterministically.

    Output: (from_type, to_type, n_transitions, p_transition 6dp).
    """
    from pyspark.sql import Window

    w = Window.partitionBy(user_col).orderBy(ts_col, id_col)
    steps = (
        df.where(
            F.col(user_col).isNotNull() & F.col(ts_col).isNotNull()
        )
        .withColumn("_next", F.lead(type_col).over(w))
        .where(F.col("_next").isNotNull())
    )
    counts = steps.groupBy(
        F.col(type_col).alias("from_type"), F.col("_next").alias("to_type")
    ).agg(F.count(F.lit(1)).alias("n_transitions"))
    origins = counts.groupBy("from_type").agg(
        F.sum("n_transitions").alias("_tot")
    )
    return counts.join(origins, "from_type").select(
        "from_type",
        "to_type",
        "n_transitions",
        F.round(F.col("n_transitions") / F.col("_tot"), 6).alias(
            "p_transition"
        ),
    )


def session_stats(
    df: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    id_col: str = "event_id",
    gap: str = "30 minutes",
) -> DataFrame:
    """Per-session metrics over gap-rule sessions — the table product
    analytics reads daily: for every (user, session): event count,
    duration in seconds, start/end, and the bounce flag (single-event
    session).

    One pass on top of the gaps-and-islands sessionizer
    (streaming/windows.py::sessionize_batch — a per-user window, never
    global): lag-gap session ids, then one groupBy (user, session).
    Output: (user, session_id, n_events long, duration_s, started,
    ended, is_bounce), timestamps as strings for cross-engine hash
    stability.
    """
    from metadata_etl_framework_spark.streaming.windows import (
        sessionize_batch,
    )

    base = df.where(
        F.col(user_col).isNotNull() & F.col(ts_col).isNotNull()
    )
    sess = sessionize_batch(
        base, ts_col, [user_col], gap=gap, order_tiebreak=id_col
    )
    fmt = "yyyy-MM-dd HH:mm:ss"
    return (
        sess.groupBy(user_col, "session_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.min(F.col(ts_col)).alias("_start"),
            F.max(F.col(ts_col)).alias("_end"),
        )
        .select(
            user_col,
            F.col("session_id").cast("long").alias("session_id"),
            "n_events",
            F.round(
                F.col("_end").cast("double") - F.col("_start").cast("double"),
                6,
            ).alias("duration_s"),
            F.date_format("_start", fmt).alias("started"),
            F.date_format("_end", fmt).alias("ended"),
            (F.col("n_events") == 1).alias("is_bounce"),
        )
    )


def stickiness_ratio(
    df: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    long_window_days: int = 7,
) -> DataFrame:
    """DAU/WAU stickiness per day — the engagement-quality ratio ("of
    this week's users, what fraction shows up on a given day"), built
    from two :func:`rolling_active_users` passes (window 1 and
    ``long_window_days``) joined on the report day. 1.0 = every weekly
    user is daily; low values = drive-by usage.

    Output: (day, dau long, wau long, stickiness 6dp), ordered by day.
    """
    dau = rolling_active_users(df, user_col, ts_col, 1).select(
        "day", F.col("active_users").alias("dau")
    )
    wau = rolling_active_users(
        df, user_col, ts_col, long_window_days
    ).select("day", F.col("active_users").alias("wau"))
    return (
        dau.join(wau, "day")
        .select(
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            F.col("dau").cast("long").alias("dau"),
            F.col("wau").cast("long").alias("wau"),
            F.round(
                F.when(F.col("wau") > 0, F.col("dau") / F.col("wau")), 6
            ).alias("stickiness"),
        )
        .orderBy("day")
    )


def time_weighted_avg(
    df: DataFrame,
    group_cols: "Sequence[str]",
    ts_col: str = "ts",
    value_col: str = "value",
    id_col: str = "event_id",
) -> DataFrame:
    """Time-weighted average per group over IRREGULAR observations: each
    value counts for the interval it was live (until the next
    observation), so a metric sampled every second and once an hour
    averages honestly — the plain AVG over-weights chatty periods.

    One window partitioned BY GROUP (never global) takes each
    observation's successor timestamp; the last observation carries no
    interval and drops out (standard TWAP over a closed span). Interval
    value·duration products accumulate as DECIMAL, so the result is
    order-independent and cross-engine hash-stable.

    Output: group cols + (twap 6dp, n_intervals long, span_s double —
    the covered duration in seconds).
    """
    from pyspark.sql import Window

    groups = list(group_cols)
    w = Window.partitionBy(*groups).orderBy(ts_col, id_col)
    x = F.col(value_col).cast("double")
    stepped = (
        df.where(
            F.col(ts_col).isNotNull() & x.isNotNull()
        )
        .withColumn("_next", F.lead(F.col(ts_col)).over(w))
        .where(F.col("_next").isNotNull())
        .select(
            *groups,
            x.alias("_v"),
            (
                F.col("_next").cast("double")
                - F.col(ts_col).cast("double")
            ).alias("_dur"),
        )
    )
    return stepped.groupBy(*groups).agg(
        F.round(
            F.sum((F.col("_v") * F.col("_dur")).cast("decimal(30,10)"))
            .cast("double")
            / F.sum(F.col("_dur").cast("decimal(30,10)")).cast("double"),
            6,
        ).alias("twap"),
        F.count(F.lit(1)).cast("long").alias("n_intervals"),
        F.round(
            F.sum(F.col("_dur").cast("decimal(30,10)")).cast("double"), 6
        ).alias("span_s"),
    )


def cumulative_distinct_users(
    df: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    period: str = "week",
) -> DataFrame:
    """Exact cumulative distinct-user curve — growth accounting: for
    each period, how many DISTINCT users have EVER been seen up to and
    including it.

    The naive formulation — ``COUNT(DISTINCT user) OVER (ORDER BY
    period)`` — holds every user id in window state and re-scans per
    period. This one is exact with one pass: reduce each user to their
    FIRST-touch period (one groupBy over users), count new users per
    period, then a running total over the period frame — which has one
    row per calendar period, so the ordered window at the end is
    O(periods), not O(users) (documented bound; a multi-decade hourly
    curve is still only ~10⁵ rows).

    Output: (period timestamp, new_users long, cumulative_users long),
    ordered by period.
    """
    from pyspark.sql import Window

    per = F.date_trunc(period, F.col(ts_col))
    first = (
        df.where(F.col(user_col).isNotNull() & F.col(ts_col).isNotNull())
        .groupBy(user_col)
        .agg(F.min(per).alias("period"))
    )
    news = first.groupBy("period").agg(
        F.count(F.lit(1)).cast("long").alias("new_users")
    )
    w = Window.orderBy("period").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return (
        news.withColumn(
            "cumulative_users", F.sum("new_users").over(w).cast("long")
        )
        .orderBy("period")
    )


def event_trigrams(
    df: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    id_col: str = "event_id",
    k: int = 20,
) -> DataFrame:
    """Second-order path mining: the top-k most common three-step event
    SEQUENCES across users — what :func:`event_transitions` (first-order
    Markov) cannot see ("view→click→purchase" vs "click→view→purchase"
    have identical bigram tables).

    Same scale shape as transitions: one window partitioned BY USER
    (never global) takes each event's two successors via ``lead``; one
    groupBy counts (e1, e2, e3) triples; the top-k is a
    TakeOrderedAndProject (count desc, lexicographic tie-break — fully
    deterministic). Users with fewer than three events contribute
    nothing. Output: (e1, e2, e3, n) — ``k`` rows.
    """
    from pyspark.sql import Window

    w = Window.partitionBy(user_col).orderBy(ts_col, id_col)
    steps = (
        df.where(F.col(user_col).isNotNull() & F.col(ts_col).isNotNull())
        .withColumn("_e2", F.lead(type_col, 1).over(w))
        .withColumn("_e3", F.lead(type_col, 2).over(w))
        .where(F.col("_e2").isNotNull() & F.col("_e3").isNotNull())
    )
    return (
        steps.groupBy(
            F.col(type_col).alias("e1"),
            F.col("_e2").alias("e2"),
            F.col("_e3").alias("e3"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), "e1", "e2", "e3")
        .limit(k)
    )


def window_topk_types(
    df: DataFrame,
    ts_col: str = "ts",
    type_col: str = "event_type",
    window: str = "1 day",
    k: int = 3,
) -> DataFrame:
    """Top-k event types per tumbling time window — the "what's
    trending right now" table. Batch form of the streaming monitor
    (identical expressions run under ``readStream`` with a watermark):
    one windowed groupBy, then a per-window ranked filter. Determinism:
    count desc, type asc. Output: (window_start, window_end, event_type,
    n, rk)."""
    from pyspark.sql import Window

    counts = (
        df.where(F.col(ts_col).isNotNull() & F.col(type_col).isNotNull())
        .groupBy(
            F.window(F.col(ts_col), window).alias("_w"), F.col(type_col)
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w = Window.partitionBy("_w").orderBy(F.desc("n"), F.col(type_col))
    return (
        counts.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= k)
        .select(
            F.col("_w.start").alias("window_start"),
            F.col("_w.end").alias("window_end"),
            type_col,
            "n",
            "rk",
        )
    )


def debounce_events(
    df: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    id_col: str = "event_id",
    type_col: "str | None" = "event_type",
    cooldown_seconds: int = 600,
) -> DataFrame:
    """Drop rapid-fire repeats: keep an event only when at least
    ``cooldown_seconds`` (whole-second granularity) passed since the
    PREVIOUS raw event on the same key (user, and type when
    ``type_col`` is set); the first event per key always survives.

    These are lag-gap semantics — each event measures against its raw
    predecessor, NOT the timer-reset chain variant (where a dropped
    event still postpones the next); lag-gap is one window per key,
    deterministic under ties via ``id_col``, and what dedup-adjacent
    cleaning usually wants. One shuffle on the key.
    """
    from pyspark.sql import Window

    keys = [user_col] + ([type_col] if type_col else [])
    w = Window.partitionBy(*keys).orderBy(ts_col, id_col)
    prev = F.lag(ts_col).over(w)
    return (
        df.where(F.col(user_col).isNotNull() & F.col(ts_col).isNotNull())
        .withColumn("_prev", prev)  # window BEFORE the filter (ANSI rule)
        .withColumn(
            "_gap",
            F.unix_timestamp(F.col(ts_col)) - F.unix_timestamp(F.col("_prev")),
        )
        .where(F.col("_prev").isNull() | (F.col("_gap") >= cooldown_seconds))
        .drop("_prev", "_gap")
    )


def _lifetimes(per_user: DataFrame, horizon_days: int, *keep: str):
    """(*keep, t, event) per user from a (_first, _last) frame: the
    lifetime in days, and event = 1 when the last event lies more than
    ``horizon_days`` before the corpus's last observed day (churned),
    else 0 (censored at the current lifetime)."""
    obs_end = per_user.agg(F.max("_last").alias("_end"))
    return per_user.crossJoin(F.broadcast(obs_end)).select(
        *keep,
        F.datediff(F.col("_last"), F.col("_first")).alias("t"),
        (
            F.datediff(F.col("_end"), F.col("_last"))
            > F.lit(int(horizon_days))
        )
        .cast("int")
        .alias("event"),
    )


def _risk_table(
    df: DataFrame, user_col: str, ts_col: str, horizon_days: int
):
    """The at-risk table :func:`kaplan_meier` and :func:`nelson_aalen`
    step over: one row per distinct lifetime t — (t, a users with that
    lifetime, d churn events at t, _N, _cum_a, n_at_risk = users with
    lifetime ≥ t) — plus the ascending cumulative window over it. The
    table is calendar-bounded (one row per distinct lifetime in days),
    so its partitionless windows are small-frame operations."""
    from pyspark.sql import Window

    per_user = (
        df.where(F.col(user_col).isNotNull() & F.col(ts_col).isNotNull())
        .groupBy(user_col)
        .agg(F.min(ts_col).alias("_first"), F.max(ts_col).alias("_last"))
    )
    counts = _lifetimes(per_user, horizon_days).groupBy("t").agg(
        F.count(F.lit(1)).alias("a"),
        F.sum("event").alias("d"),
    )
    total = counts.agg(F.sum("a").alias("_N"))
    w_cum = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, 0)
    cum = (
        counts.crossJoin(F.broadcast(total))
        .withColumn("_cum_a", F.sum("a").over(w_cum))
        .withColumn(
            "n_at_risk", F.col("_N") - F.col("_cum_a") + F.col("a")
        )
    )
    return cum, w_cum


def kaplan_meier(
    df: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    horizon_days: int = 7,
) -> DataFrame:
    """Kaplan–Meier survival curve over user lifetimes — churn analysis
    with CENSORING done right (the naive "retention at day t" over all
    users understates survival because recently-arrived users haven't
    had time to churn).

    Per user: lifetime = days between first and last event. A user
    whose last event is more than ``horizon_days`` before the corpus's
    last observed day has churned (event); anyone still active within
    the horizon is censored at their current lifetime. The estimator:
    ``S(t) = Π_{tᵢ ≤ t} (1 − dᵢ/nᵢ)`` over distinct event lifetimes,
    with nᵢ the at-risk count (lifetime ≥ tᵢ).

    Plan: one user-keyed aggregate, then everything runs on the
    DISTINCT-lifetime frame, whose size is bounded by the observation
    window in days (calendar-bounded, like psi_by_period — the
    partitionless windows there are documented small-frame operations,
    not data-scale ones). The cumulative product is exp(Σ ln) with an
    explicit zero flag once any factor hits 0 (dᵢ = nᵢ), so no ln(0).

    Output: one row per distinct event lifetime — (duration_days,
    n_at_risk, n_events, n_censored_here, survival 6dp).
    """
    cum, w_cum = _risk_table(df, user_col, ts_col, horizon_days)
    factor = 1.0 - F.col("d") / F.col("n_at_risk")
    stepped = (
        cum.withColumn("_zero", (F.col("d") == F.col("n_at_risk")).cast("int"))
        .withColumn(
            "_lnf",
            F.when(
                (F.col("d") > 0) & (F.col("d") < F.col("n_at_risk")),
                F.log(factor),
            ).otherwise(F.lit(0.0)),
        )
        .withColumn("_cum_ln", F.sum("_lnf").over(w_cum))
        .withColumn("_any_zero", F.max("_zero").over(w_cum))
    )
    return stepped.select(
        F.col("t").alias("duration_days"),
        F.col("n_at_risk").cast("long").alias("n_at_risk"),
        F.col("d").cast("long").alias("n_events"),
        (F.col("a") - F.col("d")).cast("long").alias("n_censored_here"),
        F.round(
            F.when(F.col("_any_zero") == 1, F.lit(0.0)).otherwise(
                F.exp(F.col("_cum_ln"))
            ),
            6,
        ).alias("survival"),
    )


def ab_test_proportions(
    df: DataFrame,
    variant_col: str,
    converted_col: str,
    unit_col: str = "user_id",
) -> DataFrame:
    """Two-proportion z-test between experiment variants — the classic
    A/B readout: per-unit conversion flags, variant rates, and the
    pooled-variance z statistic (|z| > 1.96 ≈ 95% two-sided).

    Exactly two variants must be present (raises otherwise — a silent
    pick would misattribute). Units that appear under BOTH variants are
    contaminated and are excluded from the readout entirely (the same
    no-silent-pick rationale: assigning them to either arm would bias
    it). A unit converts if ANY of its rows has ``converted_col`` true;
    one groupBy on the unit, one on the variant, then scalar arithmetic
    on a 2-row frame. Rounds to 6dp.

    Output: 1 row — (variant_a, n_a, rate_a, variant_b, n_b, rate_b,
    z_score, significant_95).
    """
    per_unit = (
        df.where(F.col(unit_col).isNotNull())
        .groupBy(F.col(unit_col).alias("unit"))
        .agg(
            F.max(F.col(variant_col).cast("string")).alias("variant"),
            F.countDistinct(F.col(variant_col).cast("string")).alias(
                "_n_variants"
            ),
            F.max(F.col(converted_col).cast("int")).alias("conv"),
        )
        # cross-variant (contaminated) units are excluded, not silently
        # assigned to max(variant)
        .where(F.col("_n_variants") == 1)
    )
    per_variant = (
        per_unit.groupBy("variant")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("conv").alias("c"),
        )
        .orderBy("variant")
    )
    rows = per_variant.collect()
    if len(rows) != 2:
        raise ValueError(
            f"ab_test_proportions needs exactly 2 variants, got "
            f"{[r['variant'] for r in rows]}"
        )
    (va, na, ca), (vb, nb, cb) = [(r["variant"], r["n"], r["c"]) for r in rows]
    spark = df.sparkSession
    two = spark.createDataFrame(
        [(va, na, ca, vb, nb, cb)],
        "variant_a string, n_a long, c_a long, "
        "variant_b string, n_b long, c_b long",
    )
    ra = F.col("c_a") / F.col("n_a")
    rb = F.col("c_b") / F.col("n_b")
    pooled = (F.col("c_a") + F.col("c_b")) / (F.col("n_a") + F.col("n_b"))
    se = F.sqrt(
        pooled * (1 - pooled) * (1 / F.col("n_a") + 1 / F.col("n_b"))
    )
    z = F.when(se > 0, (ra - rb) / se).otherwise(F.lit(0.0))
    return two.select(
        "variant_a",
        "n_a",
        F.round(ra, 6).alias("rate_a"),
        "variant_b",
        "n_b",
        F.round(rb, 6).alias("rate_b"),
        F.round(z, 6).alias("z_score"),
        (F.abs(F.round(z, 6)) > 1.959964).alias("significant_95"),
    )


def ab_always_valid_p(
    df: DataFrame,
    variant_col: str,
    converted_col: str,
    unit_col: str = "user_id",
    tau: float = 1.0,
) -> DataFrame:
    """Always-valid p-value for the two-proportion comparison — the
    mixture sequential probability ratio test (mSPRT; Johari et al.,
    "Peeking at A/B Tests", KDD '17) in its normal-approximation
    closed form. This is the anytime companion to
    :func:`ab_test_proportions`: a fixed-horizon z-test is only valid
    at ONE predetermined look, while 1/Λ̄ is a valid p-value at EVERY
    peek (sup over time still controls type-I error), so a dashboard
    can poll it continuously — exactly the gap the streaming monitor's
    docstring warns about.

    With θ̂ = p̂_a − p̂_b, V = p̂(1−p̂)(1/n_a + 1/n_b) (pooled), and a
    N(0, τ) mixing prior over the effect:

        Λ̄ = sqrt(V / (V + τ)) · exp(θ̂² · τ / (2·V·(V + τ)))
        p  = min(1, 1/Λ̄)

    Larger ``tau`` spends power on larger effects; 1.0 is a neutral
    default for rate differences. Per-unit reduction, contamination
    drop, and the exactly-two-variants contract are identical to
    :func:`ab_test_proportions`. Pure sqrt/exp arithmetic on a 1-row
    frame — SQL-replayable. Degenerate pooled rates (V = 0) report
    p = 1 (no evidence against the null is extractable).

    Output: 1 row — (variant_a, n_a, rate_a, variant_b, n_b, rate_b,
    effect 6dp, mixture_lr 6dp, always_valid_p 6dp, significant_95).
    """
    if tau <= 0:
        raise ValueError(f"tau must be > 0, got {tau}")
    per_unit = (
        df.where(F.col(unit_col).isNotNull())
        .groupBy(F.col(unit_col).alias("unit"))
        .agg(
            F.max(F.col(variant_col).cast("string")).alias("variant"),
            F.countDistinct(F.col(variant_col).cast("string")).alias(
                "_n_variants"
            ),
            F.max(F.col(converted_col).cast("int")).alias("conv"),
        )
        .where(F.col("_n_variants") == 1)
    )
    per_variant = (
        per_unit.groupBy("variant")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("conv").alias("c"))
        .orderBy("variant")
    )
    rows = per_variant.collect()
    if len(rows) != 2:
        raise ValueError(
            f"ab_always_valid_p needs exactly 2 variants, got "
            f"{[r['variant'] for r in rows]}"
        )
    (va, na, ca), (vb, nb, cb) = [
        (r["variant"], r["n"], r["c"]) for r in rows
    ]
    spark = df.sparkSession
    two = spark.createDataFrame(
        [(va, na, ca, vb, nb, cb)],
        "variant_a string, n_a long, c_a long, "
        "variant_b string, n_b long, c_b long",
    )
    ra = F.col("c_a") / F.col("n_a")
    rb = F.col("c_b") / F.col("n_b")
    pooled = (F.col("c_a") + F.col("c_b")) / (F.col("n_a") + F.col("n_b"))
    v = pooled * (1 - pooled) * (1 / F.col("n_a") + 1 / F.col("n_b"))
    theta = ra - rb
    t = F.lit(float(tau))
    lr = F.when(
        v > 0,
        F.sqrt(v / (v + t))
        * F.exp(theta * theta * t / (F.lit(2.0) * v * (v + t))),
    ).otherwise(F.lit(1.0))
    p = F.least(F.lit(1.0), F.lit(1.0) / lr)
    return two.select(
        "variant_a",
        "n_a",
        F.round(ra, 6).alias("rate_a"),
        "variant_b",
        "n_b",
        F.round(rb, 6).alias("rate_b"),
        F.round(theta, 6).alias("effect"),
        F.round(lr, 6).alias("mixture_lr"),
        F.round(p, 6).alias("always_valid_p"),
        (F.round(p, 6) < 0.05).alias("significant_95"),
    )


def proportion_wilson_ci(
    df: DataFrame,
    group_col: str,
    converted_col: str,
    unit_col: str = "user_id",
    z: float = 1.959964,
) -> DataFrame:
    """Per-group conversion rates with Wilson score intervals — the
    interval the normal (Wald) approximation should never be used in
    place of: Wald collapses to zero width at p̂ ∈ {0, 1} and
    undercovers small n, while Wilson stays calibrated — the right
    error bars for a per-segment conversion dashboard.

    Per-unit reduction as in :func:`ab_test_proportions` (a unit
    converts if ANY of its rows converted; a unit's group is its max —
    use the A/B ops when cross-group contamination needs the drop
    rule). center = (p̂ + z²/2n)/(1 + z²/n),
    half = z·√(p̂(1−p̂)/n + z²/4n²)/(1 + z²/n) — pure closed form,
    SQL-replayable.

    Output: one row per group — (group, n_units long, conversions
    long, rate, ci_lo, ci_hi — 6 dp), ordered by group.
    """
    per_unit = (
        df.where(
            F.col(unit_col).isNotNull() & F.col(group_col).isNotNull()
        )
        .groupBy(F.col(unit_col).alias("unit"))
        .agg(
            F.max(F.col(group_col).cast("string")).alias("grp"),
            F.max(F.col(converted_col).cast("int")).alias("conv"),
        )
    )
    per_group = per_unit.groupBy("grp").agg(
        F.count(F.lit(1)).alias("n"), F.sum("conv").alias("c")
    )
    zl = F.lit(float(z))
    nd = F.col("n").cast("double")
    p = F.col("c").cast("double") / nd
    denom = F.lit(1.0) + zl * zl / nd
    center = (p + zl * zl / (F.lit(2.0) * nd)) / denom
    half = (
        zl
        * F.sqrt(
            p * (F.lit(1.0) - p) / nd
            + zl * zl / (F.lit(4.0) * nd * nd)
        )
        / denom
    )
    return per_group.select(
        F.col("grp").alias("group"),
        F.col("n").cast("long").alias("n_units"),
        F.col("c").cast("long").alias("conversions"),
        F.round(p, 6).alias("rate"),
        F.round(F.greatest(center - half, F.lit(0.0)), 6).alias("ci_lo"),
        F.round(F.least(center + half, F.lit(1.0)), 6).alias("ci_hi"),
    ).orderBy("group")


def rfm_segments(
    df: DataFrame,
    user_col: str = "o_custkey",
    ts_col: str = "o_orderdate",
    amount_col: str = "o_totalprice",
    n_buckets: int = 4,
) -> DataFrame:
    """RFM (recency / frequency / monetary) customer segmentation — the
    classic marketing-analytics cut the reference's aggregation surface
    stops just short of (cf. /root/reference/src/transformations/
    aggregation.py's groupBy metrics): score every customer 1..k on each
    dimension and emit the concatenated segment code.

    Scores use EXACT SQL NTILE semantics via the scale-safe
    :func:`~metadata_etl_framework_spark.functions.aggregations.
    ntile_assign` (range-partitioned global rank + closed form — never a
    partitionless window). Orientation: higher score = better customer,
    so R inverts the NTILE bucket over ascending recency_days (most
    recent day = highest score) while F and M take the bucket over
    ascending frequency/monetary directly. Ties break on the user key
    (ascending) in every dimension, making the assignment fully
    deterministic — the same ORDER BY an oracle replays.

    Recency is measured in whole days against the dataset's max
    timestamp (a broadcast 1-row aggregate — no parameter to drift out
    of sync with the data).

    Plan shape at scale: one user-keyed aggregate over the fact table,
    then three ntile_assign passes over the CUSTOMER-level frame (each a
    range partition + broadcast offsets). Nothing downstream of the
    first aggregate scales with fact rows.

    Output: (user, recency_days, frequency, monetary 2dp, r_score,
    f_score, m_score, rfm_segment string like '434').
    """
    from metadata_etl_framework_spark.functions.aggregations import (
        ntile_assign,
    )

    base = df.where(
        F.col(user_col).isNotNull() & F.col(ts_col).isNotNull()
    )
    per_user = base.groupBy(F.col(user_col).alias("user")).agg(
        F.max(F.col(ts_col)).alias("_last"),
        F.count(F.lit(1)).alias("frequency"),
        # DECIMAL(30,2) accumulation: currency sums are exact and
        # order-independent, so the NTILE sort key is cross-engine stable
        F.round(
            F.sum(F.col(amount_col).cast("decimal(30,2)")).cast("double"),
            2,
        ).alias("monetary"),
    )
    asof = base.agg(F.max(F.col(ts_col)).alias("_asof"))
    scored = (
        per_user.crossJoin(F.broadcast(asof))
        .withColumn(
            "recency_days",
            F.datediff(
                F.col("_asof").cast("date"), F.col("_last").cast("date")
            ),
        )
        .drop("_last", "_asof")
    )
    # each ntile pass references its input ~4× (global_row_number's
    # range-partition + offset frames, the total-rows aggregate, the
    # final cross-join), so three stacked passes multiply the plan ~4³
    # (the benched arm analyzed to 412 exchanges) — cut lineage between
    # passes with the cache-then-checkpoint hybrid; the frame is
    # CUSTOMER-level (tiny relative to facts), so the materializations
    # are O(users) each and the audited plan stays one-pass-sized.
    # Once a pass's leaf is filled, nothing reads the leaf before it or
    # the pass's persisted rank frame: release() frees the leaf
    # (Dataset.unpersist() cannot reach its RDD-level blocks) and
    # unpersist() the rank, so only the last leaf and the last pass's
    # rank, which the result reads, outlive the call
    base, _ = checkpoint_leaf(scored)
    ranks: list[DataFrame] = []
    rb, _ = checkpoint_leaf(ntile_assign(
        base, ["recency_days", "user"], n_buckets, out="_rb", persisted=ranks
    ))
    release(base)
    scored, _ = checkpoint_leaf(ntile_assign(
        rb, ["frequency", "user"], n_buckets, out="f_score", persisted=ranks
    ))
    release(rb)
    for rank in ranks:
        rank.unpersist()
    scored = ntile_assign(
        scored, ["monetary", "user"], n_buckets, out="m_score"
    )
    return scored.select(
        "user",
        "recency_days",
        "frequency",
        "monetary",
        (F.lit(n_buckets + 1) - F.col("_rb")).cast("int").alias("r_score"),
        "f_score",
        "m_score",
        F.concat(
            (F.lit(n_buckets + 1) - F.col("_rb")).cast("string"),
            F.col("f_score").cast("string"),
            F.col("m_score").cast("string"),
        ).alias("rfm_segment"),
    )


def cohort_ltv(
    df: DataFrame,
    user_col: str = "o_custkey",
    ts_col: str = "o_orderdate",
    amount_col: str = "o_totalprice",
) -> DataFrame:
    """Cohort lifetime-value curve: customers cohort by the calendar
    month of their FIRST purchase; each later month's revenue accrues to
    that cohort at its month offset, and the running total divided by
    cohort size is the average LTV per acquired customer — the curve a
    growth team reads left-to-right to see payback.

    Plan shape at scale: one user-keyed first-purchase aggregate, a
    user-keyed join back to facts, one groupBy on the (cohort, offset)
    calendar² grid, then a cumulative window PARTITIONED BY cohort over
    that grid (grid-sized state, never fact-sized — same rationale as
    :func:`cohort_retention`). Month offsets use months_between on
    truncated months (integral by construction).

    Output: (cohort_month, month_offset, cohort_size, revenue 2dp,
    cum_revenue 2dp, ltv_per_customer 6dp).
    """
    from pyspark.sql import Window

    m = F.date_trunc("month", F.col(ts_col))
    base = df.where(
        F.col(user_col).isNotNull()
        & F.col(ts_col).isNotNull()
        & F.col(amount_col).isNotNull()
    ).select(
        F.col(user_col).alias("user"),
        m.alias("om"),
        # DECIMAL(30,2): exact, merge-order-independent revenue sums
        F.col(amount_col).cast("decimal(30,2)").alias("amt"),
    )
    firsts = base.groupBy("user").agg(F.min("om").alias("cohort_month"))
    sizes = firsts.groupBy("cohort_month").agg(
        F.count(F.lit(1)).alias("cohort_size")
    )
    off = F.round(
        F.months_between(F.col("om"), F.col("cohort_month"))
    ).cast("int")
    grid = (
        base.join(firsts, "user")
        .groupBy("cohort_month", off.alias("month_offset"))
        .agg(F.sum("amt").alias("_rev"))
    )
    w = (
        Window.partitionBy("cohort_month")
        .orderBy("month_offset")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        grid.withColumn("_cum", F.sum("_rev").over(w))
        .join(sizes, "cohort_month")
        .select(
            "cohort_month",
            "month_offset",
            "cohort_size",
            F.round(F.col("_rev").cast("double"), 2).alias("revenue"),
            F.round(F.col("_cum").cast("double"), 2).alias("cum_revenue"),
            F.round(
                F.col("_cum").cast("double") / F.col("cohort_size"), 6
            ).alias("ltv_per_customer"),
        )
    )


def inter_event_gaps(
    df: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    id_col: str = "event_id",
    type_col: str = "event_type",
) -> DataFrame:
    """Inter-event time distribution: per event type, the statistics of
    the gap (seconds) between each event and the SAME user's previous
    event of any type — the cadence profile behind session-timeout
    choices and engagement scoring.

    The lag window is PARTITIONED BY the user (user-keyed state — the
    standard scale-safe shape; a global window would collapse to one
    task), ordered by (ts, id) so same-timestamp events have a
    deterministic predecessor. A user's first event has no gap and is
    excluded. Gaps group under the LATER event's type ("time since last
    activity when a purchase happens").

    Exact percentile (linear interpolation, one per-group sort) matches
    ``quantile_cont``; means/percentiles round to 6dp.

    Output: (event_type, n_gaps, avg_gap_s, p50_gap_s, max_gap_s).
    """
    from pyspark.sql import Window

    w = (
        Window.partitionBy(F.col(user_col))
        .orderBy(F.col(ts_col), F.col(id_col))
    )
    gaps = (
        df.where(F.col(user_col).isNotNull() & F.col(ts_col).isNotNull())
        .withColumn("_prev", F.lag(F.col(ts_col)).over(w))
        .where(F.col("_prev").isNotNull())
        .select(
            F.col(type_col).alias("event_type"),
            # timestamp→double is fractional epoch seconds (engine
            # parity with DuckDB's epoch()); unix_timestamp would
            # truncate subsecond components
            (
                F.col(ts_col).cast("double")
                - F.col("_prev").cast("double")
            ).alias("gap_s"),
        )
    )
    return gaps.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_gaps"),
        F.round(F.avg("gap_s"), 6).alias("avg_gap_s"),
        F.round(F.percentile("gap_s", F.lit(0.5)), 6).alias("p50_gap_s"),
        F.round(F.max("gap_s"), 6).alias("max_gap_s"),
    )


def nelson_aalen(
    df: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    horizon_days: int = 7,
) -> DataFrame:
    """Nelson–Aalen cumulative hazard over user lifetimes — the
    additive companion to :func:`kaplan_meier`: H(t) = Σ_{tᵢ≤t} dᵢ/nᵢ.
    Where KM answers "what fraction survives to t", the hazard slope
    answers WHEN churn pressure spikes (onboarding cliff vs steady
    decay), and H is the quantity that regression models (Cox) are
    fitted against. Same censoring convention as KM: last event more
    than ``horizon_days`` before the corpus end = churned, else
    censored at the current lifetime.

    The same at-risk table as kaplan_meier (:func:`_risk_table`: one
    user-keyed aggregate, then the distinct-lifetime calendar-bounded
    frame), but the estimator is a pure prefix SUM of dᵢ/nᵢ (no
    log/exp needed), with the per-lifetime terms rounded to 12dp and
    accumulated as DECIMAL so the curve is merge-order-independent.

    Output: one row per distinct lifetime — (duration_days, n_at_risk,
    n_events, hazard_increment 6dp, cumulative_hazard 6dp).
    """
    cum, w_cum = _risk_table(df, user_col, ts_col, horizon_days)
    inc = F.col("d").cast("double") / F.col("n_at_risk").cast("double")
    stepped = cum.withColumn(
        "_inc_dec", F.round(inc, 12).cast("decimal(28,12)")
    ).withColumn(
        "_H", F.sum("_inc_dec").over(w_cum).cast("double")
    )
    return stepped.select(
        F.col("t").alias("duration_days"),
        F.col("n_at_risk").cast("long").alias("n_at_risk"),
        F.col("d").cast("long").alias("n_events"),
        F.round(inc, 6).alias("hazard_increment"),
        F.round("_H", 6).alias("cumulative_hazard"),
    )


def logrank_test(
    df: DataFrame,
    group_col: str,
    user_col: str = "user_id",
    ts_col: str = "ts",
    horizon_days: int = 7,
) -> DataFrame:
    """Two-group log-rank test over user lifetimes — "do these cohorts
    CHURN differently", answered the censoring-correct way (comparing
    raw retention rates ignores at-risk windows exactly like the naive
    day-t retention :func:`kaplan_meier` exists to fix).

    Same per-user lifetime/censoring reduction as KM (units under both
    groups are contaminated and dropped, the ab_test_proportions rule),
    then at every pooled distinct event lifetime t:
    O₁ₜ = d₁ₜ, E₁ₜ = dₜ·n₁ₜ/nₜ, V₁ₜ = dₜ·(n₁ₜ/nₜ)(n₂ₜ/nₜ)(nₜ−dₜ)/(nₜ−1);
    χ² = (ΣO₁−ΣE₁)²/ΣV₁ with the 1-df p-value through the A&S normal
    tail (ops/stats.py::normal_sf_col, |err| < 7.5e-8).

    Plan: one user-keyed aggregate, ONE groupBy(t) carrying both arms
    as conditional sums (no per-group join), cumulative at-risk via
    the calendar-bounded lifetime frame (nelson_aalen precedent), and
    12-dp-rounded DECIMAL sums for E and V so the statistic is
    merge-order independent. Output: 1 row — (variant_a, n_a,
    events_a, variant_b, n_b, events_b, expected_a, chi2, p_value —
    6 dp, significant_95).
    """
    from pyspark.sql import Window

    from .stats import normal_sf_col

    per_user = (
        df.where(
            F.col(user_col).isNotNull()
            & F.col(ts_col).isNotNull()
            & F.col(group_col).isNotNull()
        )
        .groupBy(F.col(user_col).alias("_u"))
        .agg(
            F.max(F.col(group_col).cast("string")).alias("_g"),
            F.countDistinct(F.col(group_col).cast("string")).alias("_nv"),
            F.min(ts_col).alias("_first"),
            F.max(ts_col).alias("_last"),
        )
        .where(F.col("_nv") == 1)
    )
    per_user = per_user.persist()
    try:
        labels = [
            r["_g"]
            for r in per_user.select("_g").distinct().orderBy("_g").collect()
        ]
        if len(labels) != 2:
            raise ValueError(
                f"logrank_test needs exactly 2 groups, got {labels}"
            )
        ga, gb = labels
        lifed = _lifetimes(per_user, horizon_days, "_g")
        is_a = F.col("_g") == F.lit(ga)
        counts = lifed.groupBy("t").agg(
            F.sum(F.when(is_a, 1).otherwise(0)).alias("a1"),
            F.sum(F.when(is_a, F.col("event")).otherwise(0)).alias("d1"),
            F.sum(F.when(~is_a, 1).otherwise(0)).alias("a2"),
            F.sum(F.when(~is_a, F.col("event")).otherwise(0)).alias("d2"),
        )
        totals = counts.agg(
            F.sum("a1").alias("_N1"),
            F.sum("a2").alias("_N2"),
            F.sum("d1").alias("_D1"),
            F.sum("d2").alias("_D2"),
        )
        w_cum = Window.orderBy("t").rowsBetween(
            Window.unboundedPreceding, 0
        )
        cum = (
            counts.crossJoin(F.broadcast(totals))
            .withColumn("_ca1", F.sum("a1").over(w_cum))
            .withColumn("_ca2", F.sum("a2").over(w_cum))
            .withColumn("n1t", F.col("_N1") - F.col("_ca1") + F.col("a1"))
            .withColumn("n2t", F.col("_N2") - F.col("_ca2") + F.col("a2"))
            .withColumn("nt", F.col("n1t") + F.col("n2t"))
            .withColumn("dt", F.col("d1") + F.col("d2"))
            .where(F.col("dt") > 0)
        )
        rn1 = F.col("n1t").cast("double") / F.col("nt")
        rn2 = F.col("n2t").cast("double") / F.col("nt")
        e1 = F.col("dt") * rn1
        v1 = F.when(
            F.col("nt") > 1,
            F.col("dt")
            * rn1
            * rn2
            * (F.col("nt") - F.col("dt")).cast("double")
            / (F.col("nt") - 1),
        ).otherwise(F.lit(0.0))
        sums = cum.select(
            F.round(e1, 12).cast("decimal(28,12)").alias("_e"),
            F.round(v1, 12).cast("decimal(28,12)").alias("_v"),
        ).agg(
            F.sum("_e").alias("_E1"),
            F.sum("_v").alias("_V1"),
        )
        # materialize the 1-row statistic before the cache is released
        r = totals.crossJoin(F.broadcast(sums)).collect()[0]
    finally:
        per_user.unpersist()
    spark = df.sparkSession
    frame = spark.createDataFrame(
        [
            (
                ga, r["_N1"], r["_D1"], gb, r["_N2"], r["_D2"],
                r["_E1"], r["_V1"],
            )
        ],
        "variant_a string, n_a long, events_a long, "
        "variant_b string, n_b long, events_b long, "
        "e1 decimal(38,12), v1 decimal(38,12)",
    )
    o1 = F.col("events_a").cast("double")
    e1d = F.col("e1").cast("double")
    v1d = F.col("v1").cast("double")
    chi2 = F.when(v1d > 0, (o1 - e1d) * (o1 - e1d) / v1d)
    # guard: Spark's greatest() SKIPS nulls, so an unguarded clamp
    # would turn a null chi2 (no events / zero variance) into p = 0.0
    p = F.when(
        chi2.isNotNull(),
        F.round(
            F.least(
                F.lit(1.0),
                F.greatest(
                    F.lit(0.0), F.lit(2.0) * normal_sf_col(F.sqrt(chi2))
                ),
            ),
            6,
        ),
    )
    return frame.select(
        "variant_a",
        "n_a",
        "events_a",
        "variant_b",
        "n_b",
        "events_b",
        F.round(e1d, 6).alias("expected_a"),
        F.round(chi2, 6).alias("chi2"),
        p.alias("p_value"),
        (p < F.lit(0.05)).alias("significant_95"),
    )


def _cox_pass_np(gc, t, e, X, betas):
    """Driver twin of :func:`_cox_fit`'s per-iteration pass (the one
    pass of cox_ph_multi and cox_ph) over Arrow-transferred subject
    arrays: identical left-associative
    linear predictor, ±30 clamp (Spark least/greatest NaN flow),
    per-row HALF_UP pico rounding, exact integer per-(stratum,
    duration) sums and DESC suffix sums, the same null-flow on
    S0-cast-double == 0 rows, the same two-step ROUND(·,10) →
    CAST(DECIMAL(28,10)) on every score/information term, and exact
    decimal totals converted to double exactly as Spark's
    decimal-sum collect. The caller gates magnitudes so every int64
    partial is provably safe (:func:`_cox_np_safe`). Returns
    (u vector, information matrix)."""
    from decimal import Decimal

    import numpy as np

    from metadata_etl_framework_spark.ops.driver_exact import (
        cast_decimal_i64,
        round_half_up_int64,
        scaled_i64_to_f64,
        spark_round_f64,
    )

    d = len(X)
    bx = betas[0] * X[0]
    for j in range(1, d):
        bx = bx + betas[j] * X[j]
    bxc = np.maximum(np.minimum(bx, 30.0), -30.0)
    bxc = np.where(np.isnan(bx), 30.0, bxc)
    w = np.exp(bxc)
    # distinct (stratum, duration) grid, duration DESC within stratum
    order = np.lexsort((-t, gc))
    gs, ts = gc[order], t[order]
    newgrp = np.ones(len(ts), dtype=bool)
    if len(ts) > 1:
        newgrp[1:] = (gs[1:] != gs[:-1]) | (ts[1:] != ts[:-1])
    starts = np.nonzero(newgrp)[0]
    grp_g = gs[starts]
    newstr = np.ones(len(starts), dtype=bool)
    if len(starts) > 1:
        newstr[1:] = grp_g[1:] != grp_g[:-1]

    def _gsum(vals):
        return np.add.reduceat(vals[order], starts)

    def _suffix(sums):
        # cumulative within stratum along the DESC-sorted grid
        c = np.cumsum(sums)
        base_idx = np.nonzero(newstr)[0]
        offs = np.zeros(len(sums), dtype=np.int64)
        run_start = np.zeros(len(sums), dtype=np.int64)
        run_start[base_idx] = base_idx
        run_start = np.maximum.accumulate(run_start)
        offs = np.where(run_start > 0, c[run_start - 1], 0)
        return c - offs

    def _pico_g(term):
        return _gsum(round_half_up_int64(term * 1e12))

    s0 = _pico_g(w)
    dcnt = _gsum(e.astype(np.int64))
    s1 = [_pico_g(X[j] * w) for j in range(d)]
    dx = [_pico_g(X[j] * e) for j in range(d)]
    s2 = {
        (j, k): _pico_g(X[j] * X[k] * w)
        for j in range(d)
        for k in range(j, d)
    }
    S0 = _suffix(s0)
    S1 = [_suffix(s1[j]) for j in range(d)]
    S2 = {jk: _suffix(v) for jk, v in s2.items()}
    evt = dcnt > 0
    s0d = scaled_i64_to_f64(S0[evt], 0)
    ok = s0d != 0.0
    dd = dcnt[evt].astype(np.float64)
    r1 = [
        np.where(ok, scaled_i64_to_f64(S1[j][evt], 0) / np.where(ok, s0d, 1.0), np.nan)
        for j in range(d)
    ]

    def _dec_sum(term, valid):
        # ROUND(term, 10) → CAST(DECIMAL(28,10)) → exact SUM → double
        rv = spark_round_f64(term[valid], 10)
        ints, fin = cast_decimal_i64(rv, 10)
        total = sum(int(v) for v in ints[fin])
        return float(Decimal(int(total)).scaleb(-10)) if fin.any() else 0.0

    u = []
    for j in range(d):
        dxd = scaled_i64_to_f64(dx[j][evt], 0)
        term = dxd / 1e12 - dd * r1[j]
        u.append(_dec_sum(term, ok))
    imat = [[0.0] * d for _ in range(d)]
    for j in range(d):
        for k in range(j, d):
            r2 = np.where(
                ok,
                scaled_i64_to_f64(S2[(j, k)][evt], 0)
                / np.where(ok, s0d, 1.0),
                np.nan,
            )
            v = _dec_sum(dd * (r2 - r1[j] * r1[k]), ok)
            imat[j][k] = v
            imat[k][j] = v
    return u, imat


def _cox_np_safe(n_subj, maxax_all, bx_cap) -> bool:
    """True when every int64 partial of :func:`_cox_pass_np` is
    provably in range for this pass: per-row pico ≤ max(1,|x|max)²·
    e^clamp(bx_cap)·1e12 (suffix totals ≤ n·per_row), and the
    10-dp score/information term ints stay under the
    cast_decimal_i64 domain. The information-matrix terms
    dd·(r2 − r1j·r1k) scale with n·|x|max² (not n·|x|max — the score
    bound), so the term cap carries the SQUARED covariate magnitude
    and is compared against the 4e18 cast_decimal_i64 raise domain,
    not the looser 1<<62 int64 bound."""
    import math

    per_row = (
        math.exp(min(30.0, bx_cap)) * max(1.0, maxax_all) ** 2 * 1e12
    )
    if per_row * max(n_subj, 1) >= float(1 << 62):
        return False
    term_cap = (1.0 + maxax_all) ** 2 * (n_subj + 1.0) * 1e10
    return term_cap < 4.0e18


def _cox_fit(
    df: DataFrame,
    duration_col: str,
    event_col: str,
    covariate_cols: "list[str]",
    iterations: int,
    strata_col: "str | None",
    step,
):
    """The Newton core of :func:`cox_ph_multi` and of :func:`cox_ph`,
    its d = 1 case: the subject projection, the count/max pass, the
    driver twin's arrays, and one score/information pass per
    iteration (see :func:`cox_ph_multi` for the math).

    ``step(betas, u, imat)`` turns one pass into the next 12-dp betas,
    or returns None to stop with a null fit. A final pass at the
    converged betas yields the reported information matrix.

    Returns (n_subjects, n_events, betas, imat); betas and imat are
    None when there is no event or ``step`` stopped.
    """
    from pyspark.sql import Window

    from metadata_etl_framework_spark.ops.exact_agg import exact_pico_sums
    from metadata_etl_framework_spark.ops.glm import GLM_DRIVER_MAX_ROWS

    if iterations < 1:
        raise ValueError("iterations must be >= 1")
    d = len(covariate_cols)
    cond = F.col(duration_col).isNotNull() & F.col(event_col).isNotNull()
    for c in covariate_cols:
        cond = cond & F.col(c).isNotNull()
    # risk sets per (stratum, duration); unstratified, per duration
    gkeys, strata_sel = [], []
    if strata_col is not None:
        cond = cond & F.col(strata_col).isNotNull()
        gkeys, strata_sel = ["_g"], [F.col(strata_col).alias("_g")]
    base = df.where(cond).select(
        *strata_sel,
        F.col(duration_col).cast("long").alias("_t"),
        F.col(event_col).cast("boolean").cast("int").alias("_e"),
        *[
            F.col(c).cast("double").alias(f"_x{j + 1}")
            for j, c in enumerate(covariate_cols)
        ],
    )
    xs = [F.col(f"_x{j + 1}") for j in range(d)]
    base = base.persist()
    try:
        counts = base.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("_e").alias("ev"),
            *[F.max(F.abs(xs[j])).alias(f"mx{j}") for j in range(d)],
        ).collect()[0]
        n_subj, n_ev = int(counts["n"]), int(counts["ev"] or 0)
        maxax = [float(counts[f"mx{j}"] or 0.0) for j in range(d)]
        if n_subj == 0 or n_ev == 0:
            return n_subj, n_ev, None, None

        def _pico(e):
            return F.round(e * F.lit(1e12)).cast("decimal(38,0)")

        arrs = None
        tbl = driver_table(base, GLM_DRIVER_MAX_ROWS, size=n_subj)
        if tbl is not None:
            # base stays persisted: a Newton pass whose magnitudes
            # outgrow the int64 bound falls back to the distributed
            # form below, bit-identically
            import numpy as np

            if strata_col is not None:
                _, gcodes = np.unique(
                    column_np(tbl, "_g"), return_inverse=True
                )
                gcodes = gcodes.astype(np.int64)
            else:
                gcodes = np.zeros(n_subj, dtype=np.int64)
            arrs = (
                gcodes,
                column_np(tbl, "_t", np.int64),
                column_np(tbl, "_e", np.float64),
                [column_np(tbl, f"_x{j + 1}", np.float64) for j in range(d)],
            )

        def _pass(betas: "list[float]"):
            import math

            bx_cap = sum(abs(betas[j]) * maxax[j] for j in range(d))
            if arrs is not None and _cox_np_safe(
                n_subj, max(maxax), bx_cap
            ):
                try:
                    return _cox_pass_np(*arrs, betas)
                except ValueError:
                    # a partial outgrew the exact-int domain despite
                    # the a-priori bound — the DECIMAL(28,10) pass
                    # below has ~1e18 capacity and is the reference
                    pass
            bx = F.lit(betas[0]) * xs[0]
            for j in range(1, d):
                bx = bx + F.lit(betas[j]) * xs[j]
            w = F.exp(
                F.greatest(F.least(bx, F.lit(30.0)), F.lit(-30.0))
            )
            # per-row pico bound across every stream of this pass:
            # |x_j·x_k·w|·1e12 ≤ max(1,|x|max)²·e^clamp(Σ|β_j|·|x_j|max)
            # ·1e12. Under it, the two-level exact sum (ops/exact_agg.py)
            # is BIT-IDENTICAL to the DECIMAL groupBy and ~3× cheaper per
            # pass (long partials, one per (duration, partition)); above
            # it the DECIMAL form stands — no long partial can hold
            # e^30-scale picos.
            per_row = (
                math.exp(min(30.0, bx_cap))
                * max(1.0, max(maxax)) ** 2
                * 1e12
            )
            terms = {"_s0": w}
            for j in range(d):
                terms[f"_s1_{j}"] = xs[j] * w
                terms[f"_dx{j}"] = xs[j] * F.col("_e")
            for j in range(d):
                for k in range(j, d):
                    terms[f"_s2_{j}{k}"] = xs[j] * xs[k] * w
            if per_row * max(n_subj, 1) < float(1 << 62):
                grid = exact_pico_sums(
                    base,
                    terms,
                    group_cols=[*gkeys, "_t"],
                    long_terms={"_d": F.col("_e")},
                    sub_buckets=1,
                )
            else:
                grid = base.groupBy(*gkeys, "_t").agg(
                    F.sum("_e").alias("_d"),
                    *[F.sum(_pico(t)).alias(k) for k, t in terms.items()],
                )
            # risk set = same-stratum durations >= t: DESC suffix sums
            # over the distinct-(stratum, duration) grid
            # (calendar-bounded per stratum)
            wd = (
                Window.partitionBy(*gkeys)
                .orderBy(F.col("_t").desc())
                .rowsBetween(Window.unboundedPreceding, 0)
            )
            cum = grid.withColumn("_S0", F.sum("_s0").over(wd))
            for j in range(d):
                cum = cum.withColumn(
                    f"_S1_{j}", F.sum(f"_s1_{j}").over(wd)
                )
            for j in range(d):
                for k in range(j, d):
                    cum = cum.withColumn(
                        f"_S2_{j}{k}", F.sum(f"_s2_{j}{k}").over(wd)
                    )
            cum = cum.where(F.col("_d") > 0)
            s0 = F.col("_S0").cast("double")

            # _S0 == 0 is reachable (every risk-set weight clamps to
            # exp(-30) ≈ 9e-14 < half a pico); pinned ANSI raises on a
            # bare divide, so null-flow those grid rows (F.sum skips
            # them)
            def _ratio(num):
                return F.when(s0 != 0, num.cast("double") / s0)

            outs = []
            for j in range(d):
                r1j = _ratio(F.col(f"_S1_{j}"))
                outs.append(
                    F.sum(
                        F.round(
                            F.col(f"_dx{j}").cast("double") / F.lit(1e12)
                            - F.col("_d") * r1j,
                            10,
                        ).cast("decimal(28,10)")
                    ).alias(f"_u{j}")
                )
            for j in range(d):
                for k in range(j, d):
                    r1j = _ratio(F.col(f"_S1_{j}"))
                    r1k = _ratio(F.col(f"_S1_{k}"))
                    r2 = _ratio(F.col(f"_S2_{j}{k}"))
                    outs.append(
                        F.sum(
                            F.round(
                                F.col("_d") * (r2 - r1j * r1k), 10
                            ).cast("decimal(28,10)")
                        ).alias(f"_i{j}{k}")
                    )
            row = cum.agg(*outs).collect()[0]
            u = [float(row[f"_u{j}"] or 0.0) for j in range(d)]
            imat = [[0.0] * d for _ in range(d)]
            for j in range(d):
                for k in range(j, d):
                    v = float(row[f"_i{j}{k}"] or 0.0)
                    imat[j][k] = v
                    imat[k][j] = v
            return u, imat

        betas = [0.0] * d
        for _ in range(int(iterations)):
            betas = step(betas, *_pass(betas))
            if betas is None:
                return n_subj, n_ev, None, None
        # reported inference at the CONVERGED betas
        return n_subj, n_ev, betas, _pass(betas)[1]
    finally:
        base.unpersist()


def cox_ph(
    df: DataFrame,
    duration_col: str,
    event_col: str,
    covariate_col: str,
    iterations: int = 3,
) -> DataFrame:
    """Cox proportional-hazards regression, single covariate, Breslow
    tie handling — the regression member of the survival family
    (:func:`kaplan_meier` / :func:`nelson_aalen` describe,
    :func:`logrank_test` compares two groups; Cox QUANTIFIES a
    continuous covariate's effect on the hazard: HR = e^β per unit).

    The d = 1 case of :func:`cox_ph_multi`: the same Newton passes on
    the Breslow partial likelihood from β = 0 (pico-int risk-set
    sums, DESC suffix sums over the distinct-duration grid, 10-dp
    DECIMAL score U and information I), with β ← round(β + U/I, 12)
    on the driver. Iteration stops with a null fit once I ≤ 0. A
    final pass at the converged β yields the reported information:
    se = 1/√I, z = β·√I, and the A&S normal tail for the p-value.

    Input is SUBJECT-level: one row per subject with its duration
    (integer-days convention), event flag (1 = event, 0 = censored),
    and covariate (pre-scale to O(1) magnitude — the pico grid).

    Output: 1 row — (n_subjects, n_events, beta 12 dp,
    hazard_ratio 6 dp, se 6 dp, z 6 dp, p_value 6 dp); null
    beta/inference when the covariate carries no information (I ≤ 0).
    """
    from metadata_etl_framework_spark.ops.stats import normal_sf_col

    def _step(betas, u, imat):
        i = imat[0][0]
        if not i > 0:
            return None
        return [round(betas[0] + u[0] / i, 12)]

    n_subj, n_ev, betas, imat = _cox_fit(
        df, duration_col, event_col, [covariate_col], iterations, None,
        _step,
    )
    spark = df.sparkSession
    if betas is None or not imat[0][0] > 0:
        return spark.createDataFrame(
            [(n_subj, n_ev, None, None, None, None, None)],
            "n_subjects long, n_events long, beta double, "
            "hazard_ratio double, se double, z double, "
            "p_value double",
        )
    one = spark.createDataFrame(
        [(n_subj, n_ev, betas[0], float(imat[0][0]))],
        "n_subjects long, n_events long, beta double, info double",
    )
    z = F.col("beta") * F.sqrt(F.col("info"))
    p = F.round(
        F.least(
            F.lit(1.0),
            F.greatest(
                F.lit(0.0), F.lit(2.0) * normal_sf_col(F.abs(z))
            ),
        ),
        6,
    )
    return one.select(
        "n_subjects",
        "n_events",
        "beta",
        F.round(F.exp(F.col("beta")), 6).alias("hazard_ratio"),
        F.round(F.lit(1.0) / F.sqrt(F.col("info")), 6).alias("se"),
        F.round(z, 6).alias("z"),
        p.alias("p_value"),
    )


def cox_ph_multi(
    df: DataFrame,
    duration_col: str,
    event_col: str,
    covariate_cols: "list[str]",
    iterations: int = 3,
    max_covariates: int = 4,
    strata_col: "str | None" = None,
) -> DataFrame:
    """Multi-covariate Cox proportional hazards (Breslow ties) on the
    logistic-CV Hessian-grid machinery; :func:`cox_ph` is its
    single-covariate case and runs on the same passes. Per Newton
    iteration ONE subject scan groups by duration collecting pico-int
    sums of e^{βᵀx} (βᵀx clamped ±30 — the logit guard), x_j·e^{βᵀx}
    (d streams) and x_j·x_k·e^{βᵀx} (d(d+1)/2 streams) plus event
    counts/covariate-event sums; DESC suffix sums over the
    distinct-duration grid form the risk-set statistics S₀/S₁ⱼ/S₂ⱼₖ;
    the score vector Uⱼ = Σ_d [Σx_j,events − d·S₁ⱼ/S₀] and information
    matrix Iⱼₖ = Σ_d d·[S₂ⱼₖ/S₀ − (S₁ⱼ/S₀)(S₁ₖ/S₀)] accumulate as
    10-dp DECIMAL terms, and the d×d Newton step solves on the driver
    (d = 2 uses the exact closed-form adjugate the SQL oracle mirrors —
    the ops/glm.py::_solve convention; d > 2 uses deterministic
    Gaussian elimination, registered rows-only). β updates round to
    12 dp so an unrolled-CTE oracle replays the training bit-exactly.
    Every step mirrors the IRLS/logrank oracle conventions
    bit-for-bit.

    A final pass at the converged β yields the reported information
    matrix; per-term inference inverts it (closed form at d = 2):
    se_j = √(I⁻¹)ⱼⱼ, z_j = β_j/se_j, two-sided A&S normal tail.

    ``strata_col`` switches to STRATIFIED Cox — the standard control
    for a confounder that violates proportional hazards (site, cohort,
    device class): the partial likelihood factorizes per stratum, so
    each stratum keeps its own baseline hazard and risk sets while β
    stays shared. Mechanically the change is exactly two keys: the
    duration grid groups by (stratum, t) and the DESC suffix-sum
    window partitions by stratum — score/information still sum over
    ALL strata's event durations, so the Newton step, the solve, and
    the oracle convention are unchanged. Scale shape is unchanged too
    (the grid grows to strata × durations, still calendar-bounded per
    stratum).

    Output: one row per covariate, input order — (term, beta 12 dp,
    hazard_ratio 6 dp, se 6 dp, z 6 dp, p_value 6 dp, n_subjects,
    n_events); null beta/inference when the information matrix is
    singular or not positive definite.
    """
    from metadata_etl_framework_spark.ops.glm import _solve
    from metadata_etl_framework_spark.ops.stats import normal_sf_col

    d = len(covariate_cols)
    if not 1 <= d <= max_covariates:
        raise ValueError(
            f"cox_ph_multi: {d} covariates outside [1, {max_covariates}]"
        )

    def _step(betas, u, imat):
        try:
            delta = _solve(imat, u)
        except ValueError:
            return None
        return [round(betas[j] + delta[j], 12) for j in range(d)]

    n_subj, n_ev, betas, imat = _cox_fit(
        df, duration_col, event_col, covariate_cols, iterations,
        strata_col, _step,
    )
    spark = df.sparkSession

    def _null_out() -> DataFrame:
        return spark.createDataFrame(
            [
                (j, covariate_cols[j], None, None, None, None, None,
                 n_subj, n_ev)
                for j in range(d)
            ],
            "ord int, term string, beta double, hazard_ratio double, "
            "se double, z double, p_value double, n_subjects long, "
            "n_events long",
        ).orderBy("ord").drop("ord")

    if betas is None:
        return _null_out()
    inv_jj: "list[float] | None"
    if d == 1:
        inv_jj = [1.0 / imat[0][0]] if imat[0][0] > 0 else None
    elif d == 2:
        det = imat[0][0] * imat[1][1] - imat[0][1] * imat[0][1]
        inv_jj = (
            [imat[1][1] / det, imat[0][0] / det]
            if det > 0
            else None
        )
    else:
        try:
            inv_jj = [
                _solve(imat, [1.0 if r == j else 0.0 for r in range(d)])[j]
                for j in range(d)
            ]
        except ValueError:
            inv_jj = None
    if inv_jj is None or any(not v > 0 for v in inv_jj):
        return _null_out()
    one = spark.createDataFrame(
        [
            (j, covariate_cols[j], betas[j], inv_jj[j], n_subj, n_ev)
            for j in range(d)
        ],
        "ord int, term string, beta double, inv double, "
        "n_subjects long, n_events long",
    )
    se = F.sqrt(F.col("inv"))
    z = F.col("beta") / se
    p = F.round(
        F.least(
            F.lit(1.0),
            F.greatest(
                F.lit(0.0), F.lit(2.0) * normal_sf_col(F.abs(z))
            ),
        ),
        6,
    )
    return (
        one.select(
            "ord",
            "term",
            "beta",
            F.round(F.exp(F.col("beta")), 6).alias("hazard_ratio"),
            F.round(se, 6).alias("se"),
            F.round(z, 6).alias("z"),
            p.alias("p_value"),
            "n_subjects",
            "n_events",
        )
        .orderBy("ord")
        .drop("ord")
    )


def rmst(
    df: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    horizon_days: int = 7,
    tau: int = 30,
) -> DataFrame:
    """Restricted mean survival time — the single-number readout of
    the Kaplan–Meier curve clinicians and growth teams actually
    compare: E[min(T, τ)] = ∫₀^τ S(t) dt, "average days retained
    within the first τ days". Unlike median survival it ALWAYS exists
    (even when the curve never crosses 0.5) and unlike the hazard
    ratio it needs no proportional-hazards assumption — the honest
    companion to :func:`cox_ph`.

    Computed exactly from the step curve: the head interval [0, t₀)
    contributes S = 1, each KM step [tᵢ, tᵢ₊₁) contributes
    S(tᵢ)·(min(tᵢ₊₁, τ) − tᵢ) with intervals clamped to τ. Everything
    runs on the calendar-bounded distinct-lifetime frame (the KM
    machinery); segment contributions round to pico-ints and sum as
    DECIMAL(38,0), so the integral is merge-order free and
    SQL-replayable.

    Output: 1 row — (tau int, horizon_days int, n_users long,
    n_steps long, rmst_days 6 dp).
    """
    if tau <= 0:
        raise ValueError("tau must be > 0")
    km = kaplan_meier(
        df, user_col=user_col, ts_col=ts_col,
        horizon_days=horizon_days,
    )
    from pyspark.sql import Window

    w = Window.orderBy("t")
    seg = km.select(
        F.col("duration_days").cast("double").alias("t"),
        "survival",
        F.col("n_at_risk"),
        F.col("n_events"),
        F.col("n_censored_here"),
    ).withColumn("t_next", F.lead("t").over(w))
    t = F.col("t")
    t_end = F.least(
        F.coalesce(F.col("t_next"), F.lit(float(tau))),
        F.lit(float(tau)),
    )
    width = F.greatest(
        F.lit(0.0), t_end - F.least(t, F.lit(float(tau)))
    )
    contrib = F.col("survival") * width
    head = F.least(F.min("t"), F.lit(float(tau)))  # S=1 before t0
    agg = seg.agg(
        F.round(
            (
                F.sum(
                    F.round(contrib * F.lit(1e12)).cast(
                        "decimal(38,0)"
                    )
                ).cast("double")
                / F.lit(1e12)
                + F.greatest(F.lit(0.0), head)
            ),
            6,
        ).alias("rmst_days"),
        F.count(F.lit(1)).cast("long").alias("n_steps"),
        (
            F.max("n_at_risk")
        ).cast("long").alias("n_users"),
    )
    return agg.select(
        F.lit(int(tau)).alias("tau"),
        F.lit(int(horizon_days)).alias("horizon_days"),
        "n_users",
        "n_steps",
        "rmst_days",
    )
