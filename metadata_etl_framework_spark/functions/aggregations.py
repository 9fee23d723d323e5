"""Aggregation operators.

Parity targets (reference):
- groupby_aggregate      src/transform/transformation_library.py:496-536
- aggregate (step type)  src/transform/transform_engine.py:199-215
- pivot_table            src/transform/transformation_library.py:538-576
- deduplicate_data       src/utils/incremental_load_manager.py:521-544
- duplicate detection    src/quality/dq_rule_examples.py:603-686
- value_counts top-k     src/quality/dq_rule_examples.py:710-716
- profiling stats        src/quality/dq_engine.py:42-67
- correlation            src/quality/dq_rule_examples.py:1034-1070

Output-naming convention: aggregated columns are named ``{col}_{fn}``
(SURVEY §7 hard-part 4 — the polars arm's convention, adopted as spec).

Scale notes: groupBy compiles to partial (map-side) + final aggregation
automatically; profiling computes ALL per-column stats in one pass over
the data instead of the reference's loop-per-column.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window

_AGG_FNS = {
    "sum": F.sum,
    "mean": F.avg,
    "avg": F.avg,
    "count": F.count,
    "min": F.min,
    "max": F.max,
    "std": F.stddev_samp,  # pandas default ddof=1 == stddev_samp
    "stddev": F.stddev_samp,
    "first": F.first,
    "countdistinct": F.count_distinct,
    "median": lambda c: F.percentile(c, F.lit(0.5)),  # exact, like pandas
}


def agg_expr(column: str, fn: str, alias: str | None = None) -> Column:
    """Resolve an aggregation-function name to a named Column expression."""
    key = fn.lower()
    if key in _AGG_FNS:
        expr = _AGG_FNS[key](column)
    else:
        # generic fallback mirrors the reference's getattr dispatch
        expr = F.expr(f"{fn}({column})")
    return expr.alias(alias or f"{column}_{key}")


def groupby_aggregate(
    df: DataFrame,
    group_cols: Sequence[str],
    aggregations: dict[str, str | list[str]],
) -> DataFrame:
    """``groupBy(group_cols).agg({col: fn | [fns]})`` → ``{col}_{fn}`` columns."""
    exprs: list[Column] = []
    for col, fns in aggregations.items():
        for fn in [fns] if isinstance(fns, str) else fns:
            exprs.append(agg_expr(col, fn))
    if not exprs:
        raise ValueError("no aggregations given")
    return df.groupBy(*group_cols).agg(*exprs)


def pivot_table(
    df: DataFrame,
    index: str | Sequence[str],
    columns: str,
    values: str,
    aggfunc: str = "mean",
    pivot_values: Sequence[str] | None = None,
) -> DataFrame:
    """groupBy(index).pivot(columns).agg(fn(values)).

    Pass ``pivot_values`` when known: it skips the extra distinct-values
    job Spark otherwise runs (matters when the pivot source is huge).
    """
    index = [index] if isinstance(index, str) else list(index)
    fn = _AGG_FNS.get(aggfunc.lower())
    if fn is None:
        raise ValueError(f"unsupported pivot aggfunc {aggfunc!r}")
    grouped = df.groupBy(*index)
    pivoted = grouped.pivot(columns, list(pivot_values)) if pivot_values else grouped.pivot(columns)
    return pivoted.agg(fn(values))


def deduplicate_data(df: DataFrame, keys: Sequence[str] | None = None) -> DataFrame:
    """Drop duplicates by key subset (or whole row when keys is None).

    NOTE: with a key subset the surviving row per group is arbitrary (same
    as the reference's drop_duplicates 'first' only under its single-node
    ordering, which Spark does not promise). Deterministic pipelines should
    use `incremental.merge.keep_latest` with an explicit order column.
    """
    return df.dropDuplicates(list(keys)) if keys else df.dropDuplicates()


def duplicate_rows(df: DataFrame, keys: Sequence[str]) -> DataFrame:
    """All-occurrence duplicate marking: every member of a key-group with
    count > 1 (pandas ``duplicated(keep=False)`` semantics)."""
    w = Window.partitionBy(*keys)
    return (
        df.withColumn("_dup_count", F.count(F.lit(1)).over(w))
        .filter(F.col("_dup_count") > 1)
        .drop("_dup_count")
    )


def value_counts_topk(df: DataFrame, column: str, k: int = 5) -> DataFrame:
    """Most frequent values, descending, value as tiebreak (deterministic)."""
    return (
        df.groupBy(column)
        .agg(F.count(F.lit(1)).alias("count"))
        .orderBy(F.desc("count"), F.col(column))
        .limit(k)
    )


def topk_per_group(
    df: DataFrame,
    group_cols: Sequence[str],
    order_col: str,
    k: int,
    descending: bool = True,
    tiebreak: Sequence[str] | None = None,
    rank_out: str = "rk",
) -> DataFrame:
    """Top-k rows per group by ``order_col`` (row_number window → filter).

    ``tiebreak`` columns extend the ordering to a total order so the
    selected rows are deterministic across partitionings — without it,
    ties at the k-th position are engine-dependent.

    Scale: one shuffle on ``group_cols``; the rank filter is applied
    before any downstream join/agg so only k rows per group survive the
    exchange boundary.
    """
    ordering = [F.desc(order_col) if descending else F.asc(order_col)]
    ordering += [F.asc(c) for c in (tiebreak or [])]
    w = Window.partitionBy(*group_cols).orderBy(*ordering)
    return (
        df.withColumn(rank_out, F.row_number().over(w))
        .filter(F.col(rank_out) <= k)
    )


def heavy_hitters(
    df: DataFrame,
    column: str,
    min_fraction: float = 0.01,
) -> DataFrame:
    """Exact heavy hitters: values occurring in ≥ ``min_fraction`` of
    rows. Two-phase at scale: a one-pass frequent-items sketch
    (``df.stat.freqItems``, guaranteed superset of the true heavy
    hitters) prunes the candidate set to ~1/min_fraction values, then an
    exact count over the candidate-filtered rows confirms — so the full
    groupBy over every distinct value (the 100-TB killer for
    high-cardinality columns) never happens, yet the answer is exact.

    Output: (value, cnt, fraction), descending count, value tiebreak.
    """
    if not (0.0 < min_fraction <= 1.0):
        raise ValueError("min_fraction must be in (0, 1]")
    # sketch pass: freqItems guarantees only freq > support, so run it at
    # half the threshold — a value with freq exactly == min_fraction is
    # then safely inside the candidate superset (bound: 2/min_fraction)
    support = max(min_fraction / 2, 1e-4)
    cands = df.stat.freqItems([column], support=support).collect()[0][0]
    cands = [c for c in cands if c is not None]
    total = df.count()
    if total == 0:
        return (
            df.select(F.col(column).alias("value"))
            .limit(0)
            .withColumn("cnt", F.lit(0).cast("long"))
            .withColumn("fraction", F.lit(0.0))
        )
    # NULL is a reportable value: the sketch never tracks it, so admit
    # null rows unconditionally — the groupBy counts the null group
    # exactly and the threshold filter below decides, same as any value.
    keep = F.col(column).isNull()
    if cands:
        keep = keep | F.col(column).isin(cands)
    return (
        df.filter(keep)
        .groupBy(F.col(column).alias("value"))
        .agg(F.count(F.lit(1)).alias("cnt"))
        .filter(F.col("cnt") >= float(min_fraction) * total)
        .withColumn(
            "fraction", F.round(F.col("cnt").cast("double") / total, 6)
        )
        .orderBy(F.desc("cnt"), F.col("value"))
    )


def sample_n_per_group(
    df: DataFrame,
    group_cols: Sequence[str],
    n: int,
    hash_cols: Sequence[str],
    salt: str = "",
) -> DataFrame:
    """Deterministic pseudo-random sample of exactly min(n, group size)
    rows per group: rows are ranked by md5 of their ``hash_cols`` (plus
    ``salt`` — vary it to draw a different sample) and the first n kept.

    Unlike ``df.sample`` this is reproducible across runs/partitionings
    and gives an exact per-group count — the right tool for building
    eval/holdout slices of a corpus. ``hash_cols`` should identify a row
    (e.g. the PK); full-duplicate rows hash equal and tie benignly.

    Scale: one shuffle on ``group_cols``; the md5 ranking is JVM-side.
    """
    hk = F.md5(F.concat_ws("|", *[F.col(c).cast("string") for c in hash_cols],
                           F.lit(salt)))
    w = Window.partitionBy(*group_cols).orderBy(hk.asc(), *[F.col(c) for c in hash_cols])
    return (
        df.withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") <= n)
        .drop("__rk")
    )


def groupwise_quantiles(
    df: DataFrame,
    group_cols: Sequence[str],
    value_col: str,
    quantiles: Sequence[float] = (0.25, 0.5, 0.75),
) -> DataFrame:
    """Exact (interpolated) per-group quantiles — pandas ``quantile``
    parity, not ``percentile_approx`` (SURVEY §7 hard-part 5: the
    reference's profiling/IQR semantics are exact).

    One shuffle on ``group_cols``; all quantiles come from a single sort
    of each group's values (one ``F.percentile`` call per quantile over
    the same window-free aggregation).
    """
    aggs = [
        F.round(F.percentile(value_col, F.lit(float(q))), 6).alias(
            f"p{int(q * 100):02d}"
        )
        for q in quantiles
    ]
    return df.groupBy(*group_cols).agg(*aggs)


def global_quantiles(
    df: DataFrame,
    value_col: str,
    quantiles: Sequence[float] = (0.25, 0.5, 0.75),
    round_to: int | None = 6,
    release: bool = True,
) -> DataFrame:
    """EXACT whole-table quantiles with linear interpolation (pandas /
    ``quantile_cont`` semantics) that hold at any scale.

    :func:`groupwise_quantiles`' ``F.percentile`` buffers each group's
    values in one aggregation state — fine per group, but as a GLOBAL
    percentile it would buffer the entire column in a single task. This
    formulation never does: per-value counts (one shuffle, map-side
    combined), the two-phase distributed prefix scan for cumulative
    ranks (quality/drift.py::_dual_prefix_scan — no partitionless
    window), then each requested quantile's bracketing ranks are
    broadcast and resolved with one tiny aggregate. Post-scan state is
    O(distinct values) spread across partitions, never one task's heap.

    Output: one row per requested quantile — (p, value), value = vlo +
    (vhi − vlo)·frac at rank h = (n−1)·p, rounded to 6 dp (DuckDB's
    ``quantile_cont`` replays it exactly).

    ``release=True`` (default) materializes the ≤len(quantiles)-row
    result and frees every frame the computation cached; ``release=
    False`` keeps the lazy plan (plan audits) at the cost of leaving
    the prefix-scan cache resident.
    """
    from metadata_etl_framework_spark.quality.drift import _dual_prefix_scan

    spark = df.sparkSession
    x = F.col(value_col).cast("double")
    # the count frame feeds two jobs — the eager total (needed
    # driver-side to turn quantiles into integer rank targets) and the
    # prefix scan — so persist it across both instead of re-scanning
    # the input; released before returning (the result is ≤len(quantiles)
    # rows, materialized here)
    counts = (
        df.where(x.isNotNull())
        .groupBy(x.alias("v"))
        .agg(F.count(F.lit(1)).alias("c"))
        .persist()
    )
    n_row = counts.agg(F.sum("c").alias("n")).first()
    n = int(n_row["n"] or 0)
    if n == 0:
        counts.unpersist()
        return spark.createDataFrame([], "p double, value double")
    import math

    targets = []
    for p in quantiles:
        h = (n - 1) * float(p)
        lo_rank = int(math.floor(h)) + 1
        targets.append(
            (float(p), lo_rank, min(lo_rank + 1, n), h - math.floor(h))
        )
    tdf = spark.createDataFrame(
        targets, "p double, lo long, hi long, frac double"
    )
    persisted: "list[DataFrame]" = [counts]
    scanned = _dual_prefix_scan(counts, "v", "c", "c", persisted=persisted)
    resolved = (
        scanned.crossJoin(F.broadcast(tdf))
        .groupBy("p", "frac")
        .agg(
            F.min(F.when(F.col("__ca") >= F.col("lo"), F.col("v"))).alias(
                "vlo"
            ),
            F.min(F.when(F.col("__ca") >= F.col("hi"), F.col("v"))).alias(
                "vhi"
            ),
        )
    )
    interp = F.col("vlo") + (F.col("vhi") - F.col("vlo")) * F.col("frac")
    if round_to is not None:
        interp = F.round(interp, round_to)
    out = resolved.select("p", interp.alias("value")).orderBy("p")
    if not release:
        # lazy plan keeps the scan cache resident; the counts cache has
        # already served both its jobs (total + subtotal collect) and
        # can go now — the final job reads the CACHED with_pid above it
        counts.unpersist()
        return out
    rows = out.collect()
    schema = out.schema
    for f in persisted:
        f.unpersist()
    return spark.createDataFrame(rows, schema)


def histogram(
    df: DataFrame,
    column: str,
    nbins: int = 20,
    lo: float | None = None,
    hi: float | None = None,
) -> DataFrame:
    """Fixed-width histogram of a numeric column: (bin, bin_lo, bin_hi, cnt).

    Bounds default to the observed min/max (one tiny agg whose 1-row
    result is broadcast — same pattern as the anomaly suite's shared
    stats). Values at the upper bound land in the last bin; nulls are
    dropped; only non-empty bins are emitted.

    Scale: two linear scans (bounds + counts) — or one when bounds are
    supplied — and a shuffle of at most ``nbins`` rows.
    """
    if nbins <= 0:
        raise ValueError("nbins must be positive")
    c = F.col(column).cast("double")
    data = df.filter(c.isNotNull()).select(c.alias("__x"))
    if lo is None or hi is None:
        bounds = data.agg(
            F.min("__x").alias("__lo"), F.max("__x").alias("__hi")
        )
        data = data.crossJoin(F.broadcast(bounds))
        lo_c, hi_c = F.col("__lo"), F.col("__hi")
    else:
        lo_c, hi_c = F.lit(float(lo)), F.lit(float(hi))
        data = data.withColumn("__lo", lo_c).withColumn("__hi", hi_c)
    width = (hi_c - lo_c) / nbins
    bin_id = F.when(width > 0, F.least(
        F.lit(nbins - 1),
        F.floor((F.col("__x") - lo_c) / width),
    )).otherwise(F.lit(0)).cast("int")
    return (
        data.withColumn("bin", bin_id)
        .groupBy("bin")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.first("__lo").alias("__flo"),
            F.first("__hi").alias("__fhi"),
        )
        .withColumn("__w", (F.col("__fhi") - F.col("__flo")) / nbins)
        .select(
            "bin",
            F.round(F.col("__flo") + F.col("bin") * F.col("__w"), 6).alias("bin_lo"),
            F.round(F.col("__flo") + (F.col("bin") + 1) * F.col("__w"), 6).alias("bin_hi"),
            "cnt",
        )
    )


def profile_columns(
    df: DataFrame,
    columns: Sequence[str] | None = None,
    include_moments: bool = True,
) -> DataFrame:
    """Per-column profile in ONE aggregation pass.

    For every column: count, null_count, null_pct, distinct; numeric
    columns add min/max and — when ``include_moments`` — mean/std/median
    (exact percentile — reference parity, SURVEY §7.5). Set
    ``include_moments=False`` when only the exact structural fields are
    needed: the exact median forces a per-column value buffer in the
    final aggregation task, by far the most expensive piece. Returns one
    row per column (unpivoted driver-side from the single agg row —
    column count is small, data pass is one).
    """
    from pyspark.sql import types as T

    cols = list(columns or df.columns)
    schema = {f.name: f.dataType for f in df.schema.fields}
    numeric = {
        c for c in cols if isinstance(schema[c], (T.NumericType,))
    }
    exprs: list[Column] = [F.count(F.lit(1)).alias("_rows")]
    for c in cols:
        exprs.append(F.count(c).alias(f"{c}__nonnull"))
        exprs.append(F.count_distinct(c).alias(f"{c}__distinct"))
        if c in numeric:
            exprs.append(F.min(c).cast("double").alias(f"{c}__min"))
            exprs.append(F.max(c).cast("double").alias(f"{c}__max"))
            if include_moments:
                exprs.append(F.avg(c).alias(f"{c}__mean"))
                exprs.append(F.stddev_samp(c).alias(f"{c}__std"))
                exprs.append(F.percentile(c, F.lit(0.5)).alias(f"{c}__median"))
    row = df.agg(*exprs).collect()[0].asDict()
    total = row["_rows"]
    out = []
    for c in cols:
        nonnull = row[f"{c}__nonnull"]
        rec = {
            "column": c,
            "count": total,
            "null_count": total - nonnull,
            "null_pct": (100.0 * (total - nonnull) / total) if total else 0.0,
            "distinct": row[f"{c}__distinct"],
            "dtype": schema[c].simpleString(),
            "min": row.get(f"{c}__min"),
            "max": row.get(f"{c}__max"),
            "mean": row.get(f"{c}__mean"),
            "std": row.get(f"{c}__std"),
            "median": row.get(f"{c}__median"),
        }
        out.append(rec)
    spark = df.sparkSession
    out_schema = (
        "column string, count long, null_count long, null_pct double, "
        "distinct long, dtype string, min double, max double, mean double, "
        "std double, median double"
    )
    return spark.createDataFrame(out, schema=out_schema)


def correlation(df: DataFrame, col1: str, col2: str) -> DataFrame:
    """Pearson correlation as a 1-row DataFrame (column ``corr``)."""
    return df.agg(F.corr(col1, col2).alias("corr"))


def approx_profile(
    df: DataFrame, columns: Sequence[str] | None = None, rsd: float = 0.05
) -> DataFrame:
    """Sketch-based profile: HyperLogLog distinct counts + t-digest-style
    approximate quantiles, ONE aggregation pass.

    The 100-TB variant of profile_columns: exact COUNT(DISTINCT) forces an
    EXPAND (input replays once per distinct column) and exact percentiles
    sort per group; the sketches are single-pass, fixed-memory, and
    mergeable across partitions. ``rsd`` is the HLL relative standard
    deviation (Spark default 0.05).
    """
    from pyspark.sql import types as T

    cols = list(columns or df.columns)
    schema = {f.name: f.dataType for f in df.schema.fields}
    numeric = {c for c in cols if isinstance(schema[c], T.NumericType)}
    exprs: list[Column] = [F.count(F.lit(1)).alias("_rows")]
    for c in cols:
        exprs.append(F.count(c).alias(f"{c}__nonnull"))
        exprs.append(F.approx_count_distinct(c, rsd).alias(f"{c}__distinct"))
        if c in numeric:
            exprs.append(F.min(c).cast("double").alias(f"{c}__min"))
            exprs.append(F.max(c).cast("double").alias(f"{c}__max"))
            exprs.append(
                F.percentile_approx(c, [0.25, 0.5, 0.75], 10_000).alias(f"{c}__q")
            )
    row = df.agg(*exprs).collect()[0].asDict()
    total = row["_rows"]
    out = []
    for c in cols:
        q = row.get(f"{c}__q") or [None, None, None]
        out.append(
            {
                "column": c,
                "count": total,
                "null_count": total - row[f"{c}__nonnull"],
                "approx_distinct": row[f"{c}__distinct"],
                "dtype": schema[c].simpleString(),
                "min": row.get(f"{c}__min"),
                "max": row.get(f"{c}__max"),
                "q25": float(q[0]) if q[0] is not None else None,
                "median": float(q[1]) if q[1] is not None else None,
                "q75": float(q[2]) if q[2] is not None else None,
            }
        )
    return df.sparkSession.createDataFrame(
        out,
        schema=(
            "column string, count long, null_count long, approx_distinct long, "
            "dtype string, min double, max double, q25 double, median double, "
            "q75 double"
        ),
    )


def stratified_sample(
    df: DataFrame,
    strata_col: str,
    fractions: dict | float,
    seed: int = 42,
) -> DataFrame:
    """Per-stratum Bernoulli sampling: the standard way to downsample a
    training corpus while controlling per-class rates.

    ``fractions`` is {stratum: fraction} (strata missing from it keep
    nothing) or a single fraction applied to every stratum. A row is kept
    when a seeded hash of its content, ``xxhash64(seed, *columns)``
    scaled to [0, 1), is below its stratum's fraction: one pass, no
    shuffle, no RNG stream. The draw is deterministic per seed and
    independent of partitioning and cluster size (``sampleBy`` draws from
    a per-partition RNG, so its rows change with the partitioning).
    Identical rows share one draw: they are all kept or all dropped."""
    if isinstance(fractions, dict):
        if not all(0.0 <= float(f) <= 1.0 for f in fractions.values()):
            raise ValueError("fractions must be in [0, 1]")
        frac = F.lit(0.0)
        for stratum, f in fractions.items():
            frac = F.when(
                F.col(strata_col).eqNullSafe(F.lit(stratum)), F.lit(float(f))
            ).otherwise(frac)
    else:
        if not 0.0 <= float(fractions) <= 1.0:
            raise ValueError("fractions must be in [0, 1]")
        frac = F.lit(float(fractions))
    cols = [F.col("`" + c.replace("`", "``") + "`") for c in df.columns]
    h = F.xxhash64(F.lit(int(seed)), *cols)
    u = F.shiftrightunsigned(h, 11).cast("double") / F.lit(float(1 << 53))
    return df.filter(u < frac)


def group_concat(
    df: DataFrame,
    group_cols: Sequence[str],
    value_col: str,
    sep: str = ",",
    out: str = "concat_values",
    distinct: bool = False,
) -> DataFrame:
    """Ordered string aggregation (SQL LISTAGG / string_agg): values per
    group joined by ``sep`` in SORTED order — collect_list alone is
    partition-order-dependent, so the sort is what makes the result
    deterministic and engine-comparable. ``distinct`` dedups before
    joining. One shuffle with map-side partial collect.
    """
    vals = F.collect_set(F.col(value_col).cast("string")) if distinct \
        else F.collect_list(F.col(value_col).cast("string"))
    return df.groupBy(*group_cols).agg(
        F.array_join(F.array_sort(vals), sep).alias(out)
    )


def group_mode(
    df: DataFrame,
    group_cols: "Sequence[str]",
    value_col: str,
    out: str = "mode",
) -> DataFrame:
    """Exact per-group mode with a DETERMINISTIC tie-break (smallest
    value wins) — Spark's built-in ``F.mode`` picks an arbitrary value
    among equal counts, which breaks reproducible pipelines and
    differential oracles. Two grouped aggregations (value counts →
    per-group argmax via max_by on a (count, negated-orderable value)
    struct is not portable across types, so a ranked window over the
    COUNT FRAME does the argmax: the window partitions by group and the
    count frame is |distinct values|, not rows). NULL values count as a
    level.
    """
    from pyspark.sql import Window

    counts = df.groupBy(*group_cols, value_col).agg(
        F.count(F.lit(1)).alias("__c")
    )
    w = Window.partitionBy(*group_cols).orderBy(
        F.desc("__c"), F.col(value_col).asc_nulls_last()
    )
    return (
        counts.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select(
            *group_cols,
            F.col(value_col).alias(out),
            F.col("__c").cast("long").alias("mode_count"),
        )
    )


def shannon_entropy(
    df: DataFrame, column: str, base: float = 2.0
) -> DataFrame:
    """Shannon entropy of a column's value distribution — the
    concentration measure corpus curation asks of source/language mixes
    ("how diverse is this corpus really?"). NULLs are excluded (they are
    absence, not a level — use ``fillna`` first to count them).

    One groupBy over the column + a broadcast 1-row total; entropy terms
    accumulate as DECIMAL so the sum is order-independent and
    cross-engine hash-stable. Output: 1 row — (entropy, n_levels,
    n_rows), entropy in ``base``-log units (default bits), 6 dp.
    """
    import math

    counts = (
        df.where(F.col(column).isNotNull())
        .groupBy(column)
        .agg(F.count(F.lit(1)).alias("c"))
    )
    totals = counts.agg(
        F.sum("c").alias("n"), F.count(F.lit(1)).alias("k")
    )
    p = F.col("c") / F.col("n")
    term = (-p * F.log(p) / F.lit(math.log(base))).cast("decimal(30,12)")
    return (
        counts.crossJoin(F.broadcast(totals))
        .select(term.alias("t"), "n", "k")
        .groupBy("n", "k")
        .agg(F.round(F.sum("t").cast("double"), 6).alias("entropy"))
        .select(
            "entropy",
            F.col("k").cast("long").alias("n_levels"),
            F.col("n").cast("long").alias("n_rows"),
        )
    )


def gini_coefficient(df: DataFrame, value_col: str) -> DataFrame:
    """Exact Gini coefficient of a non-negative numeric column — "how
    concentrated is the mass?" (token counts per source, spend per
    customer). 0 = perfectly equal, →1 = one row holds everything.

    Scale shape: per-value counts + the distributed dual prefix scan
    for cumulative ranks (never a full sort or single-task window),
    then the closed form G = 2·Σ(rank·x)/(n·Σx) − (n+1)/n where a
    value appearing c times at cumulative count ca contributes
    x·(c·(ca−c) + c·(c+1)/2) to Σ(rank·x). Terms accumulate as DECIMAL.
    Raises on negative values (Gini is undefined there). Output: 1 row
    — (gini, n_rows), 6 dp.
    """
    from metadata_etl_framework_spark.quality.drift import _dual_prefix_scan

    x = F.col(value_col).cast("double")
    counts = df.where(x.isNotNull()).groupBy(x.alias("v")).agg(
        F.count(F.lit(1)).alias("c")
    )
    neg = counts.where(F.col("v") < 0).limit(1).count()
    if neg:
        raise ValueError(
            f"gini_coefficient requires non-negative {value_col!r} values"
        )
    scanned = _dual_prefix_scan(counts, "v", "c", "c")
    totals = counts.agg(
        F.sum("c").alias("n"),
        F.sum(
            (F.col("v") * F.col("c")).cast("decimal(30,10)")
        ).alias("t"),
    )
    rank_sum = (
        F.col("c") * (F.col("__ca") - F.col("c"))
        + F.col("c") * (F.col("c") + 1) / 2
    )
    term = (F.col("v") * rank_sum).cast("decimal(38,10)")
    return (
        scanned.crossJoin(F.broadcast(totals))
        .select(term.alias("s"), "n", "t")
        .groupBy("n", "t")
        .agg(F.sum("s").alias("ss"))
        .select(
            F.round(
                F.when(
                    F.col("t") > 0,
                    2.0 * F.col("ss").cast("double")
                    / (F.col("n") * F.col("t").cast("double"))
                    - (F.col("n") + 1.0) / F.col("n"),
                ).otherwise(F.lit(0.0)),
                6,
            ).alias("gini"),
            F.col("n").cast("long").alias("n_rows"),
        )
    )


def corr_matrix(
    df: DataFrame, columns: Sequence[str], method: str = "fast"
) -> DataFrame:
    """Pairwise Pearson correlation of ``columns`` in ONE aggregation
    pass — the feature-redundancy screen a training-data pipeline runs
    before keeping k numeric signals. Both arms pairwise-delete nulls
    (pandas ``df.corr`` semantics) and share one map-side-combined scan;
    nothing downstream scales with rows.

    ``method="fast"`` (default): k(k−1)/2 native ``F.corr`` co-moment
    aggregates plus per-pair counts — double arithmetic, whole-stage
    codegen, ~50× cheaper than the decimal arm (measured at sf0.1:
    0.2 s vs 9 s — Spark's DECIMAL aggregation runs on the interpreted
    BigDecimal path, ~0.3 s PER aggregate). The 6 dp output rounding
    absorbed partitioning noise in every stability probe (3 cluster
    shapes × 3 scale factors, bit-equal to DuckDB's CORR).

    ``method="exact"``: DECIMAL sufficient statistics (n, Σx, Σy, Σxy,
    Σx², Σy² per pair) with the closed form on a 1-row frame —
    order-independent by CONSTRUCTION, for pipelines that need the
    bit-guarantee rather than the empirical one. Emitted through a
    single stack projection (one exchange).

    Output: one row per unordered pair — (col_x, col_y, corr 6dp,
    n_pairs). Degenerate pairs (zero variance, n<2) yield NULL corr.
    """
    cols = list(columns)
    if len(cols) < 2:
        raise ValueError("corr_matrix needs at least two columns")
    pairs = [
        (cols[i], cols[j])
        for i in range(len(cols))
        for j in range(i + 1, len(cols))
    ]
    if method == "fast":
        aggs = []
        for i, (a, b) in enumerate(pairs):
            both = F.col(a).isNotNull() & F.col(b).isNotNull()
            aggs.append(F.round(F.corr(a, b), 6).alias(f"_corr{i}"))
            aggs.append(F.count(F.when(both, F.lit(1))).alias(f"_n{i}"))
        stats = df.agg(*aggs)
        stack_args = ", ".join(
            f"'{a}', '{b}', _corr{i}, CAST(_n{i} AS LONG)"
            for i, (a, b) in enumerate(pairs)
        )
        return stats.select(
            F.expr(
                f"stack({len(pairs)}, {stack_args}) "
                "AS (col_x, col_y, corr, n_pairs)"
            )
        )
    if method != "exact":
        raise ValueError(f"method must be 'fast' or 'exact', got {method!r}")
    aggs = []
    for i, (a, b) in enumerate(pairs):
        x = F.col(a).cast("double")
        y = F.col(b).cast("double")
        both = x.isNotNull() & y.isNotNull()
        xv = F.when(both, x)
        yv = F.when(both, y)
        aggs += [
            F.count(F.when(both, F.lit(1))).alias(f"_n{i}"),
            F.sum(xv.cast("decimal(30,10)")).alias(f"_sx{i}"),
            F.sum(yv.cast("decimal(30,10)")).alias(f"_sy{i}"),
            F.sum((xv * yv).cast("decimal(38,10)")).alias(f"_sxy{i}"),
            F.sum((xv * xv).cast("decimal(38,10)")).alias(f"_sxx{i}"),
            F.sum((yv * yv).cast("decimal(38,10)")).alias(f"_syy{i}"),
        ]
    stats = df.agg(*aggs)
    # one select + stack, NOT a union of per-pair selects: each union
    # branch would re-plan the aggregation subtree, turning one scan
    # into k(k-1)/2 scans (the funnel_counts stack rationale)
    for i, (a, b) in enumerate(pairs):
        n = F.col(f"_n{i}").cast("double")
        sx = F.col(f"_sx{i}").cast("double")
        sy = F.col(f"_sy{i}").cast("double")
        sxy = F.col(f"_sxy{i}").cast("double")
        sxx = F.col(f"_sxx{i}").cast("double")
        syy = F.col(f"_syy{i}").cast("double")
        cov = n * sxy - sx * sy
        vx = n * sxx - sx * sx
        vy = n * syy - sy * sy
        corr = F.when(
            (n > 1) & (vx > 0) & (vy > 0),
            cov / F.sqrt(vx) / F.sqrt(vy),
        )
        stats = stats.withColumn(f"_corr{i}", F.round(corr, 6))
    stack_args = ", ".join(
        f"'{a}', '{b}', _corr{i}, CAST(_n{i} AS LONG)"
        for i, (a, b) in enumerate(pairs)
    )
    return stats.select(
        F.expr(
            f"stack({len(pairs)}, {stack_args}) "
            "AS (col_x, col_y, corr, n_pairs)"
        )
    )


def mutual_information(
    df: DataFrame, col_a: str, col_b: str
) -> DataFrame:
    """Mutual information I(A;B) between two categorical columns in nats
    — the dependence screen chi-square can't rank (MI is comparable
    across pairs; χ² grows with n). Rows where either side is NULL are
    excluded (use ``fillna`` to count absence as a level).

    ONE groupBy over (a, b) builds the joint table, which is PERSISTED
    across its four consumers (both marginals, the total, and the term
    join) — without the cache each reference would re-plan the groupBy
    subtree and re-scan the input. The 1-row result is materialized and
    the cache released before returning. Terms round to 6 dp then
    accumulate as DECIMAL(18,6), so the sum is exact and cross-engine
    hash-stable. Output: 1 row — (mi, n_cells, n_rows).
    """
    a = F.col(col_a).cast("string")
    b = F.col(col_b).cast("string")
    joint = (
        df.where(a.isNotNull() & b.isNotNull())
        .groupBy(a.alias("_a"), b.alias("_b"))
        .agg(F.count(F.lit(1)).alias("c"))
        .persist()
    )
    ma = joint.groupBy("_a").agg(F.sum("c").alias("ca"))
    mb = joint.groupBy("_b").agg(F.sum("c").alias("cb"))
    tot = joint.agg(
        F.sum("c").alias("n"), F.count(F.lit(1)).alias("k")
    )
    term = (
        (F.col("c") / F.col("n"))
        * F.log(
            (F.col("c") * F.col("n"))
            / (F.col("ca") * F.col("cb"))
        )
    )
    out = (
        joint.join(ma, "_a")
        .join(mb, "_b")
        .crossJoin(F.broadcast(tot))
        .select(
            F.round(term, 6).cast("decimal(18,6)").alias("t"), "n", "k"
        )
        .groupBy("n", "k")
        .agg(F.round(F.sum("t").cast("double"), 6).alias("mi"))
        .select(
            "mi",
            F.col("k").cast("long").alias("n_cells"),
            F.col("n").cast("long").alias("n_rows"),
        )
    )
    rows = out.collect()
    schema = out.schema
    joint.unpersist()
    return df.sparkSession.createDataFrame(rows, schema)


def ntile_assign(
    df: DataFrame,
    order_by: "Sequence[str]",
    n_buckets: int,
    out: str = "bucket",
    num_partitions: int | None = None,
    persisted: "list[DataFrame] | None" = None,
) -> DataFrame:
    """Equal-frequency bucket assignment with EXACT SQL ``NTILE``
    semantics — the quantile-discretizer a feature pipeline wants — that
    holds at any scale.

    ``NTILE(k) OVER (ORDER BY ...)`` is the single most common way to
    write this, and on a 100-TB table it is a silent scale-killer: a
    partitionless window collapses the whole dataset into ONE task.
    This formulation rides :func:`~metadata_etl_framework_spark.ops.
    packing.global_row_number` (range partition + broadcast offsets)
    and applies NTILE's closed form to the global rank r (1-based, n
    rows, k buckets, n = q·k + m): the first m buckets take q+1 rows,
    bucket(r) = (r−1)/(q+1) + 1 for r ≤ m·(q+1), else
    m + (r−1−m·(q+1))/q + 1 — bit-identical to the window function.

    NTILE splits ties by window order, so ``order_by`` MUST end with a
    unique tie-break column for the assignment to be deterministic
    (same contract as SQL). Output: input columns + ``{out}`` (int).
    ``persisted`` takes the rank's persisted handle, as in
    ``global_row_number``.
    """
    from metadata_etl_framework_spark.ops.packing import global_row_number

    if n_buckets <= 0:
        raise ValueError("n_buckets must be positive")
    ranked = global_row_number(
        df, list(order_by), out="__r", num_partitions=num_partitions,
        persisted=persisted,
    )
    # total rows via a broadcast 1-row aggregate (not a window: that
    # would re-introduce the partitionless-window problem)
    tot = ranked.agg(F.max("__r").alias("__n"))
    q = F.floor(F.col("__n") / n_buckets)
    m = F.col("__n") % n_buckets
    r0 = F.col("__r") - 1
    big = m * (q + 1)
    bucket = F.when(
        F.col("__n") <= 0, F.lit(None)
    ).when(
        q == 0, r0 + 1  # fewer rows than buckets: bucket = rank
    ).when(
        r0 < big, F.floor(r0 / (q + 1)) + 1
    ).otherwise(
        m + F.floor((r0 - big) / q) + 1
    )
    return (
        ranked.crossJoin(F.broadcast(tot))
        .withColumn(out, bucket.cast("int"))
        .drop("__r", "__n")
    )


def groupwise_ols(
    df: DataFrame,
    group_cols: Sequence[str],
    x_col: str,
    y_col: str,
) -> DataFrame:
    """Per-group simple linear regression (OLS y = a + b·x) in ONE
    aggregation pass — the metric-trend detector a monitoring pipeline
    runs per source/tenant/segment ("is quality drifting DOWN in this
    slice?").

    Sufficient statistics (n, Σx, Σy, Σxy, Σx², Σy² over rows where both
    sides are non-null) accumulate as DECIMAL per group — map-side
    combined, order-independent, cross-engine hash-stable — and the
    closed form runs on the grouped frame: b = (nΣxy − ΣxΣy)/(nΣx² −
    (Σx)²), a = (Σy − bΣx)/n, r² = b²·varx/vary. Groups with n < 2 or
    zero x-variance yield NULL coefficients.

    Output: group cols + (n long, slope, intercept, r2 — 6 dp).
    """
    x = F.col(x_col).cast("double")
    y = F.col(y_col).cast("double")
    both = x.isNotNull() & y.isNotNull()
    xv, yv = F.when(both, x), F.when(both, y)
    stats = df.groupBy(*group_cols).agg(
        F.count(F.when(both, F.lit(1))).alias("_n"),
        F.sum(xv.cast("decimal(30,10)")).alias("_sx"),
        F.sum(yv.cast("decimal(30,10)")).alias("_sy"),
        F.sum((xv * yv).cast("decimal(38,10)")).alias("_sxy"),
        F.sum((xv * xv).cast("decimal(38,10)")).alias("_sxx"),
        F.sum((yv * yv).cast("decimal(38,10)")).alias("_syy"),
    )
    n = F.col("_n").cast("double")
    sx, sy = F.col("_sx").cast("double"), F.col("_sy").cast("double")
    sxy = F.col("_sxy").cast("double")
    sxx, syy = F.col("_sxx").cast("double"), F.col("_syy").cast("double")
    vx = n * sxx - sx * sx
    vy = n * syy - sy * sy
    cov = n * sxy - sx * sy
    slope = F.when((F.col("_n") > 1) & (vx > 0), cov / vx)
    intercept = (sy - slope * sx) / n
    r2 = F.when(
        (F.col("_n") > 1) & (vx > 0) & (vy > 0),
        (cov / vx) * (cov / vx) * vx / vy,
    )
    return stats.select(
        *group_cols,
        F.col("_n").cast("long").alias("n"),
        F.round(slope, 6).alias("slope"),
        F.round(intercept, 6).alias("intercept"),
        F.round(r2, 6).alias("r2"),
    )


def seasonal_profile(
    df: DataFrame,
    ts_col: str,
    value_col: str,
    period: str = "dow",
) -> DataFrame:
    """Seasonal means profile of a metric: per calendar index (day-of-
    week / hour-of-day / month) the row count, exact mean, and the
    EFFECT — mean minus grand mean. The drift-interpretation table
    ("Mondays are always low; this Monday is LOW-for-a-Monday, not
    drift").

    One groupBy over at most 24 season indexes; the grand mean
    re-aggregates from the per-season decimal sums (no second scan).
    Means derive from DECIMAL sums over exact integer counts, so the
    output is order-independent and cross-engine hash-stable.

    Output: (season int, n long, mean 6dp, effect 6dp), ordered by
    season. ``dow`` follows Spark's ``dayofweek``: 1=Sunday…7=Saturday.
    """
    parts = {"dow": F.dayofweek, "hour": F.hour, "month": F.month}
    if period not in parts:
        raise ValueError(f"period must be one of {sorted(parts)}")
    x = F.col(value_col).cast("double")
    per = (
        df.where(F.col(ts_col).isNotNull() & x.isNotNull())
        .groupBy(parts[period](F.col(ts_col)).alias("season"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(x.cast("decimal(30,10)")).alias("_s"),
        )
    )
    tot = per.agg(
        F.sum("n").alias("_tn"), F.sum("_s").alias("_ts")
    )
    mean = F.col("_s").cast("double") / F.col("n")
    grand = F.col("_ts").cast("double") / F.col("_tn")
    return (
        per.crossJoin(F.broadcast(tot))
        .select(
            F.col("season").cast("int").alias("season"),
            F.col("n").cast("long").alias("n"),
            F.round(mean, 6).alias("mean"),
            F.round(mean - grand, 6).alias("effect"),
        )
        .orderBy("season")
    )


def weighted_quantile(
    df: DataFrame,
    value_col: str,
    weight_col: str,
    quantiles: Sequence[float] = (0.5,),
) -> DataFrame:
    """Exact WEIGHTED quantiles (lower/left-continuous definition: the
    smallest value whose cumulative weight reaches q·W) — the corpus
    question unweighted quantiles get wrong ("median document length"
    means median TOKEN-weighted, or half your compute budget lands in
    the tail).

    Same scale shape as :func:`global_quantiles`: per-distinct-value
    weight totals (one shuffle, map-side combined), the two-phase
    DECIMAL prefix scan for cumulative weights (ops/packing.py::
    global_prefix_sum_decimal — exact fractional weights, no
    partitionless window), then each target resolves with one tiny
    aggregate over the broadcast threshold frame. No interpolation by
    construction (the weighted analogue of ``type=1`` quantiles).

    Rows with null or non-positive weight are excluded. Output: one row
    per quantile — (p, value), ordered by p.
    """
    from metadata_etl_framework_spark.ops.packing import (
        global_prefix_sum_decimal,
    )

    x = F.col(value_col).cast("double")
    wcol = F.col(weight_col).cast("double")
    counts = (
        df.where(x.isNotNull() & wcol.isNotNull() & (wcol > 0))
        .groupBy(x.alias("v"))
        .agg(F.sum(wcol.cast("decimal(30,10)")).alias("w"))
    )
    scanned = global_prefix_sum_decimal(counts, "v", "w", out="cw")
    tot = counts.agg(
        F.sum(F.col("w")).cast("decimal(38,10)").alias("tw")
    )
    spark = df.sparkSession
    tdf = spark.createDataFrame(
        [(float(q),) for q in quantiles], "p double"
    )
    return (
        scanned.crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(tdf))
        .where(
            F.col("cw").cast("double")
            >= F.col("p") * F.col("tw").cast("double")
        )
        .groupBy("p")
        .agg(F.min("v").alias("value"))
        .orderBy("p")
    )


def lorenz_curve(
    df: DataFrame,
    value_col: str,
    points: Sequence[float] = (0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9),
) -> DataFrame:
    """Lorenz-curve points — the concentration table behind the Gini
    number: "the bottom p of rows holds what share of the total?"
    (token budgets: the bottom 90% of documents may hold 40% of the
    tokens; spend: the top decile of customers may hold half the
    revenue).

    Same machinery as :func:`gini_coefficient`: per-value counts, the
    dual prefix scan carrying BOTH cumulative row counts and (decimal)
    cumulative value mass, then each requested population fraction
    resolves against the broadcast target frame. For each p: the
    smallest value v whose cumulative row count reaches p·n, and the
    cumulative mass share at and below v — value-level granularity, so
    a TIE GROUP is indivisible (all rows at v count into the share;
    with heavy ties the curve steps at the tied value rather than
    splitting it pro-rata). Non-negative values required
    (shares are meaningless with mixed signs). Output: (p, value,
    cum_share 6dp), ordered by p.
    """
    from metadata_etl_framework_spark.quality.drift import _dual_prefix_scan

    x = F.col(value_col).cast("double")
    counts = (
        df.where(x.isNotNull())
        .groupBy(x.alias("v"))
        .agg(
            F.count(F.lit(1)).alias("c"),
            F.sum(x.cast("decimal(30,10)")).alias("m"),
        )
        .persist()
    )
    neg = counts.where(F.col("v") < 0).limit(1).count()
    if neg:
        raise ValueError(
            f"lorenz_curve requires non-negative {value_col!r} values"
        )
    # one scan carries cumulative ROWS; cumulative MASS re-derives from
    # the same ordered frame with a second prefix pass on the decimal
    # column (the dual scan's two slots are long-typed counts)
    persisted: "list[DataFrame]" = [counts]
    scanned = _dual_prefix_scan(counts, "v", "c", "c", persisted=persisted)
    from metadata_etl_framework_spark.ops.packing import (
        global_prefix_sum_decimal,
    )

    with_mass = global_prefix_sum_decimal(
        scanned, "v", "m", out="cm", persisted=persisted
    )
    tot = counts.agg(
        F.sum("c").alias("n"),
        F.sum(F.col("m")).cast("decimal(38,10)").alias("tm"),
    )
    spark = df.sparkSession
    tdf = spark.createDataFrame([(float(p),) for p in points], "p double")
    out = (
        with_mass.crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(tdf))
        .where(F.col("__ca") >= F.col("p") * F.col("n"))
        .groupBy("p")
        .agg(
            F.min("v").alias("value"),
            F.min(
                F.struct(
                    F.col("v"),
                    F.col("cm").cast("double").alias("cm"),
                )
            ).alias("_at"),
        )
        .crossJoin(F.broadcast(tot.select(F.col("tm"))))
        .select(
            "p",
            "value",
            F.round(
                F.col("_at.cm") / F.col("tm").cast("double"), 6
            ).alias("cum_share"),
        )
        .orderBy("p")
    )
    rows = out.collect()
    schema = out.schema
    for f in persisted:
        f.unpersist()
    return spark.createDataFrame(rows, schema)


def gini_by_group(
    df: DataFrame,
    group_cols: Sequence[str],
    value_col: str,
) -> DataFrame:
    """Exact Gini coefficient PER GROUP — concentration by segment
    ("which sources are one-document-dominated?"), the grouped form of
    :func:`gini_coefficient`.

    Within-group ranks come from one window partitioned BY GROUP
    (bounded by the group's size — the intended regime; the global
    function rides the distributed prefix scan instead), rank·value
    products accumulate as DECIMAL, and the closed form
    G = 2·Σ(rank·x)/(n·Σx) − (n+1)/n evaluates on the grouped frame.
    Ranks over ties are interchangeable for equal values, so the sum —
    and G — is tie-invariant and deterministic. Non-negative values
    required. Output: group cols + (gini 6dp, n_rows long).
    """
    groups = list(group_cols)
    x = F.col(value_col).cast("double")
    base = df.where(x.isNotNull()).select(*groups, x.alias("_v"))
    if base.where(F.col("_v") < 0).limit(1).count():
        raise ValueError(
            f"gini_by_group requires non-negative {value_col!r} values"
        )
    w = Window.partitionBy(*groups).orderBy("_v")
    ranked = base.withColumn("_r", F.row_number().over(w))
    return (
        ranked.groupBy(*groups)
        .agg(
            F.count(F.lit(1)).alias("_n"),
            F.sum(F.col("_v").cast("decimal(30,10)"))
            .cast("decimal(38,10)")
            .alias("_t"),
            F.sum((F.col("_v") * F.col("_r")).cast("decimal(38,10)")).alias(
                "_rs"
            ),
        )
        .select(
            *groups,
            F.round(
                F.when(
                    F.col("_t").cast("double") > 0,
                    2.0
                    * F.col("_rs").cast("double")
                    / (F.col("_n") * F.col("_t").cast("double"))
                    - (F.col("_n") + 1.0) / F.col("_n"),
                ).otherwise(F.lit(0.0)),
                6,
            ).alias("gini"),
            F.col("_n").cast("long").alias("n_rows"),
        )
    )


def histogram2d(
    df: DataFrame,
    x_col: str,
    y_col: str,
    nx: int = 20,
    ny: int = 20,
) -> DataFrame:
    """Two-dimensional fixed-width histogram — the heatmap / joint-
    distribution binning behind density plots and 2-D drift eyeballing
    (price × quantity, length × quality-score).

    Bounds come from ONE 1-row aggregate broadcast into the binning
    projection (the shared-stats pattern); counts from one groupBy over
    (x_bin, y_bin) — post-scan size ≤ nx·ny at any row count. Values at
    the upper bound land in the last bin; rows with a null on either
    axis are dropped; only occupied cells are emitted.

    Output: (x_bin, y_bin, x_lo, x_hi, y_lo, y_hi, cnt), bin-ordered.
    """
    if nx <= 0 or ny <= 0:
        raise ValueError("nx and ny must be positive")
    x = F.col(x_col).cast("double")
    y = F.col(y_col).cast("double")
    data = df.where(x.isNotNull() & y.isNotNull()).select(
        x.alias("__x"), y.alias("__y")
    )
    bounds = data.agg(
        F.min("__x").alias("__xlo"), F.max("__x").alias("__xhi"),
        F.min("__y").alias("__ylo"), F.max("__y").alias("__yhi"),
    )
    wx = (F.col("__xhi") - F.col("__xlo")) / nx
    wy = (F.col("__yhi") - F.col("__ylo")) / ny
    xb = F.when(wx > 0, F.least(
        F.lit(nx - 1), F.floor((F.col("__x") - F.col("__xlo")) / wx)
    )).otherwise(F.lit(0)).cast("int")
    yb = F.when(wy > 0, F.least(
        F.lit(ny - 1), F.floor((F.col("__y") - F.col("__ylo")) / wy)
    )).otherwise(F.lit(0)).cast("int")
    return (
        data.crossJoin(F.broadcast(bounds))
        .groupBy(xb.alias("x_bin"), yb.alias("y_bin"))
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.first("__xlo").alias("__fxlo"),
            F.first("__xhi").alias("__fxhi"),
            F.first("__ylo").alias("__fylo"),
            F.first("__yhi").alias("__fyhi"),
        )
        .select(
            "x_bin", "y_bin",
            F.round(F.col("__fxlo") + F.col("x_bin")
                    * (F.col("__fxhi") - F.col("__fxlo")) / nx, 6).alias("x_lo"),
            F.round(F.col("__fxlo") + (F.col("x_bin") + 1)
                    * (F.col("__fxhi") - F.col("__fxlo")) / nx, 6).alias("x_hi"),
            F.round(F.col("__fylo") + F.col("y_bin")
                    * (F.col("__fyhi") - F.col("__fylo")) / ny, 6).alias("y_lo"),
            F.round(F.col("__fylo") + (F.col("y_bin") + 1)
                    * (F.col("__fyhi") - F.col("__fylo")) / ny, 6).alias("y_hi"),
            "cnt",
        )
        .orderBy("x_bin", "y_bin")
    )


def acf_table(
    df: DataFrame,
    ts_col: str,
    value_col: str,
    bucket_seconds: int = 3600,
    max_lag: int = 12,
) -> DataFrame:
    """Autocorrelation function of a metric series at lags 1..max_lag —
    the seasonality/persistence readout that tells a monitoring
    pipeline whether a drift alert is "the usual daily cycle" or a
    genuine shift (complements seasonal_profile's calendar means with
    lag-domain structure).

    The series is the per-bucket mean (DECIMAL-sum exact) indexed by
    integer epoch//bucket_seconds, so the row-scale work is ONE
    groupBy; everything after runs on the bounded bucket grid: a
    single self-join producing all lags at once (1 <= Δidx <= max_lag)
    and the classic estimator r_k = Σ(y_t−ȳ)(y_{t+k}−ȳ) / Σ(y_t−ȳ)²
    with the GLOBAL series mean/variance (the statsmodels convention,
    not per-lag Pearson). Gaps in the series simply contribute no
    pair at the lags they break (documented irregular-series
    behavior).

    Output: (lag, n_pairs, acf 6dp), one row per lag with >= 1 pair;
    acf NULL when the series is constant (zero variance).
    """
    if max_lag < 1:
        raise ValueError("max_lag must be >= 1")
    if bucket_seconds < 1:
        raise ValueError("bucket_seconds must be >= 1")
    x = F.col(value_col).cast("double")
    series = (
        df.where(F.col(ts_col).isNotNull() & x.isNotNull())
        .groupBy(
            F.floor(
                F.unix_timestamp(F.col(ts_col)) / bucket_seconds
            ).alias("i")
        )
        .agg(
            (
                F.sum(x.cast("decimal(30,10)")).cast("double")
                / F.count(F.lit(1))
            ).alias("y")
        )
    )
    stats = series.agg(
        F.avg("y").alias("__mu"),
        F.count(F.lit(1)).alias("__n"),
    )
    centered = series.crossJoin(F.broadcast(stats)).select(
        "i", (F.col("y") - F.col("__mu")).alias("c"), "__mu"
    )
    den = centered.agg(F.sum(F.col("c") * F.col("c")).alias("__den"))
    s1, s2 = centered.alias("s1"), centered.alias("s2")
    pairs = s1.join(
        s2,
        (F.col("s2.i") > F.col("s1.i"))
        & (F.col("s2.i") <= F.col("s1.i") + max_lag),
    ).select(
        (F.col("s2.i") - F.col("s1.i")).cast("int").alias("lag"),
        (F.col("s1.c") * F.col("s2.c")).alias("prod"),
    )
    return (
        pairs.groupBy("lag")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.sum("prod").alias("__num"),
        )
        .crossJoin(F.broadcast(den))
        .select(
            "lag",
            "n_pairs",
            F.round(
                F.when(
                    F.col("__den") > 0, F.col("__num") / F.col("__den")
                ),
                6,
            ).alias("acf"),
        )
    )


def cramers_v_matrix(
    df: DataFrame, cols: "Sequence[str]"
) -> DataFrame:
    """Pairwise Cramér's V association matrix over categorical columns
    — the bounded [0, 1] effect-size companion to
    :func:`mutual_information` (χ² itself grows with n, so only V is
    comparable across pairs and datasets).

    Uses the observed-cells closed form χ² = n·(Σ_cells o²/(r_a·c_b) −
    1), which never needs the zero cells of the contingency grid, then
    V = sqrt((χ²/n) / min(R−1, C−1)). ONE scan stacks every pair's
    (value_a, value_b) tuples via a generated-column explode (fan-out
    = n_pairs, bounded by the column list, not data), one
    groupBy((pair, a, b)) builds all joint tables at once, and the
    rest runs on the bounded cell grids. Per-cell terms round to 12 dp
    and accumulate as DECIMAL, so the statistic is
    merge-order-independent and cross-engine hash-stable. Rows where
    either side is NULL are excluded per pair.

    Output: (col_a, col_b, n_rows, n_cells, chi2 6dp, v 6dp) — one row
    per unordered column pair; v NULL when either column is constant.
    """
    cols = list(cols)
    if len(cols) < 2:
        raise ValueError("need at least two columns")
    pair_structs = [
        F.struct(
            F.lit(cols[i]).alias("pa"),
            F.lit(cols[j]).alias("pb"),
            F.col(cols[i]).cast("string").alias("a"),
            F.col(cols[j]).cast("string").alias("b"),
        )
        for i in range(len(cols))
        for j in range(i + 1, len(cols))
    ]
    stacked = (
        df.select(F.explode(F.array(*pair_structs)).alias("p"))
        .select("p.*")
        .where(F.col("a").isNotNull() & F.col("b").isNotNull())
    )
    joint = (
        stacked.groupBy("pa", "pb", "a", "b")
        .agg(F.count(F.lit(1)).alias("c"))
        .persist()
    )
    ma = joint.groupBy("pa", "pb", "a").agg(F.sum("c").alias("ca"))
    mb = joint.groupBy("pa", "pb", "b").agg(F.sum("c").alias("cb"))
    tot = joint.groupBy("pa", "pb").agg(
        F.sum("c").alias("n"),
        F.count(F.lit(1)).alias("k"),
        F.countDistinct("a").alias("ra"),
        F.countDistinct("b").alias("cb_lvls"),
    )
    term = (F.col("c") * F.col("c")).cast("double") / (
        F.col("ca") * F.col("cb")
    ).cast("double")
    sums = (
        joint.join(ma, ["pa", "pb", "a"])
        .join(mb, ["pa", "pb", "b"])
        .select(
            "pa",
            "pb",
            F.round(term, 12).cast("decimal(28,12)").alias("t"),
        )
        .groupBy("pa", "pb")
        .agg(F.sum("t").cast("double").alias("s"))
    )
    dof = F.least(F.col("ra") - 1, F.col("cb_lvls") - 1)
    chi2 = F.col("n") * (F.col("s") - 1.0)
    out = (
        sums.join(F.broadcast(tot), ["pa", "pb"])
        .select(
            F.col("pa").alias("col_a"),
            F.col("pb").alias("col_b"),
            F.col("n").cast("long").alias("n_rows"),
            F.col("k").cast("long").alias("n_cells"),
            F.round(chi2, 6).alias("chi2"),
            F.round(
                F.when(
                    (dof > 0) & (F.col("n") > 0),
                    F.sqrt(
                        F.greatest(F.col("s") - 1.0, F.lit(0.0)) / dof
                    ),
                ),
                6,
            ).alias("v"),
        )
    )
    rows = out.collect()
    schema = out.schema
    joint.unpersist()
    return df.sparkSession.createDataFrame(rows, schema)


def forecast_baseline_eval(
    df: DataFrame,
    ts_col: str,
    value_col: str,
    bucket_seconds: int = 3600,
    season: int = 24,
) -> DataFrame:
    """Backtest of the SEASONAL-NAIVE forecast ŷ_t = y_{t−season} on a
    bucketed metric series — the sanity baseline every forecasting
    pipeline must beat, and the scale for judging one (MASE): MAE /
    RMSE / sMAPE of the seasonal forecast, plus MASE = seasonal MAE ÷
    persistence MAE (mean |y_t − y_{t−1}|), so MASE < 1 reads
    "seasonality beats persistence".

    The series is the per-bucket DECIMAL-exact mean indexed by
    epoch//bucket_seconds (one row-scale groupBy, the acf_table
    shape); forecasts pair buckets via one bounded-grid self-join at
    Δ=season and Δ=1 together. Gaps contribute no pair at the lags
    they break. Error terms round to 12 dp and accumulate as DECIMAL —
    merge-order-independent on grids of any size. sMAPE terms with a
    zero denominator (both sides zero) count as 0, the standard
    convention.

    Output: 1 row — (season, n_forecasts, mae 6dp, rmse 6dp,
    smape 6dp, mase 6dp); NULLs where no pairs exist (series shorter
    than the season) or the persistence MAE is zero.
    """
    if season < 1 or bucket_seconds < 1:
        raise ValueError("season and bucket_seconds must be >= 1")
    x = F.col(value_col).cast("double")
    series = (
        df.where(F.col(ts_col).isNotNull() & x.isNotNull())
        .groupBy(
            F.floor(
                F.unix_timestamp(F.col(ts_col)) / bucket_seconds
            ).alias("i")
        )
        .agg(
            (
                F.sum(x.cast("decimal(30,10)")).cast("double")
                / F.count(F.lit(1))
            ).alias("y")
        )
        .persist()
    )
    s1, s2 = series.alias("s1"), series.alias("s2")
    pairs = s1.join(
        s2,
        (F.col("s2.i") - F.col("s1.i")).isin([1, season])
        if season != 1
        else (F.col("s2.i") - F.col("s1.i")) == 1,
    ).select(
        (F.col("s2.i") - F.col("s1.i")).alias("lag"),
        F.col("s2.y").alias("y"),
        F.col("s1.y").alias("f"),
    )
    ae = F.abs(F.col("y") - F.col("f"))
    smape_t = F.when(
        (F.abs(F.col("y")) + F.abs(F.col("f"))) > 0,
        2.0 * ae / (F.abs(F.col("y")) + F.abs(F.col("f"))),
    ).otherwise(F.lit(0.0))
    dec = lambda c: F.round(c, 12).cast("decimal(28,12)")  # noqa: E731
    per_lag = pairs.groupBy("lag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(dec(ae)).cast("double").alias("sae"),
        F.sum(dec(ae * ae)).cast("double").alias("sse"),
        F.sum(dec(smape_t)).cast("double").alias("ssm"),
    )
    seas = F.when(F.col("lag") == season, F.col("n"))
    out = per_lag.agg(
        F.lit(season).alias("season"),
        F.coalesce(F.sum(seas), F.lit(0)).cast("long").alias(
            "n_forecasts"
        ),
        F.sum(F.when(F.col("lag") == season, F.col("sae"))).alias(
            "__sae"
        ),
        F.sum(F.when(F.col("lag") == season, F.col("sse"))).alias(
            "__sse"
        ),
        F.sum(F.when(F.col("lag") == season, F.col("ssm"))).alias(
            "__ssm"
        ),
        F.sum(F.when(F.col("lag") == 1, F.col("sae"))).alias("__nae"),
        F.sum(F.when(F.col("lag") == 1, F.col("n"))).alias("__nn"),
    )
    nf = F.col("n_forecasts")
    mae = F.when(nf > 0, F.col("__sae") / nf)
    rmse = F.when(nf > 0, F.sqrt(F.col("__sse") / nf))
    smape = F.when(nf > 0, F.col("__ssm") / nf)
    naive_mae = F.when(
        F.col("__nn") > 0, F.col("__nae") / F.col("__nn")
    )
    mase = F.when(
        (nf > 0) & naive_mae.isNotNull() & (naive_mae > 0), mae / naive_mae
    )
    result = out.select(
        "season",
        "n_forecasts",
        F.round(mae, 6).alias("mae"),
        F.round(rmse, 6).alias("rmse"),
        F.round(smape, 6).alias("smape"),
        F.round(mase, 6).alias("mase"),
    )
    rows = result.collect()
    schema = result.schema
    series.unpersist()
    return df.sparkSession.createDataFrame(rows, schema)


def grouping_sets_aggregate(
    df: DataFrame,
    group_cols: "Sequence[str]",
    aggregations: "dict[str, str | list[str]]",
    mode: str = "rollup",
) -> DataFrame:
    """ROLLUP / CUBE aggregation — the one-statement OLAP report table
    (per-group rows plus every subtotal level and the grand total)
    that otherwise takes 2^k unioned groupBys. Output columns follow
    :func:`groupby_aggregate`'s ``{col}_{fn}`` convention, plus a
    ``grouping_id`` BIGINT (Spark's GROUPING_ID bitmask: bit set =
    that grouping column is rolled up in this row) so consumers can
    tell a real NULL group from a subtotal row — the standard SQL
    disambiguator, identical in DuckDB.

    Catalyst expands rollup/cube into a single Expand + aggregate —
    one shuffle regardless of how many levels, which is exactly why
    this beats hand-unioned subtotal queries at scale.
    """
    group_cols = list(group_cols)
    if not group_cols:
        raise ValueError("group_cols must be non-empty")
    exprs: "list[Column]" = [
        F.grouping_id(*group_cols).alias("grouping_id")
    ]
    for col, fns in aggregations.items():
        for fn in [fns] if isinstance(fns, str) else fns:
            exprs.append(agg_expr(col, fn))
    if len(exprs) == 1:
        raise ValueError("no aggregations given")
    if mode == "rollup":
        grouped = df.rollup(*group_cols)
    elif mode == "cube":
        grouped = df.cube(*group_cols)
    else:
        raise ValueError("mode must be 'rollup' or 'cube'")
    return grouped.agg(*exprs)


def dominant_periods(
    df: DataFrame,
    ts_col: str,
    value_col: str,
    bucket_seconds: int = 3600,
    min_period: int = 2,
    max_period: int = 48,
) -> DataFrame:
    """Discrete periodogram over a bucketed metric series: spectral
    power at every candidate period ``min_period..max_period`` buckets
    — the detector that picks the ``season=`` parameter the
    forecast-backtest and seasonal-anomaly ops consume (acf_table
    shows lag structure; this ranks WHICH cycle dominates).

    Series = per-bucket DECIMAL-exact means (the acf_table shape),
    centered on the global mean; per period p,
    power(p) = (Σ c·cos(2πi/p))² + (Σ c·sin(2πi/p))², normalized by
    Σc² so a pure sinusoid of period p scores ~n/2·(fraction of
    variance). One bounded fan-out joins the calendar-bounded bucket
    grid with the (max_period−min_period+1)-row period grid; the
    trig-product terms round to 12dp and accumulate as DECIMAL, so
    the spectrum is merge-order-independent and SQL-replayable.

    Output: (period, n_buckets, power 6dp, fraction 6dp) per
    candidate period, fraction = power/(n·Σc²/2) clipped to NULL on a
    constant series.
    """
    if not (2 <= min_period <= max_period):
        raise ValueError("need 2 <= min_period <= max_period")
    x = F.col(value_col).cast("double")
    series = (
        df.where(F.col(ts_col).isNotNull() & x.isNotNull())
        .groupBy(
            F.floor(
                F.unix_timestamp(F.col(ts_col)) / bucket_seconds
            ).alias("i")
        )
        .agg(
            (
                F.sum(x.cast("decimal(30,10)")).cast("double")
                / F.count(F.lit(1))
            ).alias("y")
        )
    )
    stats = series.agg(
        (
            F.sum(F.col("y").cast("decimal(30,10)")).cast("double")
            / F.count(F.lit(1))
        ).alias("mu"),
        F.count(F.lit(1)).alias("nb"),
    )
    centered = series.crossJoin(F.broadcast(stats)).select(
        "i", (F.col("y") - F.col("mu")).alias("c"), "nb"
    )
    den = centered.agg(
        F.sum(F.round(F.col("c") * F.col("c"), 12).cast("decimal(38,12)"))
        .cast("double")
        .alias("ss"),
        F.first("nb").alias("nb"),
    )
    periods = df.sparkSession.range(min_period, max_period + 1).select(
        F.col("id").cast("int").alias("period")
    )
    two_pi = 6.283185307179586
    ang = (
        F.lit(two_pi)
        * (F.col("i") % F.col("period")).cast("double")
        / F.col("period").cast("double")
    )
    terms = centered.crossJoin(F.broadcast(periods)).select(
        "period",
        F.round(F.col("c") * F.cos(ang), 12)
        .cast("decimal(38,12)")
        .alias("tc"),
        F.round(F.col("c") * F.sin(ang), 12)
        .cast("decimal(38,12)")
        .alias("ts"),
    )
    spec = terms.groupBy("period").agg(
        F.sum("tc").cast("double").alias("sc"),
        F.sum("ts").cast("double").alias("ss2"),
    )
    power = (
        F.col("sc") * F.col("sc") + F.col("ss2") * F.col("ss2")
    )
    return spec.crossJoin(F.broadcast(den)).select(
        "period",
        F.col("nb").cast("long").alias("n_buckets"),
        F.round(power, 6).alias("power"),
        F.round(
            F.when(
                F.col("ss") > 0,
                power / (F.col("nb").cast("double") * F.col("ss") / 2.0),
            ),
            6,
        ).alias("fraction"),
    )


def classical_decompose(
    df: DataFrame,
    x_col: str,
    y_col: str,
    period: int,
) -> DataFrame:
    """Classical additive seasonal decomposition of a PRE-AGGREGATED
    series: y = trend + seasonal + remainder — the textbook
    moving-average method (the non-iterative ancestor of STL, which
    lives behind the statsmodels bridge): trend is the centered MA of
    length ``period`` (even periods use the standard half-weight
    2×m form), the seasonal component is the per-phase mean of the
    detrended series re-centered to sum to zero, and the remainder is
    what's left.

    The input must be one point per integer ``x_col`` step (daily
    index, hour index) — a calendar-bounded frame by construction, so
    the ordered windows here follow the nelson_aalen small-frame
    convention, NOT a data-scale sort. Window sums run over DECIMAL
    casts of y, the trend rounds to 6 dp before detrending, and
    per-phase means accumulate 10-dp DECIMAL terms — every downstream
    number replays exactly in any engine.

    Output: (x long, y, phase int, trend 6 dp, seasonal 6 dp,
    remainder 6 dp; trend/remainder null at the uncovered edges),
    ordered by x.
    """
    if period < 2:
        raise ValueError(f"period must be >= 2, got {period}")
    from pyspark.sql import Window

    base = df.where(
        F.col(x_col).isNotNull() & F.col(y_col).isNotNull()
    ).select(
        F.col(x_col).cast("long").alias("x"),
        F.col(y_col).cast("double").alias("y"),
    )
    ydec = F.col("y").cast("decimal(30,10)")
    m = int(period)
    if m % 2 == 1:
        h = (m - 1) // 2
        w = Window.orderBy("x").rowsBetween(-h, h)
        full = F.count(F.lit(1)).over(w) == m
        trend_raw = F.when(
            full, F.sum(ydec).over(w).cast("double") / F.lit(float(m))
        )
    else:
        h = m // 2
        w1 = Window.orderBy("x").rowsBetween(-h, h - 1)
        w2 = Window.orderBy("x").rowsBetween(-(h - 1), h)
        full = (F.count(F.lit(1)).over(w1) == m) & (
            F.count(F.lit(1)).over(w2) == m
        )
        trend_raw = F.when(
            full,
            (
                F.sum(ydec).over(w1).cast("double") / F.lit(float(m))
                + F.sum(ydec).over(w2).cast("double") / F.lit(float(m))
            )
            / F.lit(2.0),
        )
    with_trend = base.withColumn(
        "trend", F.round(trend_raw, 6)
    ).withColumn("phase", F.pmod(F.col("x"), F.lit(m)).cast("int"))
    det = F.col("y") - F.col("trend")
    phase_means = (
        with_trend.where(F.col("trend").isNotNull())
        .groupBy("phase")
        .agg(
            (
                F.sum(F.round(det, 10).cast("decimal(28,10)")).cast(
                    "double"
                )
                / F.count(F.lit(1))
            ).alias("_pm")
        )
    )
    grand = phase_means.agg(
        (
            F.sum(F.round(F.col("_pm"), 10).cast("decimal(28,10)")).cast(
                "double"
            )
            / F.count(F.lit(1))
        ).alias("_gm")
    )
    seasonal = (
        phase_means.crossJoin(F.broadcast(grand))
        .select(
            "phase",
            F.round(F.col("_pm") - F.col("_gm"), 6).alias("seasonal"),
        )
    )
    return (
        with_trend.join(F.broadcast(seasonal), "phase", "left")
        .select(
            "x",
            "y",
            "phase",
            "trend",
            "seasonal",
            F.round(
                F.when(
                    F.col("trend").isNotNull()
                    & F.col("seasonal").isNotNull(),
                    F.col("y") - F.col("trend") - F.col("seasonal"),
                ),
                6,
            ).alias("remainder"),
        )
        .orderBy("x")
    )


def _robust_moments_driver(spark, xs, trim):
    """Driver twin of the :func:`robust_moments` chain over an
    Arrow-transferred value array — identical 6-dp value rounding,
    per-value counts, prefix-scan order statistics (first value whose
    cumulative count reaches the rank), micro-int exact sums for the
    mean/trimmed/winsorized numerators (including the clamp-overlap
    trimmed-sum identity and the Python-round winsorized boundary
    terms, which were driver-side already), and the MAD second scan.
    Returns None when a precondition fails (non-finite values or
    micro-int products that could overflow an int64 element)."""
    import numpy as np

    from metadata_etl_framework_spark.ops.driver_exact import (
        exact_sum_i64,
        round_half_up_int64,
        spark_round_f64,
    )

    if xs.size and not np.isfinite(xs).all():
        return None
    v6 = spark_round_f64(xs, 6)
    vals, cnts = np.unique(v6, return_counts=True)
    c = cnts.astype(np.int64)
    cum = np.cumsum(c)
    n = int(cum[-1])
    if float(np.max(np.abs(vals))) * 1e6 >= 4.0e18:
        return None
    vi6 = round_half_up_int64(vals * 1e6)
    mx = int(np.max(np.abs(vi6))) if len(vi6) else 0
    if mx * int(c.max()) >= (1 << 62):
        return None
    svi = exact_sum_i64(vi6 * c)
    k = int(trim * n)
    mean = float(svi) / n / 1e6

    def _order_stat(rank: int) -> float:
        return float(vals[np.searchsorted(cum, rank, side="left")])

    mid_lo = _order_stat((n + 1) // 2)
    mid_hi = _order_stat(n // 2 + 1)
    median = (mid_lo + mid_hi) / 2.0
    trimmed = winsor = None
    if n - 2 * k > 0:
        lo_r, hi_r = k + 1, n - k
        contained = np.maximum(
            0,
            np.minimum(cum, hi_r) - np.maximum(cum - c, lo_r - 1),
        ).astype(np.int64)
        mid_sum_i = exact_sum_i64(vi6 * contained)
        trimmed = mid_sum_i / (n - 2 * k) / 1e6
        x_lo = _order_stat(lo_r)
        x_hi = _order_stat(hi_r)
        winsor = (
            mid_sum_i
            + k * round(x_lo * 1e6)
            + k * round(x_hi * 1e6)
        ) / n / 1e6
    # MAD: weighted median of |v − median| over the same counts
    dv = spark_round_f64(np.abs(vals - median), 6)
    dvals, dinv = np.unique(dv, return_inverse=True)
    dc = np.zeros(len(dvals), dtype=np.int64)
    np.add.at(dc, dinv, c)
    dcum = np.cumsum(dc)

    def _dev_stat(rank: int) -> float:
        return float(dvals[np.searchsorted(dcum, rank, side="left")])

    mad = (_dev_stat((n + 1) // 2) + _dev_stat(n // 2 + 1)) / 2.0
    return spark.createDataFrame(
        [(
            n, k, round(mean, 6),
            round(trimmed, 6) if trimmed is not None else None,
            round(winsor, 6) if winsor is not None else None,
            round(median, 6), round(mad, 6),
        )],
        "n long, k long, mean double, trimmed_mean double, "
        "winsorized_mean double, median double, mad double",
    )


def robust_moments(
    df: DataFrame,
    value_col: str,
    trim: float = 0.1,
) -> DataFrame:
    """Robust location summary of one numeric column in one row: mean,
    ``trim``-trimmed mean, winsorized mean, exact median, and MAD —
    the outlier-resistant profile a data-quality review reads next to
    profile_columns' raw moments (one fat-fingered 1e9 row moves the
    mean arbitrarily; it moves none of the robust four).

    Scale shape (the KS/global-quantiles discipline): ONE groupBy(v)
    builds per-value counts — everything downstream touches DISTINCT
    values, never rows. The dual prefix scan resolves exact global
    ranks; with k = floor(trim·n) dropped per tail, a value's count
    inside [k+1, n−k] is the clamp overlap of its rank interval, so
    the trimmed sum needs no row filter. Winsorizing replaces each
    tail with its boundary order statistic (x_(k+1) / x_(n−k)). MAD
    runs a SECOND prefix scan over |v − median| on the same per-value
    frame (still distinct-values-sized). Values round to 6 dp and sums
    accumulate in DECIMAL micro-units — merge-order free, exact in any
    engine.

    Output: 1 row — (n long, k long, mean, trimmed_mean,
    winsorized_mean, median, mad — 6 dp); trimmed/winsorized null when
    n − 2k ≤ 0.
    """
    if not 0 <= trim < 0.5:
        raise ValueError("trim must be in [0, 0.5)")
    from metadata_etl_framework_spark.quality.drift import (
        _dual_prefix_scan,
    )

    base = df.where(F.col(value_col).isNotNull()).select(
        F.col(value_col).cast("double").alias("_x")
    )
    from metadata_etl_framework_spark.ops.driver_exact import (
        column_np,
        driver_table,
    )
    from metadata_etl_framework_spark.ops.glm import (
        GLM_DRIVER_MAX_ROWS,
    )

    # exact: np.unique groups and orders the 6-dp values like the
    # distributed groupBy + value-ordered scan (order-free, so the
    # limit probe may transfer); non-finite values or out-of-bound
    # micro-int magnitudes fall back to the distributed chain
    tbl = driver_table(base, GLM_DRIVER_MAX_ROWS)
    if tbl is not None and tbl.num_rows > 0:
        import numpy as np

        out = _robust_moments_driver(
            df.sparkSession, column_np(tbl, "_x", np.float64), float(trim)
        )
        if out is not None:
            return out

    v6 = F.round(F.col(value_col).cast("double"), 6)
    counts = (
        df.where(F.col(value_col).isNotNull())
        .groupBy(v6.alias("v"))
        .agg(F.count(F.lit(1)).alias("c"))
    )
    counts = counts.persist()
    _scan_cached: "list" = []
    try:
        scanned = _dual_prefix_scan(
            counts, "v", "c", "c", persisted=_scan_cached
        ).select(
            "v", "c", F.col("__ca").alias("cum")
        )
        scanned = scanned.persist()
        tot = scanned.agg(
            F.max("cum").alias("n"),
            F.sum(
                (F.round(F.col("v") * F.lit(1e6)).cast("decimal(28,0)"))
                * F.col("c")
            ).alias("svi"),
        ).collect()[0]
        n = int(tot["n"] or 0)
        if n == 0:
            # 1 row of nulls, not a 0-row frame: .first() callers read
            # a row either way, and the DuckDB oracle's aggregate CTEs
            # emit exactly this shape on an empty/all-null column
            return df.sparkSession.createDataFrame(
                [(0, 0, None, None, None, None, None)],
                "n long, k long, mean double, trimmed_mean double, "
                "winsorized_mean double, median double, mad double",
            )
        k = int(float(trim) * n)
        mean = float(int(tot["svi"])) / n / 1e6

        def _order_stat(rank: int) -> float:
            return (
                scanned.where(F.col("cum") >= rank)
                .orderBy("v")
                .select("v")
                .first()["v"]
            )

        mid_lo = _order_stat((n + 1) // 2)
        mid_hi = _order_stat(n // 2 + 1)
        median = (mid_lo + mid_hi) / 2.0
        trimmed = winsor = None
        if n - 2 * k > 0:
            lo_r, hi_r = k + 1, n - k
            contained = F.greatest(
                F.lit(0),
                F.least(F.col("cum"), F.lit(hi_r))
                - F.greatest(F.col("cum") - F.col("c"), F.lit(lo_r - 1)),
            )
            mid = scanned.agg(
                F.sum(
                    F.round(F.col("v") * F.lit(1e6)).cast(
                        "decimal(28,0)"
                    )
                    * contained.cast("long")
                ).alias("s")
            ).collect()[0]
            mid_sum_i = int(mid["s"] or 0)
            trimmed = mid_sum_i / (n - 2 * k) / 1e6
            x_lo = _order_stat(lo_r)
            x_hi = _order_stat(hi_r)
            winsor = (
                mid_sum_i
                + k * round(x_lo * 1e6)
                + k * round(x_hi * 1e6)
            ) / n / 1e6
        # MAD: weighted median of |v − median| over the SAME per-value
        # counts (distinct-values-sized second scan)
        dev = counts.select(
            F.round(F.abs(F.col("v") - F.lit(median)), 6).alias("v"),
            "c",
        ).groupBy("v").agg(F.sum("c").alias("c"))
        dscan = _dual_prefix_scan(
            dev, "v", "c", "c", persisted=_scan_cached
        ).select(
            "v", F.col("__ca").alias("cum")
        )

        def _dev_stat(rank: int) -> float:
            return (
                dscan.where(F.col("cum") >= rank)
                .orderBy("v")
                .select("v")
                .first()["v"]
            )

        mad = (_dev_stat((n + 1) // 2) + _dev_stat(n // 2 + 1)) / 2.0
        spark = df.sparkSession
        return spark.createDataFrame(
            [(
                n, k, round(mean, 6),
                round(trimmed, 6) if trimmed is not None else None,
                round(winsor, 6) if winsor is not None else None,
                round(median, 6), round(mad, 6),
            )],
            "n long, k long, mean double, trimmed_mean double, "
            "winsorized_mean double, median double, mad double",
        )
    finally:
        counts.unpersist()
        for f in _scan_cached:
            f.unpersist()
        try:
            scanned.unpersist()
        except Exception:
            pass
