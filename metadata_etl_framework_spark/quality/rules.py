"""Data-quality rule engine: rule dict → Column predicate → one-pass eval.

Parity targets (reference): the check_* family in
src/quality/dq_rule_examples.py:144-1166 and the simpler RuleEngine in
src/quality/dq_engine.py:70-140. Each reference check ran its own full
pass over a materialized frame; here every rule compiles to a *failure
mask* Column and ALL masks for a dataset are evaluated in ONE aggregation
pass (SURVEY §2.10 design note) — at 100 TB that is the difference
between 1 scan and N scans. :func:`rule_aggregates` builds that pass's
aggregate list once: standalone, :func:`evaluate_rules` runs it as one
``df.agg``; in a pipeline run the orchestrator attaches the same list to
the load's write as one ``DataFrame.observe``, so validation reads its
counts from the write job and launches none of its own. Failure samples
come from one additional filtered, limited scan per rule only when
requested.

Rule dict shape (metadata-plane compatible):
    {"name": ..., "type": <rule type>, "column": ..., ...params}

Supported types: not_null, value_range, regex_pattern, allowed_values,
date_format, email_format, phone_format, cross_field, sum_equals,
date_sequence, calculated_field, freshness, future_dates, data_type,
required_fields, expression (raw SQL boolean — failure when NOT satisfied).
Dataset-level types: completeness_score and correlation are answered by
the shared aggregation pass too; primary_key_unique, duplicate_rows,
unique_count (a DISTINCT aggregate, which ``observe`` rejects),
referential_integrity and statistical_distribution each run one pass of
their own and take the row total from the shared one.
"""

from __future__ import annotations

from dataclasses import dataclass
from functools import reduce
from typing import Any, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

EMAIL_REGEX = r"^[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}$"
PHONE_US_REGEX = r"^(\+1[-.\s]?)?(\()?\d{3}(\))?[-.\s]?\d{3}[-.\s]?\d{4}$"

_OPS = {"==": "=", "=": "=", "!=": "!=", ">": ">", "<": "<", ">=": ">=", "<=": "<="}


def _fail_regex(column: str, pattern: str) -> Column:
    return F.col(column).isNotNull() & ~F.col(column).rlike(pattern)


def compile_rule(rule: dict[str, Any]) -> Column:
    """Compile a row-level rule to its failure-mask Column (True = failed)."""
    rtype = rule["type"]
    c = rule.get("column")
    col = F.col(c) if c else None
    if rtype == "not_null":
        return col.isNull()
    if rtype == "value_range":
        lo, hi = rule.get("min"), rule.get("max")
        fail = F.lit(False)
        if lo is not None:
            fail = fail | (col < F.lit(lo))
        if hi is not None:
            fail = fail | (col > F.lit(hi))
        return col.isNotNull() & fail
    if rtype == "regex_pattern":
        return _fail_regex(c, rule["pattern"])
    if rtype == "email_format":
        return _fail_regex(c, EMAIL_REGEX)
    if rtype == "phone_format":
        return _fail_regex(c, rule.get("pattern", PHONE_US_REGEX))
    if rtype == "allowed_values":
        return col.isNotNull() & ~col.isin(list(rule["allowed_values"]))
    if rtype == "date_format":
        fmt = rule.get("format")
        parsed = F.try_to_timestamp(col, F.lit(fmt)) if fmt else F.try_to_timestamp(col)
        return col.isNotNull() & parsed.isNull()
    if rtype == "data_type":
        # try_cast: a plain cast RAISES on malformed input under ANSI
        # (Spark 4 default) — the rule's job is to count those rows
        target = rule.get("expected_type", "double")
        return col.isNotNull() & col.try_cast(target).isNull()
    if rtype == "cross_field":
        op = _OPS[rule.get("operator", ">")]
        f1, f2 = rule["field1"], rule["field2"]
        ok = F.expr(f"{f1} {op} {f2}")
        return F.col(f1).isNotNull() & F.col(f2).isNotNull() & ~ok
    if rtype == "sum_equals":
        cols = rule["columns"]
        tol = float(rule.get("tolerance", 0.01))
        total = reduce(lambda a, b: a + b, [F.col(x) for x in cols])
        return F.abs(total - F.lit(float(rule["expected"]))) > tol
    if rtype == "date_sequence":
        s, e = rule["start_column"], rule["end_column"]
        return F.col(s).isNotNull() & F.col(e).isNotNull() & (F.col(s) > F.col(e))
    if rtype == "calculated_field":
        tol = float(rule.get("tolerance", 0.01))
        return (
            F.abs(F.col(rule["field"]) - F.expr(rule["expression"])) > tol
        )
    if rtype == "freshness":
        max_h = int(rule["max_age_hours"])
        now = F.lit(rule["as_of"]).cast("timestamp") if rule.get("as_of") else F.current_timestamp()
        return col.isNotNull() & (col < now - F.expr(f"INTERVAL {max_h} HOURS"))
    if rtype == "future_dates":
        now = F.lit(rule["as_of"]).cast("timestamp") if rule.get("as_of") else F.current_timestamp()
        return col.isNotNull() & (col > now)
    if rtype == "expression":
        return ~F.expr(rule["expression"])
    if rtype == "required_fields":
        # Row fails when ANY required column is null (the reference's
        # sample-failure mask, dq_rule_examples.py:199-273; its
        # failed_records counts null CELLS — cell counts come out of
        # completeness_score, row counts out of this mask).
        cols = [F.col(x).isNull() for x in rule["columns"]]
        return reduce(lambda a, b: a | b, cols)
    raise ValueError(f"unknown rule type {rtype!r}")


@dataclass
class RuleResult:
    rule_name: str
    rule_type: str
    total_rows: int
    failed_rows: int
    passed: bool
    score: float
    samples: list[dict] | None = None


_DATASET_TYPES = {
    "primary_key_unique",
    "duplicate_rows",
    "unique_count",
    "referential_integrity",
    "completeness_score",
    "correlation",
    "statistical_distribution",
}


def rule_aggregates(
    rules: Sequence[dict[str, Any]], columns: Sequence[str]
) -> list[Column]:
    """The one aggregation pass behind :func:`evaluate_rules`.

    ``_total`` (the row count), then per rule ``i``: a row rule's failure
    count ``_r{i}``, a completeness_score rule's null count per column
    ``_r{i}_{k}`` (``columns`` are the frame's, used when the rule names
    none), a correlation rule's ``corr`` as ``_r{i}``. Every entry is a
    plain aggregate, so the list runs as ``df.agg`` or rides a write as
    ``df.observe``; the other dataset rules get nothing here.
    """
    aggs = [F.count(F.lit(1)).alias("_total")]
    for i, rule in enumerate(rules):
        rtype = rule["type"]
        if rtype not in _DATASET_TYPES:
            aggs.append(F.sum(compile_rule(rule).cast("long")).alias(f"_r{i}"))
        elif rtype == "completeness_score":
            aggs += [
                F.sum(F.col(c).isNull().cast("long")).alias(f"_r{i}_{k}")
                for k, c in enumerate(rule.get("columns") or columns)
            ]
        elif rtype == "correlation":
            aggs.append(F.corr(rule["column1"], rule["column2"]).alias(f"_r{i}"))
    return aggs


def evaluate_rules(
    df: DataFrame,
    rules: Sequence[dict[str, Any]],
    refs: dict[str, DataFrame] | None = None,
    sample_failures: int = 0,
    threshold_pct: float = 100.0,
    metrics: dict[str, Any] | None = None,
) -> list[RuleResult]:
    """Evaluate all rules: row rules first, then dataset rules.

    Every row rule, completeness_score and correlation is answered by the
    one aggregation pass of :func:`rule_aggregates`; ``metrics`` is that
    pass's result when the caller already has it (the orchestrator
    observes it on the load's write), else it runs here as one ``df.agg``.
    primary_key_unique, duplicate_rows, unique_count,
    referential_integrity and statistical_distribution add one pass each.

    ``threshold_pct`` (per-rule override key ``threshold``) is the minimum
    pass percentage (reference semantics: rules pass if pass% ≥ threshold).
    """
    if not rules:
        return []
    if metrics is None:
        metrics = df.agg(*rule_aggregates(rules, df.columns)).collect()[0].asDict()
    total = metrics["_total"]
    results: list[RuleResult] = []
    for i, rule in enumerate(rules):
        if rule["type"] in _DATASET_TYPES:
            continue
        failed = int(metrics[f"_r{i}"] or 0)
        score = 100.0 * (total - failed) / total if total else 100.0
        samples = None
        if sample_failures and failed:
            samples = [
                r.asDict()
                for r in df.filter(compile_rule(rule)).limit(sample_failures).collect()
            ]
        results.append(
            RuleResult(
                rule_name=rule.get("name", rule["type"]),
                rule_type=rule["type"],
                total_rows=total,
                failed_rows=failed,
                passed=score >= float(rule.get("threshold", threshold_pct)),
                score=score,
                samples=samples,
            )
        )
    for i, rule in enumerate(rules):
        if rule["type"] in _DATASET_TYPES:
            results.append(_evaluate_dataset_rule(df, rule, i, metrics, refs or {}))
    return results


def _evaluate_dataset_rule(
    df: DataFrame,
    rule: dict[str, Any],
    i: int,
    metrics: dict[str, Any],
    refs: dict[str, DataFrame],
) -> RuleResult:
    from metadata_etl_framework_spark.functions import (
        duplicate_rows as dup_rows_fn,
        referential_integrity_violations,
    )

    rtype = rule["type"]
    name = rule.get("name", rtype)
    total = metrics["_total"]
    if rtype in ("primary_key_unique", "duplicate_rows"):
        keys = rule.get("columns") or [rule["column"]]
        failed = dup_rows_fn(df, keys).count()
    elif rtype == "unique_count":
        distinct = df.agg(F.count_distinct(rule["column"])).collect()[0][0]
        min_pct = float(rule.get("min_unique_pct", 100.0))
        pct = 100.0 * distinct / total if total else 100.0
        return RuleResult(name, rtype, total, total - distinct, pct >= min_pct, pct)
    elif rtype == "referential_integrity":
        ref = refs[rule["ref"]]
        failed = referential_integrity_violations(
            df, ref, rule["column"], rule["ref_column"]
        ).count()
    elif rtype == "completeness_score":
        n_cols = len(rule.get("columns") or df.columns)
        null_cells = sum(int(metrics[f"_r{i}_{k}"] or 0) for k in range(n_cols))
        score = 100.0 * (1 - null_cells / (total * n_cols)) if total else 100.0
        return RuleResult(name, rtype, total, null_cells,
                          score >= float(rule.get("threshold", 100.0)), score)
    elif rtype == "statistical_distribution":
        # Shapiro-Wilk normality test on a bounded driver-side sample
        # (reference: dq_rule_examples.py:980-1032 — values[:5000]).
        # The sample is CAPPED, never the full column, so the driver pull
        # stays O(5000) regardless of table size. scipy is import-gated;
        # tests may inject ``test_fn(values) -> p_value``.
        max_sample = int(rule.get("max_sample", 5000))
        values = [
            r[0]
            for r in df.select(rule["column"])
            .filter(F.col(rule["column"]).isNotNull())
            .limit(max_sample)
            .collect()
        ]
        if len(values) < 10:
            return RuleResult(name, rtype, total, total, False, 0.0)
        expected = rule.get("expected_distribution", "normal")
        if expected == "normal":
            test_fn = rule.get("test_fn")
            if test_fn is None:
                try:
                    from scipy import stats
                except ImportError as exc:  # pragma: no cover
                    raise ImportError(
                        "statistical_distribution needs scipy (pip install "
                        "scipy) or an injected test_fn"
                    ) from exc
                test_fn = lambda vals: stats.shapiro(vals).pvalue  # noqa: E731
            p_value = float(test_fn(values))
            ok = p_value > float(rule.get("alpha", 0.05))
        else:
            ok = True  # reference placeholder semantics for non-normal
        failed = 0 if ok else total // 2
        return RuleResult(name, rtype, total, failed, ok, 100.0 if ok else 50.0)
    elif rtype == "correlation":
        corr = metrics[f"_r{i}"] or 0.0
        ok = abs(corr) >= float(rule.get("min_abs_corr", 0.0))
        return RuleResult(name, rtype, total, 0, ok, abs(corr) * 100.0)
    else:  # pragma: no cover
        raise ValueError(rtype)
    score = 100.0 * (total - failed) / total if total else 100.0
    return RuleResult(name, rtype, total, failed,
                      score >= float(rule.get("threshold", 100.0)), score)


def quality_score(results: Sequence[RuleResult]) -> float:
    """Overall pass ratio ×100 (reference: dq_engine.py:363-378)."""
    if not results:
        return 100.0
    return 100.0 * sum(1 for r in results if r.passed) / len(results)


def evaluate_rules_by_group(
    df: DataFrame,
    rules: "Sequence[dict[str, Any]]",
    group_cols: "Sequence[str]",
) -> DataFrame:
    """Per-SEGMENT rule evaluation: every rule's failure count and pass
    rate broken down by ``group_cols`` — the question a global score
    hides ("quality is 99% overall but 70% for source X"). Same one-pass
    design as :func:`evaluate_rules`: each rule compiles to a failure
    mask and ALL masks aggregate in ONE grouped pass; the melt to tall
    rows happens on the |groups|×|rules| result, never the data.

    Output: group cols + (rule_name, failed_rows long, total_rows long,
    pass_rate 6dp), ordered by group then rule.
    """
    groups = list(group_cols)
    aggs = [F.count(F.lit(1)).alias("_total")]
    names = []
    for i, rule in enumerate(rules):
        mask = compile_rule(rule)
        name = rule.get("name") or f"{rule.get('type', 'rule')}_{i}"
        names.append(name)
        aggs.append(
            F.count(F.when(mask, F.lit(1))).alias(f"_f{i}")
        )
    stats = df.groupBy(*groups).agg(*aggs)
    stack_args = ", ".join(
        f"'{n}', _f{i}" for i, n in enumerate(names)
    )
    return (
        stats.select(
            *groups,
            F.col("_total"),
            F.expr(
                f"stack({len(names)}, {stack_args}) "
                "AS (rule_name, failed_rows)"
            ),
        )
        .select(
            *groups,
            "rule_name",
            F.col("failed_rows").cast("long").alias("failed_rows"),
            F.col("_total").cast("long").alias("total_rows"),
            F.round(
                (F.col("_total") - F.col("failed_rows")) / F.col("_total"),
                6,
            ).alias("pass_rate"),
        )
        .orderBy(*groups, "rule_name")
    )
